"""Output checks: a query's Spark result against its DuckDB oracle, and two
Spark tables against each other.

The oracle comparison is the engine's own oracle gate,
``tests/oracle_utils.py``: rows compare order-insensitively (columns sorted
by name, rows sorted by every column), every value exactly, floats
included, and an integer column never matches a float one. Every query the
benchmark runs matches its oracle on the generated tables.
"""

from __future__ import annotations

import functools
import importlib.util
import os

import duckdb
import pandas as pd

_GATE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "oracle_utils.py")


@functools.cache
def _gate():
    spec = importlib.util.spec_from_file_location("perfbench_oracle_gate", _GATE)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_frame(sql: str, data_dir: str) -> pd.DataFrame:
    """Run ``sql`` on DuckDB with one view per ``<table>.parquet`` file in
    ``data_dir``."""
    con = duckdb.connect()
    try:
        for entry in sorted(os.listdir(data_dir)):
            if entry.endswith(".parquet"):
                path = os.path.join(data_dir, entry)
                con.execute(f"CREATE VIEW {entry[:-8]} AS SELECT * FROM read_parquet('{path}')")
        return con.execute(sql).fetchdf()
    finally:
        con.close()


class _Collected:
    """A collected result in the shape the gate takes (it collects a Spark
    DataFrame itself)."""

    def __init__(self, pdf: pd.DataFrame):
        self._pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self._pdf


def compare(got: pd.DataFrame, exp: pd.DataFrame) -> list[str]:
    """The first mismatch between two result frames, as a message (empty =
    equal)."""
    try:
        _gate().compare(_Collected(got), exp)
    except AssertionError as exc:
        return [str(exc)]
    return []


def rows_differing(a, b) -> int:
    """How many distinct rows occur a different number of times in Spark
    DataFrames ``a`` and ``b`` (0: the same multiset of rows), in one
    aggregation job."""
    from pyspark.sql import functions as F

    cols = sorted(a.columns)
    signed = a.select(*cols, F.lit(1).alias("_side")).unionByName(b.select(*cols, F.lit(-1).alias("_side")))
    return signed.groupBy(*cols).agg(F.sum("_side").alias("_n")).filter(F.col("_n") != 0).count()
