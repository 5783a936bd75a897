"""Table maintenance: the write-path half of the batch workload.

One unit runs the lakehouse upkeep sequence of
``examples/table_maintenance_demo.py`` over the events table:
``events_cdc_apply`` written out, a 3-batch incremental aggregate refresh
(``aggregate_base`` then ``merge_additive`` twice, each step written), a
``zorder_repartition`` layout write, and ``compact_parquet`` over a
32-file copy of the table that the data generator writes once. The seed
picks the delta-batch split. After measuring, the CDC state is compared
with its DuckDB oracle, the incremental view with a rebuild from scratch,
and the layout and compaction outputs with their inputs.
"""

from __future__ import annotations

import glob
import os
import shutil

from perfbench import datagen
from perfbench.checks import compare, oracle_frame, rows_differing
from perfbench.spans import median

SIZES = {"events": 100_000}
FRAGMENTS = {"events": 32}  # the small-file copy compaction reads
AGG = dict(keys=["user_id"], sums=["value"], maxs=["ts"], approx_distincts=["event_type"])
OPS = ("cdc_apply", "incremental_merge", "zorder", "compact")


def _written(path: str) -> tuple[int, int]:
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files)


class MaintenanceMix:
    def __init__(self, h, data: str):
        from pyspark.sql import functions as F

        from cupertino_nvr_spark.operators.compaction import compact_parquet
        from cupertino_nvr_spark.operators.incremental import aggregate_base, merge_additive
        from cupertino_nvr_spark.operators.layout import zorder_repartition
        from cupertino_nvr_spark.plans import REGISTRY

        self.h = h
        self.data = data
        self.work = os.path.join(h.cache_dir, "maintenance", "pass")
        self.fragmented = datagen.fragments_dir(data, "events")
        self.input_bytes = os.path.getsize(os.path.join(data, "events.parquet"))
        self.op_times: dict[str, list[float]] = {op: [] for op in OPS}
        spark, work = h.spark, self.work

        def split(ev, i: int):
            return ev.filter(F.pmod(F.xxhash64("event_id", F.lit(h.seed)), F.lit(3)) == i)

        def merge(_):
            ev = self.events()
            aggregate_base(split(ev, 0), **AGG).write.mode("overwrite").parquet(f"{work}/view0")
            for i in (1, 2):
                current = spark.read.parquet(f"{work}/view{i - 1}")
                merged = merge_additive(current, aggregate_base(split(ev, i), **AGG), **AGG)
                merged.write.mode("overwrite").parquet(f"{work}/view{i}")

        self.steps = {  # op -> (build, action, output dirs)
            "cdc_apply": (lambda: REGISTRY["events_cdc_apply"].spark(spark, data),
                          lambda df: df.write.mode("overwrite").parquet(f"{work}/state"), ("state",)),
            "incremental_merge": (lambda: None, merge, ("view0", "view1", "view2")),
            "zorder": (lambda: zorder_repartition(self.events().select("event_id", "user_id", "value", "ts"),
                                                  ["user_id", "value"], num_files=8),
                       lambda df: df.write.mode("overwrite").parquet(f"{work}/zorder"), ("zorder",)),
            "compact": (lambda: None,
                        lambda _: compact_parquet(spark, self.fragmented, f"{work}/compacted",
                                                  target_bytes=4 * 1024 * 1024),
                        ("compacted",)),
        }
        self.registry = REGISTRY

    def events(self):
        from cupertino_nvr_spark.sources import tables  # looked up per call, so tracing sees it

        return tables.load_table(self.h.spark, "events", self.data)

    def units(self) -> dict:
        return {"maintenance": self.run_sequence}

    def run_sequence(self) -> None:
        h = self.h
        shutil.rmtree(self.work, ignore_errors=True)
        for op in OPS:
            build, action, outputs = self.steps[op]
            h.call(op, build, action, kind="op", plan=False)
            if h.measuring:
                self.op_times[op].append(h.last_call_s)
                for out in outputs:
                    n, size = _written(f"{self.work}/{out}")
                    h.add("files_written", n)
                    h.add("bytes_written", size)

    def layer_values(self) -> None:
        v, passes = self.h.values, self.h.passes
        for op in OPS:
            v[f"operators.{op}_s"] = median(self.op_times[op])
        v["operators.files_written"] = median([p["files_written"] for p in passes])
        v["operators.bytes_written"] = median([p["bytes_written"] for p in passes])
        v["operators.write_amplification"] = v["operators.bytes_written"] / self.input_bytes

    def check(self) -> None:
        """Checks on the last pass's outputs."""
        from cupertino_nvr_spark.operators.incremental import aggregate_base, finalize

        h, spark, work = self.h, self.h.spark, self.work
        state = spark.read.parquet(f"{work}/state").toPandas()
        problems = compare(state, oracle_frame(self.registry["events_cdc_apply"].oracle, self.data))
        h.check(not problems, f"events_cdc_apply: {'; '.join(problems)}")
        ev = self.events()
        view = finalize(spark.read.parquet(f"{work}/view2"), approx_distincts=["event_type"])
        rebuilt = finalize(aggregate_base(ev, **AGG), approx_distincts=["event_type"])
        diff = rows_differing(view, rebuilt)
        h.check(diff == 0, f"incremental view differs from a rebuild in {diff} distinct rows")
        zorder = spark.read.parquet(f"{work}/zorder")
        base = ev.select("event_id", "user_id", "value", "ts")
        diff = rows_differing(zorder, base)
        h.check(diff == 0, f"z-ordered copy differs from its input in {diff} distinct rows")
        frags, compacted = spark.read.parquet(self.fragmented), spark.read.parquet(f"{work}/compacted")
        diff = rows_differing(compacted, frags)
        h.check(diff == 0, f"compaction changed {diff} distinct rows")
