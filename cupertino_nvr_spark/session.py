"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]`` but every conf choice is made for the
1000-executor / 100 TB posture: AQE on (runtime re-plan, skew-join
handling, partition coalescing), UTC session timezone (deterministic
timestamp semantics vs the DuckDB oracle), Arrow enabled for the
Pandas-UDF slow path, and shuffle partitions sized to the cores the
context actually has rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "cupertino_nvr_spark") -> SparkSession:
    """Build (or fetch) the session.

    Honours ``SPARK_GRAFT_CPUS`` for local parallelism (and so for the
    shuffle partition count) so the bench harness and pytest share one
    code path. On a real cluster the master/memory settings come from
    spark-submit and these local-mode settings are inert.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # testdata events.ts is TIMESTAMP(NANOS); read as long, loader converts
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        # ContextCleaner only reclaims shuffle files / broadcast state when
        # driver GC collects the RDD references, and its fallback periodic
        # GC defaults to 30 MINUTES — longer than a whole bench session, so
        # a many-query single-JVM run accumulates state until a forced GC
        # lands on whichever query happens to be executing (the measured
        # extras-tail volatility: same query 3 s or 23 s depending on what
        # ran before it). A 2-minute bound amortizes cleanup instead.
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    # One shuffle partition per core: every partition that reaches a
    # Python operator is one Python task, and each costs ~0.5 s of worker
    # CPU before its first row (measured on 4 cores), so a stateful
    # stream operator -- which AQE never coalesces -- pays that once per
    # state partition per micro-batch whatever the batch holds. Batch
    # shuffles still coalesce under AQE. A streaming query freezes its
    # state partition count into its checkpoint at first start, so a
    # query restarted from an existing checkpoint keeps the count it
    # began with (32 for checkpoints from the earlier fixed setting).
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark
