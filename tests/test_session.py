"""Session sizing: shuffle and keyed-state partitions follow the cores.

Every shuffle partition that reaches a Python operator is one Python task
with a fixed start-up cost, and AQE never coalesces a stateful streaming
operator's partitions, so the session's partition count is the number of
Python tasks every micro-batch of ``ttl_latest_per_key`` runs.
"""

from __future__ import annotations

import uuid

from cupertino_nvr_spark.schemas import DETECTION_EVENT_SCHEMA
from cupertino_nvr_spark.streaming.state import ttl_latest_per_key

from tests.test_streaming import make_events, stop_after_rows, ts, write_batches


def test_shuffle_partitions_follow_cores(spark):
    assert (
        int(spark.conf.get("spark.sql.shuffle.partitions"))
        == spark.sparkContext.defaultParallelism
    )


def test_ttl_state_runs_one_partition_per_core(spark, tmp_path):
    src = f"{tmp_path}/events"
    write_batches(
        [
            make_events(spark, [(1, 10, 1.0, 2), (1, 11, 2.0, 1), (2, 20, 1.5, 3)]),
            # key 1's event is late: the cache must keep frame 11
            make_events(spark, [(1, 9, 0.5, 5), (2, 21, 9.0, 0)]),
        ],
        src,
    )
    stream = (
        spark.readStream.schema(DETECTION_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        ttl_latest_per_key(stream, ttl_seconds=300.0)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", f"{tmp_path}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    stop_after_rows(q, 5)
    assert q.exception() is None

    state_op = q.lastProgress["stateOperators"][0]
    assert state_op["numShufflePartitions"] == spark.sparkContext.defaultParallelism

    rows = sorted(tuple(r) for r in spark.table(name).collect())
    assert rows == [
        (1, 11, ts(2.0), 1, False),  # batch 0
        (1, 11, ts(2.0), 1, False),  # batch 1: not regressed by frame 9
        (2, 20, ts(1.5), 3, False),
        (2, 21, ts(9.0), 0, False),
    ]
