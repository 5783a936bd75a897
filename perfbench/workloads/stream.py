"""``nvr_stream``: the wall path of the reference NVR, open loop.

The benchmark's main thread is the generator: it writes JSON wire files
``(topic, value)`` atomically into a landing directory while the sink runs
on Spark's callback thread. The pipeline under test is

    file source -> streaming.codec.parse_event_wire
                -> streaming.state.ttl_latest_per_key -> foreachBatch sink

The offered load follows the reference NVR's defaults. A source publishes
one detection event per processed frame, so no source runs faster than a
camera: 25 frames/s (its event schema's example reports 25.3 fps). The
median source runs at the processor's default ``--max-fps`` of 1.0. In
between, the 256 sources' rates fall off as 1/rank (Zipf, s = 1), capped
at 25: ranks 1-5 run at 25 fps, rank 128 at 1 fps and rank 256 at 0.5 fps,
617 events/s in all. The seed assigns the ranks to sources, sets each
source's frame phase, which events arrive out of order, and 0-4 detections
per event. Frames fall due on each source's fixed schedule; every tick the
generator writes the frames that fell due in it, and every event is stamped
with its creation time, the time its file was due.

After a warm-up batch, the generator runs the open loop for the run's
seconds, starting just after the next micro-batch has begun, so every run
meets the micro-batch cycle at the same point. Each cache row the sink
emits gives one latency sample: from the creation of the event that
produced it to the sink receiving the row. A pass is one micro-batch that
drains the input queued behind the previous one; the open loop ends when
its last input offset commits. The traced run then lands a pre-written
backlog and times the batch that drains it: the drain rate the offered
rate sits under. The sink's final cache must equal a latest-per-key
computed here over every generated event, no emitted row may regress its
key, and any stream-thread error counts as a failure.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from datetime import datetime, timedelta

import numpy as np

SOURCES = 256
MAX_FPS = 25.0  # a camera's frame rate: no source publishes faster
MEDIAN_FPS = 1.0  # the reference processor's default --max-fps
# Frames published late: a test parameter that exercises the no-regression
# check, not a measured figure. The lag spans the reference wall's 1.0 s
# detection TTL on both sides.
OUT_OF_ORDER_SHARE = 0.05
LAG_US = (50_000, 2_000_000)
TICK_S = 0.1  # one wire file per tick
WARM_S = 0.2  # schedule seconds in the warm-up file
OPEN_LOOP_DELAY_S = 0.5
BACKLOG_S = 30.0  # schedule seconds in the traced run's backlog
TTL_S = 3600.0  # no key expires within a run, so the final cache is checkable
WAIT_S = 60.0
CLASSES = ("person", "car", "bicycle", "dog", "truck")
EPOCH = datetime(1970, 1, 1)


def source_rates() -> np.ndarray:
    """Frames/s of the sources by rank, hottest first."""
    rank = np.arange(1, SOURCES + 1)
    return np.minimum(MAX_FPS, MEDIAN_FPS * (SOURCES / 2) / rank)


def offered_rate() -> float:
    """Events/s the open loop offers: the sum of the sources' rates."""
    return float(source_rates().sum())


class EventSource:
    """Seeded event content on each source's frame schedule; wall-clock
    creation stamps."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.period = 1.0 / self.rng.permutation(source_rates())  # source id -> seconds per frame
        self.phase = self.rng.random(SOURCES) * self.period
        self.last_ts: dict[int, set[int]] = {}
        self.events: list[tuple[int, int, int, int]] = []  # (source, frame, ts_us, n_det)
        self.created: dict[tuple[int, int], float] = {}

    def _frames_before(self, t: float) -> np.ndarray:
        return np.maximum(0, np.ceil((t - self.phase) / self.period)).astype(np.int64)

    def window(self, t0: float, t1: float, created: float) -> list[str]:
        """Wire lines for the frames due in schedule seconds ``[t0, t1)``,
        in due order, written at wall time ``created`` (which schedule time
        ``t1`` maps to)."""
        first, stop = self._frames_before(t0), self._frames_before(t1)
        due = sorted((self.phase[s] + k * self.period[s], s, k + 1)
                     for s in np.nonzero(stop > first)[0] for k in range(first[s], stop[s]))
        rng = self.rng
        n = len(due)
        late = rng.random(n) < OUT_OF_ORDER_SHARE
        lag_us = rng.integers(*LAG_US, n)
        n_det = rng.integers(0, 5, n)
        created_us = int(created * 1e6)
        lines = []
        for i, (at, sid, frame) in enumerate(due):
            sid, frame = int(sid), int(frame)
            ts = created_us - int((t1 - at) * 1e6) - (int(lag_us[i]) if late[i] else 0)
            used = self.last_ts.setdefault(sid, set())
            while ts in used:  # timestamps are unique per key, so "latest" is unambiguous
                ts -= 1
            used.add(ts)
            dets = [
                {
                    "class_name": CLASSES[int(rng.integers(0, len(CLASSES)))],
                    "confidence": round(float(rng.random()), 4),
                    "bbox": {k: round(float(v), 2) for k, v in zip(("x", "y", "width", "height"), rng.random(4) * 640)},
                    "tracker_id": int(rng.integers(0, 1000)),
                }
                for _ in range(int(n_det[i]))
            ]
            value = {
                "instance_id": "bench-0",
                "source_id": sid,
                "frame_id": frame,
                "timestamp": (EPOCH + timedelta(microseconds=ts)).strftime("%Y-%m-%dT%H:%M:%S.%fZ"),
                "model_id": "yolov8n-640",
                "inference_time_ms": 12.5,
                "detections": dets,
                "fps": round(1.0 / float(self.period[sid]), 2),
                "latency_ms": 40.0,
            }
            lines.append(json.dumps({"topic": f"nvr/detections/{sid}", "value": json.dumps(value)}))
            self.events.append((sid, frame, ts, int(n_det[i])))
            self.created[(sid, frame)] = created
        return lines


class Progress:
    """Collects ``StreamingQueryProgress`` events; wakes waiters on each."""

    def __init__(self):
        self.cond = threading.Condition()
        self.batches: list[dict] = []
        self.rows = 0
        self.errors: list[str] = []

    def on_progress(self, p) -> None:
        state = p.stateOperators[0] if p.stateOperators else None
        rec = {
            "t": time.time(),
            "batch": p.batchId,
            "rows": p.numInputRows,
            "durations": dict(p.durationMs),
            "state_rows": state.numRowsTotal if state else 0,
            "state_bytes": state.memoryUsedBytes if state else 0,
        }
        with self.cond:
            self.batches.append(rec)
            self.rows += p.numInputRows
            self.cond.notify_all()

    def error(self, message: str) -> None:
        with self.cond:
            self.errors.append(message.splitlines()[0][:300] if message else "(no message)")
            self.cond.notify_all()

    def why_stalled(self, timeout: float) -> str:
        return "the query failed" if self.errors else f"not within {timeout:.0f} s"

    def wait_rows(self, target: int, timeout: float) -> bool:
        """Block until ``target`` input rows have committed; False on a
        timeout or a stream error."""
        deadline = time.time() + timeout
        with self.cond:
            while self.rows < target:
                left = deadline - time.time()
                if left <= 0 or self.errors:
                    return False
                self.cond.wait(left)
            return True


def make_listener(progress: Progress):
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            progress.on_progress(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            if event.exception:
                progress.error(event.exception)

    return Listener()


class Sink:
    """foreachBatch target: keeps the emitted cache and latency samples.

    Every batch is executed: a batch whose state stores do not commit fails
    the query. To stop the query between jobs rather than inside one,
    ``stop_after_batch`` asks the sink to signal when a call returns; the
    stream thread then spends a few hundred milliseconds committing and
    planning before the next batch's job starts, and the stop lands there."""

    def __init__(self, src: EventSource):
        self.src = src
        self.cache: dict[int, tuple[int, int, int]] = {}
        self.latencies: list[float] = []
        self.regressions: list[str] = []
        self.sample_from = float("inf")  # creation times in [sample_from, sample_until)
        self.sample_until = float("inf")  # give latency samples
        self._stop_requested = threading.Event()
        self.batch_ended = threading.Event()

    def stop_after_batch(self) -> None:
        self._stop_requested.set()

    def __call__(self, batch_df, batch_id: int) -> None:
        from pyspark.sql import functions as F

        rows = batch_df.select(
            "source_id", "frame_id", F.unix_micros("ts").alias("ts_us"), "n_detections", "expired"
        ).collect()
        now = time.time()
        for r in rows:
            if r.expired:
                continue
            row = (r.frame_id, r.ts_us, r.n_detections)
            prev = self.cache.get(r.source_id)
            if prev == row:
                continue  # the key's state was re-emitted unchanged
            if prev is not None and row[1] < prev[1]:
                self.regressions.append(f"source {r.source_id}: ts {row[1]} after {prev[1]}")
            self.cache[r.source_id] = row
            created = self.src.created.get((r.source_id, r.frame_id))
            if created is not None and self.sample_from <= created < self.sample_until:
                self.latencies.append(now - created)
        if self._stop_requested.is_set():
            self.batch_ended.set()


def run(h) -> None:
    from cupertino_nvr_spark.streaming.codec import parse_event_wire
    from cupertino_nvr_spark.streaming.state import ttl_latest_per_key
    from pyspark.sql import types as T

    spark = h.spark
    root = os.path.join(h.cache_dir, "stream")
    shutil.rmtree(root, ignore_errors=True)
    landing, staging, ckpt = (os.path.join(root, d) for d in ("landing", "staging", "checkpoint"))
    for d in (landing, staging):
        os.makedirs(d)
    with h.tracer.span("session.data_prep") as prep:
        src = EventSource(h.seed)
    h.values["session.data_prep_s"] = prep.duration

    progress = Progress()
    listener = make_listener(progress)
    spark.streams.addListener(listener)
    sink = Sink(src)
    wire_schema = T.StructType([T.StructField("topic", T.StringType()), T.StructField("value", T.StringType())])
    wire = spark.readStream.schema(wire_schema).json(landing)
    events, _quarantine = parse_event_wire(wire)
    cached = ttl_latest_per_key(events, ttl_seconds=TTL_S)
    landed: list[int] = []  # cumulative events at the end of each landed file
    staged: list[tuple[str, int]] = []  # (file, events) not landed yet

    def stage(lines: list[str]) -> None:
        name = f"wire-{len(landed) + len(staged):06d}.json"
        with open(os.path.join(staging, name), "w") as f:
            f.write("\n".join(lines) + "\n")
        staged.append((name, len(lines)))

    def land() -> None:
        for name, n in staged:  # a rename is atomic: the source never sees a partial file
            os.replace(os.path.join(staging, name), os.path.join(landing, name))
            landed.append((landed[-1] if landed else 0) + n)
        staged.clear()

    query = None
    lateness: list[float] = []
    bounds = (0, 0)  # progress.batches[first:last] are the open loop's
    backlog = None
    try:
        with h.warm():
            stage(src.window(0.0, WARM_S, time.time()))
            land()
            query = (
                cached.writeStream.outputMode("update")
                .foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .start()
            )
            warm_ok = progress.wait_rows(landed[-1], WAIT_S)
        # the open loop starts just after the batch that follows the warm-up
        # has fixed its (empty) offsets, so every run meets the same cycle
        h.values["setup_s"] = time.time() - h.t_start
        if not warm_ok:
            h.fail(f"warm-up batch did not commit: {progress.why_stalled(WAIT_S)}")
        else:
            first = len(progress.batches)
            start = time.time() + OPEN_LOOP_DELAY_S
            sink.sample_from = start
            with h.tracer.span("open_loop"):
                for k in range(int(round(h.seconds / TICK_S))):
                    due = start + k * TICK_S
                    delay = due - time.time()
                    if delay > 0:
                        time.sleep(delay)
                    lateness.append(time.time() - due)
                    stage(src.window(WARM_S + k * TICK_S, WARM_S + (k + 1) * TICK_S, due))
                    land()
            sink.sample_until = time.time()
            backlog_files = sum(1 for n in landed if n > progress.rows)
            if not progress.wait_rows(landed[-1], WAIT_S):
                h.fail(f"open-loop input did not drain: {progress.why_stalled(WAIT_S)}")
            else:
                bounds = (first, len(progress.batches))
                h.values["streaming.backlog_files"] = backlog_files
                if h.traced:
                    backlog = _drain_backlog(h, src, progress, stage, land, landed)
    finally:
        if query is not None:
            if query.isActive and not progress.errors:
                sink.stop_after_batch()
                sink.batch_ended.wait(WAIT_S)
            query.stop()
            exc = query.exception()
            if exc is not None:
                progress.error(str(exc))
        spark.streams.removeListener(listener)

    # a pass is one data micro-batch that drains the input queued behind the
    # previous one; its CPU is the tree's CPU over the batch's own interval
    for b in progress.batches[bounds[0]:bounds[1]]:
        if b["rows"]:
            t0, t1 = b["t"] - b["durations"]["triggerExecution"] / 1e3, b["t"]
            (j0, p0), (j1, p1) = h.sampler.cpu_at(t0), h.sampler.cpu_at(t1)
            h.passes.append({"wall_s": t1 - t0, "jvm_cpu_s": j1 - j0, "py_cpu_s": p1 - p0})
    _report(h, src, sink, progress, bounds, lateness, backlog)


def _drain_backlog(h, src, progress, stage, land, landed) -> float | None:
    """Land ``BACKLOG_S`` schedule seconds of events at once, one file per
    schedule second, and return the rate (events per second of trigger
    time) of the batches that drain them; None if they do not drain."""
    t0 = WARM_S + h.seconds
    created = time.time()
    for k in range(int(BACKLOG_S)):
        stage(src.window(t0 + k, t0 + k + 1, created))
    before, first = landed[-1], len(progress.batches)
    with h.tracer.span("backlog_drain"):
        land()
        if not progress.wait_rows(landed[-1], WAIT_S):
            h.fail(f"backlog did not drain: {progress.why_stalled(WAIT_S)}")
            return None
    data = [b for b in progress.batches[first:] if b["rows"]]
    return (landed[-1] - before) / sum(b["durations"]["triggerExecution"] / 1e3 for b in data)


def _report(h, src, sink, progress, bounds, lateness, backlog) -> None:
    h.latencies = sink.latencies
    for b in progress.batches:
        h.tracer.record("microbatch", b["t"] - b["durations"].get("triggerExecution", 0) / 1e3, b["t"], **b)
    open_loop = progress.batches[bounds[0]:bounds[1]]
    data = [b for b in open_loop if b["rows"]]

    def med(key: str) -> float:
        vals = [b["durations"].get(key, 0) for b in data]
        return float(np.median(vals)) if vals else 0.0

    v = h.values
    v["streaming.batches"] = len(data)
    v["streaming.no_data_batches"] = len(open_loop) - len(data)
    v["streaming.trigger_ms"] = med("triggerExecution")
    v["streaming.add_batch_ms"] = med("addBatch")
    v["streaming.latest_offset_ms"] = med("latestOffset")
    v["streaming.query_planning_ms"] = med("queryPlanning")
    v["streaming.wal_commit_ms"] = med("walCommit")
    v["streaming.rows_per_batch"] = float(np.median([b["rows"] for b in data])) if data else 0.0
    last = open_loop[-1] if open_loop else {"state_rows": 0, "state_bytes": 0}
    v["streaming.state_rows"] = last["state_rows"]
    v["streaming.state_bytes"] = last["state_bytes"]
    v["streaming.generator_late_ms"] = max(lateness) * 1e3 if lateness else 0.0
    if backlog is not None:
        v["streaming.drain_eps"] = backlog
    v["trace.stream_errors"] = len(progress.errors)

    # output checks: no stream error (the listener and the query may both
    # report the one that ended the query), the cache against a batch
    # latest-per-key, and the no-regression rule
    h.check(not progress.errors, f"stream error: {progress.errors}")
    latest: dict[int, tuple[int, int, int]] = {}
    for sid, frame, ts, ndet in src.events:
        if sid not in latest or ts > latest[sid][1]:
            latest[sid] = (frame, ts, ndet)
    for sid, want in sorted(latest.items()):
        got = sink.cache.get(sid)
        h.check(got == want, f"source {sid}: cache {got} != latest {want}")
    h.check(not sink.regressions, f"cache regressed: {sink.regressions[:3]}")
    h.check(len(sink.latencies) > 0, "no latency samples in the open loop")
