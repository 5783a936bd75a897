"""Spark's own metrics, read through public seams: job groups and the
application status store (jobs, stages, tasks), ``queryExecution`` phase
times, and the executed physical plan.

Every call the benchmark makes into the program runs under a job group
named after its span, so jobs started while building a DataFrame, inside
``load_table``, and by the final action are counted apart.
"""

from __future__ import annotations

import re
import statistics
from collections import Counter

from py4j.protocol import Py4JJavaError

# plan node -> counter name; a line counts once, under its first match
PLAN_NODES = (
    ("broadcast_joins", re.compile(r"\bBroadcastHashJoin\b|\bBroadcastNestedLoopJoin\b")),
    ("sort_merge_joins", re.compile(r"\bSortMergeJoin\b|\bShuffledHashJoin\b")),
    ("exchanges", re.compile(r"\b(Exchange|BroadcastExchange|ReusedExchange)\b")),
    ("scans", re.compile(r"\b(FileScan|Scan|InMemoryTableScan|LocalTableScan)\b")),
    ("windows", re.compile(r"\bWindow(GroupLimit)?\b")),
    ("python_nodes", re.compile(r"\b(ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas\w*|MapInPandas|PythonMapInArrow|MapInArrow|FlatMapCoGroupsInPandas|AggregateInPandas|ArrowEvalPythonUDTF|BatchEvalPythonUDTF|ArrowWindowPython|WindowInPandas)\b")),
)
PLAN_COUNTERS = tuple(name for name, _ in PLAN_NODES)
CATALYST_PHASES = ("analysis", "optimization", "planning")
STAGE_FIELDS = (
    "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


def plan_counts(plan_text: str) -> Counter:
    """Exact node counts in a physical plan's text. For an adaptive plan
    only the final plan is counted, not the initial one printed below it."""
    plan_text = plan_text.split("== Initial Plan ==")[0]
    counts = Counter({name: 0 for name in PLAN_COUNTERS})
    for line in plan_text.splitlines():
        for name, rx in PLAN_NODES:
            if rx.search(line):
                counts[name] += 1
                break
    return counts


class SparkStats:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._sc = self.sc._jsc.sc()
        self.store = self._sc.statusStore()

    def flush(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far, so the status store reflects the jobs that just ended."""
        self._sc.listenerBus().waitUntilEmpty(30_000)

    def set_group(self, group: str | None) -> str | None:
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        return prev

    def jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_ids(self, jobs: list[int]) -> set[int]:
        ids: set[int] = set()
        tracker = self.sc.statusTracker()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                ids.update(info.stageIds)
        return ids

    def stage_totals(self, stage_ids: set[int]) -> dict:
        """Sums over the stages that ran, plus the skew (max / median task
        duration) of the stage with the most task run time."""
        tot = dict.fromkeys(STAGE_FIELDS, 0.0)
        longest = None
        for sid in stage_ids:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # never submitted (skipped) or evicted
                continue
            if sd.numCompleteTasks() == 0:
                continue
            run_ms = sd.executorRunTime()
            tot["stages"] += 1
            tot["tasks"] += sd.numCompleteTasks()
            tot["task_run_s"] += run_ms / 1e3
            tot["task_cpu_s"] += sd.executorCpuTime() / 1e9
            tot["gc_s"] += sd.jvmGcTime() / 1e3
            tot["input_bytes"] += sd.inputBytes()
            tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
            tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            tot["spill_bytes"] += sd.diskBytesSpilled()
            if longest is None or run_ms > longest[0]:
                longest = (run_ms, sid, sd.attemptId())
        tot["longest_stage_s"] = longest[0] / 1e3 if longest else 0.0
        tot["task_skew"] = self.task_skew(longest[1], longest[2]) if longest else 0.0
        return tot

    def task_skew(self, stage_id: int, attempt: int) -> float:
        tasks = self.store.taskList(stage_id, attempt, 1_000_000)
        durations = []
        for i in range(tasks.size()):
            d = tasks.apply(i).duration()
            if d.isDefined():
                durations.append(d.get())
        med = statistics.median(durations) if durations else 0
        return max(durations) / med if med else 1.0


def catalyst_ms(jdf) -> dict[str, float]:
    """Analyzer / optimizer / planner time of a Dataset's query execution."""
    phases = jdf.queryExecution().tracker().phases()
    out = {}
    for p in CATALYST_PHASES:
        opt = phases.get(p)
        out[p] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def executed_plan(jdf) -> str:
    return jdf.queryExecution().executedPlan().toString()
