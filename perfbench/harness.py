"""The run context every workload shares: session start, data prep, timed
passes of calls, per-layer accounting, output checks and the result line.

A *pass* is one round of a workload's fixed unit of work; a *call* is one
timed request inside it (a query, a maintenance op). End-to-end metrics are
taken over the measured passes only; the warm pass before them is part of
set-up.
"""

from __future__ import annotations

import os
import sys
import time
from collections import Counter
from contextlib import contextmanager

from perfbench import datagen
from perfbench.metrics import report
from perfbench.procstat import ProcSampler, tree_pids, wait_gone
from perfbench.spans import Tracer, median, percentile, tail
from perfbench.sparkstats import CATALYST_PHASES, SparkStats, catalyst_ms, executed_plan, plan_counts

MB = 1024 * 1024


class Harness:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool, cache_dir: str, t_start: float):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.cache_dir = cache_dir
        self.t_start = t_start
        self.tracer = Tracer()
        self.values: dict[str, float] = {}
        self.passes: list[dict] = []
        self.latencies: list[float] = []
        self.calls: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.measuring = False
        self._acc: Counter | None = None
        self.last_call_s = 0.0
        self.spark = None
        self.stats: SparkStats | None = None
        self.sampler: ProcSampler | None = None

    # -- set-up -----------------------------------------------------------

    def start_spark(self) -> None:
        with self.tracer.span("session.jvm_start") as s:
            from cupertino_nvr_spark.session import get_spark

            self.spark = get_spark(f"perfbench-{self.workload}")
        self.values["session.jvm_start_s"] = s.duration
        self.stats = SparkStats(self.spark)
        jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.sampler = ProcSampler(jvm_pid).start()

    def prepare(self, sizes: dict[str, int], fragments: dict[str, int] | None = None) -> str:
        with self.tracer.span("session.data_prep") as s:
            out = datagen.ensure_tables(os.path.join(self.cache_dir, "data"), sizes)
            for table, n_files in (fragments or {}).items():
                datagen.ensure_fragments(out, table, n_files)
        self.values["session.data_prep_s"] = s.duration
        return out

    @contextmanager
    def warm(self):
        with self.tracer.span("session.warm") as s:
            yield
        self.values["session.warm_s"] = s.duration

    def trace_load_table(self) -> None:
        """Time every ``load_table`` call the plans make, by rebinding the
        name each program module imported (in this process only)."""
        import cupertino_nvr_spark.plans  # noqa: F401  (imports every plan module)
        from cupertino_nvr_spark.sources import tables

        orig = tables.load_table

        def traced_load_table(spark, name, sf_dir=None):
            with self.tracer.span("load_table", table=name) as s:
                s.attrs["group"] = f"pb{s.id}.load"
                prev = self.stats.set_group(s.attrs["group"])
                try:
                    return orig(spark, name, sf_dir)
                finally:
                    self.stats.set_group(prev)

        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if name.startswith("cupertino_nvr_spark") and getattr(mod, "load_table", None) is orig:
                mod.load_table = traced_load_table

    def stop_spark(self) -> None:
        """Stop the session, then the JVM (it exits when its stdin closes),
        and wait until it and every Python worker it started have ended."""
        from pyspark import SparkContext

        pids = tree_pids(self.sampler.jvm_pid) if self.sampler else []
        self.spark.stop()
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        left = wait_gone(pids, timeout=30)
        if left:
            print(f"perfbench: processes {left} outlived the JVM", file=sys.stderr)

    # -- passes and calls ---------------------------------------------------

    @contextmanager
    def pass_(self, label: str):
        cpu0 = self.sampler.cpu()
        self._acc = Counter()
        first_call = len(self.latencies)
        with self.tracer.span("pass", label=label) as p:
            yield p
        jvm1, py1 = self.sampler.cpu()
        if self.measuring:
            self.passes.append(
                {"wall_s": p.duration, "jvm_cpu_s": jvm1 - cpu0[0], "py_cpu_s": py1 - cpu0[1],
                 "latencies": self.latencies[first_call:], **self._acc}
            )

    def measure(self, one_pass, min_passes: int = 1) -> None:
        """Run whole passes until ``seconds`` have elapsed and at least
        ``min_passes`` have run."""
        self.values["setup_s"] = time.time() - self.t_start
        self.measuring = True
        start = time.time()
        n = 0
        while n < min_passes or time.time() - start < self.seconds:
            one_pass(f"pass{n}")
            n += 1
        self.measuring = False

    def call(self, name: str, build, action, kind: str = "query", plan: bool = True):
        """Time ``action(build())`` as one call: a build span (DataFrame
        construction, including any jobs it runs) and an exec span (the
        final action). Returns the action's result, or None if it raised.
        With ``plan`` the traced run also reads the DataFrame's Catalyst
        phases and executed plan (only meaningful when ``action`` executes
        that DataFrame's own query)."""
        out = df = None
        ok = False
        with self.tracer.span(kind, name=name) as q:
            groups = (f"pb{q.id}.build", f"pb{q.id}.exec")
            prev = self.stats.set_group(groups[0]) if self.traced else None
            try:
                with self.tracer.span("build") as b:
                    df = build()
                if self.traced:
                    self.stats.set_group(groups[1])
                with self.tracer.span("exec") as e:
                    out = action(df)
                ok = True
            except Exception as exc:  # a failed call is counted, the run goes on
                self.fail(f"{name}: {type(exc).__name__}: {str(exc).splitlines()[0][:300]}")
            finally:
                if self.traced:
                    self.stats.set_group(prev)
        self.last_call_s = q.duration
        if self.measuring:
            self.latencies.append(q.duration)
        if self.traced and ok and self.measuring:
            self._account_call(q, b, e, groups, df if plan else None)
        return out

    def _account_call(self, q, b, e, groups, df) -> None:
        st = self.stats
        st.flush()
        loads = [s for s in self.tracer.spans if s.name == "load_table" and s.start >= q.start and s.end <= q.end]
        exec_totals = st.stage_totals(st.stage_ids(st.jobs(groups[1])))
        rec = {
            "name": q.attrs["name"],
            "latency_s": q.duration,
            "build_s": b.duration,
            "exec_s": e.duration,
            "load_calls": len(loads),
            "load_s": sum(s.duration for s in loads),
            "load_jobs": sum(len(st.jobs(s.attrs["group"])) for s in loads),
            "build_jobs": len(st.jobs(groups[0])),
            "exec_jobs": len(st.jobs(groups[1])),
            **exec_totals,
        }
        jdf = getattr(df, "_jdf", None)
        if jdf is not None:
            rec.update({f"{p}_ms": v for p, v in catalyst_ms(jdf).items()})
            rec.update(plan_counts(executed_plan(jdf)))
        q.attrs.update(rec)
        self.calls.append(rec)
        for k, v in rec.items():
            if k not in ("name", "task_skew", "longest_stage_s") and isinstance(v, (int, float)):
                self._acc[k] += v
        if rec["longest_stage_s"] >= self._acc.get("longest_stage_s", 0.0):
            self._acc["longest_stage_s"] = rec["longest_stage_s"]
            self._acc["task_skew"] = rec["task_skew"]

    def add(self, key: str, value: float) -> None:
        """Add to the current pass's per-layer accumulator."""
        if self.measuring and self._acc is not None:
            self._acc[key] += value

    # -- checks ---------------------------------------------------------------

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def fail(self, what: str) -> None:
        self.check(False, what)

    def guarded(self, label: str, checks) -> None:
        """Run a group of output checks; if it raises, that is one failure."""
        try:
            with self.tracer.span("check", label=label):
                checks()
        except Exception as exc:  # noqa: BLE001 - reported, not swallowed
            self.fail(f"{label}: {type(exc).__name__}: {str(exc).splitlines()[0][:300]}")

    # -- result ---------------------------------------------------------------

    def finish(self) -> dict:
        self.sampler.stop()
        v = self.values
        passes = self.passes
        if not passes or not self.latencies:  # the run failed before measuring
            self.fail("no measured pass" if not passes else "no measured call")
            passes = passes or [{"wall_s": 0.0, "jvm_cpu_s": 0.0, "py_cpu_s": 0.0}]
            self.latencies = self.latencies or [0.0]
        v.setdefault("setup_s", time.time() - self.t_start)
        v["pass_s"] = median([p["wall_s"] for p in passes])
        v["call_p50_s"] = percentile(self.latencies, 50)
        pct, v["call_tail_s"], beyond = tail(self.latencies, [p["latencies"] for p in passes if p.get("latencies")])
        v["cpu_per_pass_s"] = median([p["jvm_cpu_s"] + p["py_cpu_s"] for p in passes])
        v["session.jvm_peak_memory_mb"] = self.sampler.peak_jvm / MB
        v["llm.worker_peak_memory_mb"] = self.sampler.peak_workers / MB
        self.tail_note = f"p{pct:g} over n={len(self.latencies)} calls, {beyond} beyond"
        if not beyond:
            self.tail_note += f" (slowest call of each of {len(passes)} passes, median)"
        if self.traced:
            self._layer_values()
        return {
            "correct": self.failed == 0 and self.attempted > 0,
            "attempted": max(self.attempted, 1),
            "failed": self.failed if self.attempted else 1,
            "metrics": report(v, self.traced),
        }

    def _layer_values(self) -> None:
        v = self.values

        def med(key: str) -> float:
            return median([p.get(key, 0.0) for p in self.passes]) if self.passes else 0.0

        v["trace.pass_s"] = v["pass_s"]
        for k in ("load_calls", "load_s", "load_jobs"):
            v[f"sources.{k}"] = med(k)
        v["plans.build_s"] = med("build_s")
        v["plans.build_jobs"] = med("build_jobs")
        # share of the calls' own time (the traced pass also holds the reads)
        calls_s = med("latency_s")
        v["plans.build_share"] = v["plans.build_s"] / calls_s if calls_s else 0.0
        n_calls = max(len(self.calls), 1)
        for p in CATALYST_PHASES:
            v[f"catalyst.{p}_ms"] = sum(c.get(f"{p}_ms", 0.0) for c in self.calls) / n_calls
        for k in ("exchanges", "broadcast_joins", "sort_merge_joins", "scans", "windows", "python_nodes"):
            v[f"catalyst.{k}"] = med(k)
        v["exec.s"] = med("exec_s")
        v["exec.jobs"] = med("exec_jobs")
        for k in ("stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "input_bytes",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "task_skew"):
            v[f"exec.{k}"] = med(k)
        v["exec.cpu_share"] = v["exec.task_cpu_s"] / v["exec.task_run_s"] if v["exec.task_run_s"] else 0.0
        v["llm.python_worker_cpu_s"] = med("py_cpu_s")
        total_cpu = med("jvm_cpu_s") + v["llm.python_worker_cpu_s"]
        v["llm.python_share"] = v["llm.python_worker_cpu_s"] / total_cpu if total_cpu else 0.0

    def call_table(self) -> list[str]:
        """One line per measured call, for the traced run's report."""
        cols = ("latency_s", "build_s", "exec_s", "build_jobs", "load_jobs", "exec_jobs", "stages",
                "task_cpu_s", "shuffle_write_bytes", "exchanges", "python_nodes")
        lines = ["call".ljust(30) + "".join(c.rjust(14) for c in cols)]
        for c in self.calls:
            lines.append(c["name"][:30].ljust(30) + "".join(f"{c.get(k, 0):14.3f}" if isinstance(c.get(k, 0), float)
                                                        else f"{c.get(k, 0):14d}" for k in cols))
        return lines
