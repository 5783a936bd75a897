"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload against the engine in this checkout and prints, as the
last line of standard output, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). Workloads, metrics and bounds are
described in ``BENCHMARK.json`` and ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")

# Pinned so runs on any host compare: 4 local cores and a 2 GiB driver heap
# (the 13 GiB left on a 15 GiB box stay free for the Python side and the OS).
CPUS = "4"
DRIVER_MEMORY = "2g"

WORKLOADS = ("curation_maintenance", "nvr_stream")


def pin_environment() -> None:
    """Keep every file Spark and Python write inside the checkout, and pin
    the session's parallelism and memory."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    os.environ.update(
        SPARK_GRAFT_CPUS=CPUS,
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=(
            f"--conf spark.local.dir={os.path.join(CACHE, 'spark-local')} "
            f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
        ),
    )


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine under test is the one in this checkout, next to perfbench/
    if not os.path.isfile(os.path.join(ROOT, "cupertino_nvr_spark", "__init__.py")):
        print(f"perfbench: no cupertino_nvr_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path[0] = ROOT
    pin_environment()

    from perfbench.harness import Harness
    from perfbench.workloads import batch, stream

    run = {"curation_maintenance": batch.run, "nvr_stream": stream.run}
    h = Harness(args.workload, args.seed, args.seconds, bool(args.trace), CACHE, T_START)
    try:
        h.start_spark()
        with h.tracer.span("workload", name=args.workload, seed=args.seed):
            try:
                run[args.workload](h)
            except Exception as exc:  # counted and reported; the result line still prints
                traceback.print_exc()
                h.fail(f"{args.workload}: {type(exc).__name__}: {str(exc).splitlines()[0][:300]}")
        result = h.finish()
    finally:
        if h.spark is not None:
            h.stop_spark()

    for p in h.problems:
        print(f"FAILED {p}")
    print(f"tail: {h.tail_note}")
    print("passes (s): " + " ".join(f"{p['wall_s']:.3f}" for p in h.passes))
    if any(p.get("latencies") for p in h.passes):
        print("slowest call per pass (s): " + " ".join(f"{max(p['latencies']):.3f}" for p in h.passes if p.get("latencies")))
    if h.traced:
        print("\n".join(h.call_table()))
        path = os.path.join(CACHE, "traces", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        h.tracer.dump(path, {"values": h.values, "passes": h.passes, "calls": h.calls, "problems": h.problems})
        print(f"trace: {path}")
    for name, m in result["metrics"].items():
        print(f"{name:34s} {m['value']:16.6f} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
