"""``curation_maintenance``: a closed loop of batch calls, one client.

One pass runs the LLM-curation queries (driver-bound: plan build and
Python kernels do the work) and the table-maintenance sequence (the write
path: Spark jobs, shuffles and files do the work) in an order the seed
shuffles. The per-layer metrics keep the two apart: ``plans.*`` is
dominated by the queries, ``operators.*`` comes from the maintenance ops
only, and the traced run's per-call table splits every layer by call.
"""

from __future__ import annotations

import random

from perfbench.workloads import curation, maintenance

# The first pass of a JVM runs cold (JIT, code generation, Python worker
# start-up) at about twice the steady time; it is set-up. The passes after
# it still vary by 10-20% from one to the next, so a run measures at least
# MIN_PASSES of them and reports medians.
MIN_PASSES = 2


def run(h) -> None:
    data = h.prepare({**curation.SIZES, **maintenance.SIZES}, maintenance.FRAGMENTS)
    if h.traced:
        h.trace_load_table()
    cur = curation.CurationMix(h, data)
    maint = maintenance.MaintenanceMix(h, data)
    units = {**cur.units(), **maint.units()}
    rng = random.Random(h.seed)

    def one_pass(label: str) -> None:
        order = sorted(units)
        rng.shuffle(order)
        with h.pass_(label):
            for name in order:
                units[name]()

    with h.warm():
        one_pass("warm")
    h.measure(one_pass, MIN_PASSES)
    if h.traced:
        maint.layer_values()
    h.guarded("curation checks", cur.check)
    h.guarded("maintenance checks", maint.check)
