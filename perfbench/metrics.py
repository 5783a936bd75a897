"""The ``metrics`` object of the result line.

Metric names and units come from ``BENCHMARK.json`` at the repository root:
``end_to_end`` is what ``--trace 0`` prints and ``per_layer`` what
``--trace 1`` prints. A per-layer metric a workload does not exercise is
reported as 0.
"""

from __future__ import annotations

import json
import os

DESCRIPTION = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def description() -> dict:
    with open(DESCRIPTION) as f:
        return json.load(f)


def report(values: dict[str, float], traced: bool) -> dict[str, dict]:
    """Every metric of the selected list, with its unit; missing per-layer
    values read 0."""
    desc = description()
    if traced:
        return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in desc["per_layer"]}
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in desc["end_to_end"]}
