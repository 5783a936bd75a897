"""Print the current round's WINDOW_PRIORITY literal for
``plans/__init__.py`` — generated from the committed CORRECTNESS history
plus this round's debut/changed-definition pins (plans/rotation.py), so
the per-round literal is a SNAPSHOT of the policy, never hand-typed
(r13 VERDICT item 2; the r12 stranded-row finding is the failure mode
this removes). ``tests/test_registry_order.py`` asserts generator ==
literal, so regenerating after any registry/pin change is mandatory.
Rotating to a new round: set ``CURRENT_ROUND`` and ``HISTORY_REF`` (the
commit that closed the previous round) in plans/rotation.py, update its
debut/changed-definition pins, then paste the printed literal:

    python tools/gen_window.py        # prints the literal + a summary
"""

from __future__ import annotations

import sys
import textwrap
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from cupertino_nvr_spark.plans.rotation import (  # noqa: E402
    CHANGED_DEFS,
    CURRENT_ROUND,
    DEBUTS,
    committed_green_history,
    current_window_priority,
)


def main() -> None:
    order = current_window_priority()
    green = committed_green_history()
    body = ", ".join(repr(n) for n in order)
    wrapped = textwrap.fill(
        body, width=74, initial_indent="    ", subsequent_indent="    "
    )
    print(f"_WINDOW_PRIORITY = [  # r{CURRENT_ROUND} snapshot\n{wrapped}\n]")
    window = order[:50]
    print(f"\n# window (first 50): {len(window)} rows", file=sys.stderr)
    print(f"# debuts in-window: {sorted(DEBUTS & set(window))}", file=sys.stderr)
    print(
        f"# changed-def in-window: {sorted(CHANGED_DEFS & set(window))}",
        file=sys.stderr,
    )
    by_round: dict[int, int] = {}
    for q in window:
        by_round[green.get(q, 0)] = by_round.get(green.get(q, 0), 0) + 1
    print(f"# window staleness mix (last-green round -> count): "
          f"{dict(sorted(by_round.items()))}", file=sys.stderr)
    nxt = order[50:55]
    print(f"# first in line for r{CURRENT_ROUND + 1}: {nxt}", file=sys.stderr)


if __name__ == "__main__":
    main()
