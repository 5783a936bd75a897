"""Sampled-window rotation, DERIVED instead of hand-typed (r13 VERDICT
item 2).

The driver's correctness gate samples ``list(all_queries())[:50]``
(verified r5-r13: the CORRECTNESS key set equals the first-50 slice), so
``all_queries()`` orders its output by ``registry.WINDOW_PRIORITY``. For
twelve rounds that list was a ~50-name hand-typed literal per round; the
r12 review found the failure mode (a stale row silently stranded at its
registration-order position by a debut splice), and fifty hand-typed
names per round was the residual risk. This module makes the priority
list a FUNCTION of:

- the committed driver history (``CORRECTNESS_r*.json`` read via
  ``git show HISTORY_REF:`` — neither the working tree nor ``HEAD``, so
  committing the NEXT round's artifact cannot change what the rotation
  was derived from; the r11 close showed the working-tree
  variant reddens when the artifact lands, and the r15 close showed the
  ``HEAD`` variant reddens when it is committed),
- this round's debuts (new queries ship inside the sampled window the
  round they are introduced — history cannot know them), and
- this round's changed-definition rows (r13 policy: a query whose
  DECLARED result set or schema changed after its last external green
  row re-enters the window ahead of staleness fill, so the gate confirms
  the definition that actually shipped — history alone cannot see a
  definition change, so these are hand-pinned per round).

``plans/__init__.py`` still assigns a per-round literal (generated by
``tools/gen_window.py``) because computing the window at import time
would fork a git subprocess in every Spark session; the literal is now a
pinned SNAPSHOT of this generator's output, and
``tests/test_registry_order.py`` asserts generator == literal on the
committed history, so a hand-edit that drifts from the policy is a red
test, not a silent stranding.
"""

from __future__ import annotations

import json
import re
import subprocess
from pathlib import Path

# --- per-round rotation inputs (the only hand-maintained part) ---------

CURRENT_ROUND = 16

# The commit whose CORRECTNESS_r*.json files this round's rotation is
# derived from: the close of the previous round. Rotating to a new round
# moves CURRENT_ROUND and HISTORY_REF together; until then, later
# commits (round artifacts included) leave the window,
# the literal in plans/__init__.py and the pin suite unchanged.
HISTORY_REF = "58bf7fca52667e708b1c137ccbeed1c7f78d54cb"  # r15 close

# Queries debuting this round (no committed green history by
# construction). The generator also treats any never-green declared
# query as a debut, so forgetting a name here cannot strand it.
# Stable name on purpose: consumers (tools/gen_window.py, the pin
# suite) import DEBUTS/CHANGED_DEFS so a round rotation edits THIS
# module only — CURRENT_ROUND above records which round the pins are
# for (a round-stamped name would force coordinated renames in three
# files every round, re-creating the churn this module removes).
DEBUTS: frozenset[str] = frozenset()  # r16 adds no queries

# Round in which each query's DECLARED definition (result set, schema,
# or the physical cost contract its recorded floor was measured under)
# last CHANGED — cumulative, so bench.py's prior harvesting can ignore
# floors recorded under a definition that no longer exists (r13 ADVICE
# item 2: a changed, legitimately different-cost definition would
# otherwise trip the reprobe/suspect path forever against an
# unreachable prior).
#   embedding_margin_pairs — r12: per-endpoint cand_cap=32.
#   parts_copurchase_lift — r12: two-direction schema.
#   docs_classifier_calibration — r13: explicit underflow/overflow
#     bins; r14: bins computed on the fixed-point kp6 integer
#     (FLOOR((kp6 - 400000) / 10000)), so bin edges are exact where the
#     float expression put keep_prob exactly 0.60 in bin 19
#     ((0.60-0.40)/0.01 = 19.999999999999996) and a doc within 5e-7
#     below an edge in the lower bin while its kp6 counted toward the
#     upper (r13 ADVICE item 3).
CHANGED_DEF_ROUND: dict[str, int] = {
    "embedding_margin_pairs": 12,
    "parts_copurchase_lift": 12,
    "docs_classifier_calibration": 14,
}

# Queries whose definition changed after their most recent driver-green
# row — these re-enter the sampled window ahead of staleness fill (r13
# policy) so the gate confirms the definition that actually shipped.
CHANGED_DEFS: frozenset[str] = frozenset(
    q for q, rnd in CHANGED_DEF_ROUND.items() if rnd == CURRENT_ROUND
)

FLAGSHIP = "asof_ttl_overlay"

_REPO = Path(__file__).resolve().parent.parent.parent


# --- committed driver history ------------------------------------------


def committed_correctness_files(repo: Path = _REPO) -> list[str]:
    """CORRECTNESS_r*.json names as committed at HISTORY_REF (git
    ls-tree), so a round artifact landing in the working tree or at HEAD
    cannot change what the rotation derives from."""
    names = subprocess.run(
        ["git", "-C", str(repo), "ls-tree", "--name-only", HISTORY_REF],
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    return sorted(
        n for n in names if re.fullmatch(r"CORRECTNESS_r\d+\.json", n)
    )


def committed_green_history(repo: Path = _REPO) -> dict[str, int]:
    """Last driver-green round per query, from the committed records.

    Green = rows_match AND schema_match AND hash_match AND no err — the
    same predicate every round's rotation has used.
    """
    last: dict[str, int] = {}
    for name in committed_correctness_files(repo):
        rnd = int(re.search(r"_r(\d+)", name).group(1))
        blob = subprocess.run(
            ["git", "-C", str(repo), "show", f"{HISTORY_REF}:{name}"],
            capture_output=True,
            text=True,
            check=True,
        ).stdout
        for qname, rec in json.loads(blob).items():
            ok = (
                rec.get("rows_match")
                and rec.get("schema_match")
                and rec.get("hash_match")
                and not rec.get("err")
            )
            if ok:
                last[qname] = max(last.get(qname, 0), rnd)
    return last


# --- the window generator ----------------------------------------------


def generate_window_priority(
    last_green: dict[str, int],
    declared: list[str],
    flagship: str = FLAGSHIP,
    debuts: frozenset[str] | set[str] = DEBUTS,
    changed_defs: frozenset[str] | set[str] = CHANGED_DEFS,
) -> list[str]:
    """The full rotation priority list (window = its first 50 entries).

    Order (each class alphabetical within itself, for a deterministic
    list no matter the registration order):

    1. the flagship — in-window every round, green all 13 rounds;
    2. debuts + every never-green declared query (history cannot confirm
       what it has never seen; the explicit debut set exists so a test
       can distinguish "new this round" from "declared but never
       sampled", but the generator treats both as must-sample);
    3. changed-definition rows (policy above) — ahead of staleness fill
       because an unconfirmed NEW definition is staler than any old
       green, whatever the calendar says;
    4. everything else, stalest last-green round first.

    The output covers EVERY declared query, so overflow (entries 51+)
    directly follows the window in priority order — the invariant the
    r12 stranded-row finding was about: nothing ever waits at its raw
    registration-order position.
    """
    declared_set = set(declared)
    never = {q for q in declared if q not in last_green}
    head: list[str] = [flagship]
    head += sorted(((set(debuts) & declared_set) | never) - {flagship})
    head += sorted(
        (set(changed_defs) & declared_set) - set(head) - {flagship}
    )
    seen = set(head)
    rest = sorted(
        (q for q in declared if q not in seen),
        key=lambda q: (last_green[q], q),
    )
    return head + rest


def current_window_priority(repo: Path = _REPO) -> list[str]:
    """Generator output on the pinned history and the live registry —
    what ``tools/gen_window.py`` prints and the pin test compares against
    the literal in ``plans/__init__.py``."""
    from cupertino_nvr_spark.plans import all_queries

    return generate_window_priority(
        committed_green_history(repo), list(all_queries())
    )
