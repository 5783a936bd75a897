"""Pins the r14 sampled-window composition.

The driver's correctness gate samples list(all_queries())[:50] (verified
r5-r13: the CORRECTNESS key set equals the first-50 slice). NEW r14: the
window literal in plans/__init__.py is GENERATED by
plans/rotation.py::generate_window_priority from the committed
CORRECTNESS history (r13 VERDICT item 2 — fifty hand-typed names per
round was the residual stranding risk the r12 review finding
demonstrated), and this suite asserts generator == literal plus the
POLICY invariants independently recomputed from history, so a generator
bug and a hand-edit are both red:

- flagship first, always in-window;
- every debut and every never-driver-green declared query in-window
  (debut-in-window policy);
- every changed-definition row in-window (r13 policy: a query whose
  declared result set or schema changed after its last external green
  re-enters ahead of staleness fill);
- remaining slots filled stalest-last-green-first, alphabetical within
  a staleness class; the full priority list covers EVERY declared query
  so overflow directly follows the window (nothing stranded).

Last-green rounds are recomputed from the CORRECTNESS_r*.json files AS
COMMITTED AT plans/rotation.py::HISTORY_REF (`git show`), neither the
working tree nor HEAD: the r11 and r15 round closes showed those
variants fail the moment the NEXT round's artifact lands or is
committed, which is rotation bookkeeping, not a product signal.
"""

from __future__ import annotations

from cupertino_nvr_spark.plans import (
    REGISTRY,
    _WINDOW_PRIORITY,
    all_oracles,
    all_queries,
)
from cupertino_nvr_spark.plans.rotation import (
    CHANGED_DEF_ROUND,
    CHANGED_DEFS,
    CURRENT_ROUND,
    DEBUTS,
    FLAGSHIP,
    committed_correctness_files,
    committed_green_history,
    current_window_priority,
)


def test_generator_matches_literal():
    """The hand-committed literal must be exactly the generator's output
    on the committed history — the literal is a pinned snapshot, the
    policy is the source of truth (r13 VERDICT item 2)."""
    assert _WINDOW_PRIORITY == current_window_priority()


def test_history_has_r13():
    """The rotation derives from the committed correctness history — the
    r13 record landing in git is this round's rotation precondition."""
    assert "CORRECTNESS_r13.json" in committed_correctness_files()


def test_debuts_have_no_history_and_changed_defs_do():
    """A debut must have NO committed green row (else it belongs to the
    staleness rotation, not the debut class); a changed-definition row
    must HAVE one (else it is a debut) and must keep its oracle (else
    re-confirmation would be the weaker rows-only check)."""
    green = committed_green_history()
    oracles = all_oracles()
    for q in DEBUTS:
        assert q not in green, f"{q} has a green row — not a debut"
        assert oracles.get(q), f"debut {q} is missing its oracle"
    for q in CHANGED_DEFS:
        assert q in green, f"{q} has no prior green row — that's a debut"
        assert oracles.get(q), f"{q} lost its oracle"


def test_changed_def_round_bookkeeping():
    """CHANGED_DEFS is derived from CHANGED_DEF_ROUND (one source for
    the rotation AND bench.py's prior/floor invalidation); every entry
    must name a declared query and a round <= the current one."""
    declared = set(all_queries())
    for q, rnd in CHANGED_DEF_ROUND.items():
        assert q in declared, f"CHANGED_DEF_ROUND names unknown query {q}"
        assert 1 <= rnd <= CURRENT_ROUND
    assert CHANGED_DEFS == {
        q for q, rnd in CHANGED_DEF_ROUND.items() if rnd == CURRENT_ROUND
    }


def test_window_contains_required_rows():
    """Policy recomputed from history, independent of the generator: the
    50-row window must contain the flagship, every never-driver-green
    declared query, every r14 debut, and every changed-definition row."""
    order = list(all_queries())
    window = set(order[:50])
    green = committed_green_history()
    never = {q for q in order if q not in green}
    required = (
        {FLAGSHIP} | never | (DEBUTS & set(order))
        | (CHANGED_DEFS & set(order))
    )
    missing = required - window
    assert not missing, f"r14 window is missing required rows: {sorted(missing)}"


def test_window_fill_is_stalest_first():
    """Every non-required window slot is spent on the stalest remaining
    query (by last driver-green round, alphabetical within a class), and
    the priority list covers EVERY declared query exactly once — so
    overflow directly follows the window and nothing is ever stranded at
    its registration-order position (the r12 review finding)."""
    order = list(all_queries())
    green = committed_green_history()
    required = (
        {FLAGSHIP}
        | {q for q in order if q not in green}
        | DEBUTS
        | CHANGED_DEFS
    )
    fill = [q for q in order if q not in required]
    # stalest-first: last-green rounds must be non-decreasing down the
    # fill, and alphabetical within equal staleness
    keys = [(green[q], q) for q in fill]
    assert keys == sorted(keys), "window fill is not stalest-first"
    # complete coverage: the priority list IS all declared queries
    assert sorted(order) == sorted(set(order))
    assert set(_WINDOW_PRIORITY) == set(order)


def test_flagship_registers_first():
    assert next(iter(all_queries())) == FLAGSHIP


def test_registry_itself_keeps_registration_order():
    """The rotation is an ordered view (all_queries()), not an in-place
    REGISTRY mutation: the flagship module registers first, so REGISTRY's
    own first key must still be the flagship and REGISTRY must contain
    every declared name (r8 advisor note)."""
    assert set(all_queries()) <= set(REGISTRY)
    assert next(iter(REGISTRY)) == FLAGSHIP


def test_window_is_fully_declared():
    """Every sampled row must have an oracle (a declared query without one
    is a guaranteed red row)."""
    oracles = all_oracles()
    for name in list(all_queries())[:50]:
        assert name in oracles, f"sampled query {name} has no oracle"
