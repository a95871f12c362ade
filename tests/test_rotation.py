"""Driver-window guards.

The driver grades only the first ``WINDOW`` registry entries per
round, and ``plans/__init__.py`` orders the registry from the
CORRECTNESS_r*.json artifacts with ``driver_window``. These tests pin
that rule to the driver's own history and guard what it cannot:
every oracle-backed query must be driver-checked or inside the
window, so none is silently never graded, and ``_RECHECK`` entries
must be deleted once the driver has checked them.

No Spark session needed — pure registry + JSON inspection.
"""

from __future__ import annotations

import json

import pytest

from flinkstreametl_spark.plans import REGISTRY, WINDOW, _RECHECK, driver_window, load_verdicts

VERDICTS = load_verdicts()
CHECKED = {n for names in VERDICTS.values() for n in names}

# Never-checked names must all fit in one window with room for the
# oldest evidence: at most this many additions per round.
_ADDITION_CAP = 15

# Names that appear in CORRECTNESS_r01 only, with err=no_oracle, and
# were later moved OUT of the driver registry into AUDIT_REGISTRY
# (ADVICE r7) — artifact-only history, not registry members.
_ARTIFACT_ONLY = {"approx_distinct_users", "stats_builtin_moments"}


def test_no_artifacts_is_round1_only() -> None:
    # If the driver has never run, there is nothing to reconcile; any
    # later round must have at least one artifact for the guards below
    # to be meaningful.
    if not VERDICTS:
        pytest.skip("no driver artifacts yet (round 1)")
    assert min(VERDICTS) == 1 and sorted(VERDICTS) == list(range(1, max(VERDICTS) + 1))


def test_every_registered_query_is_checked_or_queued() -> None:
    window = set(list(REGISTRY)[:WINDOW])
    orphans = sorted(n for n, s in REGISTRY.items() if s.oracle is not None and n not in CHECKED | window)
    assert not orphans, (
        "registered queries with no driver verdict and no window slot "
        f"(they will silently never be graded): {orphans}"
    )


def test_never_checked_within_addition_cap() -> None:
    never = sorted(set(REGISTRY) - CHECKED)
    assert len(never) <= _ADDITION_CAP, (
        f"{len(never)} never-checked queries exceed the per-round addition cap "
        f"of {_ADDITION_CAP}; they crowd the oldest evidence out of the window"
    )


def test_artifact_names_reconcile_with_registry() -> None:
    if not CHECKED:
        pytest.skip("no driver artifacts yet (round 1)")
    # Every historically checked name either still exists in the
    # registry or is one of the two documented AUDIT_REGISTRY moves.
    ghosts = sorted(CHECKED - set(REGISTRY) - _ARTIFACT_ONLY)
    assert not ghosts, f"artifact names missing from registry (renamed without a trail?): {ghosts}"


def test_queue_names_are_registered_and_oracle_backed() -> None:
    queued = [*list(REGISTRY)[:WINDOW], *_RECHECK]
    missing = [n for n in queued if n not in REGISTRY]
    assert not missing, f"queued but not registered: {missing}"
    rows_only = [n for n in queued if REGISTRY[n].oracle is None]
    assert not rows_only, f"rows-only queries may not be queued for the driver window: {rows_only}"


@pytest.mark.parametrize("rnd", range(9, 15))
def test_rule_reproduces_driver_history(rnd: int) -> None:
    """Round N's window, computed from the artifacts of rounds < N over
    the registry cut to the names checked by round N, is the window the
    driver actually checked. From r12 on the rule and the hand-kept
    lists agree key for key; r09-r11 ordered their never-checked names
    differently, so they compare as sets."""
    if rnd not in VERDICTS:
        pytest.skip(f"no CORRECTNESS_r{rnd:02d}.json")
    before = {r: v for r, v in VERDICTS.items() if r < rnd}
    seen = {n for r, v in VERDICTS.items() if r <= rnd for n in v}
    names = [n for n, s in REGISTRY.items() if s.oracle is not None and n in seen]
    window = driver_window(names, before, {})[:WINDOW]
    if rnd >= 12:
        assert window == VERDICTS[rnd]
    else:
        assert set(window) == set(VERDICTS[rnd])


def test_recheck_entries_not_yet_checked() -> None:
    latest = {n: r for r, v in sorted(VERDICTS.items()) for n in v}
    stale = sorted(n for n, changed in _RECHECK.items() if latest.get(n, 0) >= changed)
    assert not stale, f"the driver has checked these since their plan changed; delete them from _RECHECK: {stale}"


def test_rule_tiers() -> None:
    verdicts = {1: ["a", "b", "c"], 2: ["d", "b"]}
    names = ["b", "c", "x", "a", "d", "y"]
    assert driver_window(names, {}, {}) == names
    assert driver_window(names, verdicts, {}) == ["x", "y", "a", "c", "d", "b"]
    # b changed in round 3 (due); d changed in round 2 (already checked)
    assert driver_window(names, verdicts, {"b": 3, "d": 2}) == ["x", "y", "b", "a", "c", "d"]


def test_malformed_artifact_raises(tmp_path) -> None:
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({"q1": {"hash_match": True}}))
    assert load_verdicts(tmp_path) == {1: ["q1"]}
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps(["q1"]))
    with pytest.raises(ValueError, match="malformed"):
        load_verdicts(tmp_path)
