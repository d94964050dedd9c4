"""Rotation-plan audit: the driver verifies only the first 50 registry
entries per round, so full driver coverage is a cross-round invariant.
These tests make the plan mechanically checkable instead of prose in
ROTATION.md (the r6 verdict found a two-entry hole exactly because the
plan lived only in prose).
"""

import json
import os

from etl_data_spark.catalog import CHANGED_THIS_ROUND, PRIORITY, REGISTRY

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _driver_green() -> set[str]:
    """Entries with at least one fully-green driver CORRECTNESS row."""
    green = set()
    for fname in sorted(os.listdir(REPO)):
        if not (fname.startswith("CORRECTNESS_r") and fname.endswith(".json")):
            continue
        with open(os.path.join(REPO, fname)) as f:
            rows = json.load(f)
        for name, row in rows.items():
            if (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
                and not row.get("err")
            ):
                green.add(name)
    return green


def test_window_is_exactly_50_known_entries():
    assert len(PRIORITY) == 50 and len(set(PRIORITY)) == 50
    unknown = [n for n in PRIORITY if n not in REGISTRY]
    assert not unknown, f"window references unregistered queries: {unknown}"


def test_active_window_is_the_regression_rotation():
    """The active window is the regression rotation: it opens with the
    current round's changed code paths (ROTATION.md)."""
    assert PRIORITY[: len(CHANGED_THIS_ROUND)] == CHANGED_THIS_ROUND


def test_changed_paths_reenter_the_active_window():
    """ROTATION.md rule: an entry whose code path changes this round must
    re-earn a driver row THIS round — its historical green row is stale
    the moment the code under it moves. Membership in the active window
    is the mechanical form of that rule."""
    unknown = [n for n in CHANGED_THIS_ROUND if n not in REGISTRY]
    assert not unknown, f"CHANGED_THIS_ROUND references unregistered: {unknown}"
    stale = [n for n in CHANGED_THIS_ROUND if n not in PRIORITY]
    assert not stale, (
        "entries changed this round but NOT scheduled for driver "
        f"re-verification: {stale} — swap them into PRIORITY"
    )


def test_queries_surface_priority_first():
    """The driver verifies the first 50 of queries() — the dict must open
    with exactly PRIORITY, in order, and every name must carry an oracle
    in oracle_sql() (the contract __spark_entry__ re-exports)."""
    from etl_data_spark.catalog import oracle_sql, queries

    q = list(queries())
    assert q[:50] == PRIORITY
    o = oracle_sql()
    assert all(n in o for n in PRIORITY)


def test_active_window_entries_are_oracle_backed():
    """The driver's hash gate only bites when an oracle exists — a
    rows-only entry in the window wastes a verification slot."""
    weak = [n for n in PRIORITY if REGISTRY[n].oracle is None]
    assert not weak, f"rows-only entries occupy window slots: {weak}"


def test_no_oracle_backed_entry_escapes_driver_coverage():
    """The r6-verdict bar: after the current window lands, the set
    {oracle-backed entries without a driver-green row} must be EMPTY.
    Historical green rows come from the committed CORRECTNESS_r*.json;
    the active window covers the rest. If this fails, an entry gained an
    oracle without being scheduled into any window — amend PRIORITY (or
    the pre-staged next window) in the same commit that registers it.
    """
    covered = _driver_green() | set(PRIORITY)
    missing = [
        n
        for n, spec in REGISTRY.items()
        if spec.oracle is not None and n not in covered
    ]
    assert not missing, (
        "oracle-backed entries scheduled into NO window and never "
        f"driver-green: {missing}"
    )
