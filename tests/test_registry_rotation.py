"""Rotation invariant for the entry registry (VERDICT r6 ask #2).

The driver's correctness pass hash-checks only a bounded PREFIX of
``queries()`` (50 entries in every round so far).  The registry has
outgrown that window twice (r5: 84 entries, r6: 120), each time leaving
a block of entries with no driver row in any round.  This test makes
the rotation a scripted invariant instead of a per-round chore: every
registry key that has never come back green from the driver (union of
all ``CORRECTNESS_r*.json`` in the repo root) MUST sit inside the
checked window, so the next driver pass covers exactly the entries that
need a row.

"Green" for an entry means a driver row with no error and a true value
hash, OR a clean rows-only row for entries that deliberately publish no
oracle SQL (``err == 'no_oracle'`` with a non-null spark row count —
the driver's weaker check for non-SQL-expressible ops).
"""

from __future__ import annotations

import glob
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 50  # observed driver prefix size in rounds 5 and 6


def _registry_keys() -> list[str]:
    import __spark_entry__ as entry

    return list(entry.queries().keys())


def _driver_green() -> set[str]:
    green: set[str] = set()
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        with open(path) as fh:
            rows = json.load(fh)
        for name, row in rows.items():
            if row.get("err") is None and row.get("hash_match") is True:
                green.add(name)
            elif row.get("err") == "no_oracle" and row.get("spark_rows") is not None:
                green.add(name)
    return green


def test_unverified_entries_inside_driver_window():
    keys = _registry_keys()
    green = _driver_green()
    pending = [k for k in keys if k not in green]
    assert len(pending) <= WINDOW, (
        f"{len(pending)} entries lack a green driver row but the checked "
        f"window is only {WINDOW} — the registry grew faster than driver "
        f"coverage; split rounds or shrink the pending set: {pending}"
    )
    stragglers = [k for k in pending if keys.index(k) >= WINDOW]
    assert not stragglers, (
        "registry entries with NO green driver row in any CORRECTNESS file "
        f"sit outside the driver's {WINDOW}-entry window — rotate them to "
        f"the front of queries(): {stragglers}"
    )


def test_registry_has_no_duplicate_keys():
    keys = _registry_keys()
    assert len(keys) == len(set(keys))


def test_oracle_replay_artifact_covers_full_registry():
    """(VERDICT r9 ask #1) The per-round full-registry oracle replay
    (scripts/check_oracle.py --json assets/oracle_replay_rN.json) must
    exist, cover EVERY registry key, and contain no failing entry —
    changed-code re-verification no longer depends on the driver's
    50-entry window ordering."""
    arts = sorted(glob.glob(os.path.join(REPO, "assets", "oracle_replay_r*.json")))
    assert arts, "no assets/oracle_replay_rN.json — run scripts/check_oracle.py --json"
    with open(arts[-1]) as fh:
        art = json.load(fh)
    entries = art["entries"]
    missing = [k for k in _registry_keys() if k not in entries]
    assert not missing, (
        f"{os.path.basename(arts[-1])} is stale — registry keys absent "
        f"from the replay artifact: {missing}"
    )
    failing = {k: v for k, v in entries.items() if v["status"] == "fail"}
    assert not failing, f"replay artifact has failing entries: {failing}"


def test_oracle_replay_summary_matches_entries():
    """(VERDICT r10 ask #3) The replay artifact's summary block must be
    a pure recount of its entries dict — the r10 artifact was
    hand-extended by a later commit (entries grew to 168 but the
    summary still said 167/165), breaking single-provenance.  Any
    hand-merge now fails this test; the only way to keep it green is to
    regenerate the artifact with one clean check_oracle.py sweep."""
    arts = sorted(glob.glob(os.path.join(REPO, "assets", "oracle_replay_r*.json")))
    assert arts
    with open(arts[-1]) as fh:
        art = json.load(fh)
    entries = art["entries"]
    recount = {
        "n_entries": len(entries),
        "n_hash_pass": sum(v["status"] == "hash_pass" for v in entries.values()),
        "n_rows_only": sum(v["status"] == "rows_only" for v in entries.values()),
        "n_fail": sum(v["status"] == "fail" for v in entries.values()),
    }
    stated = {k: art[k] for k in recount}
    assert stated == recount, (
        f"{os.path.basename(arts[-1])} summary {stated} != recount of its own "
        f"entries {recount} — the artifact was hand-merged; regenerate it with "
        "a single scripts/check_oracle.py --json sweep"
    )


def test_window_slack_holds_stalest_greens():
    """(VERDICT r11 ask #4) Staleness policy: after the never-green
    entries, the window's remaining slots must hold the green entries
    whose NEWEST green driver row is OLDEST — so r5-era greens cycle
    back under the driver on a schedule instead of by accident. A
    TOLERANCE of slots is left to judgment (memo-group partners pulled
    in for bench attribution, changed-code re-verification), but the
    strictly-stalest set computed by scripts/rotation_plan.py must be
    inside the window."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "rotation_plan", os.path.join(REPO, "scripts", "rotation_plan.py")
    )
    rp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rp)
    import __spark_entry__ as entry

    keys = _registry_keys()
    latest = rp.latest_green_rounds(REPO)
    pending = [k for k in keys if k not in latest]
    slack = rp.WINDOW - len(pending)
    greens = sorted((k for k in keys if k in latest), key=lambda k: (latest[k], k))
    must = greens[: max(0, slack - rp.TOLERANCE)]
    stragglers = [k for k in must if keys.index(k) >= rp.WINDOW]
    assert not stragglers, (
        f"{len(stragglers)} of the {len(must)} stalest-green entries sit "
        f"outside the {rp.WINDOW}-entry driver window — regenerate the "
        f"rotation (python scripts/rotation_plan.py) and update "
        f"_WINDOW_ORDER: {stragglers}"
    )


def test_window_order_is_exactly_the_driver_prefix():
    """_WINDOW_ORDER documents 'the driver window' — it must therefore
    be exactly WINDOW entries and exactly the queries() prefix, or
    names past position 50 sit silently unchecked while labeled
    in-window (code-review r12)."""
    import __spark_entry__ as entry

    assert len(entry._WINDOW_ORDER) == WINDOW
    assert list(entry.queries().keys())[:WINDOW] == entry._WINDOW_ORDER


def test_memo_groups_give_each_memo_family_one_id():
    """The planner pulls a consumer's producers in by group id, so every
    query sharing a memo store, directly or through another query, must
    get the same id (the families are recomputed here by plain set
    merging over ``_memo_map()``)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "rotation_plan", os.path.join(REPO, "scripts", "rotation_plan.py")
    )
    rp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rp)
    import __spark_entry__ as entry

    families: list[tuple[set, set]] = []  # (names, store ids)
    for name, stores in entry._memo_map().items():
        names, ids = {name}, {id(s) for s in stores}
        for fam in [f for f in families if f[1] & ids]:
            names |= fam[0]
            ids |= fam[1]
            families.remove(fam)
        families.append((names, ids))
    groups = rp.memo_groups(entry)
    assert all(len({groups[n] for n in names}) == 1 for names, _ in families)
    assert len(set(groups.values())) == len(families)
