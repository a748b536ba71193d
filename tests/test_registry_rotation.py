"""Invariants of the entry registry that a code change can break.

The driver's correctness pass hash-checks only a bounded PREFIX of
``queries()`` (50 entries in every round so far), so the registry order
is rotated each round by ``scripts/rotation_plan.py``. Whether the
window is current depends on the ``CORRECTNESS_r*.json`` files
delivered after each round, which arrive from outside the code: that
check is ``scripts/rotation_plan.py --check``, run when such a file is
delivered, and is tested here only on synthetic files. The tests below
read committed code and artifacts alone.
"""

from __future__ import annotations

import glob
import importlib.util
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 50  # observed driver prefix size in rounds 5 and 6


def _registry_keys() -> list[str]:
    import __spark_entry__ as entry

    return list(entry.queries().keys())


def _rotation_plan():
    spec = importlib.util.spec_from_file_location(
        "rotation_plan", os.path.join(REPO, "scripts", "rotation_plan.py")
    )
    rp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rp)
    return rp


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
    rp = _rotation_plan()
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


def test_rotation_check_flags_a_stale_window(tmp_path):
    """``rotation_plan.py --check`` on synthetic CORRECTNESS files: the
    window passes while it holds the never-green and the stalest-green
    entries, and each kind of staleness is a finding."""
    rp = _rotation_plan()
    import __spark_entry__ as entry

    keys = _registry_keys()

    def deliver(repo, rnd: int, names) -> None:
        rows = {n: {"err": None, "hash_match": True} for n in names}
        (repo / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))

    # the window entries are the stalest greens: current
    deliver(tmp_path, 1, keys)
    deliver(tmp_path, 2, keys[WINDOW:])
    assert rp.check(entry, str(tmp_path)) == []
    # a newer round greens the window: the stalest now sit outside it
    deliver(tmp_path, 3, keys[:WINDOW])
    findings = rp.check(entry, str(tmp_path))
    assert len(findings) == 1 and "stalest-green" in findings[0]
    # an entry past the window with no green row at all
    fresh = tmp_path / "never"
    fresh.mkdir()
    deliver(fresh, 1, keys[:-1])
    deliver(fresh, 2, keys[WINDOW:-1])
    findings = rp.check(entry, str(fresh))
    assert len(findings) == 1 and "never-green" in findings[0] and keys[-1] in findings[0]
