"""Compute the driver-window rotation plan (VERDICT r11 ask #4).

The driver hash-checks only the first ``WINDOW`` (50) entries of
``queries()`` each round. Never-green entries MUST sit inside that
window (the r6 invariant); this script adds the STALENESS policy on
top: the remaining slots are filled by the green entries whose NEWEST
green driver row is oldest, so long-green blocks (the r5 cypher era)
cycle back under the driver on a schedule instead of by accident.

Prints the computed window as an ordered list:
  1. pending (never-green) entries, current registry order;
  2. the stalest green entries, oldest round first (ties by name),
     each preceded by any not-yet-placed memo-group producer so the
     group's one-time build cost stays on the producer's line
     (the r7/r11 bench-attribution rule).

Use it when rotating ``queries()`` for a new round:
    python scripts/rotation_plan.py            # print the plan
    python scripts/rotation_plan.py --apply    # rewrite _WINDOW_ORDER in place
    python scripts/rotation_plan.py --check    # exit 1 if the window is stale
``--apply`` rewrites the ``_WINDOW_ORDER = [...]`` literal in
``__spark_entry__.py`` with the computed window, so rotation is a
one-command round-open step (VERDICT r12 ask #1: rotation must be the
FIRST commit of every round).
``--check`` prints each finding of :func:`check` and exits 1 on any:
run it whenever a CORRECTNESS file is delivered. It lives here, not in
the test suite, because those files arrive from outside the code, so a
test reading them could turn red with no code change.
Internal adjacency may still be adjusted by hand for memo grouping —
the staleness check allows a tolerance for exactly that.
"""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WINDOW = 50
#: slots the strict oldest-first fill leaves to judgment (memo-group
#: partners pulled in for attribution, changed-code re-verification)
TOLERANCE = 12


def latest_green_rounds(repo: str) -> dict[str, int]:
    """name -> newest round whose CORRECTNESS file has a green row
    (true hash, or the clean rows-only form for no-oracle entries)."""
    latest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        rnd = int(os.path.basename(path)[len("CORRECTNESS_r"):-len(".json")])
        with open(path) as fh:
            rows = json.load(fh)
        for name, row in rows.items():
            ok = (row.get("err") is None and row.get("hash_match") is True) or (
                row.get("err") == "no_oracle" and row.get("spark_rows") is not None
            )
            if ok and rnd >= latest.get(name, -1):
                latest[name] = rnd
    return latest


def memo_groups(entry_mod) -> dict[str, int]:
    """name -> group id; entries sharing any memo cache share a group
    (``_memo_families``)."""
    return {n: gid for gid, names in enumerate(entry_mod._memo_families()) for n in names}


def plan(entry_mod, repo: str) -> tuple[list[str], list[str], list[str]]:
    """Returns (window, pending, must_rotate): the suggested 50-entry
    window, the never-green names, and the strict oldest-green set the
    rotation test requires in-window."""
    keys = list(entry_mod.queries().keys())
    latest = latest_green_rounds(repo)
    pending = [k for k in keys if k not in latest]
    slack = WINDOW - len(pending)
    greens = sorted(
        (k for k in keys if k in latest), key=lambda k: (latest[k], k)
    )
    must = greens[: max(0, slack - TOLERANCE)]
    groups = memo_groups(entry_mod)
    window: list[str] = list(pending)
    placed = set(window)
    # The must set is the test's invariant (every strictly-stalest green
    # inside the window), so group-producer pulls spend only the slots
    # NOT owed to must entries — the r14 ANN-family rotation showed the
    # unbudgeted greedy pull crowding 5 must entries out of the window.
    must_left = [m for m in must if m not in placed]

    def _budget(k: str) -> int:
        owed = sum(1 for m in must_left if m not in placed and m != k)
        return WINDOW - len(window) - owed

    for k in greens:
        if len(window) >= WINDOW:
            break
        if k in placed:
            continue
        if k not in must and _budget(k) < 1:
            continue  # remaining slots are owed to stalest-green entries
        gid = groups.get(k)
        if gid is not None:
            # pull the group's earlier-registry members (producers)
            # first so the build cost stays attributed — but only into
            # slots the must set does not need (a pulled producer that
            # IS a must entry costs nothing extra)
            for other in keys:
                if (
                    other not in placed
                    and groups.get(other) == gid
                    and keys.index(other) < keys.index(k)
                    and len(window) < WINDOW
                    and (other in must_left or _budget(k) > 1)
                ):
                    window.append(other)
                    placed.add(other)
        if len(window) < WINDOW and k not in placed:
            window.append(k)
            placed.add(k)
    return window, pending, must


def check(entry_mod, repo: str) -> list[str]:
    """The current ``queries()`` order against the CORRECTNESS files in
    ``repo``; returns one message per finding (none: the window is
    current).

    - Every never-green entry must sit inside the ``WINDOW``-entry
      checked prefix (the r6 invariant), so the next correctness pass
      covers exactly the entries that need a row.
    - The strictly-stalest greens (the must set of :func:`plan`) must
      sit inside it too (the r11 staleness policy)."""
    keys = list(entry_mod.queries().keys())
    _, pending, must = plan(entry_mod, repo)
    findings = []
    if len(pending) > WINDOW:
        findings.append(
            f"{len(pending)} entries lack a green CORRECTNESS row but the checked "
            f"window is only {WINDOW}: {pending}"
        )
    for label, names in (("never-green", pending), ("stalest-green", must)):
        outside = [k for k in names if keys.index(k) >= WINDOW]
        if outside:
            findings.append(
                f"{len(outside)} {label} entries sit outside the {WINDOW}-entry "
                f"checked window; run --apply: {outside}"
            )
    return findings


def apply_window(repo: str, window: list[str]) -> None:
    """Rewrite the ``_WINDOW_ORDER = [...]`` literal in
    ``__spark_entry__.py`` with *window* (one quoted name per line,
    preserving the surrounding comment block)."""
    import re

    path = os.path.join(repo, "__spark_entry__.py")
    with open(path) as fh:
        src = fh.read()
    body = "".join(f'    "{k}",\n' for k in window)
    new_src, n = re.subn(
        r"_WINDOW_ORDER = \[\n(?:    \"[^\"]+\",\n)+\]",
        "_WINDOW_ORDER = [\n" + body + "]",
        src,
        count=1,
    )
    if n != 1:
        raise SystemExit("could not locate _WINDOW_ORDER literal")
    with open(path, "w") as fh:
        fh.write(new_src)
    print(f"# wrote {len(window)}-entry _WINDOW_ORDER to {path}")


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entry

    if "--check" in sys.argv[1:]:
        findings = check(entry, repo)
        for f in findings:
            print(f"FINDING: {f}")
        print(f"# {len(findings)} finding(s)")
        raise SystemExit(1 if findings else 0)
    window, pending, must = plan(entry, repo)
    latest = latest_green_rounds(repo)
    print(f"# window ({len(window)}): pending={len(pending)} "
          f"must_rotate={len(must)}")
    for k in window:
        tag = "PENDING" if k in pending else f"green r{latest[k]}"
        star = " *must" if k in must else ""
        print(f"{k:40s} {tag}{star}")
    if "--apply" in sys.argv[1:]:
        apply_window(repo, window)


if __name__ == "__main__":
    main()
