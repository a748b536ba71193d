"""A capture that keeps only the LAST 2000 chars of bench stdout must
hold the final two lines (positional qta, compact summary) whole, and
they must reconstruct every per-query timing (r7 lost 71 of 132
timings to the tail cap)."""

from __future__ import annotations

import json
import os
import random
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import bench


def _fixture(n_queries: int = 191):
    rng = random.Random(7)
    names = [f"docs_operator_name_{i:03d}" for i in range(n_queries - 32)] + [
        f"graph_iterative_algo_{i:02d}" for i in range(32)
    ]
    timings = {n: round(rng.uniform(0.05, 45.0), 3) for n in names}
    timings[names[3]] = -1.0  # a failed query must round-trip too
    return timings


def test_tail_lines_fit_window_together():
    timings = _fixture()
    result, _, qta, compact = bench.build_output_lines(timings, 0.1, "f" * 32)
    # +2 newlines: the window must carry both lines WHOLE
    assert len(qta) + len(compact) + 2 <= bench.TAIL_WINDOW
    rec = json.loads(result)
    assert rec["queries"] == timings and rec["forcing"] == "noop_sink"
    # no family totals serialize as null, keeping history lines uniform
    assert rec["families"] is None


def test_qta_reconstructs_every_timing():
    timings = _fixture()
    _, _, qta, _ = bench.build_output_lines(timings, 0.1, None)
    payload = json.loads(qta)["qta"]
    assert payload["o"] == "alpha"
    assert payload["n"] == len(timings)
    reconstructed = dict(zip(sorted(timings), payload["v"]))
    for name, sec in timings.items():
        assert reconstructed[name] == round(sec, 2)


def test_compact_line_parses_and_carries_pq_digest():
    timings = _fixture()
    _, _, _, compact = bench.build_output_lines(
        timings, 0.1, "3ce9cf8f57671e817f98c0038f176b99"
    )
    parsed = json.loads(compact)
    assert parsed["metric"] == "total_bench_seconds"
    assert parsed["pq_md5"] == "3ce9cf8f57671e817f98c0038f176b99"
    # slowest-first: every named entry must be >= the max omitted timing
    named = set(parsed["queries"])
    if parsed["queries_omitted"]:
        floor = min(parsed["queries"].values())
        omitted_max = max(
            round(t, 2) for n, t in timings.items() if n not in named
        )
        assert floor >= omitted_max


def test_family_totals_group_and_skip():
    """family_totals: queries sharing any memo cache sum into one family
    line keyed by the alphabetically-first timed member; single-member
    and untimed/failed families are skipped."""

    class _Entry:
        @staticmethod
        def _memo_map():
            a, b, c = {}, {}, {}
            return {
                "q_beta": [a],
                "q_alpha": [a, b],   # bridges a and b -> one family
                "q_gamma": [b],
                "q_solo": [c],       # single member -> skipped
                "q_failed": [c],     # fails below -> family has 1 timed
            }

    timings = {
        "q_alpha": 2.0,
        "q_beta": 1.5,
        "q_gamma": 0.25,
        "q_solo": 3.0,
        "q_failed": -1.0,
        "q_unrelated": 9.0,
    }
    fams = bench.family_totals(_Entry, timings)
    assert fams == {"fam:q_alpha": 3.75}


def test_family_totals_stable_under_reorder():
    """A bench-order no-op (member lines move, family membership does
    not) must leave the family totals byte-identical."""

    class _Entry:
        @staticmethod
        def _memo_map():
            shared = {}
            return {"q_a": [shared], "q_b": [shared], "q_c": [shared]}

    # same totals, attribution moved between members
    t1 = {"q_a": 5.0, "q_b": 0.1, "q_c": 0.4}
    t2 = {"q_a": 0.1, "q_b": 5.0, "q_c": 0.4}
    assert bench.family_totals(_Entry, t1) == bench.family_totals(_Entry, t2)
