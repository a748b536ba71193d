"""Interval-containment join (bucketed equi-join) and single-source BFS
distances: semantics vs naive references, plan shape, and depth caps."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graph_loom_spark.analytics import bfs_distances
from graph_loom_spark.ops.events import interval_join, session_intervals, sessionize


def _naive_interval_join(points, intervals, on):
    cond = [points["ts"] >= intervals["start"], points["ts"] <= intervals["end"]]
    for k in on:
        cond.append(points[k] == intervals[k])
    j = points.alias("p").join(intervals.alias("i"), cond)
    return j


@pytest.mark.parametrize("bucket_seconds", [1, 7, 100])
def test_interval_join_matches_naive_cross_filter(spark, bucket_seconds):
    # points at 0..40; intervals of assorted lengths incl. boundary hits,
    # zero-length, overlapping, and one spanning many buckets
    points = spark.createDataFrame(
        [(i, i * 2) for i in range(21)], "pid int, ts int"
    )
    intervals = spark.createDataFrame(
        [(100, 0, 0), (101, 3, 9), (102, 9, 9), (103, 5, 40), (104, 38, 60), (105, 41, 50)],
        "iid int, start int, end int",
    )
    got = {
        (r["pid"], r["iid"])
        for r in interval_join(
            points, intervals, ts_col="ts", start_col="start", end_col="end",
            bucket_seconds=bucket_seconds,
        ).collect()
    }
    want = {
        (r["pid"], r["iid"])
        for r in _naive_interval_join(points, intervals, on=[]).collect()
    }
    assert got == want and len(want) > 0
    # boundary semantics: inclusive both ends, zero-length interval hits
    assert (0, 100) in got  # ts=0 inside the zero-length [0, 0]
    assert (2, 102) not in got and (4, 101) in got  # [9,9] misses ts=8, [3,9] takes ts=8


def test_interval_join_keyed(spark):
    points = spark.createDataFrame(
        [("a", 1, 5), ("b", 2, 5), ("a", 3, 50)], "k string, pid int, ts int"
    )
    intervals = spark.createDataFrame(
        [("a", 0, 10), ("b", 6, 10)], "k string, start int, end int"
    )
    got = {
        (r["k"], r["pid"])
        for r in interval_join(
            points, intervals, ts_col="ts", start_col="start", end_col="end",
            on=["k"], bucket_seconds=4,
        ).collect()
    }
    # b@5 falls in a's window but not b's; a@50 outside
    assert got == {("a", 1)}


def test_interval_join_plan_is_equi_join_not_cartesian(spark):
    points = spark.createDataFrame([(1, 10)], "pid int, ts int")
    intervals = spark.createDataFrame([(2, 0, 20)], "iid int, start int, end int")
    plan = (
        interval_join(points, intervals, ts_col="ts", start_col="start", end_col="end")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_session_intervals_consistent_with_sessionize(spark):
    rows = [
        (1, 0), (1, 100), (1, 5000), (1, 5100),  # user 1: 2 sessions
        (2, 10),                                  # user 2: 1 session
    ]
    ev = spark.createDataFrame(rows, "user_id int, ts int").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    iv = session_intervals(ev, gap_seconds=1800)
    counts = {
        r["user_id"]: r["n"]
        for r in iv.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    ref = {r["user_id"]: r["n_sessions"] for r in sessionize(ev, 1800).collect()}
    assert counts == ref == {1: 2, 2: 1}
    spans = {
        (r["user_id"], r["session_start"].timestamp(), r["session_end"].timestamp())
        for r in iv.collect()
    }
    assert (1, 0.0, 100.0) in spans and (1, 5000.0, 5100.0) in spans
    # n_events per session
    n_ev = sorted(r["n_events"] for r in iv.filter(F.col("user_id") == 1).collect())
    assert n_ev == [2, 2]


def _py_bfs(edges, source):
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    dist = {source: 0}
    frontier = [source]
    while frontier:
        nxt = []
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    nxt.append(v)
        frontier = nxt
    return dist


def test_bfs_distances_exact_and_excludes_unreachable(spark):
    # path 1-2-3-4, cycle 2-5-6-3 (gives 6 two routes), island 8-9; a
    # reversed duplicate and self-loops (one at the source) change nothing
    edges = [(1, 2), (2, 3), (3, 4), (2, 5), (5, 6), (6, 3), (8, 9), (3, 2), (1, 1), (4, 4)]
    e = spark.createDataFrame(edges, "src int, dst int")
    got = {r["id"]: r["distance"] for r in bfs_distances(e, source=1).collect()}
    assert got == _py_bfs(edges, 1)  # island 8-9 absent from both
    assert 8 not in got and got[6] == 3  # via 2-5-6 and 2-3-6: min is 3


def test_bfs_depth_cap_and_default_source(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "d")]
    e = spark.createDataFrame(edges, "src string, dst string")
    # default source = min id = "a"; cap at 2 hops
    got = {r["id"]: r["distance"] for r in bfs_distances(e, max_depth=2).collect()}
    assert got == {"a": 0, "b": 1, "c": 2}


def test_bfs_missing_source_raises(spark):
    import pytest

    e = spark.createDataFrame([(1, 2)], "src int, dst int")
    with pytest.raises(ValueError, match="not in the edge list"):
        bfs_distances(e, source=99)


def test_bfs_empty_edges_raises(spark):
    import pytest

    e = spark.createDataFrame([], "src int, dst int")
    with pytest.raises(ValueError, match="empty edge list"):
        bfs_distances(e)


def test_weighted_sssp_matches_python_bellman_ford(spark):
    """weighted_sssp vs an exact python replay: same md5-lane weights,
    same bounded-hop min-relaxation semantics."""
    import hashlib

    from graph_loom_spark.analytics import weighted_sssp

    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (6, 7)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["dist"] for r in weighted_sssp(e, rounds=8).collect()}

    def w(u, v):
        lo, hi = min(u, v), max(u, v)
        h = int(hashlib.md5(f"{lo}|{hi}".encode()).hexdigest()[:8], 16)
        return 1 + h % 9

    adj: dict = {}
    for u, v in edges:
        adj.setdefault(u, []).append((v, w(u, v)))
        adj.setdefault(v, []).append((u, w(u, v)))
    dist = {1: 0}
    for _ in range(8):
        nxt = dict(dist)
        for n, d in dist.items():
            for v, wt in adj.get(n, []):
                if d + wt < nxt.get(v, 1 << 60):
                    nxt[v] = d + wt
        dist = nxt
    assert got == dist
    assert 6 not in got and 7 not in got  # disconnected component


def test_weighted_sssp_respects_explicit_weights_and_hop_cap(spark):
    from graph_loom_spark.analytics import weighted_sssp

    # path 1-2-3 with cheap hops vs expensive direct edge 1-3
    e = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (1, 3, 5)], "src long, dst long, w long"
    )
    got = {r["id"]: r["dist"] for r in weighted_sssp(e, weight_col="w", rounds=8).collect()}
    assert got == {1: 0, 2: 1, 3: 2}
    # one round only: the 2-hop path is invisible, direct edge wins
    got1 = {r["id"]: r["dist"] for r in weighted_sssp(e, weight_col="w", rounds=1).collect()}
    assert got1 == {1: 0, 2: 1, 3: 5}
