"""Graph versions: every write swaps in a materialized frame — a
driver-held ``LocalRelation`` while the graph is small, else an eagerly
pinned checkpoint — and the session frees the versions it superseded
once a statement's rows are collected, so the lineage of
``nodes``/``edges`` stays one node deep and a long-lived session holds a
fixed number of pinned blocks."""

from __future__ import annotations

from graph_loom_spark.graph import (
    EDGE_SCHEMA,
    NODE_SCHEMA,
    PropertyGraph,
    _free_intermediates,
    local_rows,
)
from graph_loom_spark.interface import CypherSession

PEOPLE = ["a", "b", "c", "d"]
KNOWS = [("a", "b"), ("b", "c"), ("c", "d")]


def _cycle(i: int) -> list[str]:
    n = f"n{i}"
    return [
        f'CREATE (x:Person {{name:"{n}"}})',
        f'MATCH (a:Person {{name:"a"}}), (x:Person {{name:"{n}"}}) CREATE (a)-[:KNOWS]->(x)',
        f'MATCH (p:Person {{name:"b"}}) SET p.seen = "{i}"',
        'MATCH (s:Person {name:"a"})-[:KNOWS*1..2]->(t:Person) RETURN t.name',
        f'MATCH (x:Person {{name:"{n}"}}) DETACH DELETE x',
    ]


def _graph(spark, nodes, edges) -> PropertyGraph:
    g = PropertyGraph.from_dataframes(
        spark.createDataFrame(nodes, NODE_SCHEMA), spark.createDataFrame(edges, EDGE_SCHEMA)
    )
    g.cache_checkpoint()
    return g


def _flat(df) -> bool:
    """The frame's analyzed plan is one materialized leaf: a pinned
    ``LogicalRDD`` or a driver-held ``LocalRelation``."""
    plan = df._jdf.queryExecution().analyzed()
    text = plan.toString()
    return (
        plan.nodeName() in ("LogicalRDD", "LocalRelation")
        and plan.children().size() == 0
        and "Join" not in text
        and "Union" not in text
    )


def _reply(outcome) -> list[tuple]:
    """Reply rows without ids (a fresh graph mints its own)."""
    return sorted(
        (r.kind, r.label or "", tuple(sorted((r.properties or {}).items())), r.info or "")
        for r in outcome.rows
    )


def _persisted(spark) -> set:
    return set(dict(spark.sparkContext._jsc.getPersistentRDDs()))


def _session(spark) -> CypherSession:
    ids = {p: f"00000000-0000-7000-8000-00000000000{i}" for i, p in enumerate(PEOPLE)}
    nodes = [(ids[p], "Person", {"name": p}) for p in PEOPLE]
    edges = [(f"e{i}", ids[s], ids[d], "KNOWS", {}) for i, (s, d) in enumerate(KNOWS)]
    return CypherSession(_graph(spark, nodes, edges))


def _run_checked(spark, sess: CypherSession, stmt: str) -> None:
    """Run ``stmt``; its reply must equal the same statement's on a fresh
    graph loaded with the current rows (whose pins are freed before the
    session's statement runs), and the versions must stay flat."""
    g = sess.graph
    ours = _persisted(spark)
    fresh = CypherSession(
        _graph(spark, [tuple(r) for r in g.nodes.collect()], [tuple(r) for r in g.edges.collect()])
    )
    want = fresh.execute(stmt)
    _free_intermediates(spark, _persisted(spark) - ours)
    got = sess.execute(stmt)
    assert (_reply(got), got.mutated) == (_reply(want), want.mutated), stmt
    assert _flat(g.nodes) and _flat(g.edges), stmt


def test_write_cycles_keep_lineage_flat_and_pins_bounded(spark):
    sess = _session(spark)
    before = _persisted(spark)
    held = []
    for i in range(3):
        for stmt in _cycle(i):
            _run_checked(spark, sess, stmt)
        held.append(len(_persisted(spark) - before))
        reached = sess.execute(_cycle(i)[3]).rows
        assert sorted(r.info for r in reached) == ["b", "c"]  # n{i} was deleted
    assert held[2] == held[0], held
    assert sess.graph.nodes.count() == 4 and sess.graph.edges.count() == 3
    seen = sess.execute('MATCH (p:Person {name:"b"}) RETURN p.seen').rows
    assert [r.info for r in seen] == ["2"]
    # execute_df releases nothing: its lazy frame (over the BFS pairs pin,
    # the caller's with no scope open, and the local node version) still
    # evaluates after a later write
    lazy = sess.execute_df(_cycle(0)[3])
    sess.execute('MATCH (p:Person {name:"d"}) SET p.seen = "x"')
    assert sorted(r["info"] for r in lazy.collect()) == ["b", "c"]


def test_versions_cross_the_local_cap_both_ways(spark):
    """A CREATE past the cap moves ``nodes`` to the pinned tier, where
    it stays once the cap is back; ``cache_checkpoint()`` brings both
    frames back to the local tier. Replies never change, and a graph
    back on the local tier holds no pinned block."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    sess = _session(spark)
    g = sess.graph
    before = _persisted(spark)
    assert local_rows(g.nodes) == 4 and local_rows(g.edges) == 3
    old = spark.conf.get(key)
    # a cap of exactly the 4 current nodes (and 2 edges)
    spark.conf.set(key, str(4 * g.nodes._jdf.schema().defaultSize()))
    try:
        _run_checked(spark, sess, _cycle(0)[0])  # CREATE: 5 nodes
        assert local_rows(g.nodes) is None and local_rows(g.edges) == 3
        for stmt in _cycle(0)[1:4]:  # MATCH..CREATE, SET, *1..2 on the pinned tier
            _run_checked(spark, sess, stmt)
        assert local_rows(g.nodes) is None and local_rows(g.edges) is None
    finally:
        spark.conf.set(key, old)
    _run_checked(spark, sess, _cycle(0)[4])  # DETACH DELETE: no probe, stays pinned
    assert local_rows(g.nodes) is None and local_rows(g.edges) is None
    g.cache_checkpoint()
    assert local_rows(g.nodes) == 4 and local_rows(g.edges) == 3
    for stmt in _cycle(1):
        _run_checked(spark, sess, stmt)
    assert local_rows(g.nodes) == 4 and local_rows(g.edges) == 3
    assert _persisted(spark) - before == set()
