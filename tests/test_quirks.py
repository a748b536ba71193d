"""Semantic-quirk tests: the counterintuitive reference behaviors SURVEY
§7.3 flags as oracle-parity risks. Each cites the reference lines that
mandate the behavior."""

from __future__ import annotations

from collections import Counter

import pytest

from graph_loom_spark.graph import EDGE_SCHEMA, NODE_SCHEMA, PropertyGraph
from graph_loom_spark.interface import CypherSession


def test_return_multi_item_flattening(session):
    """O5 (cypher_spec.rs:1393-1426): k RETURN items emit up to k separate
    rows per binding — entity row + scalar row, not a k-column row."""
    session.execute('CREATE (p:Person {name:"Neo", role:"hacker"})')
    out = session.execute("MATCH (p:Person) RETURN p, p.name")
    kinds = [r.kind for r in out.rows]
    assert kinds == ["node", "info"]
    assert out.rows[1].info == "Neo"


def test_where_unknown_conjunct_fail_open(session):
    """P7 (cypher_spec.rs:1140-1142): unrecognized WHERE conjunct keeps
    the row."""
    session.execute('CREATE (p:Person {name:"Neo"})')
    out = session.execute(
        "MATCH (p:Person) WHERE someFunction(p) IS WEIRD RETURN p"
    )
    assert len(out.rows) == 1


def test_optional_match_is_inner(session):
    """OPTIONAL MATCH executes as plain MATCH (cypher_spec.rs:761):
    no null-padding — unmatched pattern yields zero rows."""
    session.execute('CREATE (p:Person {name:"Neo"})')
    out = session.execute("OPTIONAL MATCH (m:Movie) RETURN m")
    assert out.rows == []


def test_missing_property_return_emits_no_row(session):
    """A RETURN of a missing property emits no row at all for that
    binding (cypher_spec.rs:1413-1415) — not an empty string."""
    session.execute('CREATE (a:P {name:"x"}); CREATE (b:P {other:"y"})')
    out = session.execute("MATCH (p:P) RETURN p.name")
    assert [r.info for r in out.rows] == ["x"]


def test_missing_property_where_defaults_empty(session):
    """...but in WHERE a missing property compares as "" (cypher_spec.rs:
    1093,1127): <> filter keeps the missing-prop node."""
    session.execute('CREATE (a:P {name:"x"}); CREATE (b:P {other:"y"})')
    out = session.execute('MATCH (p:P) WHERE p.name <> "x" RETURN p')
    assert len(out.rows) == 1  # b: "" <> "x"


def test_with_keeps_only_bare_vars(session):
    """O4 (cypher_spec.rs:1146-1219): WITH projects listed variables only;
    a dropped variable is no longer bound downstream. NB: a RETURN after
    MATCH..WITH is a reference parse error (the RETURN split runs first,
    cypher_spec.rs:348-357, leaving WITH text inside the pattern region)
    — so the observable output is the no-RETURN entity dump."""
    session.execute('CREATE (a:A {name:"x"}); CREATE (b:B {name:"y"})')
    out = session.execute("MATCH (a:A), (b:B) WITH a")
    # b was dropped by WITH → the dump emits only the still-bound `a`
    assert [r.kind for r in out.rows] == ["node"]
    assert out.rows[0].label == "A"


def test_with_order_limit(session):
    session.execute(
        'CREATE (m:M {t:"b"}); CREATE (m:M {t:"a"}); CREATE (m:M {t:"c"})'
    )
    out = session.execute("MATCH (m:M) WITH m ORDER BY m.t ASC LIMIT 2")
    assert sorted(r.properties["t"] for r in out.rows) == ["a", "b"]


def test_order_by_numeric_first_comparator(session):
    """P3/O1 (cypher_spec.rs:1486-1491): numeric values sort numerically
    ("9" < "10"), non-numeric lexicographically after."""
    for v in ["10", "9", "abc", "2"]:
        session.execute(f'CREATE (n:N {{v:"{v}"}})')
    out = session.execute("MATCH (n:N) RETURN n.v ORDER BY n.v ASC")
    assert [r.info for r in out.rows] == ["2", "9", "10", "abc"]


def test_return_modifiers_single_item_only(session):
    """O1-O3 apply only when RETURN has exactly one item
    (cypher_spec.rs:1511-1513): multi-item → flattened, unmodified."""
    session.execute('CREATE (a:Z {v:"1"}); CREATE (b:Z {v:"2"})')
    out = session.execute("MATCH (n:Z) RETURN n.v, n ORDER BY n.v DESC LIMIT 1")
    # LIMIT/ORDER ignored in multi-item mode: 2 bindings × 2 items = 4 rows
    assert len(out.rows) == 4


def test_no_return_dumps_bound_entities(session):
    """No-RETURN statement dumps every bound entity per row
    (cypher_spec.rs:1520-1531)."""
    session.execute('CREATE (a:A {name:"x"})')
    session.execute('CREATE (b:B {name:"y"})')
    session.execute("MATCH (a:A), (b:B) CREATE (a)-[:R]->(b)")
    out = session.execute("MATCH (a:A)-[r:R]->(b:B)")
    kinds = sorted(r.kind for r in out.rows)
    assert kinds == ["node", "node", "rel"]


def test_params_in_create_and_merge_props(session):
    session.execute(
        "CREATE (p:Person {name:$name})", {"name": "Morpheus"}
    )
    out = session.execute("MATCH (p:Person) RETURN p.name")
    assert [r.info for r in out.rows] == ["Morpheus"]


def test_set_defers_after_match(session):
    """M8 (cypher_spec.rs:344-346): SET between MATCH and RETURN runs
    after matching; RETURN sees the new value."""
    session.execute('CREATE (p:P {name:"x"})')
    out = session.execute('MATCH (p:P {name:"x"}) SET p.seen = "1" RETURN p')
    assert out.rows[0].properties.get("seen") == "1"


def test_where_before_set_without_return_becomes_set_items(session):
    """Reference parse quirk (cypher_spec.rs:401-405): in
    MATCH .. WHERE .. SET .. with NO RETURN, the no-RETURN branch
    assigns the WHERE body to deferred_set — the filter text executes as
    SET items over the UNFILTERED match, and the filter itself is
    dropped. So `WHERE a.name = "x" SET a.t = "1"` sets BOTH name="x"
    and t="1" on every matched node. With a RETURN the same statement
    parses correctly (test_set_defers_after_match). Faithfully
    mirrored; use the RETURN form for filtered updates."""
    session.execute('CREATE (a:P {name:"a"})')
    session.execute('CREATE (b:P {name:"b"})')
    session.execute('MATCH (p:P) WHERE p.name = "a" SET p.t = "1"')
    props = sorted(
        (r.properties.get("name"), r.properties.get("t"))
        for r in session.execute("MATCH (p:P) RETURN p").rows
    )
    # both nodes renamed to "a" and stamped t="1" — the reference's rule
    assert props == [("a", "1"), ("a", "1")]


def test_match_set_without_return_double_applies(session):
    """Reference parse quirk (cypher_spec.rs:431-441): MATCH .. SET ..
    with no RETURN records the SET both as deferred items AND leaves the
    tail starting at SET, so the reference executes the items twice —
    idempotent for plain assignments, observable only as doubled work.
    Mirrored in the parse: it emits two identical SetClause entries (the
    executor then skips the repeat, see the next test)."""
    from graph_loom_spark.cypher import parser

    clauses = parser.parse('MATCH (a:P) SET a.t = "1"')
    sets = [c for c in clauses if type(c).__name__ == "SetClause"]
    assert len(sets) == 2 and sets[0].items == sets[1].items == ['a.t = "1"']
    session.execute('CREATE (a:P {name:"a"})')
    session.execute('MATCH (a:P) SET a.t = "1"')
    rows = session.execute("MATCH (a:P) RETURN a").rows
    assert rows[0].properties.get("t") == "1"


def test_match_set_without_return_upserts_once(session, monkeypatch):
    """The doubled SetClause above is not applied twice: between the two
    the binding is unchanged and constant assignments are idempotent, so
    one statement makes one upsert, through the count-free core (the
    Cypher reply carries no touched-count)."""
    from graph_loom_spark.graph import PropertyGraph

    calls = {"core": 0, "public": 0}
    core, public = PropertyGraph._upsert_property, PropertyGraph.upsert_property

    def counted_core(self, *a, **k):
        calls["core"] += 1
        return core(self, *a, **k)

    def counted_public(self, *a, **k):
        calls["public"] += 1
        return public(self, *a, **k)

    session.execute('CREATE (a:P {name:"a"})')
    monkeypatch.setattr(PropertyGraph, "_upsert_property", counted_core)
    monkeypatch.setattr(PropertyGraph, "upsert_property", counted_public)
    session.execute('MATCH (a:P) SET a.t = "1"')
    assert calls == {"core": 1, "public": 0}
    assert session.execute("MATCH (a:P) RETURN a.t").rows[0].info == "1"


def test_undirected_match_both_orientations(session):
    """J2 (cypher_spec.rs:919-940): undirected 1-hop emits a binding per
    matching orientation — a symmetric pattern yields 2 rows."""
    session.execute('CREATE (a:A {name:"x"}); CREATE (b:A {name:"y"})')
    session.execute("MATCH (a:A {name:\"x\"}), (b:A {name:\"y\"}) CREATE (a)-[:R]->(b)")
    out = session.execute("MATCH (m:A)-[r:R]-(n:A) RETURN r")
    assert len(out.rows) == 2


def test_var_length_shortest_depth_only(session):
    """J4 (cypher_spec.rs:833-881): seen-set BFS — a target reachable at
    depths 1 AND 2 is emitted once (at its first depth)."""
    session.execute('CREATE (a:V {name:"a"}); CREATE (b:V {name:"b"}); CREATE (c:V {name:"c"})')
    # a->b, b->c, a->c: c reachable at depth 1 and 2
    session.execute('MATCH (a:V {name:"a"}), (b:V {name:"b"}) CREATE (a)-[:E]->(b)')
    session.execute('MATCH (b:V {name:"b"}), (c:V {name:"c"}) CREATE (b)-[:E]->(c)')
    session.execute('MATCH (a:V {name:"a"}), (c:V {name:"c"}) CREATE (a)-[:E]->(c)')
    out = session.execute('MATCH (s:V {name:"a"})-[:E*1..2]->(t:V) RETURN t')
    names = sorted(r.properties["name"] for r in out.rows)
    assert names == ["b", "c"]  # c once, not twice


# a 5-cycle n0..n4 with the chord n1->n3, a self-loop at n2, a parallel
# n3->n4 and the tail n4->n5->n6: shortest depths from n0 run to 5
_VAR_LENGTH_EDGES = [
    ("n0", "n1"), ("n1", "n2"), ("n2", "n3"), ("n3", "n4"), ("n4", "n0"),
    ("n1", "n3"), ("n2", "n2"), ("n3", "n4"), ("n4", "n5"), ("n5", "n6"),
]


def _shortest_depth_ends(starts, adj, lo, hi):
    """End names of every (start, end) pair whose BFS depth is in
    [lo, hi]: the seen-set BFS emits each end once, at its first depth."""
    ends = Counter()
    for start in starts:
        depth, frontier = {start: 0}, {start}
        for d in range(1, hi + 1):
            frontier = {v for u in frontier for v in adj.get(u, ()) if v not in depth}
            depth.update(dict.fromkeys(frontier, d))
        ends.update(v for v, d in depth.items() if lo <= d <= hi)
    return ends


@pytest.mark.parametrize(
    "pattern, lo, hi, directed",
    [("-[:E*1..3]->", 1, 3, True), ("-[:E*2..4]->", 2, 4, True), ("-[:E*]->", 1, 8, True),
     ("-[:E*1..3]-", 1, 3, False)],
)
def test_var_length_rows_match_python_bfs(spark, pattern, lo, hi, directed):
    """J4 past two hops (the frontier-BFS path): from every start, each
    end reached within the hop range at its shortest depth, once; ``*``
    is capped at 8 hops."""
    names = sorted({n for e in _VAR_LENGTH_EDGES for n in e})
    nodes = spark.createDataFrame([(n, "V", {"name": n}) for n in names], NODE_SCHEMA)
    edges = spark.createDataFrame(
        [(f"e{i}", a, b, "E", {}) for i, (a, b) in enumerate(_VAR_LENGTH_EDGES)], EDGE_SCHEMA
    )
    out = CypherSession(PropertyGraph(spark, nodes, edges)).execute(
        f"MATCH (a:V){pattern}(b:V) RETURN b.name"
    )
    adj = {}
    for a, b in _VAR_LENGTH_EDGES:
        adj.setdefault(a, set()).add(b)
        if not directed:
            adj.setdefault(b, set()).add(a)
    assert Counter(r.info for r in out.rows) == _shortest_depth_ends(names, adj, lo, hi)
