"""Analytics operators (reference §2.10): degrees, similarity weights,
weighted LPA, community density, connected components — hand-computed
expectations on tiny graphs."""

from __future__ import annotations

import ast
import inspect
import itertools
import random
import re
import textwrap

import pytest

from graph_loom_spark import analytics
from graph_loom_spark.graph import PropertyGraph


def _graph(spark, node_rows, edge_rows):
    g = PropertyGraph.empty(spark)
    ids = g.add_nodes(node_rows)
    name_to_id = {props["name"]: i for i, (_, props) in zip(ids, node_rows)}
    g.add_edges(
        [(name_to_id[s], name_to_id[d], lbl, props) for s, d, lbl, props in edge_rows]
    )
    return g, name_to_id


def test_degrees_counts_both_directions_and_isolated(spark):
    g, nid = _graph(
        spark,
        [("X", {"name": "a"}), ("X", {"name": "b"}), ("X", {"name": "c"})],
        [("a", "b", "R", {}), ("a", "b", "R", {})],  # parallel edges count
    )
    deg = {r["id"]: r["degree"] for r in analytics.degrees(g).collect()}
    assert deg[nid["a"]] == 2
    assert deg[nid["b"]] == 2
    assert deg[nid["c"]] == 0  # isolated


def test_similarity_weights_formula(spark):
    # same label (+0.75), 1 equal k/v of a's 2 keys (+0.5 * 1/2)
    g, nid = _graph(
        spark,
        [("X", {"name": "a", "k": "v"}), ("X", {"name": "b", "k": "v"})],
        [("a", "b", "R", {})],
    )
    rows = analytics.similarity_weights(g).collect()
    w = {(r["u"], r["v"]): r["w"] for r in rows}
    # u=a: meta {name:a, k:v} vs b {name:b, k:v} → 1 equal of 2 → 1+0.75+0.25
    assert abs(w[(nid["a"], nid["b"])] - 2.0) < 1e-9
    assert abs(w[(nid["b"], nid["a"])] - 2.0) < 1e-9


def test_weighted_lpa_two_cliques(spark):
    # two triangles joined by one weak bridge → two communities
    nodes = [("X", {"name": n}) for n in ["a1", "a2", "a3", "b1", "b2", "b3"]]
    edges = [
        ("a1", "a2", "R", {}), ("a2", "a3", "R", {}), ("a1", "a3", "R", {}),
        ("b1", "b2", "R", {}), ("b2", "b3", "R", {}), ("b1", "b3", "R", {}),
        ("a1", "b1", "R", {}),
    ]
    g, nid = _graph(spark, nodes, edges)
    comm = {r["id"]: r["community"] for r in analytics.weighted_label_propagation(g).collect()}
    a_comms = {comm[nid[n]] for n in ["a1", "a2", "a3"]}
    b_comms = {comm[nid[n]] for n in ["b1", "b2", "b3"]}
    assert len(a_comms) == 1
    assert len(b_comms) == 1


def test_weighted_lpa_isolated_node_keeps_own_community(spark):
    # a node with no edges never appears in the per-round argmax; the
    # union-with-static-iso round shape must still emit it every round
    # with its own id as the community (regression for the r6 round
    # restructure that replaced the left-join-keeps-previous path)
    nodes = [("X", {"name": n}) for n in ["a", "b", "c"]]
    edges = [("a", "b", "R", {})]
    g, nid = _graph(spark, nodes, edges)
    comm = {r["id"]: r["community"] for r in analytics.weighted_label_propagation(g).collect()}
    assert set(comm) == {nid["a"], nid["b"], nid["c"]}
    assert comm[nid["c"]] == nid["c"]  # isolated → its own community
    # (no assertion on a/b's labels: a single-edge pair oscillates under
    # synchronous LPA — each adopts the other's label every round — so
    # their final labels depend only on max_iter's parity)
    assert comm[nid["a"]] in (nid["a"], nid["b"])
    assert comm[nid["b"]] in (nid["a"], nid["b"])


def test_community_density(spark):
    # triangle = density 1.0 (3 internal edges / 3 possible pairs)
    nodes = [("X", {"name": n}) for n in ["a", "b", "c"]]
    edges = [("a", "b", "R", {}), ("b", "c", "R", {}), ("a", "c", "R", {})]
    g, nid = _graph(spark, nodes, edges)
    comm = spark.createDataFrame(
        [(nid[n], "c0") for n in ["a", "b", "c"]], "id string, community string"
    )
    rows = analytics.community_density(g, comm).collect()
    assert len(rows) == 1
    assert rows[0]["n_nodes"] == 3
    assert rows[0]["internal_edges"] == 3
    assert abs(rows[0]["density"] - 1.0) < 1e-9


def test_force_layout_contracts_edges_and_is_deterministic(spark):
    # star + chain: springs must pull edge lengths toward target_dist
    names = [f"n{i}" for i in range(8)]
    nodes = [("X", {"name": n}) for n in names]
    edges = [(f"n{i}", f"n{i+1}", "R", {}) for i in range(7)]
    g, nid = _graph(spark, nodes, edges)

    out1 = {r["id"]: (r["x"], r["y"]) for r in analytics.force_layout(g, iters=15).collect()}
    out2 = {r["id"]: (r["x"], r["y"]) for r in analytics.force_layout(g, iters=15).collect()}
    assert out1 == out2  # hash-seeded init + fixed physics → deterministic
    assert all(
        all(map(lambda v: v == v and abs(v) < 1e7, xy)) for xy in out1.values()
    )  # finite, no NaN

    import math as m

    def avg_edge_len(pos):
        ls = []
        for s, d, _, _ in edges:
            (x1, y1), (x2, y2) = pos[nid[s]], pos[nid[d]]
            ls.append(m.hypot(x2 - x1, y2 - y1))
        return sum(ls) / len(ls)

    init = {r["id"]: (r["x"], r["y"]) for r in analytics.force_layout(g, iters=0).collect()}
    # springs move the layout toward the preferred edge length
    assert abs(avg_edge_len(out1) - 120.0) < abs(avg_edge_len(init) - 120.0)


def test_connected_components(spark):
    nodes = [("X", {"name": n}) for n in ["a", "b", "c", "d", "e"]]
    edges = [("a", "b", "R", {}), ("b", "c", "R", {}), ("d", "e", "R", {})]
    g, nid = _graph(spark, nodes, edges)
    comp = {r["id"]: r["component"] for r in analytics.connected_components(g).collect()}
    assert comp[nid["a"]] == comp[nid["b"]] == comp[nid["c"]]
    assert comp[nid["d"]] == comp[nid["e"]]
    assert comp[nid["a"]] != comp[nid["d"]]
    # component id = smallest member id
    assert comp[nid["a"]] == min(nid[n] for n in ["a", "b", "c"])


def test_triangle_counts_exact(spark):
    from graph_loom_spark import analytics

    # K4 on {1,2,3,4} minus edge (3,4): triangles (1,2,3) and (1,2,4);
    # node 5-6 pendant edge, 7 self-loop, plus a duplicated/reversed edge
    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4),
        (3, 2),          # reverse duplicate of (2,3)
        (5, 6), (7, 7),  # pendant + self-loop
        (1, 2),          # exact duplicate
    ]
    df = spark.createDataFrame(edges, "src int, dst int")
    out = {r["id"]: r["n_triangles"] for r in analytics.triangle_counts(df).collect()}
    assert out == {1: 2, 2: 2, 3: 1, 4: 1}


def test_clustering_coefficients_exact(spark):
    from graph_loom_spark import analytics

    # same graph as the triangle test: K4 minus (3,4) + pendant (5,6) +
    # self-loop + duplicates. cc = 2*tri / (deg*(deg-1)); deg<2 -> 0.0
    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4),
        (3, 2), (5, 6), (7, 7), (1, 2),
    ]
    df = spark.createDataFrame(edges, "src int, dst int")
    out = {
        r["id"]: (r["degree"], r["n_triangles"], r["clustering"])
        for r in analytics.clustering_coefficients(df).collect()
    }
    assert out == {
        1: (3, 2, round(2 * 2 / (3 * 2), 6)),
        2: (3, 2, round(2 * 2 / (3 * 2), 6)),
        3: (2, 1, 1.0),
        4: (2, 1, 1.0),
        5: (1, 0, 0.0),  # pendant: degree 1, coefficient defined as 0
        6: (1, 0, 0.0),
    }
    # a precomputed triangle frame gives identical output
    tri = analytics.triangle_counts(df)
    out2 = {
        r["id"]: (r["degree"], r["n_triangles"], r["clustering"])
        for r in analytics.clustering_coefficients(df, triangles=tri).collect()
    }
    assert out2 == out


def test_modularity_hand_computed_two_cliques(spark):
    """X127 (VERDICT r9 ask #5): two triangles joined by one bridge —
    the textbook case. m=7; each community: e_c=3, d_c=7 →
    q_share = (4·7·3 − 49)/(4·49) = 35/196; Q = 70/196 ≈ 0.357143."""
    names = ["a", "b", "c", "d", "e", "f"]
    nodes = [("X", {"name": n}) for n in names]
    edges = [
        ("a", "b", "R", {}), ("b", "c", "R", {}), ("a", "c", "R", {}),
        ("d", "e", "R", {}), ("e", "f", "R", {}), ("d", "f", "R", {}),
        ("c", "d", "R", {}),  # bridge
    ]
    g, nid = _graph(spark, nodes, edges)
    comm = spark.createDataFrame(
        [(nid[n], "left" if n in "abc" else "right") for n in names],
        "id string, community string",
    )
    rows = {r["community"]: r for r in analytics.modularity(g, comm).collect()}
    assert set(rows) == {"left", "right"}
    for side in rows.values():
        assert side["internal_edges"] == 3
        assert side["degree_sum"] == 7
        assert abs(side["q_share"] - 35.0 / 196.0) < 1e-6
    # everyone in ONE community: Q = e/m − (2m/2m)² = 1 − 1 = 0
    one = spark.createDataFrame(
        [(nid[n], "all") for n in names], "id string, community string"
    )
    (only,) = analytics.modularity(g, one).collect()
    assert only["q_share"] == 0.0


def test_modularity_isolated_community_zero_share(spark):
    nodes = [("X", {"name": n}) for n in ["a", "b", "z"]]
    g, nid = _graph(spark, nodes, [("a", "b", "R", {})])
    comm = spark.createDataFrame(
        [(nid["a"], "c0"), (nid["b"], "c0"), (nid["z"], "iso")],
        "id string, community string",
    )
    rows = {r["community"]: r for r in analytics.modularity(g, comm).collect()}
    assert rows["iso"]["internal_edges"] == 0
    assert rows["iso"]["degree_sum"] == 0
    assert rows["iso"]["q_share"] == 0.0
    # c0 holds the whole graph: q_share = (4·1·1 − 4)/4 = 0
    assert rows["c0"]["q_share"] == 0.0


def test_link_prediction_scores_exact(spark):
    from graph_loom_spark import analytics

    # path 1-2-3-4 plus chord 1-3 (with a reverse duplicate and a
    # self-loop to exercise canonicalization). degrees: 1:2 2:2 3:3 4:1.
    # Non-adjacent pairs with a common neighbor: (1,4) and (2,4), both
    # through center 3 (deg 3). Adjacent wedge pairs (1,2),(1,3),(2,3)
    # must be anti-joined away.
    edges = [(1, 2), (2, 3), (3, 4), (1, 3), (3, 1), (2, 2)]
    df = spark.createDataFrame(edges, "src int, dst int")
    out = {
        (r["id_a"], r["id_b"]): (r["n_common"], r["jaccard_micro"], r["ra_nano"])
        for r in analytics.link_prediction_scores(df).collect()
    }
    # (1,4): inter=1, union=2+1-1=2 -> 500000; ra = 10^9 div 3
    assert out == {
        (1, 4): (1, 500_000, 333_333_333),
        (2, 4): (1, 500_000, 333_333_333),
    }


def test_link_prediction_hub_cap_drops_hub_centers(spark):
    from graph_loom_spark import analytics

    # star center 0 with leaves 1..5 (deg(0)=5) plus a 1-2 edge.
    # Exact: every leaf pair scores through center 0 (10 candidate
    # pairs minus adjacent (1,2) -> 9). With max_center_degree=4 the
    # hub stops serving as a center, leaving only wedges at centers
    # 1 and 2 (deg 2): pair (0, x)? 0 is adjacent to everything, so
    # nothing survives the anti-join -> empty.
    edges = [(0, i) for i in range(1, 6)] + [(1, 2)]
    df = spark.createDataFrame(edges, "src int, dst int")
    exact = analytics.link_prediction_scores(df)
    assert exact.count() == 9
    capped = analytics.link_prediction_scores(df, max_center_degree=4)
    assert capped.count() == 0


def test_degree_assortativity_exact(spark):
    from graph_loom_spark import analytics

    # triangle {1,2,3} + pendant (3,4): degrees 2,2,3,1.
    # M=8, Σx=18, Σxy=38, Σxx=44 → r = (8·38−18²)/(8·44−18²) = −20/28
    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (2, 1)]  # + a reverse dup
    df = spark.createDataFrame(edges, "src int, dst int")
    row = analytics.degree_assortativity(df).collect()[0]
    assert row["n_edges"] == 4
    assert row["assortativity"] == round(-20 / 28, 6)
    # star S3: perfectly disassortative → −1
    star = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], "src int, dst int")
    assert analytics.degree_assortativity(star).collect()[0]["assortativity"] == -1.0
    # degree-regular (triangle): denominator 0 → 0.0 by convention
    tri = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src int, dst int")
    assert analytics.degree_assortativity(tri).collect()[0]["assortativity"] == 0.0


def test_avg_neighbor_degree_exact(spark):
    """X144: triangle {1,2,3} + pendant (3,4) — degrees 2,2,3,1.
    k=1 class {4}: neighbor degree 3 → knn 3; k=2 class {1,2}: each
    sees degrees {2,3} → Σ=10, knn = 10/(2·2) = 2.5; k=3 class {3}:
    sees {2,2,1} → knn 5/3. Reverse dup + self-loop canonicalize away."""
    from graph_loom_spark import analytics

    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (2, 1), (4, 4)]
    df = spark.createDataFrame(edges, "src int, dst int")
    out = {r["degree"]: r for r in analytics.avg_neighbor_degree(df).collect()}
    assert set(out) == {1, 2, 3}
    assert (out[1]["n_nodes"], out[1]["sum_neighbor_degrees"], out[1]["knn"]) == (1, 3, 3.0)
    assert (out[2]["n_nodes"], out[2]["sum_neighbor_degrees"], out[2]["knn"]) == (2, 10, 2.5)
    assert (out[3]["n_nodes"], out[3]["sum_neighbor_degrees"], out[3]["knn"]) == (1, 5, round(5 / 3, 6))
    # star S3: leaves (k=1) see the hub (3), hub (k=3) sees leaves (1)
    star = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], "src int, dst int")
    s = {r["degree"]: r["knn"] for r in analytics.avg_neighbor_degree(star).collect()}
    assert s == {1: 3.0, 3: 1.0}


def _replay_triangles(adj):
    tri = {}
    for a, b, c in itertools.combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for x in (a, b, c):
                tri[x] = tri.get(x, 0) + 1
    return tri


def _replay_clustering(adj):
    tri = _replay_triangles(adj)
    out = {}
    for x, nb in adj.items():
        d, t = len(nb), tri.get(x, 0)
        out[x] = (d, t, round(2.0 * t / (d * (d - 1)), 6) if d >= 2 else 0.0)
    return out


def _replay_assortativity(adj):
    pairs = [(a, b) for a in adj for b in adj[a] if a < b]
    m2 = 2 * len(pairs)
    sx = sum(len(adj[a]) + len(adj[b]) for a, b in pairs)
    sxy = sum(2 * len(adj[a]) * len(adj[b]) for a, b in pairs)
    sxx = sum(len(adj[a]) ** 2 + len(adj[b]) ** 2 for a, b in pairs)
    num, den = m2 * sxy - sx * sx, m2 * sxx - sx * sx
    return (len(pairs), 0.0 if den == 0 else round(float(num) / float(den), 6))


def _replay_knn(adj):
    classes = {}
    for nb in adj.values():
        n, s = classes.get(len(nb), (0, 0))
        classes[len(nb)] = (n + 1, s + sum(len(adj[w]) for w in nb))
    return {k: (n, s, round(float(s) / float(k * n), 6)) for k, (n, s) in classes.items()}


def _replay_link_prediction(adj):
    out = {}
    for a, b in itertools.combinations(sorted(adj), 2):
        common = adj[a] & adj[b]
        if b in adj[a] or not common:
            continue
        inter = len(common)
        union = len(adj[a]) + len(adj[b]) - inter
        out[(a, b)] = (
            inter,
            (inter * 1_000_000) // union,
            sum(1_000_000_000 // len(adj[w]) for w in common),
        )
    return out


# op -> (its output as a dict, or one tuple, from raw edges; the replay)
_SIMPLE_GRAPH_OPS = {
    "triangle_counts": (
        lambda df: {r["id"]: r["n_triangles"] for r in analytics.triangle_counts(df).collect()},
        _replay_triangles,
    ),
    "clustering_coefficients": (
        lambda df: {
            r["id"]: (r["degree"], r["n_triangles"], r["clustering"])
            for r in analytics.clustering_coefficients(df).collect()
        },
        _replay_clustering,
    ),
    "degree_assortativity": (
        lambda df: tuple(analytics.degree_assortativity(df).collect()[0]),
        _replay_assortativity,
    ),
    "avg_neighbor_degree": (
        lambda df: {
            r["degree"]: (r["n_nodes"], r["sum_neighbor_degrees"], r["knn"])
            for r in analytics.avg_neighbor_degree(df).collect()
        },
        _replay_knn,
    ),
    "link_prediction_scores": (
        lambda df: {
            (r["id_a"], r["id_b"]): (r["n_common"], r["jaccard_micro"], r["ra_nano"])
            for r in analytics.link_prediction_scores(df).collect()
        },
        _replay_link_prediction,
    ),
}


@pytest.mark.parametrize("op", sorted(_SIMPLE_GRAPH_OPS))
def test_simple_graph_ops_match_python_replay_on_raw_edges(spark, op):
    """X130 and its simple-graph siblings vs an exact pure-Python replay
    on seeded random RAW edge lists — duplicates, reversed pairs and
    self-loops included, so each op's own canonicalization is under
    test: same undirected simple graph, same integer floors, same
    6-digit rounding of one double division."""
    run, replay = _SIMPLE_GRAPH_OPS[op]
    for seed in (1, 7, 42):
        rng = random.Random(seed)
        n = rng.randint(6, 12)
        raw = [(rng.randrange(n), rng.randrange(n)) for _ in range(2 * n)]
        raw += [(b, a) for a, b in raw[: n // 2]] + raw[:3] + [(0, 0)]
        adj = {}
        for a, b in raw:
            if a != b:
                adj.setdefault(a, set()).add(b)
                adj.setdefault(b, set()).add(a)
        got = run(spark.createDataFrame(raw, "src int, dst int"))
        assert got == replay(adj), f"seed {seed}"


def test_personalized_pagerank_with_every_node_seeded_is_pagerank(spark):
    """Uniform PageRank is PPR whose seed set is every node: the two
    paths of the shared rank iteration agree bit for bit, on a graph with
    a dangling node (d), a no-inlink node (e) and a self-loop."""
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("c", "d"), ("e", "c"), ("b", "b")]
    nodes = spark.createDataFrame([(n,) for n in "abcde"], "id string")
    g = PropertyGraph(spark, nodes=nodes, edges=spark.createDataFrame(edges, "src string, dst string"))
    for damping in (0.85, 0.7):
        pr = {r["id"]: r["rank"] for r in analytics.pagerank(g, iters=4, damping=damping).collect()}
        ppr = analytics.personalized_pagerank(g, nodes, iters=4, damping=damping)
        assert pr == {r["id"]: r["rank"] for r in ppr.collect()}


def test_pagerank_pre_aggregated_multigraph_is_bit_identical(spark):
    """r13-opt: ``pre_aggregate_edges=True`` collapses parallel edges to
    (u, v, multiplicity) before the iteration loop — on a multigraph
    with skewed multiplicities, a dangling node and a no-inlink node,
    every rank must equal the default path's bit-for-bit (k parallel
    edges each contribute the identical integer ``r div od``)."""
    edges = (
        [("a", "b")] * 7
        + [("a", "c")] * 2
        + [("b", "c")] * 5
        + [("c", "a")]
        + [("c", "d")] * 3
        + [("e", "c")]          # e has no in-links; d is dangling
    )
    nodes = spark.createDataFrame([(n,) for n in "abcde"], "id string")
    g = PropertyGraph(spark, nodes=nodes, edges=spark.createDataFrame(edges, "src string, dst string"))
    base = {r["id"]: r["rank"] for r in analytics.pagerank(g, iters=4).collect()}
    agg = {
        r["id"]: r["rank"]
        for r in analytics.pagerank(g, iters=4, pre_aggregate_edges=True).collect()
    }
    assert base == agg


# a self-loop filter: the two endpoint columns of an edge list compared
_SELF_LOOP_FILTER = re.compile(r'\.filter\(\s*F\.col\("(?:u|a|src)"\)\s*!=\s*F\.col\("(?:v|b|dst)"\)')


def _functions_matching(module, pattern) -> list[str]:
    """Names of the functions of ``module`` (methods and nested ones
    included) whose source matches ``pattern``."""
    src = inspect.getsource(module)
    return sorted(
        node.name
        for node in ast.walk(ast.parse(src))
        if isinstance(node, ast.FunctionDef) and pattern.search(ast.get_source_segment(src, node))
    )


def test_edge_list_kernels_written_once():
    """The canonical simple-edge rule drops self-loops in one function,
    ``analytics._simple_edges``; ``textrank_keywords`` builds its word
    graph with it and ``_directed_adjacency`` instead of a copy.
    ``connected_components`` keeps its own filter: it drops the loops of
    each contracted level, a directed list whose two orientations the
    next level's minimum needs. The Cypher var-length expansion holds no
    hop loop and no broadcast threshold: past two hops it runs
    ``analytics._frontier_bfs``, the loop ``bfs_distances`` runs."""
    from graph_loom_spark.cypher import compiler
    from graph_loom_spark.ops import text

    assert _functions_matching(analytics, _SELF_LOOP_FILTER) == [
        "_simple_edges", "connected_components",
    ]
    assert _functions_matching(text, _SELF_LOOP_FILTER) == []
    textrank = inspect.getsource(text.textrank_keywords)
    assert "analytics._simple_edges(" in textrank and "analytics._directed_adjacency(" in textrank

    var_length = ast.parse(textwrap.dedent(inspect.getsource(compiler.CypherExecutor._expand_var_length)))
    assert not [n for n in ast.walk(var_length) if isinstance(n, (ast.For, ast.While))]
    assert "_frontier_bfs(" in ast.unparse(var_length)
    compiler_src = inspect.getsource(compiler)
    assert "broadcast(" not in compiler_src
    row_counts = [
        n.value for n in ast.walk(ast.parse(compiler_src))
        if isinstance(n, ast.Constant) and type(n.value) is int and n.value >= 1000
    ]
    assert row_counts == []
    assert "bfs_distances" in _functions_matching(analytics, re.compile(r"\b_frontier_bfs\("))
