"""Correctness signals for the entry queries the DuckDB oracle cannot
check (engine-hash-seeded / approximate / iterative): validate them
driver-side against pure-Python reference implementations at sf0.001,
so "no_oracle" no longer means "unchecked".

- connected components: exact equality vs union-find;
- weighted LPA: exact equality vs a pure-Python synchronous run of the
  reference algorithm (same weights, same tie-break);
- community density: exact recompute of sizes/internal edges;
- simhash near-pairs: exact equality vs brute-force Hamming over the
  computed fingerprints (validates the 16-bit-band pigeonhole recall);
- minhash LSH pairs: recall 1.0 on truly-similar pairs vs exact
  n-gram Jaccard computed from the raw text (no engine hashes);
- RP-LSH ANN: recall floor vs the exact brute-force top-k.
"""

from __future__ import annotations

import math
from collections import defaultdict

from pyspark.sql import functions as F

from graph_loom_spark import analytics
from graph_loom_spark.graph import scratch
from graph_loom_spark.io.tpch_graph import build_graph
from graph_loom_spark.ops import dedup as ops_dedup
from graph_loom_spark.ops import simsearch as sim

SF_DIR = "/root/testdata/sf0.001"


def _graph(spark):
    return build_graph(spark, SF_DIR, cache=False)


# ------------------------------------------------------------- components


def test_components_match_union_find(spark):
    g = _graph(spark)
    node_ids = [r["id"] for r in g.nodes.select("id").collect()]
    edges = [(r["src"], r["dst"]) for r in g.edges.select("src", "dst").collect()]

    parent = {n: n for n in node_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[rs] = rd
    roots = defaultdict(list)
    for n in node_ids:
        roots[find(n)].append(n)
    expected = {}
    for members in roots.values():
        m = min(members)
        for n in members:
            expected[n] = m

    got = {r["id"]: r["component"] for r in analytics.connected_components(g).collect()}
    assert got == expected


def test_components_match_union_find_sf001(spark):
    """Same exact union-find check, one notch up (sf0.01, ~86k nodes):
    exercises the contraction loop across multiple levels with 10× the
    sf0.001 data, so the unwind path is validated on a chain of per-level
    maps rather than the near-trivial small-graph case."""
    g = build_graph(spark, "/root/testdata/sf0.01", cache=False)
    node_ids = [r["id"] for r in g.nodes.select("id").collect()]
    edges = [(r["src"], r["dst"]) for r in g.edges.select("src", "dst").collect()]

    parent = {n: n for n in node_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[rs] = rd
    roots = defaultdict(list)
    for n in node_ids:
        roots[find(n)].append(n)
    expected = {}
    for members in roots.values():
        m = min(members)
        for n in members:
            expected[n] = m

    got = {r["id"]: r["component"] for r in analytics.connected_components(g).collect()}
    assert got == expected


# -------------------------------------------------------------- LPA + density


def _python_lpa(nodes, adj_weights, max_iter=8):
    """The reference algorithm, synchronous variant, pure Python: each
    round every node adopts argmax_c Σ w(u←v); ties → the community with
    the lexicographically smallest ORIGINAL id (the engine's portable
    deterministic stand-in for the reference's unspecified HashMap-order
    tie-break, frontend.rs:564-588); stop when stable."""
    comm = {n: n for n in nodes}
    for _ in range(max_iter):
        nxt = {}
        changed = False
        for u in nodes:
            scores = defaultdict(float)
            for v, w in adj_weights.get(u, []):
                scores[comm[v]] += w
            if scores:
                best = min(scores.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            else:
                best = comm[u]
            nxt[u] = best
            changed = changed or best != comm[u]
        comm = nxt
        if not changed:
            break
    return comm


def test_lpa_and_density_match_python(spark):
    g = _graph(spark)
    nrows = g.nodes.select("id", "label", "properties").collect()
    labels = {r["id"]: r["label"] for r in nrows}
    metas = {r["id"]: dict(r["properties"]) for r in nrows}
    edges = [(r["src"], r["dst"]) for r in g.edges.select("src", "dst").collect()]

    def weight(u, v):
        w = 1.0
        if labels[u] == labels[v] and labels[u] != "":
            w += 0.75
        mu, mv = metas[u], metas[v]
        eq = sum(1 for k, x in mu.items() if mv.get(k) == x)
        w += 0.5 * (eq / max(len(mu), 1))
        return w

    adj_weights = defaultdict(list)
    for s, d in edges:
        adj_weights[s].append((d, weight(s, d)))
        adj_weights[d].append((s, weight(d, s)))

    expected = _python_lpa(list(labels), adj_weights)
    got = {
        r["id"]: r["community"]
        for r in analytics.weighted_label_propagation(g).collect()
    }
    assert got == expected

    # density: recompute sizes / internal edges / the division in Python
    comm_df = spark.createDataFrame(
        [(k, v) for k, v in got.items()], "id string, community string"
    )
    sizes = defaultdict(int)
    for n, c in got.items():
        sizes[c] += 1
    internal = defaultdict(int)
    for s, d in edges:
        if got[s] == got[d]:
            internal[got[s]] += 1
    for r in analytics.community_density(g, comm_df).collect():
        c = r["community"]
        n = sizes[c]
        assert r["n_nodes"] == n
        assert r["internal_edges"] == internal.get(c, 0)
        exp_density = internal.get(c, 0) / max(n * (n - 1) / 2, 1.0)
        assert math.isclose(r["density"], exp_density, rel_tol=0, abs_tol=1e-12)


# ----------------------------------------------------------------- simhash


def test_simhash_pairs_match_bruteforce(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    fp = {r["doc_id"]: r["simhash"] for r in ops_dedup.simhash(docs).collect()}
    ids = sorted(fp)
    expected = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ham = bin((fp[a] ^ fp[b]) & ((1 << 64) - 1)).count("1")
            if ham <= 3:
                expected.add((min(a, b), max(a, b), ham))
    sdf = spark.createDataFrame(
        [(k, v) for k, v in fp.items()], "doc_id bigint, simhash bigint"
    )
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in ops_dedup.simhash_near_pairs(sdf).collect()
    }
    assert got == expected  # banding may only prune provably-far pairs


def test_simhash_md5_pairs_match_bruteforce(spark):
    """The 60-bit md5 mode: fingerprints match a pure-Python replay
    (md5 hex → bits → majority votes) and banding loses no pair."""
    import hashlib
    import re

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(200)
    fp = {r["doc_id"]: r["simhash"] for r in ops_dedup.simhash_md5(docs).collect()}
    # pure-Python fingerprint replay on a few docs
    for r in docs.limit(10).collect():
        toks = set(re.sub(r"\s+", " ", r["text"].strip().lower()).split(" "))
        votes = [0] * 60
        for t in toks:
            h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
            for b in range(60):
                votes[b] += (h >> b) & 1
        ref = sum(1 << b for b in range(60) if 2 * votes[b] > len(toks))
        assert fp[r["doc_id"]] == ref
    ids = sorted(fp)
    expected = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ham = bin(fp[a] ^ fp[b]).count("1")
            if ham <= 3:
                expected.add((a, b, ham))
    sdf = spark.createDataFrame(
        [(k, v) for k, v in fp.items()], "doc_id bigint, simhash bigint"
    )
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in ops_dedup.simhash_near_pairs(sdf, bits=60).collect()
    }
    assert got == expected


# ----------------------------------------------------------------- minhash


def _true_jaccard_pairs(rows, n=3):
    """Exact word-3-gram Jaccard from the raw text — no engine hashes."""
    import re

    sets = {}
    for r in rows:
        toks = re.sub(r"\s+", " ", r["text"].strip().lower()).split(" ")
        grams = {" ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 1))}
        sets[r["doc_id"]] = grams
    ids = sorted(sets)
    out = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            out[(a, b)] = inter / union if union else 0.0
    return out


def test_minhash_lsh_recall_on_similar_pairs(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    true_j = _true_jaccard_pairs(docs.select("doc_id", "text").collect())
    sigs = ops_dedup.minhash_signatures(docs)
    got = {
        (r["id_a"], r["id_b"])
        for r in ops_dedup.minhash_lsh_pairs(sigs, threshold=0.3).collect()
    }
    strong = {p for p, j in true_j.items() if j >= 0.6}
    assert strong, "corpus should contain planted near-duplicates"
    # every strongly-similar pair must be surfaced (est error ~1/sqrt(32))
    assert strong <= got
    # and nothing outright dissimilar sneaks past the estimate filter
    for p in got:
        assert true_j[p] >= 0.05


def test_ivf_flat_topk_recall(spark):
    """The deterministic IVF-flat path (fixed-point quantizer + integer
    cell ranking) keeps recall comparable to the float IVF path, and its
    results are a subset of candidates ranked identically to exact
    cosine within the probed cells."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = {r["vec_id"] for r in sim.cosine_topk(emb, probe_id=7, k=10).collect()}
    assigned, C = sim.kmeans_fit(emb, k=16, iters=5)
    approx = {
        r["vec_id"]
        for r in sim.ivf_flat_topk(emb, assigned, C, probe_id=7, k=10, nprobe=4).collect()
    }
    assert len(approx) == 10
    assert len(exact & approx) >= 5  # nprobe=4/16 cells probed


def test_minhash_md5_recall_on_similar_pairs(spark):
    """The md5 mode keeps the same recall property as the xxhash64
    scale path (its correctness is otherwise pinned by the SQL oracle)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    true_j = _true_jaccard_pairs(docs.select("doc_id", "text").collect())
    sigs = ops_dedup.minhash_signatures_md5(docs)
    got = {
        (r["id_a"], r["id_b"])
        for r in ops_dedup.minhash_lsh_pairs(
            sigs, threshold=0.3, band_hash="md5"
        ).collect()
    }
    strong = {p for p, j in true_j.items() if j >= 0.6}
    assert strong, "corpus should contain planted near-duplicates"
    assert strong <= got
    for p in got:
        assert true_j[p] >= 0.05


# ----------------------------------------------------------------- ANN LSH


def test_ann_lsh_recall(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = {r["vec_id"] for r in sim.cosine_topk(emb, probe_id=7, k=10).collect()}
    # bits must track log(n): probe 7's true neighbors are only cosine
    # 0.25-0.35 (p≈0.6 per hyperplane), so at n=500 use 16 buckets/table;
    # expected recall with 4 tables + Hamming-1 probing ≈ 0.92/neighbor.
    # Hyperplanes are seed-fixed → the outcome is deterministic.
    with scratch(spark) as s:
        bk = s.pin(sim.rp_lsh_buckets(emb, dim=64, bits=4, tables=4))
        approx = {r["vec_id"] for r in sim.ann_topk(bk, probe_id=7, k=10, bits=4).collect()}
    assert len(approx) == 10
    assert len(exact & approx) >= 6


# ------------------------------------------------------------- kmeans


def _py_kmeans_int(X, k, iters, scale=1 << 20):
    """Pure integer replay of the fixed-point Lloyd's in sim.kmeans:
    quantize, exact int64 distances, floor-division centroid means,
    lowest-index tie-break, early stop at the centroid fixpoint.
    Returns the final assignment and the centroids it was made with."""
    import numpy as np

    V = np.floor(X * scale + 0.5).astype(np.int64)
    C = V[:k].copy()
    assign, C_assign = None, C
    for _ in range(iters):
        C_assign = C
        d2 = (V**2).sum(1)[:, None] - 2 * (V @ C.T) + (C**2).sum(1)[None, :]
        assign = np.argmin(d2, axis=1)
        nxt = C.copy()
        for j in range(k):
            m = V[assign == j]
            if len(m):
                nxt[j] = [int(s) // len(m) for s in m.sum(axis=0)]
        if np.array_equal(nxt, C):
            break
        C = nxt
    return assign, C_assign


def test_kmeans_matches_integer_reference(spark):
    """Distributed fixed-point Lloyd's ≡ a single-machine integer replay
    of the identical algorithm (same quantization, same deterministic
    init, same floor-division means, same lowest-index tie-break) on
    the sf0.001 embeddings — exact, no float tolerance: the assignment
    and the centroid matrix kmeans_fit returns with it."""
    import numpy as np

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = sorted(
        ((r["vec_id"], r["embedding"]) for r in emb.collect()), key=lambda t: t[0]
    )
    ids = np.asarray([t[0] for t in rows])
    X = np.asarray([t[1] for t in rows], dtype=np.float64)
    k, iters = 6, 8
    assign, cents = _py_kmeans_int(X, k, iters)
    expected = dict(zip(ids.tolist(), assign.tolist()))

    assigned, got_cents = sim.kmeans_fit(emb, k=k, iters=iters)
    got = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    assert got == expected
    assert np.array_equal(np.asarray(got_cents), cents)


def test_kmeans_outliers_matches_numpy(spark):
    """kmeans_outliers ≡ numpy: exact int64 distance of each quantized
    vector to its final-assignment centroid, top-n by (dist DESC, id) —
    exact, including the qdist values."""
    import numpy as np

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = sorted(
        ((r["vec_id"], r["embedding"]) for r in emb.collect()), key=lambda t: t[0]
    )
    ids = np.asarray([t[0] for t in rows])
    X = np.asarray([t[1] for t in rows], dtype=np.float64)
    k, iters, scale = 6, 8, 1 << 20
    V = np.floor(X * scale + 0.5).astype(np.int64)
    C = V[:k].copy()
    assign, C_assign = None, C
    for _ in range(iters):
        C_assign = C
        d2 = (V**2).sum(1)[:, None] - 2 * (V @ C.T) + (C**2).sum(1)[None, :]
        assign = np.argmin(d2, axis=1)
        nxt = C.copy()
        for j in range(k):
            m = V[assign == j]
            if len(m):
                nxt[j] = [int(s) // len(m) for s in m.sum(axis=0)]
        C = nxt
    dist = ((V - C_assign[assign]) ** 2).sum(axis=1)
    order = sorted(range(len(ids)), key=lambda i: (-int(dist[i]), int(ids[i])))
    expected = {
        (int(ids[i]), int(assign[i]), int(dist[i])) for i in order[:15]
    }

    assigned, cents = sim.kmeans_fit(emb, k=k, iters=iters)
    got = {
        (r["vec_id"], r["cluster"], r["qdist"])
        for r in sim.kmeans_outliers(emb, assigned, cents, top_n=15).collect()
    }
    assert got == expected


def test_pca_matches_numpy_reference(spark):
    """Distributed one-pass Gram PCA ≡ single-machine numpy PCA (same
    covariance formula, 1e-9 rounding, sign canonicalization, 6-decimal
    projection rounding) on the sf0.001 embeddings."""
    import numpy as np

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = sorted(
        ((r["vec_id"], r["embedding"]) for r in emb.collect()), key=lambda t: t[0]
    )
    X = np.asarray([t[1] for t in rows], dtype=np.float64)
    n = len(X)
    mu = X.mean(axis=0)
    cov = np.round((np.cov(X, rowvar=False, bias=False) + 0) / 1.0, 9)
    cov = np.round((cov + cov.T) / 2.0, 9)
    evals, evecs = np.linalg.eigh(cov)
    comps = evecs[:, ::-1][:, :2].T.copy()
    for j in range(2):
        if comps[j, np.argmax(np.abs(comps[j]))] < 0:
            comps[j] = -comps[j]
    expected = {
        t[0]: np.round((np.asarray(t[1], dtype=np.float64) - mu) @ comps.T, 6)
        for t in rows
    }

    got = {r["vec_id"]: r["pc"] for r in sim.pca(emb, n_components=2).collect()}
    assert set(got) == set(expected)
    for vid, pc in got.items():
        assert np.allclose(pc, expected[vid], atol=1e-5), vid


def test_semdedup_matches_numpy_reference(spark):
    """SemDeDup ≡ numpy: reference k-means (identical deterministic
    fixed-point algorithm, see _py_kmeans_int) + brute-force
    intra-cluster cosine dedup keep-min-id."""
    import numpy as np

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = sorted(
        ((r["vec_id"], r["embedding"]) for r in emb.collect()), key=lambda t: t[0]
    )
    ids = np.asarray([t[0] for t in rows])
    X = np.asarray([t[1] for t in rows], dtype=np.float64)
    k, iters, thr = 6, 8, 0.3
    assign, _ = _py_kmeans_int(X, k, iters)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    expected = {}
    for i, vid in enumerate(ids.tolist()):
        keep = True
        for j in np.nonzero(assign == assign[i])[0]:
            # same round-to-4-then-threshold rule as the operator
            if ids[j] < vid and round(float(Xn[i] @ Xn[j]), 4) >= thr:
                keep = False
                break
        expected[vid] = (int(assign[i]), keep)

    got = {
        r["vec_id"]: (r["cluster"], r["keep"])
        for r in sim.semdedup(emb, k=k, iters=iters, threshold=thr).collect()
    }
    assert got == expected
    # the corpus must actually exercise both branches at this threshold
    assert any(not v[1] for v in expected.values())
    assert any(v[1] for v in expected.values())


def test_pagerank_matches_integer_reference(spark):
    """Distributed fixed-point PageRank ≡ a pure-Python integer replay
    of the identical algorithm (scale-denominated ranks, floor-division
    contributions, rational damping, uniform dangling redistribution)
    on the sf0.001 projection — exact, no float tolerance."""
    g = _graph(spark)
    node_ids = sorted(r["id"] for r in g.nodes.select("id").collect())
    idx = {n: i for i, n in enumerate(node_ids)}
    edges = [
        (idx[r["src"]], idx[r["dst"]])
        for r in g.edges.select("src", "dst").collect()
    ]
    N = len(node_ids)
    S = 10**12
    dn = 85
    iters = 5
    od = [0] * N
    for u, _ in edges:
        od[u] += 1
    r = [S // N] * N
    base = ((100 - dn) * S) // (100 * N)
    for _ in range(iters):
        contrib = [0] * N
        for u, v in edges:
            contrib[v] += r[u] // od[u]
        dmass = sum(r[i] for i in range(N) if od[i] == 0)
        m_per_node = dmass // N
        r = [base + (dn * (contrib[i] + m_per_node)) // 100 for i in range(N)]
    expected = {n: r[i] / S for n, i in idx.items()}

    got = {row["id"]: row["rank"] for row in analytics.pagerank(g).collect()}
    assert got == expected
    # sanity: total mass stays ~1 (floor losses are 1e-12-scale)
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_personalized_pagerank_matches_integer_reference(spark):
    """Fixed-point PPR ≡ pure-Python integer replay (teleport + dangling
    mass restricted to the seed set) on the sf0.001 projection — exact.
    Semantics: seeds hold teleport mass; nodes unreachable from the
    seed set rank 0."""
    from pyspark.sql import functions as F

    g = _graph(spark)
    node_ids = sorted(r["id"] for r in g.nodes.select("id").collect())
    idx = {n: i for i, n in enumerate(node_ids)}
    edges = [
        (idx[r["src"]], idx[r["dst"]])
        for r in g.edges.select("src", "dst").collect()
    ]
    seeds = [i for n, i in idx.items() if n.startswith("C:")]
    N, nS = len(node_ids), len(seeds)
    S, dn, iters = 10**12, 85, 5
    sf = [0] * N
    for i in seeds:
        sf[i] = 1
    od = [0] * N
    for u, _ in edges:
        od[u] += 1
    r = [sf[i] * (S // nS) for i in range(N)]
    base = ((100 - dn) * S) // (100 * nS)
    for _ in range(iters):
        contrib = [0] * N
        for u, v in edges:
            contrib[v] += r[u] // od[u]
        dmass = sum(r[i] for i in range(N) if od[i] == 0)
        mpn = dmass // nS
        r = [
            sf[i] * base + (dn * (contrib[i] + sf[i] * mpn)) // 100
            for i in range(N)
        ]
    expected = {n: r[i] / S for n, i in idx.items()}

    got = {
        row["id"]: row["rank"]
        for row in analytics.personalized_pagerank(
            g, g.nodes.filter(F.col("id").startswith("C:")).select("id")
        ).collect()
    }
    assert got == expected
    # region nodes are upstream of customers (C->N->R), unreachable
    # from the seeds... unless some path exists; assert directly from
    # the python replay instead of hard-coding: zero stays zero
    zero_nodes = [n for n, i in idx.items() if r[i] == 0]
    assert all(got[n] == 0.0 for n in zero_nodes)
    import pytest

    with pytest.raises(ValueError):
        analytics.personalized_pagerank(
            g, g.nodes.filter(F.lit(False)).select("id")
        )


def test_hits_matches_integer_reference(spark):
    """Distributed fixed-point HITS ≡ a pure-Python integer replay
    (scale-denominated scores, truncating L∞ normalizer, integer sums)
    on the sf0.001 projection — exact, no float tolerance. Also pins
    the semantics: order nodes 'O:*' should out-hub the leaf parts."""
    g = _graph(spark)
    node_ids = sorted(r["id"] for r in g.nodes.select("id").collect())
    idx = {n: i for i, n in enumerate(node_ids)}
    edges = [
        (idx[r["src"]], idx[r["dst"]])
        for r in g.edges.select("src", "dst").collect()
    ]
    N = len(node_ids)
    S = 10**9
    iters = 3
    h = [S] * N
    a = [0] * N
    for _ in range(iters):
        araw = [0] * N
        for u, v in edges:
            araw[v] += h[u]
        am = max(max(araw) // S, 1)
        a = [s // am for s in araw]
        hraw = [0] * N
        for u, v in edges:
            hraw[u] += a[v]
        hm = max(max(hraw) // S, 1)
        h = [s // hm for s in hraw]
    expected = {n: (h[i] / S, a[i] / S) for n, i in idx.items()}

    got = {
        row["id"]: (row["hub"], row["authority"])
        for row in analytics.hits(g, iters=iters).collect()
    }
    assert got == expected
    # semantics sanity: some order node is a stronger hub than every part
    max_part_hub = max(v[0] for n, v in got.items() if n.startswith("P:"))
    assert max(v[0] for n, v in got.items() if n.startswith("O:")) > max_part_hub


def test_kcore_matches_python_peeling(spark):
    """Distributed k-core ≡ pure-Python peeling on the sf0.001 graph."""
    g = _graph(spark)
    edges = {
        tuple(sorted((r["src"], r["dst"])))
        for r in g.edges.select("src", "dst").collect()
        if r["src"] != r["dst"]
    }
    k = 2
    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    changed = True
    while changed:
        changed = False
        for n in list(adj):
            if len(adj[n]) < k:
                for m in adj[n]:
                    adj[m].discard(n)
                del adj[n]
                changed = True
    expected = {n: len(ns) for n, ns in adj.items() if len(ns) >= k}

    got = {
        r["id"]: r["core_degree"]
        for r in analytics.kcore(g.edges.select("src", "dst"), k=k).collect()
    }
    assert got == expected
    assert len(got) > 0  # the projection has cycles -> non-empty 2-core


def test_kcore_toy_triangle_with_tail(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "x")],
        "src string, dst string",
    )
    got = {r["id"]: r["core_degree"] for r in analytics.kcore(edges, k=2).collect()}
    # the triangle a-b-c is the 2-core; d and x peel away
    assert got == {"a": 2, "b": 2, "c": 2}


def test_minhash_dedup_against_flags_planted_dup(spark):
    """Incremental dedup: an incoming doc nearly identical to a corpus
    doc is dropped with that doc as best match; novel docs keep."""
    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the rain falls softly on the quiet village roofs tonight"
    )
    corpus = spark.createDataFrame(
        [(0, base), (2, "completely different content about spark plans")],
        "doc_id bigint, text string",
    )
    incoming = spark.createDataFrame(
        [(1, base + " extra"), (3, "novel unseen text with no overlap at all whatsoever")],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["keep"], r["match_id"])
        for r in ops_dedup.minhash_dedup_against(
            corpus, incoming, threshold=0.5
        ).collect()
    }
    assert got[1] == (False, 0)
    assert got[3][0] is True and got[3][1] is None


def test_pq_adc_matches_integer_reference(spark):
    """PQ fit + ADC search vs a pure-numpy fixed-point replay: same
    subspace Lloyd's (k smallest ids init, argmin with low-index
    tie-break, floor-division means, early stop), same integer ADC
    tables, same (adc, id) ranking — bit-exact."""
    import numpy as np

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = sorted(
        (r["vec_id"], r["embedding"]) for r in emb.collect()
    )
    ids = np.asarray([r[0] for r in rows], dtype=np.int64)
    X = np.floor(np.asarray([r[1] for r in rows], dtype=np.float64) * (1 << 20) + 0.5).astype(np.int64)
    m, k, iters, probe_id, topk = 4, 16, 4, 7, 10
    sub = X.shape[1] // m

    def fit(Xs):
        # mirrors kmeans_fit: the RETURNED assignment is the one made
        # with the centroids BEFORE the final update (C_assign), and the
        # update computed in the last pass is discarded
        C = Xs[:k].copy()
        for _ in range(iters):
            Cu = C
            d2 = (Xs**2).sum(1)[:, None] - 2 * (Xs @ C.T) + (C**2).sum(1)[None, :]
            a = np.argmin(d2, axis=1)
            nxt = C.copy()
            for c in range(k):
                mem = Xs[a == c]
                if len(mem):
                    nxt[c] = mem.sum(0) // len(mem)
            if np.array_equal(nxt, C):
                break
            C = nxt
        return a, Cu

    codes_ref, books_ref = [], []
    for j in range(m):
        a, C = fit(X[:, j * sub : (j + 1) * sub])
        codes_ref.append(a)
        books_ref.append(C)
    pi = int(np.where(ids == probe_id)[0][0])
    adc = np.zeros(len(ids), dtype=np.int64)
    for j in range(m):
        dt = ((X[pi, j * sub : (j + 1) * sub][None, :] - books_ref[j]) ** 2).sum(1)
        adc += dt[codes_ref[j]]
    order = sorted((int(adc[i]), int(ids[i])) for i in range(len(ids)) if ids[i] != probe_id)
    want = [(v, a) for a, v in order[:topk]]

    codes, books = sim.pq_fit(emb, m=m, k=k, iters=iters)
    got = [
        (r["vec_id"], r["adc"])
        for r in sim.pq_topk(emb, codes, books, probe_id=probe_id, k=topk).collect()
    ]
    assert got == want
    for j in range(m):
        assert np.array_equal(np.asarray(books[j]), books_ref[j])

    import pytest

    with pytest.raises(ValueError, match="not in embeddings"):
        sim.pq_topk(emb, codes, books, probe_id=10**9)
    with pytest.raises(ValueError, match="must divide"):
        sim.pq_fit(emb, m=7)
