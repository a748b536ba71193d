"""IVF ANN: the coarse-quantized probe must recall most of the exact
brute-force top-k (extension surface — SURVEY §7.1 M9)."""

from __future__ import annotations

import os
import re

from graph_loom_spark.ops import simsearch as sim

SF_DIR = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_ivf_topk_recall(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    C = sim.ivf_centroids(emb, n_cells=8, sample_size=2048, seed=42)
    assigned = sim.ivf_assign(emb, C)
    # every vector gets exactly one cell, all cells in range
    n = emb.count()
    assert assigned.count() == n
    cells = {r["cell"] for r in assigned.select("cell").distinct().collect()}
    assert cells <= set(range(8))

    exact = {r["vec_id"] for r in sim.cosine_topk(emb, probe_id=7, k=10).collect()}
    approx = {r["vec_id"] for r in sim.ivf_topk(assigned, C, probe_id=7, k=10, nprobe=4).collect()}
    assert len(approx) == 10
    # nprobe=4 of 8 cells: expect >=60% recall on the synthetic corpus
    assert len(exact & approx) >= 6


def test_ivf_deterministic(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    c1 = sim.ivf_centroids(emb, n_cells=4, sample_size=512, seed=7)
    c2 = sim.ivf_centroids(emb, n_cells=4, sample_size=512, seed=7)
    assert (c1 == c2).all()


def _pairs(df):
    return {(r["id_a"], r["id_b"], r["cosine"]) for r in df.collect()}


def test_blocked_near_pairs_exact_parity(spark):
    """The centroid-blocked plan must return EXACTLY the brute-force
    pair set — the pruning may only skip provably-empty blocks."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    for threshold in (0.4, 0.2):  # looser threshold → fewer prunable blocks
        exact = _pairs(sim.cosine_near_pairs(emb, threshold=threshold, exact=True))
        blocked = _pairs(
            sim.cosine_near_pairs_blocked(emb, threshold=threshold, n_cells=8)
        )
        assert blocked == exact


def test_blocked_near_pairs_no_cartesian(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = sim.cosine_near_pairs_blocked(emb, threshold=0.4)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_sq_topk_matches_numpy_reference(spark):
    """int8 scalar quantization: Spark's quantized dot-product ranking
    must equal an independent numpy replay (same floor(x*127/s + 0.5))."""
    import math

    import numpy as np

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = [(r["vec_id"], r["qdot"]) for r in sim.sq_topk(emb, probe_id=7, k=10).collect()]

    rows = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in emb.collect()}
    s = max(float(np.abs(v).max()) for v in rows.values())
    q = {
        i: np.asarray([math.floor(float(x) * 127 / s + 0.5) for x in v], dtype=np.int64)
        for i, v in rows.items()
    }
    scored = sorted(
        ((i, int(q[i] @ q[7])) for i in q if i != 7), key=lambda t: (-t[1], t[0])
    )
    assert got == scored[:10]


def test_sq_topk_missing_probe_raises(spark):
    import pytest

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    with pytest.raises(ValueError, match="probe"):
        sim.sq_topk(emb, probe_id=10**9)


def test_blocked_near_pairs_skewed_cluster_parity(spark):
    """A dense near-duplicate cluster (the skew-guard / salted-join
    path) must still produce exactly the brute-force pair set."""
    import random

    rng = random.Random(99)
    base = [rng.gauss(0.0, 1.0) for _ in range(16)]
    rows = []
    # 120 near-copies of one vector (one dense cell) + 80 scattered
    for i in range(120):
        rows.append((i, [x + rng.gauss(0.0, 0.01) for x in base]))
    for i in range(120, 200):
        rows.append((i, [rng.gauss(0.0, 1.0) for _ in range(16)]))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    exact = _pairs(sim.cosine_near_pairs(emb, threshold=0.95, exact=True))
    blocked = _pairs(sim.cosine_near_pairs_blocked(emb, threshold=0.95, salt=4))
    assert blocked == exact and len(exact) > 5000


def test_hard_negatives_matches_numpy(spark):
    """hard_negatives ≡ numpy: global-scale int8 quantization, exact
    integer dots, per-probe argmax over different-label vectors only."""
    import math

    import numpy as np
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = sorted(
        ((r["vec_id"], r["label"], r["embedding"]) for r in emb.collect()),
        key=lambda t: t[0],
    )
    X = np.asarray([t[2] for t in rows], dtype=np.float64)
    s = float(np.abs(X).max())
    Q = np.floor(X * 127 / s + 0.5).astype(np.int64)
    expected = {}
    for i, (vid, lb, _) in enumerate(rows):
        if vid % 17 != 3:
            continue
        best = None
        for j, (vid2, lb2, _) in enumerate(rows):
            if lb2 == lb or vid2 == vid:
                continue
            d = int(Q[i] @ Q[j])
            key = (d, -vid2)
            if best is None or key > best[0]:
                best = (key, vid2, d)
        expected[vid] = (best[1], best[2])

    got = {
        r["pid"]: (r["neg_id"], r["qdot"])
        for r in sim.hard_negatives(emb, F.col("vec_id") % 17 == 3).collect()
    }
    assert got == expected and len(got) > 0


def test_norm_stats_exact(spark):
    import numpy as np

    emb = spark.createDataFrame(
        [
            (0, [0.0, 0.0], 0),
            (1, [1.0, 0.0], 0),
            (2, [0.5, -0.5], 1),
        ],
        "vec_id bigint, embedding array<float>, label int",
    )
    r = sim.norm_stats(emb).collect()[0]
    s = 1 << 20
    qns = [
        int(sum(int(np.floor(x * s + 0.5)) ** 2 for x in v))
        for v in ([0.0, 0.0], [1.0, 0.0], [0.5, -0.5])
    ]
    assert r["n_vectors"] == 3 and r["n_zero"] == 1
    assert (r["min_qnorm"], r["max_qnorm"]) == (min(qns), max(qns))
    assert r["avg_qnorm"] == round(sum(qns) / 3, 6)


def test_pq_rerank_subset_of_candidates_and_better_recall(spark):
    """Two-stage PQ: the reranked top-k must be a subset of the ADC
    candidate cut, ranked by exact cosine — and its recall of the exact
    brute-force top-k must be at least the plain ADC top-k's (reranking
    can only repair quantization error, never add it)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    codes, books = sim.pq_fit(emb, m=4, k=16, iters=3)
    cand = {r["vec_id"] for r in sim.pq_topk(emb, codes, books, probe_id=7, k=30).collect()}
    adc10 = {r["vec_id"] for r in sim.pq_topk(emb, codes, books, probe_id=7, k=10).collect()}
    rer = sim.pq_rerank_topk(emb, codes, books, probe_id=7, k=10, candidates=30).collect()
    got = {r["vec_id"] for r in rer}
    assert len(got) == 10 and got <= cand
    # exact cosine ordering within the rerank output
    cosines = [r["cosine"] for r in rer]
    assert cosines == sorted(cosines, reverse=True)
    exact = {r["vec_id"] for r in sim.cosine_topk(emb, probe_id=7, k=10).collect()}
    assert len(exact & got) >= len(exact & adc10)


def test_knn_label_matches_numpy(spark):
    """kNN auto-label vs a numpy brute-force replay: same rounded
    cosine, same (cos desc, id) ranking, same majority/tie rules."""
    import numpy as np
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = emb.select("vec_id", "embedding", "label").collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    lbl = {r["vec_id"]: r["label"] for r in rows}
    got = {
        r["vec_id"]: (r["pred_label"], r["votes"])
        for r in sim.knn_label(emb, F.col("vec_id") % 50 == 7, k=5).collect()
    }
    probes = [int(i) for i in ids if i % 50 == 7]
    assert set(got) == set(probes)
    norms = np.sqrt((X * X).sum(axis=1))
    for pid in probes:
        pi = int(np.where(ids == pid)[0][0])
        cos = np.round((X @ X[pi]) / (norms * norms[pi]), 4)
        order = sorted(
            (int(i) for i in ids if int(i) != pid),
            key=lambda i: (-cos[int(np.where(ids == i)[0][0])], i),
        )[:5]
        votes: dict = {}
        for i in order:
            votes[lbl[i]] = votes.get(lbl[i], 0) + 1
        best = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))
        assert got[pid] == (best[0], best[1]), pid


def test_cluster_quality_report_exact(spark):
    """Cluster quality rollup vs a driver-side exact recomputation from
    the same assignment + quality frames."""
    from graph_loom_spark.ops.text import quality_score

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assigned, _ = sim.kmeans_fit(emb, k=4, iters=3)
    rep = {r["cluster"]: r for r in sim.cluster_quality_report(docs, assigned).collect()}
    qs = {r["doc_id"]: r["quality_score"] for r in quality_score(docs).collect()}
    nc = {r["doc_id"]: r["n_chars"] for r in docs.select("doc_id", "n_chars").collect()}
    byc: dict = {}
    for r in assigned.collect():
        byc.setdefault(r["cluster"], []).append(r["vec_id"])
    assert set(rep) == set(byc)
    for c, members in byc.items():
        members = [m for m in members if m in qs]
        sq = sum(qs[m] for m in members)
        assert rep[c]["n_docs"] == len(members)
        assert rep[c]["sum_quality"] == sq
        assert rep[c]["avg_quality"] == round(sq / len(members), 6)
        assert rep[c]["avg_chars"] == round(sum(nc[m] for m in members) / len(members), 6)


def test_truncated_dim_eval_matches_numpy(spark):
    """X118 recall table vs a numpy replay: per d, rank by rounded
    cosine of the first d components (ties by id), recall vs full."""
    import numpy as np

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = emb.collect()
    ids = np.array([r["vec_id"] for r in rows])
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    probe_i = int(np.where(ids == 7)[0][0])

    def topk(d, k=10):
        Vd = V[:, :d]
        p = Vd[probe_i]
        cos = (Vd @ p) / (np.linalg.norm(Vd, axis=1) * np.linalg.norm(p))
        order = sorted(
            (i for i in range(len(ids)) if ids[i] != 7),
            key=lambda i: (-round(float(cos[i]), 4), ids[i]),
        )
        return [int(ids[i]) for i in order[:k]]

    full = set(topk(V.shape[1]))
    expect = {
        d: (len(set(topk(d)) & full), round(len(set(topk(d)) & full) / 10, 6))
        for d in (16, 32, 64)
    }
    got = {
        r["dims"]: (r["hits"], r["recall"])
        for r in sim.truncated_dim_eval(emb, probe_id=7, dims=(16, 32, 64)).collect()
    }
    assert got == expect
    assert got[64] == (10, 1.0)  # full-dim lane is the invariant row


def test_knn_label_candidates_path_matches_exact_scan(spark):
    """knn_label(candidates=...) with a covering candidate set must
    equal the exact-scan default — the LSH/IVF composition contract."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    pf = F.col("vec_id") % 50 == 7
    want = sorted(tuple(r) for r in sim.knn_label(emb, pf, k=5).collect())
    # covering candidates: all (probe, other) pairs
    probes = emb.filter(pf).select(F.col("vec_id").alias("probe_id"))
    cand = probes.crossJoin(emb.select(F.col("vec_id").alias("nbr_id")))
    got = sorted(
        tuple(r) for r in sim.knn_label(emb, pf, k=5, candidates=cand).collect()
    )
    assert got == want
    # a restricted candidate set restricts the vote pool (still k rows
    # per probe when enough candidates exist)
    small = cand.filter(F.col("nbr_id") < 50)
    rows = sim.knn_label(emb, pf, k=5, candidates=small).collect()
    assert all(r["votes"] <= 5 for r in rows) and len(rows) > 0
    # duplicated pairs must not double-count votes or eat top-k slots:
    # LSH/IVF generators emit a pair once per colliding band/cell
    # (ADVICE r7) — tripling every candidate row must change nothing
    dup = cand.unionAll(cand).unionAll(cand)
    got_dup = sorted(
        tuple(r) for r in sim.knn_label(emb, pf, k=5, candidates=dup).collect()
    )
    assert got_dup == want


def test_bq_topk_matches_numpy_hamming(spark):
    """X119 binary quantization vs a numpy replay: same sign bits, same
    Hamming distances, same (hamming, id) ranking — exact integers."""
    import numpy as np

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    bits = X >= 0  # (n, 64)
    probe = bits[ids == 7][0]
    ham = (bits != probe).sum(axis=1)
    order = sorted(
        (int(h), int(i)) for h, i in zip(ham, ids) if i != 7
    )[:10]
    got = [
        (r["hamming"], r["vec_id"])
        for r in sim.bq_topk(emb, probe_id=7, k=10).collect()
    ]
    assert got == order


def test_bq_rerank_subset_and_recall_not_worse(spark):
    """BQ rescoring: output ⊆ Hamming shortlist, exact-cosine ordered,
    and recall of the exact top-k is >= the raw Hamming top-k's."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cand = {
        r["vec_id"]
        for r in sim.bq_topk(emb, probe_id=7, k=30).collect()
    }
    raw10 = {r["vec_id"] for r in sim.bq_topk(emb, probe_id=7, k=10).collect()}
    rer = sim.bq_rerank_topk(emb, probe_id=7, k=10, candidates=30).collect()
    got = {r["vec_id"] for r in rer}
    assert len(got) == 10 and got <= cand
    cosines = [r["cosine"] for r in rer]
    assert cosines == sorted(cosines, reverse=True)
    exact = {r["vec_id"] for r in sim.cosine_topk(emb, probe_id=7, k=10).collect()}
    assert len(exact & got) >= len(exact & raw10)


def test_maxsim_topk_matches_numpy(spark):
    """X120 MaxSim vs a numpy replay: same rounded-micropoint cosines,
    same per-(parent, q) max, same Σ and (score desc, id) ranking."""
    import numpy as np

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    nrm = np.linalg.norm(X, axis=1)
    keep = nrm > 0
    ids, X, nrm = ids[keep], X[keep], nrm[keep]
    parents = ids // 8
    P = X[parents == 7]
    pn = nrm[parents == 7]
    scores = {}
    for par in np.unique(parents):
        if par == 7:
            continue
        C = X[parents == par]
        cn = nrm[parents == par]
        cos = (P @ C.T) / np.outer(pn, cn)
        micro = np.floor(np.round(cos, 4) * 10000 + 0.5).astype(np.int64)
        scores[int(par)] = int(micro.max(axis=1).sum())
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [
        (r["parent_id"], r["maxsim_micro"])
        for r in sim.maxsim_topk(emb, probe_parent=7, group=8, k=10).collect()
    ]
    assert got == [(p, s) for p, s in want]


def test_lsh_near_pairs_subset_of_exact_and_components_consistent(spark):
    """The LSH candidate pair set is a SUBSET of the exact blocked pair
    set (same threshold, same rounded cosine — LSH can only miss pairs,
    never invent them), and the components built on it never merge ids
    the exact components keep apart."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    idx = sim.rp_lsh_buckets(emb, dim=64, bits=8, seed=42, tables=4)
    lsh_pairs = sim.lsh_near_pairs(emb, idx, threshold=0.4)
    got = {(r["id_a"], r["id_b"], r["cosine"]) for r in lsh_pairs.collect()}
    exact = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in sim.cosine_near_pairs_blocked(emb, threshold=0.4).collect()
    }
    assert got <= exact
    comp_lsh = {
        r["vec_id"]: r["component_id"]
        for r in sim.embedding_dup_components(
            emb, threshold=0.4, pairs=lsh_pairs
        ).collect()
    }
    comp_exact = {
        r["vec_id"]: r["component_id"]
        for r in sim.embedding_dup_components(emb, threshold=0.4).collect()
    }
    assert set(comp_lsh) == set(comp_exact)
    # refinement: same LSH component => same exact component
    for a in comp_lsh:
        for b in comp_lsh:
            if a < b and comp_lsh[a] == comp_lsh[b]:
                assert comp_exact[a] == comp_exact[b]


def test_ivfpq_topk_matches_numpy_adc_over_probed_cells(spark):
    """X121 IVFADC: given the fitted coarse quantizer + residual
    codebooks, a numpy replay of the search (integer cell ranking,
    per-cell residual distance tables, ADC over probed cells only,
    (adc, id) tie-break) must match exactly — pins the scan path
    independently of the SQL-replayed fits."""
    import numpy as np

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    assigned, C = sim.kmeans_fit(emb, k=16, iters=5)
    codes, books = sim.ivfpq_fit(emb, assigned, C, m=4, k=16, iters=4)
    got = [
        (r["vec_id"], r["adc"])
        for r in sim.ivfpq_topk(
            emb, assigned, C, codes, books, probe_id=7, k=10, nprobe=4
        ).collect()
    ]

    scale = 1 << 20
    rows = emb.select("vec_id", "embedding").collect()
    qv = {
        r["vec_id"]: np.array(
            [int(np.floor(float(x) * scale + 0.5)) for x in r["embedding"]],
            dtype=np.int64,
        )
        for r in rows
    }
    cell = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    code_rows = {
        r["vec_id"]: [r[f"code_{j}"] for j in range(4)]
        for r in codes.collect()
    }
    Cc = np.asarray(C, dtype=np.int64)
    qp = qv[7]
    celld = ((qp[None, :] - Cc) ** 2).sum(axis=1)
    probed = set(sorted(range(16), key=lambda c: (int(celld[c]), c))[:4])
    sub = 16
    luts = {}
    for c in probed:
        rp = qp - Cc[c]
        luts[c] = [
            ((rp[j * sub : (j + 1) * sub][None, :]
              - np.asarray(books[j], dtype=np.int64)) ** 2).sum(axis=1)
            for j in range(4)
        ]
    scores = []
    for vid, cds in code_rows.items():
        if vid == 7 or cell[vid] not in probed:
            continue
        adc = sum(int(luts[cell[vid]][j][cds[j]]) for j in range(4))
        scores.append((adc, vid))
    want = [(v, a) for a, v in sorted(scores)[:10]]
    assert got == want
    # every returned id lives in a probed cell by construction
    assert all(cell[v] in probed for v, _ in got)


def test_pca_power_scores_correlate_with_numpy_pc1(spark):
    """X123: the fixed-point power-iteration PC1 scores must be (up to
    sign and scale) the real first principal direction — |Pearson r|
    vs numpy's uncentered-moment eigenvector projection >= 0.999 —
    and exactly reproducible across two independent fits."""
    import numpy as np

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = sim.pca_power_scores(emb, iters=100).collect()
    got = {r["vec_id"]: r["pc1"] for r in rows}
    again = {
        r["vec_id"]: r["pc1"]
        for r in sim.pca_power_scores(emb, iters=100).collect()
    }
    assert got == again  # bit-reproducible across fits

    data = emb.select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in data]
    Q = np.array(
        [
            [int(np.floor(float(x) * (1 << 20) + 0.5)) for x in r["embedding"]]
            for r in data
        ],
        dtype=np.float64,
    )
    C = Q.T @ Q
    vals, vecs = np.linalg.eigh(C)
    pc1 = Q @ vecs[:, -1]
    mine = np.array([got[i] for i in ids], dtype=np.float64)
    r = np.corrcoef(mine, pc1)[0, 1]
    assert abs(r) >= 0.999, r


def _zero_out(emb, vid):
    from pyspark.sql import functions as F

    return emb.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") == vid,
            F.expr("transform(embedding, x -> cast(0.0 as float))"),
        ).otherwise(F.col("embedding")),
    )


def test_lsh_near_pairs_excludes_zero_norm(spark):
    """(ADVICE r9) A zero-norm vector has NaN cosine to everything, and
    Spark treats NaN >= threshold as TRUE — without the up-front norm
    filter the zero vector would be linked into every bucket collision's
    dup component (DuckDB's 0.0/0.0 is NULL, so the oracle drops the
    pair). The zeroed id must appear in NO output pair."""
    emb = _zero_out(spark.read.parquet(f"{SF_DIR}/embeddings.parquet"), 3)
    idx = sim.rp_lsh_buckets(emb, dim=64, bits=8, seed=42, tables=4)
    pairs = sim.lsh_near_pairs(emb, idx, threshold=0.4).collect()
    touched = {r["id_a"] for r in pairs} | {r["id_b"] for r in pairs}
    assert 3 not in touched
    for r in pairs:  # and no NaN leaked through the filter
        assert r["cosine"] == r["cosine"]


def test_bq_rerank_excludes_zero_norm(spark):
    """(ADVICE r9) In the BQ rescore a zero-norm candidate's NaN cosine
    sorts FIRST under ORDER BY DESC in Spark (NULL sorts last in the
    oracle) — it must be filtered before the rescore join, not returned
    at rank 1."""
    emb = _zero_out(spark.read.parquet(f"{SF_DIR}/embeddings.parquet"), 3)
    # candidates = full corpus so the zero vector is certainly shortlisted
    rer = sim.bq_rerank_topk(emb, probe_id=7, k=10, candidates=600).collect()
    assert len(rer) == 10
    assert all(r["vec_id"] != 3 for r in rer)
    assert all(r["cosine"] == r["cosine"] for r in rer)


def test_bq_topk_missing_probe_raises(spark):
    """(ADVICE r9) An absent probe id raises a descriptive ValueError,
    matching ivfpq_topk, not a bare IndexError."""
    import pytest

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    with pytest.raises(ValueError, match="bq_topk: probe"):
        sim.bq_topk(emb, probe_id=10**9, k=5)


def test_retrieval_label_eval_planted(spark):
    """X131: planted 2-D corpus with known cosine ranks — probe 7
    (label 1) ranks [id 1 (lbl 2), id 2 (lbl 1), id 3 (lbl 1)]:
    first relevant at rank 2 → rr 500000, P@3 = 2·10⁶ div 3; probe 8
    (label 9, nobody shares it) → all-zero scorecard."""
    from pyspark.sql import functions as F

    rows = [
        (7, [1.0, 0.0], 1),       # probe A
        (8, [0.0, 1.0], 9),       # probe B, label shared with nobody
        (1, [1.0, 0.01], 2),      # rank 1 for probe A, irrelevant
        (2, [1.0, 0.1], 1),       # rank 2, relevant
        (3, [0.5, 0.5], 1),       # rank 3, relevant
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int"
    )
    out = {
        r["vec_id"]: (
            r["label"], r["n_rel"], r["p_at_k_micro"],
            r["first_rel_rank"], r["rr_micro"],
        )
        for r in sim.retrieval_label_eval(
            emb, F.col("vec_id").isin(7, 8), k=3
        ).collect()
    }
    assert out[7] == (1, 2, 666_666, 2, 500_000)
    assert out[8] == (9, 0, 0, 0, 0)


def test_retrieval_label_eval_candidates_match_full(spark):
    """The LSH/IVF candidate path (with duplicated candidate pairs, the
    knn_label contract) equals the full-scan scorecard when candidates
    cover the true top-k."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    probe = F.col("vec_id") % 50 == 7
    full = sim.retrieval_label_eval(emb, probe, k=5)
    pids = emb.filter(probe).select(F.col("vec_id").alias("p"))
    cands = (
        pids.crossJoin(emb.select(F.col("vec_id").alias("n")))
        .unionAll(pids.crossJoin(emb.select(F.col("vec_id").alias("n")).limit(50)))
    )
    via = sim.retrieval_label_eval(emb, probe, k=5, candidates=cands)
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, via.collect()))


def test_anisotropy_planted(spark):
    """X154: orthogonal pair → expected cosine exactly +0.0; identical
    pair → 1.0; zero-norm vectors are excluded; a singleton corpus
    reports 0.0 by convention."""
    import math

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    r = sim.anisotropy(emb).collect()[0]
    assert (r["n"], r["sum_norm_sq"], r["expected_cosine"]) == (2, 2.0, 0.0)
    assert math.copysign(1.0, r["expected_cosine"]) > 0

    same = spark.createDataFrame(
        [(1, [2.0, 0.0]), (2, [5.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    assert sim.anisotropy(same).collect()[0]["expected_cosine"] == 1.0

    one = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id bigint, embedding array<double>")
    assert sim.anisotropy(one).collect()[0]["expected_cosine"] == 0.0


def test_dimension_stats_planted(spark):
    """X152: dim 1 over {1, 3} → mean 2, var 1, min/max exact; dim 2 is
    constant-zero (dead dimension) → variance exactly +0.0."""
    import math

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [3.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    out = {r["dim"]: r for r in sim.dimension_stats(emb).collect()}
    assert (out[1]["n"], out[1]["mean"], out[1]["variance"]) == (2, 2.0, 1.0)
    assert (out[1]["vmin"], out[1]["vmax"]) == (1.0, 3.0)
    assert out[2]["variance"] == 0.0
    assert math.copysign(1.0, out[2]["variance"]) > 0


def test_retrieval_ndcg_planted(spark):
    """X150: probe 7 (label 1) ranks [id 1 (lbl 2), id 2 (lbl 1),
    id 3 (lbl 1)] → DCG = 1/log2(3) + 1/log2(4); corpus holds exactly
    2 other label-1 vectors → IDCG = 1/log2(2) + 1/log2(3); probe 8's
    label is unique → n_rel 0, idcg 0, ndcg 0.0."""
    import math

    from pyspark.sql import functions as F

    rows = [
        (7, [1.0, 0.0], 1),
        (8, [0.0, 1.0], 9),
        (1, [1.0, 0.01], 2),
        (2, [1.0, 0.1], 1),
        (3, [0.5, 0.5], 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int"
    )
    out = {
        r["vec_id"]: r
        for r in sim.retrieval_ndcg(emb, F.col("vec_id").isin(7, 8), k=3).collect()
    }
    dcg = 1 / math.log2(3) + 1 / math.log2(4)
    idcg = 1 / math.log2(2) + 1 / math.log2(3)
    assert out[7]["n_rel"] == 2
    assert out[7]["dcg"] == round(dcg, 6)
    assert out[7]["idcg"] == round(idcg, 6)
    assert out[7]["ndcg"] == round(dcg / idcg, 6)
    assert (out[8]["n_rel"], out[8]["dcg"], out[8]["idcg"], out[8]["ndcg"]) == (
        0, 0.0, 0.0, 0.0,
    )


def test_retrieval_label_eval_every_probe_gets_a_scorecard(spark):
    """ADVICE r10 #1: probes with NO scored rows must emit a zeroed
    scorecard, not vanish — (a) singleton corpus (the only row is the
    probe itself, so the self-pair filter leaves zero pairs), and (b)
    the candidates= path where one probe has no candidate pairs."""
    from pyspark.sql import functions as F

    one = spark.createDataFrame(
        [(7, [1.0, 0.0], 1)], "vec_id bigint, embedding array<double>, label int"
    )
    rows = sim.retrieval_label_eval(one, F.col("vec_id") == 7, k=3).collect()
    assert [tuple(r) for r in rows] == [(7, 1, 0, 0, 0, 0)]

    emb = spark.createDataFrame(
        [
            (7, [1.0, 0.0], 1),
            (8, [0.0, 1.0], 1),
            (1, [1.0, 0.1], 1),
        ],
        "vec_id bigint, embedding array<double>, label int",
    )
    # candidates cover probe 7 only — probe 8 must still appear, zeroed
    cands = spark.createDataFrame([(7, 1)], "p bigint, n bigint")
    out = {
        r["vec_id"]: tuple(r)[2:]
        for r in sim.retrieval_label_eval(
            emb, F.col("vec_id").isin(7, 8), k=3, candidates=cands
        ).collect()
    }
    assert out[7] == (1, 333_333, 1, 1_000_000)
    assert out[8] == (0, 0, 0, 0)


def test_embedding_drift_planted(spark):
    """X138: label 1's slices share direction (cosine 1.0), label 2's
    are orthogonal (0.0), label 3 exists only in slice A (NULL cosine,
    not dropped)."""
    from pyspark.sql import functions as F

    rows = [
        # label 1: even (A) and odd (B) both along e1
        (0, [1.0, 0.0], 1), (2, [2.0, 0.0], 1),
        (1, [3.0, 0.0], 1),
        # label 2: A along e1, B along e2
        (4, [1.0, 0.0], 2),
        (5, [0.0, 1.0], 2),
        # label 3: only A
        (6, [1.0, 1.0], 3),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>, label int")
    out = {r["label"]: (r["n_a"], r["n_b"], r["centroid_cosine"])
           for r in sim.embedding_drift(emb).collect()}
    assert out[1] == (2, 1, 1.0)
    assert out[2] == (1, 1, 0.0)
    assert out[3][0] == 1 and out[3][1] == 0 and out[3][2] is None


def test_emb_dup_keep_best_one_keeper_per_component(spark):
    """X140 composition: within each embedding dup component exactly
    one document is kept, and the keeper's quality is maximal (ties →
    smallest id)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "entry", os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    rows = m.queries()["emb_dup_keep_best"](spark, SF_DIR).collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    assert by_cluster
    for cid, members in by_cluster.items():
        keepers = [r for r in members if r["is_kept"]]
        assert len(keepers) == 1, cid
        best = max(members, key=lambda r: (r["quality_score"], -r["doc_id"]))
        assert keepers[0]["doc_id"] == best["doc_id"]


def test_retrieval_evals_null_label_probe_keeps_scorecard(spark):
    """ADVICE r11 #4: a NULL-labeled probe must keep its real agg row —
    the old (__pid, __plbl) join-back key never matched on NULL, so the
    probe reported zeroed while its DCG/n_rel was silently discarded.
    With the pid-only join the probe surfaces with n_rel 0 (nothing can
    equal a NULL label) but its row — and for ndcg its dcg sum — comes
    from the real top-k aggregation, and no duplicate rows appear."""
    from pyspark.sql import functions as F

    emb = spark.createDataFrame(
        [
            (7, [1.0, 0.0], None),   # NULL-labeled probe
            (8, [0.0, 1.0], 1),      # labeled probe, one relevant nbr
            (1, [1.0, 0.1], 2),
            (2, [0.1, 1.0], 1),
        ],
        "vec_id bigint, embedding array<double>, label int",
    )
    le = sim.retrieval_label_eval(emb, F.col("vec_id").isin(7, 8), k=3)
    rows = {r["vec_id"]: r for r in le.collect()}
    assert set(rows) == {7, 8} and le.count() == 2
    assert rows[7]["label"] is None
    assert (rows[7]["n_rel"], rows[7]["rr_micro"]) == (0, 0)
    assert rows[8]["n_rel"] == 1 and rows[8]["rr_micro"] > 0

    nd = sim.retrieval_ndcg(emb, F.col("vec_id").isin(7, 8), k=3)
    nrows = {r["vec_id"]: r for r in nd.collect()}
    assert set(nrows) == {7, 8} and nd.count() == 2
    assert nrows[7]["label"] is None
    assert (nrows[7]["n_rel"], nrows[7]["dcg"], nrows[7]["ndcg"]) == (0, 0.0, 0.0)
    assert nrows[8]["n_rel"] == 1 and nrows[8]["ndcg"] > 0


def test_anisotropy_subnormal_norm_excluded(spark):
    """ADVICE r11 #5: a vector whose norm is subnormal (< 1e-300) is
    EXCLUDED like a zero vector — it must not slip past the filter and
    get divided by the 1e-300 clamp into a non-unit direction. The two
    healthy orthogonal vectors still report expected cosine +0.0."""
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1e-308, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    r = sim.anisotropy(emb).collect()[0]
    # n = 2: the subnormal row is excluded, not clamp-normalized
    assert (r["n"], r["sum_norm_sq"], r["expected_cosine"]) == (2, 2.0, 0.0)


def test_hubness_planted(spark):
    """X158: manual scored pair graph with k=1 — vec 1 is the top-1 of
    both 2 and 3 (k_occ 2), vec 2 is 1's top-1 (k_occ 1), vec 3 is
    nobody's (antihub, 0), vec 4 has no candidates at all (0, still a
    row); cosine ties break toward the LOWER neighbor id."""
    emb = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in (1, 2, 3, 4, 5, 6, 7)],
        "vec_id bigint, embedding array<double>",
    )
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (1, 3, 0.8), (2, 3, 0.7)],
        "id_a bigint, id_b bigint, cosine double",
    )
    out = {r["vec_id"]: r["k_occ"] for r in sim.hubness(emb, pairs, k=1).collect()}
    assert out == {1: 2, 2: 1, 3: 0, 4: 0, 5: 0, 6: 0, 7: 0}
    # tie: probe 5 has candidates 6 and 7 at the same cosine → lower id
    tie = spark.createDataFrame(
        [(5, 6, 0.5), (5, 7, 0.5)], "id_a bigint, id_b bigint, cosine double"
    )
    out2 = {r["vec_id"]: r["k_occ"] for r in sim.hubness(emb, tie, k=1).collect()}
    assert out2[6] == 1 and out2[7] == 0
    # 5 itself is top-1 of both 6 and 7 (their only candidate)
    assert out2[5] == 2
    # k=2 admits both
    out3 = {r["vec_id"]: r["k_occ"] for r in sim.hubness(emb, tie, k=2).collect()}
    assert out3[6] == 1 and out3[7] == 1


def test_hubness_skew_planted(spark):
    """X158b: moments over the planted k_occ distribution [2,1,0,0]
    match the closed-form python reference; a uniform distribution
    (zero variance) reports skewness exactly +0.0."""
    import math

    emb = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in (1, 2, 3, 4)],
        "vec_id bigint, embedding array<double>",
    )
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (1, 3, 0.8), (2, 3, 0.7)],
        "id_a bigint, id_b bigint, cosine double",
    )
    r = sim.hubness_skew(emb, pairs, k=1).collect()[0]
    ks = [2, 1, 0, 0]
    n = len(ks)
    m1 = sum(ks) / n
    m2 = sum(x * x for x in ks) / n - m1 * m1
    m3 = (
        sum(x**3 for x in ks) / n
        - 3.0 * m1 * (sum(x * x for x in ks) / n)
        + 2.0 * m1**3
    )
    assert (r["n"], r["max_k_occ"], r["n_antihubs"]) == (4, 2, 2)
    assert r["mean_k_occ"] == round(m1, 6)
    assert r["skewness"] == round(m3 / m2**1.5, 6)
    # zero-variance: 2 and 1 are each other's only candidates -> both
    # k_occ 1 over a 2-vector corpus
    emb2 = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    p2 = spark.createDataFrame([(1, 2, 1.0)], "id_a bigint, id_b bigint, cosine double")
    r2 = sim.hubness_skew(emb2, p2, k=1).collect()[0]
    assert r2["skewness"] == 0.0 and math.copysign(1.0, r2["skewness"]) > 0


def test_pq_fit_fused_matches_per_subspace_kmeans(spark):
    """pq_fit's fused all-subspace Lloyd loop must be bit-identical to m
    independent kmeans_fit runs, one per subspace slice — same codes,
    same codebooks, same digest. Pins the equivalence argument: slicing
    commutes with the elementwise quantization, per-subspace arithmetic
    is unchanged, and a converged subspace's extra fused iterations are
    identities."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    m, k, iters = 4, 8, 3
    codes, books = sim.pq_fit(emb, m=m, k=k, iters=iters)
    dim = len(emb.select("embedding").head()[0])
    sub = dim // m
    ref_codes = None
    ref_books = []
    for j in range(m):
        sliced = emb.select(
            F.col("vec_id"),
            F.slice(F.col("embedding"), j * sub + 1, sub).alias("embedding"),
        )
        assigned, C = sim.kmeans_fit(sliced, k=k, iters=iters)
        part = assigned.select(F.col("vec_id"), F.col("cluster").alias(f"code_{j}"))
        ref_codes = part if ref_codes is None else ref_codes.join(part, "vec_id")
        ref_books.append(C)
    assert sim.pq_codebooks_md5(books) == sim.pq_codebooks_md5(ref_books)
    assert codes.columns == ref_codes.columns
    assert {tuple(r) for r in codes.collect()} == {
        tuple(r) for r in ref_codes.collect()
    }


# each fixed-point mechanism the oracles replay, as it is spelled in code
_WRITTEN_ONCE = {
    "grid quantizer (Spark)": re.compile(
        r'F\.floor\(\s*\w+\.cast\("double"\)\s*\*\s*F\.lit\(float\(\w+\)\)\s*\+\s*F\.lit\(0\.5\)\s*\)'
    ),
    "grid quantizer (numpy)": re.compile(r"np\.floor\([^\n]*\*\s*\w+\s*\+\s*0\.5\)"),
    "nearest-centroid kernel": re.compile(
        r"\*\*\s*2\)\.sum\(axis=1\)\[:,\s*None\]\s*-\s*2\s*\*\s*\("
    ),
}


def test_fixed_point_mechanisms_written_once():
    """The grid quantizer and the int64 nearest-centroid kernel each
    appear once in the library (``simsearch._grid``/``_grid_probe`` and
    ``_nearest``): a second copy can drift from the rules the oracles
    replay."""
    found = {name: [] for name in _WRITTEN_ONCE}
    for root, _, files in os.walk(os.path.join(REPO, "graph_loom_spark")):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                text = fh.read()
            for name, pattern in _WRITTEN_ONCE.items():
                found[name] += [os.path.relpath(path, REPO)] * len(pattern.findall(text))
    assert {name: len(sites) for name, sites in found.items()} == dict.fromkeys(found, 1), found
