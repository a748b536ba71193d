"""leakage_safe_split (X115) and embedding_dup_components (X116):
cluster-keyed splits never let near-duplicates straddle train/eval, and
embedding dup groups are the transitive closure of the pair report."""

from __future__ import annotations

from pyspark.sql import functions as F

from graph_loom_spark.ops import dedup as ops_dedup
from graph_loom_spark.ops import simsearch as ops_sim
from graph_loom_spark.ops import text as ops_text

SF_DIR = "/root/testdata/sf0.001"


def test_leakage_safe_split_never_straddles_near_dup_pairs(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = ops_dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    split = ops_dedup.leakage_safe_split(docs, pairs=pairs)
    # every doc assigned exactly once
    assert split.count() == docs.count()
    assert split.select("doc_id").distinct().count() == docs.count()
    # no near-dup pair straddles two splits
    s = split.select("doc_id", "split")
    straddle = (
        pairs.join(s.withColumnRenamed("doc_id", "id_a"), "id_a")
        .withColumnRenamed("split", "split_a")
        .join(
            s.withColumnRenamed("doc_id", "id_b").withColumnRenamed(
                "split", "split_b"
            ),
            "id_b",
        )
        .filter(F.col("split_a") != F.col("split_b"))
    )
    assert straddle.count() == 0
    # singletons follow the plain hash split of their own cluster id
    # (cluster_id == doc_id for docs with no near-dup partner)
    singles = split.filter(F.col("cluster_id") == F.col("doc_id"))
    plain = ops_text.train_split(singles.select("doc_id"))
    joined = singles.join(
        plain.withColumnRenamed("split", "plain_split"), "doc_id"
    )
    assert joined.filter(F.col("split") != F.col("plain_split")).count() == 0


def test_leakage_safe_split_clusters_share_one_split(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    split = ops_dedup.leakage_safe_split(docs)
    per_cluster = split.groupBy("cluster_id").agg(
        F.count_distinct("split").alias("k")
    )
    assert per_cluster.filter(F.col("k") > 1).count() == 0


def test_embedding_dup_components_transitive_closure(spark):
    # A≈B and B≈C but cos(A,C) < τ: pairwise report has 2 pairs, the
    # component op must still group all three (plus D isolated)
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.4359]),  # cos(0,1) ≈ 0.90
        (2, [0.62, 0.7846]),  # cos(1,2) ≈ 0.90, cos(0,2) ≈ 0.62
        (3, [-1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in ops_sim.cosine_near_pairs_blocked(emb, threshold=0.85).collect()
    }
    assert pairs == {(0, 1), (1, 2)}
    comp = {
        r["vec_id"]: (r["component_id"], r["component_size"])
        for r in ops_sim.embedding_dup_components(emb, threshold=0.85).collect()
    }
    assert comp == {0: (0, 3), 1: (0, 3), 2: (0, 3), 3: (3, 1)}


def test_rrf_fuse_fuzz_matches_python_model(spark):
    """Randomized lists × a pure-Python RRF model: ranks by (score desc,
    id asc), integer micropoints, fused top-k by (points desc, id)."""
    import random

    rng = random.Random(42)
    for trial in range(5):
        n_lists = rng.randint(1, 4)
        lists = []
        for _ in range(n_lists):
            ids = rng.sample(range(40), rng.randint(1, 12))
            # coarse scores force plenty of rank ties
            lists.append([(i, float(rng.randint(0, 5))) for i in ids])
        k, c = rng.randint(1, 8), rng.choice([10, 60])

        pts: dict[int, int] = {}
        cnt: dict[int, int] = {}
        for lst in lists:
            ranked = sorted(lst, key=lambda t: (-t[1], t[0]))
            for r, (i, _) in enumerate(ranked, start=1):
                pts[i] = pts.get(i, 0) + 10**9 // (c + r)
                cnt[i] = cnt.get(i, 0) + 1
        expect = sorted(pts.items(), key=lambda t: (-t[1], t[0]))[:k]
        expect = [(i, p, cnt[i]) for i, p in expect]

        frames = [
            (
                spark.createDataFrame(lst, "doc_id bigint, s double"),
                "s",
            )
            for lst in lists
        ]
        got = [
            (r["doc_id"], r["rrf_micro"], r["n_lists"])
            for r in ops_text.rrf_fuse(frames, k=k, c=c).collect()
        ]
        assert got == expect, (trial, got, expect)


def test_clustering_coefficients_fuzz_matches_python_model(spark):
    """Random graphs × the textbook local-cc formula over adjacency
    sets (triangles per node counted brute-force)."""
    import itertools
    import random

    from graph_loom_spark import analytics

    rng = random.Random(7)
    for trial in range(3):
        n = 16
        edges = [
            (u, v)
            for u, v in itertools.combinations(range(n), 2)
            if rng.random() < 0.25
        ]
        if not edges:
            continue
        adj: dict[int, set] = {}
        for u, v in edges:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        expect = {}
        for v, nb in adj.items():
            tri = sum(
                1 for a, b in itertools.combinations(sorted(nb), 2) if b in adj[a]
            )
            d = len(nb)
            cc = round(2.0 * tri / (d * (d - 1)), 6) if d >= 2 else 0.0
            expect[v] = (d, tri, cc)

        df = spark.createDataFrame(edges, "src int, dst int")
        got = {
            r["id"]: (r["degree"], r["n_triangles"], r["clustering"])
            for r in analytics.clustering_coefficients(df).collect()
        }
        assert got == expect, (trial, got, expect)


def test_embedding_dup_components_accepts_candidate_pairs(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    pairs = ops_sim.cosine_near_pairs_blocked(emb, threshold=0.4)
    via_default = ops_sim.embedding_dup_components(emb, threshold=0.4)
    via_pairs = ops_sim.embedding_dup_components(emb, pairs=pairs)
    assert sorted(map(tuple, via_default.collect())) == sorted(
        map(tuple, via_pairs.collect())
    )


def test_exact_dup_spans_planted_duplicate(spark):
    """X128 (VERDICT r9 ask #6): a planted shared passage must come back
    as ONE maximal span with exact 1-based positions and length —
    seed runs may not fragment it or extend past the differing char."""
    passage = "the quick brown fox jumps over the lazy dog near the riverbank"  # 63 chars
    docs = spark.createDataFrame(
        [
            (0, "AA " + passage + " XX"),
            (1, "BBBBBB " + passage + " YY"),
            (2, "completely unrelated text with no shared passage at all here"),
        ],
        "doc_id long, text string",
    )
    rows = ops_dedup.exact_dup_spans(docs, min_len=40).collect()
    assert len(rows) == 1
    (r,) = rows
    # normalized text is lowercase/whitespace-collapsed; both planted
    # copies share exactly " <passage> " (the spaces around it match too)
    assert (r["id_a"], r["id_b"]) == (0, 1)
    assert r["span_len"] == len(passage) + 2
    assert r["start_a"] == 3   # after "aa" + space, span starts AT the space
    assert r["start_b"] == 7   # after "bbbbbb"
    # min_len above the span length → no rows
    assert ops_dedup.exact_dup_spans(docs, min_len=70).count() == 0


def test_exact_dup_spans_two_islands_and_self_pairs_excluded(spark):
    """Two separate shared passages in the same pair → two spans; a doc
    never pairs with itself even when it repeats its own substring."""
    p1 = "first shared passage with forty-five chars!!"  # 45 chars, aperiodic
    p2 = "shared passage number two goes right here ok!"
    docs = spark.createDataFrame(
        [
            (0, p1 + " gap gap gap " + p2),
            (1, p1 + " DIFFERENT MIDDLE " + p2),
            (2, "self repeat " + p1 + " and again " + p1),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"], r["span_len"])
        for r in ops_dedup.exact_dup_spans(docs, min_len=40).collect()
    }
    # p1 also appears twice in doc 2 → (0,2) and (1,2) pairs exist too;
    # restrict the assertion to the (0,1) pair's islands
    spans_01 = sorted(s for a, b, s in got if (a, b) == (0, 1))
    # "xxx... " (p1 + trailing space matches in both) and " <p2>" (leading space)
    assert spans_01 == [len(p1) + 1, len(p2) + 1]
    assert all(a != b for a, b, _ in got)
    # doc 2 repeats p1 internally at two positions → TWO alignment
    # diagonals against doc 0's single copy
    assert len([1 for a, b, _ in got if (a, b) == (0, 2)]) == 2


def test_exact_dup_spans_gram_df_cap_drops_boilerplate(spark):
    """max_gram_df: a passage shared by every doc is boilerplate — with
    the cap at 2 occurrences the all-docs passage vanishes while the
    two-doc passage survives (the MOSS common-code exclusion)."""
    boiler = "this exact boilerplate header appears in every single document"
    rare = "only these two documents share this one particular sentence"
    docs = spark.createDataFrame(
        [(i, boiler + f" body {i} " + (rare if i < 2 else "")) for i in range(6)],
        "doc_id long, text string",
    )
    uncapped = ops_dedup.exact_dup_spans(docs, min_len=40)
    capped = ops_dedup.exact_dup_spans(docs, min_len=40, max_gram_df=2)
    unc_pairs = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    cap_pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (0, 1) in cap_pairs and len(cap_pairs) == 1  # rare passage kept
    assert len(unc_pairs) == 15  # boilerplate links all 6 choose 2 pairs


def test_exact_dup_spans_winnow_prefilter_composition(spark):
    """VERDICT r10 ask #4 — the at-scale composition pinned: spans with
    a candidate-``pairs`` prefilter equal the full spans restricted to
    those pairs (exactness is preserved; only pair coverage is traded),
    and the real winnow_overlap_pairs frame catches the planted
    duplicate pair end-to-end."""
    p1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    p2 = "one two three four five six seven eight nine ten eleven twelve"
    docs = spark.createDataFrame(
        [
            (1, f"unique head aaa {p1} unique tail bbb"),
            (2, f"other head ccc {p1} other tail ddd"),
            (3, f"third head eee {p2} third tail fff"),
            (4, f"fourth head ggg {p2} fourth tail hhh"),
        ],
        "doc_id long, text string",
    )
    full = sorted(map(tuple, ops_dedup.exact_dup_spans(docs, min_len=40).collect()))
    assert {(r[0], r[1]) for r in full} == {(1, 2), (3, 4)}

    # manual pair frame covering only (1,2): output == full restricted
    only12 = spark.createDataFrame([(2, 1)], "x long, y long")  # either order
    via = sorted(
        map(tuple, ops_dedup.exact_dup_spans(docs, min_len=40, pairs=only12).collect())
    )
    assert via == [r for r in full if (r[0], r[1]) == (1, 2)]

    # the real winnow candidates cover both planted pairs → identical output
    cands = ops_dedup.winnow_overlap_pairs(docs, min_shared=2, max_fp_df=10)
    via_winnow = sorted(
        map(tuple, ops_dedup.exact_dup_spans(docs, min_len=40, pairs=cands).collect())
    )
    assert via_winnow == full


def test_exact_span_coverage_unions_overlaps(spark):
    """X129: overlapping spans may not double-count covered chars, and
    span-free docs report coverage 0.0."""
    # doc 0 and doc 1 share a 60-char passage; doc 0 and doc 2 share a
    # DIFFERENT 45-char passage that overlaps the first inside doc 0
    p = "abcdefghij klmnopqrst uvwxyzabcd efghijklmn opqrstuvwx"  # 55 chars
    docs = spark.createDataFrame(
        [
            (0, p + "yz TAIL0"),
            (1, p + "yz OTHER"),          # shares p+"yz " (57 chars) with doc 0
            (2, "HEAD2 " + p[:45] + "!"),  # shares p's first 45 chars with doc 0
            (3, "no shared passage whatsoever in this document body"),
        ],
        "doc_id long, text string",
    )
    spans = ops_dedup.exact_dup_spans(docs, min_len=40)
    cov = {
        r["doc_id"]: r
        for r in ops_dedup.exact_span_coverage(docs, spans=spans).collect()
    }
    assert set(cov) == {0, 1, 2, 3}
    assert cov[3]["covered_chars"] == 0 and cov[3]["coverage"] == 0.0
    # doc 0's two spans overlap: union is span(0,1) alone (the (0,2)
    # span is a prefix subset of it), so covered == that span's length
    s01 = [
        r for r in spans.collect() if (r["id_a"], r["id_b"]) == (0, 1)
    ]
    assert len(s01) == 1
    assert cov[0]["covered_chars"] == s01[0]["span_len"]
    # no double counting: covered never exceeds n_chars
    for r in cov.values():
        assert 0 <= r["covered_chars"] <= r["n_chars"]
        assert abs(r["coverage"] - round(r["covered_chars"] / max(r["n_chars"], 1), 6)) < 1e-9


def test_doc_novelty_planted(spark):
    """X136: doc 1 introduces every gram (novelty 10⁶); doc 2 repeats
    doc 1 verbatim (novelty 0); doc 3 shares a prefix but adds a new
    tail gram. Short docs still yield one (short) gram — the shingle-set
    rule of ``graph_loom_spark.ops``."""
    from graph_loom_spark.ops.dedup import doc_novelty

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),          # grams: 'a b c','b c d' — both new
            (2, "a b c d"),          # same grams, first seen in doc 1
            (3, "a b c x"),          # 'a b c' old, 'b c x' new
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["n_grams"], r["n_novel"], r["novelty_micro"])
           for r in doc_novelty(docs).collect()}
    assert out[1] == (2, 2, 1_000_000)
    assert out[2] == (2, 0, 0)
    assert out[3] == (2, 1, 500_000)


def test_dedup_keep_best_prefers_quality_over_first_seen(spark):
    """X137: docs 1 and 2 are near-dups; doc 2 has higher quality (long
    alphabetic text) while doc 1 is first-seen junk — keep-best must
    flip the canonical choice dedup_clusters would make; singleton doc
    3 keeps itself."""
    from pyspark.sql import functions as F

    from graph_loom_spark.ops.dedup import dedup_keep_best, dedup_clusters

    # doc 1's single 400-char "word" pushes mean word length past the
    # 12-char quality rule (score 2) while adding only ~2 shingles, so
    # Jaccard with doc 2 stays ~0.64 (offline-verified); doc 2 scores 3
    good = "the quick brown fox jumps over the lazy dog " * 6
    docs = spark.createDataFrame(
        [
            (1, good + "z" * 400),
            (2, good + "and runs far away"),
            (3, "completely different content here nothing shared"),
        ],
        "doc_id long, text string",
    )
    # sanity: 1 and 2 really cluster together
    cl = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(docs).collect()}
    assert cl[1] == cl[2] != cl[3]
    out = {r["doc_id"]: (r["cluster_id"], r["quality_score"], r["is_kept"])
           for r in dedup_keep_best(docs).collect()}
    assert out[2][2] and not out[1][2]      # higher-quality doc 2 kept
    assert out[2][1] > out[1][1]
    assert out[3][2]                        # singleton keeps itself
    # exactly one keeper per cluster
    assert sum(1 for v in out.values() if v[2]) == 2
    # custom quality frame flips the choice back
    q = spark.createDataFrame([(1, 9), (2, 0), (3, 0)], "doc_id long, quality_score int")
    out2 = {r["doc_id"]: r["is_kept"] for r in dedup_keep_best(docs, quality=q).collect()}
    assert out2[1] and not out2[2]
    # ADVICE r10 #2: a quality frame that does NOT cover every
    # clustered id must not drop docs — uncovered docs rank at -inf
    # and the exactly-one-keeper invariant holds. ADVICE r12 #5:
    # uncovered docs REPORT quality_score NULL (not 0), so the frame
    # distinguishes "scored 0" from "unscored".
    partial = spark.createDataFrame([(2, 5)], "doc_id long, quality_score int")
    out3 = {r["doc_id"]: (r["quality_score"], r["is_kept"])
            for r in dedup_keep_best(docs, quality=partial).collect()}
    assert set(out3) == {1, 2, 3}           # nobody dropped
    assert out3[1] == (None, False) and out3[2] == (5, True)
    assert out3[3] == (None, True)          # unscored singleton keeps itself
    assert sum(1 for v in out3.values() if v[1]) == 2


def test_dedup_report_planted(spark):
    """X143: two near-dup docs + one singleton → one size-2 cluster
    (1 removed) and one size-1 cluster (0 removed)."""
    from graph_loom_spark.ops.dedup import dedup_report

    good = "the quick brown fox jumps over the lazy dog " * 6
    docs = spark.createDataFrame(
        [(1, good), (2, good + "tail"), (3, "completely different words here")],
        "doc_id long, text string",
    )
    out = {r["cluster_size"]: (r["n_clusters"], r["n_docs"], r["n_removed"])
           for r in dedup_report(docs).collect()}
    assert out[2] == (1, 2, 1)
    assert out[1] == (1, 1, 0)


def test_exact_dup_spans_pairs_and_gram_df_cap_corpus_wide(spark):
    """ADVICE r11 #2: when ``pairs`` and ``max_gram_df`` combine, the
    df cap is CORPUS-WIDE — a passage present in every document is
    boilerplate even if only two of its hosts are in the candidate
    set. Under the old (post-semi-join) order the boilerplate's df
    among candidates {0,1} would be 2 ≤ cap and it would survive."""
    boiler = "this exact boilerplate header appears in every single document"
    rare = "only these two documents share this one particular sentence"
    docs = spark.createDataFrame(
        [(i, boiler + f" body {i} " + (rare if i < 2 else "")) for i in range(6)],
        "doc_id long, text string",
    )
    only01 = spark.createDataFrame([(0, 1)], "x long, y long")
    combo = ops_dedup.exact_dup_spans(
        docs, min_len=40, max_gram_df=2, pairs=only01
    ).collect()
    # exactly the rare span for (0,1); the corpus-wide-df boilerplate
    # span is gone even though its candidate-subset df is 2
    assert {(r["id_a"], r["id_b"]) for r in combo} == {(0, 1)}
    assert len(combo) == 1
    assert combo[0]["span_len"] == len(rare) + 1  # + the shared leading space
    # and the composition still equals "capped full, restricted to the
    # pair" — the exactness-preservation contract of the prefilter
    capped_full = ops_dedup.exact_dup_spans(docs, min_len=40, max_gram_df=2)
    restricted = sorted(
        map(tuple, capped_full.filter("id_a = 0 AND id_b = 1").collect())
    )
    assert sorted(map(tuple, combo)) == restricted


def test_dedup_keep_best_negative_scores_beat_unscored(spark):
    """ADVICE r11 #3: an UNSCORED doc ranks below every scored doc —
    including negative scores. With quality {1: -5} and doc 2 unscored,
    doc 1 must win keep-best (the old coalesce-to-0 floor let the
    unscored doc's 0 outrank -5); doc 2 reports score NULL (ADVICE
    r12 #5 — unscored is visibly distinct from scored-0)."""
    from graph_loom_spark.ops.dedup import dedup_keep_best

    good = "the quick brown fox jumps over the lazy dog " * 6
    docs = spark.createDataFrame(
        [(1, good), (2, good + "and runs far away"),
         (3, "completely different content here nothing shared")],
        "doc_id long, text string",
    )
    q = spark.createDataFrame([(1, -5)], "doc_id long, quality_score int")
    out = {r["doc_id"]: (r["quality_score"], r["is_kept"])
           for r in dedup_keep_best(docs, quality=q).collect()}
    assert out[1] == (-5, True)        # scored, even negatively → wins
    assert out[2] == (None, False)     # unscored: reported NULL, ranked -inf
    assert out[3] == (None, True)      # unscored singleton keeps itself
    assert sum(1 for v in out.values() if v[1]) == 2
    # two scored negatives: the LESS negative one wins
    q2 = spark.createDataFrame(
        [(1, -5), (2, -2)], "doc_id long, quality_score int"
    )
    out2 = {r["doc_id"]: r["is_kept"]
            for r in dedup_keep_best(docs, quality=q2).collect()}
    assert out2[2] and not out2[1]


def test_op_internal_persists_do_not_accumulate(spark):
    """Ownership contract (VERDICT r13 ask #6 / ADVICE r13 #1): the only
    pinned block an op call leaves behind is its RETURNED frame; the
    op-internal caches (banded fingerprints, jaccard prefix + shingle
    checkpoint, exact-span gram stream) are released inside the op. A
    caller loop that frees each returned frame must leave the session's
    persistent-RDD set exactly where it started."""
    from pyspark.sql import functions as F

    from graph_loom_spark.ops import dedup as ops_dedup

    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.array(*[F.md5(((F.col("id") % 7) * 31 + i).cast("string")) for i in range(8)]),
        ).alias("text"),
    )
    sig = ops_dedup.simhash_md5(docs)

    def pinned():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    baseline = pinned()
    for _ in range(10):
        for result in (
            ops_dedup.simhash_near_pairs(sig, max_hamming=3, bits=60),
            ops_dedup.ngram_jaccard_pairs(docs, threshold=0.3),
            ops_dedup.exact_dup_spans(docs, min_len=20),
        ):
            result.count()  # a terminal action, like any caller's
            # caller releases the returned frame: the checkpointed block
            # IS the analyzed plan's LogicalRDD (df.rdd would wrap it in
            # a fresh conversion RDD and unpersist that no-op instead)
            result._jdf.queryExecution().analyzed().rdd().unpersist(True)
    # no NEW pins (subset, not equality: in a full-suite session the
    # async ContextCleaner may release OTHER tests' dead blocks from the
    # baseline snapshot while this loop runs)
    assert pinned() - baseline == set()
