"""Physical-plan regression tests: the scale-critical plan properties —
predicate pushdown through the property-map projection, broadcast of
small dimensions, anti-join set-ops, partial aggregation, hash-keyed
shuffles, and the absence of cartesian products — are asserted on the
executed plans so a refactor cannot silently regress them."""

from __future__ import annotations

import importlib.util
import os
import re

import pytest

SF_DIR = "/root/testdata/sf0.001"

_spec = importlib.util.spec_from_file_location(
    "spark_entry", os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py")
)
_entry = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_entry)


def _plan(spark, name: str) -> str:
    df = _entry.queries()[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_label_scan_pushes_property_filter_into_parquet(spark):
    plan = _plan(spark, "cypher_label_scan")
    # properties["c_mktsegment"] == 'BUILDING' must collapse back to the
    # raw column and reach the scan as a parquet filter
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "CartesianProduct" not in plan


def test_revenue_join_broadcasts_small_dimension(spark):
    plan = _plan(spark, "agg_revenue_by_nation")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_setop_uses_anti_join_not_nested_loop(spark):
    plan = _plan(spark, "setop_customers_no_orders")
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_exact_dedup_shuffles_hash_key_not_text(spark):
    plan = _plan(spark, "docs_exact_dedup")
    assert plan.count("HashAggregate") >= 2  # map-side partial combine
    assert "xxhash64" in plan
    # the exchange must partition on the compact hash key, never the text
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line


def test_near_dup_and_multi_pattern_have_no_cartesian(spark):
    for name in ["emb_near_dup", "cypher_multi_pattern", "events_asof_join"]:
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        # the only tolerated nested-loop join is the Cypher executor's
        # 1-row binding-table seed (Range(0,1) — the reference's
        # `rows = vec![{}]`); anything else is a real blow-up
        bnlj = plan.count("BroadcastNestedLoopJoin")
        seed = plan.count("Range (0, 1, step=1")
        assert bnlj <= seed, f"{name}: non-seed nested-loop join\n{plan[:2000]}"


def test_layout_step_com_is_single_row_broadcast_not_cartesian(spark):
    """The center-of-mass gravity term in force_layout's per-iteration
    plan must be a 1-row broadcast (BroadcastNestedLoopJoin over the
    1-row COM aggregate), never a CartesianProduct and never a driver
    round-trip — asserted on the compiled step plan itself."""
    from pyspark.sql import functions as F

    from graph_loom_spark import analytics
    from graph_loom_spark.io.tpch_graph import build_graph

    g = build_graph(spark, SF_DIR, cache=False)
    pos = g.nodes.select(
        "id", F.lit(0.0).alias("x"), F.lit(0.0).alias("y"),
        F.lit(0.0).alias("vx"), F.lit(0.0).alias("vy"),
    )
    hub = g.nodes.select("id", F.lit(1.0).alias("hub"))
    step = analytics._layout_step(
        pos, g.edges.select("src", "dst"), hub,
        target_dist=120.0, spring_k=4.0, damping=6.0, min_sep=90.0,
        repulse_k=10.0, max_speed=600.0, max_step=5.0, gravity_k=0.5, dt=0.033,
    )
    plan = step._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1  # the 1-row COM join


def test_asof_join_is_single_keyed_shuffle(spark):
    plan = _plan(spark, "events_asof_join")
    exchanges = [
        line for line in plan.splitlines() if "Exchange hashpartitioning" in line
    ]
    # union-tag + window: everything funnels through user_id partitioning,
    # (clicks dedupe pre-aggregates on (user_id, ts) — also keyed)
    assert exchanges, "expected a keyed exchange"
    assert all("user_id" in e for e in exchanges)


def test_winnow_is_single_scan_no_shuffle(spark):
    # the whole fingerprint pipeline is array expressions + explode —
    # any Exchange would mean the per-doc dedupe leaked into a shuffle
    plan = _plan(spark, "docs_winnow")
    assert "Exchange" not in plan
    assert "CartesianProduct" not in plan


def test_repetition_shuffles_bigram_hash_not_text(spark):
    plan = _plan(spark, "docs_repetition")
    assert plan.count("HashAggregate") >= 2  # partial + final on bigrams
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line


def test_pii_and_bpe_are_narrow_scans(spark):
    for name in ("docs_pii", "docs_bpe_tokens"):
        plan = _plan(spark, name)
        assert "Exchange" not in plan, name
        # column pruning: only doc_id + text leave the scan
        assert "n_chars" not in plan.split("ReadSchema")[-1], name


def test_dup_ngram_coverage_shuffles_hashes_not_text(spark):
    plan = _plan(spark, "docs_dup_spans")
    assert "CartesianProduct" not in plan
    assert "xxhash64" in plan
    # every exchange carries gram hashes / ids — document text must stay
    # in the narrow pre-shuffle projection
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line
    assert plan.count("HashAggregate") >= 2  # partial + final gram counts


def test_pack_sequences_single_window_exchange_no_text(spark):
    plan = _plan(spark, "docs_pack")
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    # exactly one shuffle: the per-shard window partitioning; and it must
    # carry (id, shard, count), never the document text
    exchanges = [
        line for line in plan.splitlines() if "Exchange hashpartitioning" in line
    ]
    assert len(exchanges) == 1
    assert "text" not in exchanges[0]


def test_gopher_quality_is_narrow_scan(spark):
    plan = _plan(spark, "docs_gopher")
    # pure codegen'd projection: no exchange at all, and the root Project
    # carries the `*(n)` whole-stage-codegen marker (a filter() HOF
    # lambda would knock it out — see the regex comment in ops/text.py)
    assert "Exchange" not in plan
    assert plan.lstrip().startswith("*(")
    assert "lambdafunction" not in plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed by the join key into the same bucket count
    must sort-merge join with NO exchange on either side — the pay-the-
    shuffle-once-at-write layout for repeated 100 TB fact joins."""
    from graph_loom_spark.io.bucketed import bucketed_join, write_bucketed

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    write_bucketed(orders, "t_orders_b", "o_orderkey", 4, path=str(tmp_path / "o"))
    write_bucketed(
        lineitem, "t_lineitem_b", "o_orderkey", 4, path=str(tmp_path / "l")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = bucketed_join(spark, "t_orders_b", "t_lineitem_b", "o_orderkey")
        assert j.count() > 0
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # control: the same join on the raw (unbucketed) frames DOES shuffle
        raw = spark.read.parquet(f"{SF_DIR}/orders.parquet").join(
            spark.read.parquet(f"{SF_DIR}/lineitem.parquet").withColumnRenamed(
                "l_orderkey", "o_orderkey"
            ),
            "o_orderkey",
        )
        raw.count()
        raw_plan = raw._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in raw_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_split_and_chunks_are_pure_narrow_scans(spark):
    """train_split and chunk_documents claim scan-speed narrow plans —
    any Exchange would contradict the 100 TB story in their docstrings."""
    for name in ("docs_split", "docs_chunks"):
        plan = _plan(spark, name)
        assert "Exchange" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_props_stats_parses_json_in_partial_agg(spark):
    """Schema-on-read rollup: the JSON parse feeds a partial (map-side)
    aggregate — one exchange on the group key, no pre-flattening pass."""
    plan = _plan(spark, "events_props_stats")
    assert plan.count("Exchange") == 1
    assert "get_json_object" in plan or "GetJsonObject" in plan


def test_interval_join_entry_is_hash_join(spark):
    plan = _plan(spark, "events_interval_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_pq_search_scans_codes_only(spark):
    """PQ/ADC search must be a narrow scan over the CODES frame (small
    ints), never the embedding vectors: the executed plan is a
    TakeOrdered over the checkpointed codes with no join/cartesian at
    all, and no embedding column in the scan."""
    plan = _plan(spark, "emb_pq_topk")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # the score is a pure per-row lookup expression
    assert "embedding" not in plan


def test_source_cap_prefilters_before_window(spark):
    """The capping window must consume the keyspace-prefiltered survivor
    union, not the raw table: the executed plan keeps the md5-threshold
    filter below the window and broadcasts the tiny count/rescue sides."""
    plan = _plan(spark, "docs_source_cap")
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # counts + rescue joins broadcast


def test_bm25_has_no_full_vocab_shuffle_or_smj(spark):
    """BM25 must build the inverted index only for the queried terms:
    the term-df and stats frames broadcast (no sort-merge join), and
    the exploded token stream is filtered to the query set before any
    exchange."""
    plan = _plan(spark, "docs_bm25")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # the only exchanges are the tf/df aggregations over already
    # query-filtered hits + the final TakeOrdered — a full-vocabulary
    # shuffle would add hashpartitioning on the raw token column of the
    # unfiltered explode
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 2


def test_sq_topk_is_scan_plus_takeordered(spark):
    """int8 SQ search: one narrow scan scoring against the broadcast
    quantized probe — no join, no shuffle beyond TakeOrdered's."""
    plan = _plan(spark, "emb_sq_topk")
    assert "TakeOrderedAndProject" in plan
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert bad not in plan, bad


def test_corpus_report_is_single_aggregate_tree(spark):
    """Per-source corpus report: expand + two-phase hash aggregate, no
    joins or windows anywhere."""
    plan = _plan(spark, "docs_corpus_report")
    assert plan.count("HashAggregate") >= 2  # partial + final
    for bad in ("Join", "Window", "CartesianProduct"):
        assert bad not in plan, bad


def test_classifier_is_pure_narrow_scan(spark):
    # hashed linear classifier: no join, no KEYED shuffle — one
    # codegen'd projection over the parquet scan. The single tolerated
    # exchange is spread()'s round-robin widening (r10: the md5 fold
    # ran single-task on a one-file local input; no-op on inputs that
    # already have ≥ core-count splits).
    plan = _plan(spark, "docs_classifier")
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("Exchange") <= 1
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_moore_lewis_broadcasts_models_single_scan(spark):
    # both trigram LMs must reach the scoring pass as broadcast joins
    # (the model frames are ≤ alphabet³ rows); the corpus is exploded
    # from ONE parquet scan and never sort-merge-joined
    plan = _plan(spark, "docs_moore_lewis")
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet") == 1


def test_dsir_broadcasts_bucket_ratios_single_scan(spark):
    # the ≤ n_buckets-row log-ratio frame must broadcast back onto the
    # exploded features; no sort-merge join, one corpus scan
    plan = _plan(spark, "docs_dsir")
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet") == 1


def test_bloom_probe_has_no_join_or_broadcast_exchange(spark):
    # the Bloom filter ships as a literal array in the projection: the
    # probe side must not join, broadcast, or shuffle document data
    plan = _plan(spark, "docs_bloom_contamination")
    assert "Join" not in plan
    assert "BroadcastExchange" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_cms_probe_joins_broadcast_grid_with_partial_agg(spark):
    # the d*w counter grid is the broadcast side; counters are built in
    # a partial-aggregable groupBy (map-side combine before the tiny
    # shuffle)
    plan = _plan(spark, "docs_cms_topk")
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_source_overlap_shuffles_shingles_broadcasts_sizes(spark):
    # pair counts come from the shingle-keyed equi-join; the per-source
    # size frames are broadcast, and nothing degenerates to cartesian
    plan = _plan(spark, "docs_source_overlap")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lpa_round_shape_is_exchange_free_over_persisted_weights(spark):
    # the LPA-round invariant behind analytics.weighted_label_propagation's
    # broadcast path: weights persisted partitioned by u -> broadcast join
    # + both aggregations (groupBy(u,c), groupBy(u)) reuse the partitioning,
    # so a round plans ZERO exchanges outside the cached subtree.
    # (localCheckpoint would drop outputPartitioning and re-shuffle twice.)
    from pyspark.sql import functions as F

    w = spark.range(2000).select(
        (F.col("id") % 100).alias("u"), (F.col("id") % 70).alias("v"), F.lit(1.0).alias("w")
    )
    comm = spark.range(70).select(
        F.col("id").alias("v"), (F.col("id") % 7).alias("c"),
        F.col("id").cast("string").alias("cstr"),
    )
    wp = w.repartition(4, "u").persist()
    try:
        wp.count()
        best = (
            wp.join(F.broadcast(comm), "v")
            .groupBy("u", "c")
            .agg(F.sum("w").alias("score"), F.first("cstr").alias("cstr"))
            .groupBy("u")
            .agg(F.max("score").alias("m"))
        )
        plan = best._jdf.queryExecution().executedPlan().toString()
        outside_cache = plan.split("InMemoryRelation")[0]
        assert "Exchange" not in outside_cache
        assert "InMemoryTableScan" in plan
    finally:
        wp.unpersist()


def test_hits_pass_is_exchange_free_over_persisted_edges(spark):
    # the HITS-pass invariant behind analytics.hits's broadcast path:
    # edges persisted partitioned by the pass's GROUP key + the score
    # frame broadcast -> the contribution aggregate reuses the cached
    # partitioning, zero exchanges outside the cached subtree.
    from pyspark.sql import functions as F

    ed = spark.range(2000).select(
        (F.col("id") % 100).alias("u"), (F.col("id") % 70).alias("v")
    )
    h = spark.range(100).select(F.col("id").alias("nid"), F.lit(10**9).alias("r"))
    ep = ed.repartition(4, "v").persist()
    try:
        ep.count()
        araw = (
            ep.join(F.broadcast(h.select(F.col("nid").alias("u"), "r")), "u")
            .groupBy("v")
            .agg(F.sum("r").alias("s"))
        )
        plan = araw._jdf.queryExecution().executedPlan().toString()
        outside_cache = plan.split("InMemoryRelation")[0]
        assert "Exchange" not in outside_cache
        assert "InMemoryTableScan" in plan
    finally:
        ep.unpersist()


def _outside_cached(plan: str) -> list[str]:
    """The plan's lines minus every ``InMemoryRelation``'s subtree (the
    cached frame's own build plan, deeper-indented under it)."""
    kept, cut = [], None
    for line in plan.splitlines():
        depth = len(line) - len(line.lstrip(" :+-"))
        if cut is not None and depth > cut:
            continue
        cut = depth if "InMemoryRelation" in line else None
        kept.append(line)
    return kept


@pytest.mark.parametrize("seeded", [False, True], ids=["pagerank", "personalized_pagerank"])
def test_rank_iteration_pins_plan_no_hash_exchange(spark, monkeypatch, seeded):
    # the plans of the rank op's own per-iteration pins, captured as they
    # are handed to Scratch.pin (as scripts/dump_iteration_plans.py does):
    # the contrib aggregate reuses the persisted edge frame's
    # v-partitioning, so outside that cached frame only broadcasts and the
    # 1-row dangling-mass aggregate's SinglePartition exchange remain
    from graph_loom_spark import analytics
    from graph_loom_spark.graph import PropertyGraph, Scratch

    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("c", "d"), ("e", "c")]
    g = PropertyGraph(
        spark,
        nodes=spark.createDataFrame([(n,) for n in "abcde"], "id string"),
        edges=spark.createDataFrame(edges, "src string, dst string"),
    )
    plans = []
    pin = Scratch.pin

    def spy(self, df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return pin(self, df)

    monkeypatch.setattr(Scratch, "pin", spy)
    iters = 3
    if seeded:
        analytics.personalized_pagerank(g, g.nodes.filter("id = 'a'"), iters=iters).collect()
    else:
        analytics.pagerank(g, iters=iters).collect()
    for plan in plans[-iters - 1 : -1]:  # the last pin is the kept result
        assert "InMemoryRelation" in plan
        exchanges = [ln for ln in _outside_cached(plan) if "Exchange" in ln]
        assert exchanges, plan
        for ln in exchanges:
            assert "BroadcastExchange" in ln or "Exchange SinglePartition" in ln, plan


def test_token_budget_has_single_boundary_window_no_global_sort(spark):
    # two-phase selection: whole buckets are plain filters; exactly ONE
    # window (the boundary bucket) appears in the plan, and the only
    # sort in the plan is the one feeding that window.
    from pyspark.sql import functions as F

    from graph_loom_spark.ops import text as ops_text

    df = spark.range(500).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 97).alias("weight_sum"),
        (F.col("id") % 13 + 1).alias("ntok"),
    )
    out = ops_text.token_budget_select(df, budget_tokens=1000, n_buckets=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") == 1
    assert plan.count("Sort ") <= plan.count("Window") + 1  # window's own sort only
    assert "CartesianProduct" not in plan
    assert "Union" in plan  # whole-bucket branch unioned with the boundary


def test_containment_and_phash_pairs_have_no_cartesian(spark, monkeypatch):
    # both ops keep their result as an eager checkpoint, whose returned
    # plan is a scan: check the pair join in the plan handed to Scratch.pin
    from graph_loom_spark.graph import Scratch

    plans = []
    pin = Scratch.pin

    def spy(self, df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return pin(self, df)

    monkeypatch.setattr(Scratch, "pin", spy)
    for name in ("docs_containment", "media_phash_pairs"):
        _plan(spark, name)
        plan = plans[-1]
        assert re.search(r"(BroadcastHash|ShuffledHash|SortMerge)Join", plan), name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_length_buckets_and_curriculum_have_no_global_sort(spark):
    # boundary quantiles fold in as a broadcast 1-row frame and bucket
    # assignment is a codegen'd aggregate over the boundary array —
    # neither op may plan a Sort or a window anywhere.
    for name in ("docs_length_buckets", "docs_curriculum"):
        plan = _plan(spark, name)
        assert "Window" not in plan, name
        assert "Sort " not in plan.replace("SortMergeJoin", "SMJ").replace(
            "SortAggregate", "SortAgg"
        ), name
        assert "CartesianProduct" not in plan, name


def test_pq_rerank_broadcasts_candidates_no_cartesian_scan(spark):
    """Stage 2 must fetch candidates via a broadcast (semi) join — never
    a shuffled join of the full corpus — and the probe crossJoin must be
    a broadcast nested loop over ONE row, not a cartesian product."""
    plan = _plan(spark, "emb_pq_rerank")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_knn_label_broadcasts_probes_single_window(spark):
    """The probe set must broadcast against one corpus scan; the
    per-probe top-k is one window, the vote argmax a hash aggregate —
    no cartesian, no sort-merge join."""
    plan = _plan(spark, "emb_knn_label")
    assert "BroadcastNestedLoopJoin" in plan  # bounded probe crossJoin
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final vote agg


def test_cluster_quality_joins_stay_hash_or_broadcast(spark):
    plan = _plan(spark, "emb_cluster_quality")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2


def test_bq_topk_is_single_scan_take_ordered_no_exchange(spark):
    """X119: the Hamming scan must stay one codegen'd projection into
    TakeOrdered — no shuffle, no join anywhere in the plan."""
    plan = _plan(spark, "emb_bq_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_maxsim_broadcasts_probe_partial_aggs_take_ordered(spark):
    """X120: probe vectors broadcast against one corpus scan; both
    reductions are partial-aggregable (map-side combine before each
    exchange); final top-k is TakeOrdered, not a global sort."""
    plan = _plan(spark, "emb_maxsim_topk")
    assert "BroadcastExchange" in plan
    assert plan.count("HashAggregate") >= 4  # partial+final, twice
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_ivfpq_scan_is_literal_lut_no_cartesian(spark):
    """X121: the ADC scan joins only slim code/cell frames; LUTs are
    plan literals (no LUT-table join), ranking is TakeOrdered."""
    plan = _plan(spark, "emb_ivfpq_topk")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_classifier_auc_partial_aggs_before_window(spark):
    """X122: the only data-sized stage is the score groupBy with a
    map-side partial; the rank cumulative runs after aggregation and
    (r9 verdict #2) every window in the plan is PARTITIONED by the
    range bucket — no single-partition sort anywhere."""
    plan = _plan(spark, "docs_classifier_auc")
    assert plan.count("HashAggregate") >= 2
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "Window [" in line:
            assert "__b" in line, f"unpartitioned window: {line}"


def test_classifier_calibration_windows_are_bucket_partitioned(spark):
    """X126 (r9 verdict #2): same property as the AUC plan — the band
    cumulative's window is partitioned by the range bucket, never a
    global single-partition sort."""
    plan = _plan(spark, "docs_classifier_calibration")
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "Window [" in line:
            assert "__b" in line, f"unpartitioned window: {line}"


def test_bpe_token_counts_broadcasts_encoded_vocab(spark):
    """X124 (r9 verdict #3): the occurrences→encoded-vocab join keys on
    the raw word string (zipfian skew); under the 5M gate the vocab
    side must broadcast so no shuffle happens on the skewed key."""
    plan = _plan(spark, "docs_bpe_encode")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # no sort-merge join on the word key in the gated (small-vocab) path
    assert "SortMergeJoin" not in plan


def test_lsh_near_pairs_joins_are_hash_equi_joins(spark):
    """X116b: candidate generation and verify must be equi-joins (no
    nested-loop fallback), with the pair dedup before the verify."""
    plan = _plan(spark, "emb_dup_components_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_exact_spans_window_is_diagonal_partitioned_no_text_shuffle(spark, monkeypatch):
    """X128: the islands window partitions by (pair, diagonal) — never a
    global sort; the full text column never crosses an exchange (only
    the fixed-width gram does)."""
    # the op eagerly checkpoints its result (r14 ownership contract), so
    # the RETURNED plan is a checkpoint scan — capture the span plan as
    # it is handed to localCheckpoint instead
    from graph_loom_spark.ops import dedup as ops_dedup

    captured: list[str] = []
    # patch the CONCRETE class (pyspark 4's classic DataFrame overrides
    # localCheckpoint, so patching the pyspark.sql.DataFrame base misses)
    cls = type(spark.range(1))
    orig = cls.localCheckpoint

    def spy(self, eager=True):
        captured.append(self._jdf.queryExecution().executedPlan().toString())
        return orig(self, eager=eager)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    ops_dedup.exact_dup_spans(
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")), min_len=40
    )
    plan = captured[-1]
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    for line in plan.splitlines():
        if "Window [" in line:
            assert "__diag" in line, f"unpartitioned window: {line}"
        if "Exchange hashpartitioning" in line:
            assert "__t" not in line, f"text crossed a shuffle: {line}"


def test_link_prediction_no_cartesian_no_reshuffled_text(spark):
    """X130: wedge enumeration + score joins are all equi-joins — never
    a cross product / nested-loop fallback; both scores come out of ONE
    grouped pass (a single Exchange on the pair key feeds the agg)."""
    from graph_loom_spark import analytics
    from pyspark.sql import functions as F

    edges = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    edges = (
        edges.filter(F.col("l_orderkey") % 4 == 0)
        .select(F.col("l_partkey").alias("src"), (F.col("l_partkey") + 1).alias("dst"))
    )
    df = analytics.link_prediction_scores(edges)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_degree_no_window_partial_aggs(spark):
    """X144: the k_nn(k) curve is joins + partial aggs only — no window
    anywhere, no cartesian; the neighbor join is an equi-join."""
    plan = _plan(spark, "graph_knn_degree")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final x (deg, per-node/per-class)


def test_gini_windows_are_bucket_partitioned(spark):
    """X146: the only windows are the X82 prefix-sum's, PARTITIONED BY
    the range bucket — never a single-partition global sort."""
    plan = _plan(spark, "events_gini")
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "Window [" in line:
            assert "__b" in line, f"unpartitioned window: {line}"


def test_burstiness_window_partitioned_by_user(spark):
    """X147: the lag window partitions by user — bounded by the busiest
    user, never corpus-sized."""
    plan = _plan(spark, "events_burstiness")
    for line in plan.splitlines():
        if "Window [" in line:
            assert "user_id" in line, f"unpartitioned window: {line}"


def test_zipf_fit_window_only_over_histogram(spark):
    """X148: the cumulative window runs over the per-source count
    HISTOGRAM (partitioned by source, after the m-aggregate) — the
    vocabulary itself is never ranked through a window."""
    plan = _plan(spark, "docs_zipf_fit")
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "Window [" in line:
            assert "source" in line, f"unpartitioned window: {line}"
            # the window's input is the (source, count) histogram: its
            # ordering key is the count column, not a term column
            assert "__t" not in line, f"window touches the term column: {line}"


def test_jsd_drift_inner_join_only_no_outer_vocabulary(spark):
    """X149: the shared-term join is an inner equi-join (the identity
    absorbs one-sided terms) — no outer join materializing the union
    vocabulary, no cartesian on the data path (the |sources|^2 grid is
    aggregate-sized and broadcast)."""
    plan = _plan(spark, "docs_jsd_drift")
    assert "SortMergeJoin LeftOuter" not in plan or "__t" not in plan
    for line in plan.splitlines():
        if "Join" in line and "__t" in line and "Inner" not in line:
            raise AssertionError(f"non-inner join on the term column: {line}")


def test_distinct_ngrams_single_tagged_stream(spark):
    """X153 (VERDICT r11 ask #5): the three per-n gram passes folded
    into ONE (n, gram)-tagged explode feeding one two-phase distinct —
    exactly two exchanges end to end (the gram-level partial-agg and
    the aggregate-sized (source, n) rollup), no per-n union of
    shuffles, no join, no window."""
    plan = _plan(spark, "docs_distinct_ngrams")
    # 2 hash exchanges (+ spread()'s input round-robin, which the old
    # per-n shape paid as well)
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "Union" not in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_hubness_window_partitioned_by_probe(spark):
    """X158: the top-k rank window must be PARTITIONED BY the probe id
    (bounded by candidate degree) — an unpartitioned window would
    serialize the corpus through one task at 100 TB."""
    plan = _plan(spark, "emb_hubness")
    assert "CartesianProduct" not in plan
    saw_window = False
    for line in plan.splitlines():
        if "Window [" in line:
            saw_window = True
            assert "__p" in line, f"unpartitioned window: {line}"
    assert saw_window


def test_web_host_rank_single_parse_no_cartesian(spark):
    """X159: the link-record parse is memoized (localCheckpoint), so
    the final plan must contain exactly ONE MapInPandas (the quality
    pass's html_extract) — a second one means the host-graph edges are
    re-parsing pages. No CartesianProduct; the only nested-loop joins
    tolerated are PageRank's deliberate 1-row dangling-mass
    broadcasts."""
    plan = _plan(spark, "web_host_rank")
    assert "CartesianProduct" not in plan
    assert plan.count("MapInPandas") == 1, plan[:3000]


def test_nb_classifier_trained_weight_join_is_broadcast(spark):
    """X161: the scoring join against the ≤4096-row weight table must
    be a broadcast hash join — a sort-merge join there shuffles the
    corpus-sized token stream by bucket for nothing."""
    plan = _plan(spark, "docs_classifier_trained")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert "CartesianProduct" not in plan


def test_ann_lsh_is_posting_list_join_broadcast_probe_take_ordered(spark):
    """ANN-LSH candidates are a broadcast equi-join on (table, bucket)
    against the probe's bucket list — a posting-list lookup, never a
    scan-side shuffle join; the probe vector reaches the candidates
    through a broadcast nested loop over one row, and the top-k is a
    TakeOrdered."""
    plan = _plan(spark, "emb_ann_lsh")
    assert re.search(r"BroadcastHashJoin \[table#\d+, bucket#\d+L\]", plan)
    assert "BroadcastNestedLoopJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_cosine_topk_is_one_scan_against_broadcast_probe(spark):
    """Exact cosine top-k: one corpus scan scored against the broadcast
    probe row into a TakeOrdered. No keyed shuffle: the one exchange
    allowed is ``spread``'s round-robin widening of a scan narrower than
    the cores (there is none on two cores at sf0.01)."""
    from graph_loom_spark.ops import simsearch as sim

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df = sim.cosine_topk(emb, probe_id=7, k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert set(re.findall(r"\bExchange (\w+)", plan)) <= {"RoundRobinPartitioning"}
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
