"""An op that fails mid-loop must leave the session as it found it: its
``spark.sql.shuffle.partitions`` override restored and none of its
intermediate checkpoints still pinned. An op that succeeds leaves only
the result it returns pinned, in the scope its caller has open."""

from __future__ import annotations

import importlib.util
import os

import pytest

from graph_loom_spark import analytics
from graph_loom_spark.cypher import compiler
from graph_loom_spark.graph import EDGE_SCHEMA, NODE_SCHEMA, PropertyGraph, scratch
from graph_loom_spark.interface import CypherSession
from graph_loom_spark.ops import bpe as ops_bpe
from graph_loom_spark.ops import dedup as ops_dedup
from graph_loom_spark.ops import events as ops_events
from graph_loom_spark.ops import simsearch as sim
from graph_loom_spark.ops import text as ops_text

SF_DIR = "/root/testdata/sf0.001"
CONF = "spark.sql.shuffle.partitions"


def _persisted(spark) -> set:
    return set(dict(spark.sparkContext._jsc.getPersistentRDDs()))


def _assert_failure_cleans_up(spark, monkeypatch, module, step, run):
    """Make ``module.F.<step>`` (only called inside the op's loop) raise,
    run the op, and check conf and pinned blocks are back where they were."""

    def boom(*args, **kwargs):
        raise RuntimeError("injected mid-loop failure")

    saved = spark.conf.get(CONF)
    spark.conf.set(CONF, "3")  # a value neither op would pick itself
    try:
        before = _persisted(spark)
        monkeypatch.setattr(module.F, step, boom)
        with pytest.raises(RuntimeError, match="injected"):
            run()
        monkeypatch.undo()
        assert spark.conf.get(CONF) == "3"
        assert _persisted(spark) <= before
    finally:
        spark.conf.set(CONF, saved)


def test_bpe_train_failure_restores_conf_and_frees_checkpoints(spark, monkeypatch):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    _assert_failure_cleans_up(
        spark,
        monkeypatch,
        ops_bpe,
        "sequence",  # the per-round pair enumeration
        lambda: ops_bpe.bpe_train(docs, num_merges=12),
    )


def test_kmeans_fit_failure_restores_conf_and_frees_checkpoints(spark, monkeypatch):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    _assert_failure_cleans_up(
        spark,
        monkeypatch,
        sim,
        "posexplode",  # the per-iteration centroid update
        lambda: sim.kmeans_fit(emb, k=4, iters=3),
    )


def _ring(spark) -> PropertyGraph:
    """Six nodes on a directed ring with one chord: every node has in- and
    out-edges, and a 3-hop walk needs the var-length hop loop."""
    ids = [f"n{i}" for i in range(6)]
    nodes = spark.createDataFrame([(i, "V", {"name": i}) for i in ids], NODE_SCHEMA)
    pairs = [(ids[i], ids[(i + 1) % 6]) for i in range(6)] + [(ids[0], ids[3])]
    edges = spark.createDataFrame(
        [(f"e{j}", a, b, "E", {}) for j, (a, b) in enumerate(pairs)], EDGE_SCHEMA
    )
    return PropertyGraph(spark, nodes, edges)


# op -> (module whose ``F`` holds the step, a function only the op's loop
# calls, the call)
_LOOP_FAILURES = {
    "pagerank": (analytics, "first", lambda spark, g: analytics.pagerank(g)),
    "personalized_pagerank": (
        analytics,
        "first",  # the per-iteration contrib aggregate
        lambda spark, g: analytics.personalized_pagerank(g, g.nodes.limit(2)),
    ),
    "bfs_distances": (
        analytics, "broadcast", lambda spark, g: analytics.bfs_distances(g.edges)
    ),
    "weighted_sssp": (
        analytics, "when", lambda spark, g: analytics.weighted_sssp(g.edges)
    ),
    # at k=3 the first round peels the four degree-2 ring nodes
    "kcore": (analytics, "broadcast", lambda spark, g: analytics.kcore(g.edges, k=3)),
    "connected_components": (
        analytics, "least", lambda spark, g: analytics.connected_components(g)
    ),
    "hits": (analytics, "sum", lambda spark, g: analytics.hits(g)),
    "weighted_label_propagation": (
        analytics, "first", lambda spark, g: analytics.weighted_label_propagation(g)
    ),
    "pq_fit": (
        sim,
        "posexplode",  # the fused per-iteration codebook update
        lambda spark, g: sim.pq_fit(
            spark.read.parquet(f"{SF_DIR}/embeddings.parquet"), m=4, k=4, iters=3
        ),
    ),
    "cypher_var_length": (
        compiler,
        "broadcast",  # the per-hop frontier probe
        lambda spark, g: CypherSession(g).execute(
            'MATCH (a:V {name:"n0"})-[:E*1..3]->(b:V) RETURN b.name'
        ),
    ),
}


@pytest.mark.parametrize("op", sorted(_LOOP_FAILURES))
def test_failure_restores_conf_and_frees_checkpoints(spark, monkeypatch, op):
    module, step, call = _LOOP_FAILURES[op]
    graph = _ring(spark)
    _assert_failure_cleans_up(spark, monkeypatch, module, step, lambda: call(spark, graph))


def _rdd_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def test_ivfpq_fit_leaves_only_its_codes_pinned(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    assigned, C = sim.kmeans_fit(emb, k=4, iters=2)
    before = _persisted(spark)
    codes, _ = sim.ivfpq_fit(emb, assigned, C, m=4, k=4, iters=2)
    # the residual checkpoint the fit reads must be freed as well, and
    # ``DataFrame.unpersist()`` leaves a checkpoint pinned
    assert _persisted(spark) - before == {_rdd_id(codes)}


def test_ann_topk_over_a_pinned_index_pins_nothing(spark):
    """The caller owns the LSH index: a query over it pins no block of
    its own, which nothing would ever free."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    with scratch(spark) as s:
        index = s.pin(sim.rp_lsh_buckets(emb, dim=64, bits=4, tables=4))
        before = _persisted(spark)
        assert sim.ann_topk(index, probe_id=7, k=10, bits=4).count() == 10
        assert _persisted(spark) == before


# corpus ops that pin an index or a model: a call leaves at most its
# own result pinned (a checkpoint the caller frees)
_RESULT_ONLY = {
    "minhash_lsh_pairs": lambda docs: ops_dedup.minhash_lsh_pairs(
        ops_dedup.minhash_signatures(docs)
    ),
    "containment_pairs": lambda docs: ops_dedup.containment_pairs(docs),
    "trigram_logprob": lambda docs: ops_text.trigram_logprob(docs),
    "moore_lewis_score": lambda docs: ops_text.moore_lewis_score(docs, in_domain_source="src1"),
    "dsir_log_weight": lambda docs: ops_text.dsir_log_weight(docs, target_source="src1"),
}


@pytest.mark.parametrize("op", sorted(_RESULT_ONLY))
def test_corpus_op_leaves_only_its_result_pinned(spark, op):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter("doc_id < 12")
    before = _persisted(spark)
    out = _RESULT_ONLY[op](docs)
    out.collect()
    try:
        own = {_rdd_id(out)}
    except Exception:  # a lazy result owns no block
        own = set()
    assert _persisted(spark) - before <= own


# one op of each convention a result pin had before every pinned block
# got a scope as its owner: op -> (module whose ``F`` holds the step, a
# function first called after the op's pin, the call)
_CALLER_SCOPE_FAILURES = {
    # its per-user frame sat in a private module registry
    "rfm_segments": (
        ops_events,
        "explode",  # the metric melt, after the per-user pin
        lambda spark, docs: ops_events.rfm_segments(
            ops_events.load_events(spark, f"{SF_DIR}/events.parquet")
        ),
    ),
    # its pair set was pinned outside any scope; pagerank then fails mid-loop
    "textrank_keywords": (
        analytics, "first", lambda spark, docs: ops_text.textrank_keywords(docs)
    ),
    # its result was a bare checkpoint; the consumer's components loop fails
    "containment_pairs": (
        analytics,
        "least",
        lambda spark, docs: ops_dedup.dedup_clusters(
            docs, pairs=ops_dedup.containment_pairs(docs)
        ),
    ),
}


@pytest.mark.parametrize("op", sorted(_CALLER_SCOPE_FAILURES))
def test_failure_inside_a_caller_scope_frees_every_pin(spark, monkeypatch, op):
    module, step, call = _CALLER_SCOPE_FAILURES[op]
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter("doc_id < 12")

    def run():
        with scratch(spark):
            call(spark, docs)

    _assert_failure_cleans_up(spark, monkeypatch, module, step, run)


@pytest.fixture(scope="module")
def entry():
    spec = importlib.util.spec_from_file_location(
        "entry_op_cleanup", os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def test_pipeline_funnel_leaves_only_memo_pins(spark, entry):
    """The funnel's two id frames and the near-dup pairs are kept in the
    caller's scope; only the memoized signatures outlive it."""
    entry._minhash_sigs(spark, SF_DIR)
    before = _persisted(spark)
    with scratch(spark):
        entry._q_docs_pipeline_funnel(spark, SF_DIR).collect()
    assert _persisted(spark) - before <= entry.pinned_rdd_ids()


@pytest.mark.parametrize("name", ["cypher_var_length", "emb_pq_topk"])
def test_entry_in_a_scope_leaves_only_memo_pins(spark, entry, name):
    """An entry timed as the bench times it (its own scope, the noop
    sink) leaves no block but its memos' and no cached plan, cold and
    warm: the var-length statement's pins and the persisted top-k go to
    the open scope."""
    fn = entry.queries()[name]
    before = _persisted(spark)
    cached = spark._jsparkSession.sharedState().cacheManager().numCachedEntries()
    for _ in range(2):  # a warm run, then the checked one
        with scratch(spark):
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        assert _persisted(spark) - before <= entry.pinned_rdd_ids()
        assert spark._jsparkSession.sharedState().cacheManager().numCachedEntries() == cached
