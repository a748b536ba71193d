"""An op that fails mid-loop must leave the session as it found it: its
``spark.sql.shuffle.partitions`` override restored and none of its
intermediate checkpoints still pinned."""

from __future__ import annotations

import pytest

from graph_loom_spark.ops import bpe as ops_bpe
from graph_loom_spark.ops import simsearch as sim

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
