"""The emb_pq_topk diagnostics loop (VERDICT r7 ask #1): the pinned
codebook digest must match the fit, a mismatch must trigger exactly one
refit (never a crash), and every run must leave a value-level diag file."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

SF_DIR = "/root/testdata/sf0.001"
ENTRY_PATH = os.path.abspath(os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py"))


@pytest.fixture()
def entry():
    spec = importlib.util.spec_from_file_location("entry_under_test", ENTRY_PATH)
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def test_pq_fit_matches_pinned_digest(spark, entry):
    _, books = entry._pq_index(spark, SF_DIR)
    from graph_loom_spark.ops import simsearch as sim

    got = sim.pq_codebooks_md5(books)
    assert got == entry._PQ_EXPECTED_MD5["sf0.001"]
    assert sim.LAST_PQ_MD5 == got  # bench reads this


def test_pq_digest_mismatch_refits_once_and_proceeds(spark, entry, capsys):
    entry.reset_memo("emb_pq_topk")
    real = entry._PQ_EXPECTED_MD5["sf0.001"]
    entry._PQ_EXPECTED_MD5["sf0.001"] = "0" * 32  # force the mismatch path
    try:
        codes, books = entry._pq_index(spark, SF_DIR)
        assert codes.count() > 0 and len(books) == 4
        err = capsys.readouterr().err
        assert "DIGEST MISMATCH" in err and "STILL DIVERGED" in err
        # exactly one refit: two fit digests printed after the first
        assert err.count("[pq_fit] codebooks md5=") == 2
    finally:
        entry._PQ_EXPECTED_MD5["sf0.001"] = real
        entry.reset_memo("emb_pq_topk")


def test_pq_refit_frees_the_diverged_codes(spark, entry, monkeypatch):
    """A digest mismatch refits once and frees the diverged fit's codes
    block: the memo keeps one codes block pinned, not two."""
    persisted = lambda: set(dict(spark.sparkContext._jsc.getPersistentRDDs()))  # noqa: E731
    entry.reset_memo("emb_pq_topk")
    monkeypatch.setitem(entry._PQ_EXPECTED_MD5, "sf0.001", "0" * 32)
    try:
        before = persisted()
        codes, _ = entry._pq_index(spark, SF_DIR)
        assert persisted() - before == {codes._jdf.queryExecution().analyzed().rdd().id()}
    finally:
        entry.reset_memo("emb_pq_topk")


def test_pq_topk_writes_value_level_diag(spark, entry):
    df = entry._q_emb_pq_topk(spark, SF_DIR)
    rows = [[int(r[0]), int(r[1])] for r in df.collect()]
    path = os.path.join(os.path.dirname(ENTRY_PATH), "assets", "diag", "emb_pq_topk_sf0.001.json")
    diag = json.load(open(path))
    assert diag["codebooks_md5"] == entry._PQ_EXPECTED_MD5["sf0.001"]
    assert diag["expected_md5"] == entry._PQ_EXPECTED_MD5["sf0.001"]
    assert diag["rows"] == rows  # the file IS the engine's answer
