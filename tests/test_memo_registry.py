"""The entry layer's memo registry: every ``@_memo`` store is pinned
against block sweeps and emptied by ``reset_caches``, every memo is
read by some registry entry, and the query -> memo map derived from
the code lists the producers each consumer reads."""

from __future__ import annotations

import importlib.util
import os

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def entry():
    spec = importlib.util.spec_from_file_location(
        "entry_memo_registry",
        os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py"),
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def _mapped(entry, name: str) -> set:
    return {id(s) for s in entry._memo_map()[name]}


def _stores(entry, *builders: str) -> set:
    return {id(entry._MEMOS[b]) for b in builders}


def test_memo_frame_is_pinned_and_reset_empties_every_store(spark, entry):
    sigs = entry._bq_sigs(spark, SF_DIR)
    rdd = entry._ckpt_rdd(sigs)
    try:
        assert rdd.id() in entry.pinned_rdd_ids()
        assert entry.memo_warm("emb_bq_topk", SF_DIR)
        entry.reset_caches()
        assert all(not store for store in entry._MEMOS.values())
        assert not entry.memo_warm("emb_bq_topk", SF_DIR)
    finally:
        rdd.unpersist(False)


def test_every_memo_is_reached_by_a_query(entry):
    reached = {id(s) for stores in entry._memo_map().values() for s in stores}
    unreached = [b for b, s in entry._MEMOS.items() if id(s) not in reached]
    assert not unreached


def test_derived_memo_map_spot_rows(entry):
    assert _mapped(entry, "emb_ann_eval") == _stores(
        entry, "_lsh_index", "_cosine_exact"
    )
    assert _mapped(entry, "graph_components") == _stores(
        entry, "_components", "_gtopo_frames"
    )
    assert _mapped(entry, "emb_index_eval") == _stores(
        entry,
        "_ivf_quantizer",
        "_pq_index",
        "_lsh_index",
        "_ivfpq_index",
        "_bq_sigs",
        "_cosine_exact",
    )
    assert "events_rfm" not in entry._memo_map()  # its pin is its caller's
