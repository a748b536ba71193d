"""Streaming/batch parity: the streaming operators drained with
Trigger.AvailableNow must agree with their batch twins on the same files."""

from __future__ import annotations

import pytest

from graph_loom_spark.ops import events as batch_events
from graph_loom_spark.streaming import events_stream as se

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_path(tmp_path_factory):
    """File-source streams need a *directory*; the driver testdata is a
    single parquet file — stage it into one."""
    d = tmp_path_factory.mktemp("events_stream")
    (d / "part-0.parquet").write_bytes(open(f"{SF_DIR}/events.parquet", "rb").read())
    return str(d)


def test_stream_hourly_matches_batch(spark, events_path):
    stream = se.read_events_stream(spark, events_path)
    se.run_available_now(se.stream_hourly_agg(stream), "hourly_t")
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM hourly_t").collect()
    }
    batch = batch_events.hourly_agg(batch_events.load_events(spark, events_path))
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in batch.collect()
    }
    assert got == want


def test_stateful_sessionize_closed_sessions(spark, events_path):
    """applyInPandasWithState sessionizer: every session closes except a
    user's trailing one, which stays in state until the event-time
    timeout — the final watermark advance may or may not fire it, so
    emitted rows land in [total - n_users, total], one per (user, start)."""
    stream = se.read_events_stream(spark, events_path)
    se.run_available_now(
        se.stream_sessionize_stateful(stream), "sessions_state_t", output_mode="append"
    )
    got = spark.sql("SELECT * FROM sessions_state_t").collect()
    ev = batch_events.load_events(spark, events_path)
    want_total = sum(
        r["n_sessions"] for r in batch_events.sessionize(ev).collect()
    )
    n_users = ev.select("user_id").distinct().count()
    assert want_total - n_users <= len(got) <= want_total
    assert len({(r["user_id"], r["session_start"]) for r in got}) == len(got)
    assert all(r["n_events"] >= 1 and r["session_end"] >= r["session_start"] for r in got)


def test_stream_enrich_matches_batch_join(spark, events_path):
    """Stream-static enrichment ≡ the same broadcast join run as batch,
    row-for-row, including left-join nulls for users missing from the
    dim table."""
    from pyspark.sql import functions as F

    dim = (
        batch_events.load_events(spark, events_path)
        .select("user_id")
        .distinct()
        .filter(F.col("user_id") % 2 == 0)  # half the users have a profile
        .withColumn("tier", F.when(F.col("user_id") % 4 == 0, "gold").otherwise("basic"))
    )
    stream = se.read_events_stream(spark, events_path)
    # stateless projection stream → append mode (complete is only for aggs)
    se.run_available_now(se.stream_enrich(stream, dim), "enriched_t", output_mode="append")
    got = {
        (r["event_id"], r["tier"])
        for r in spark.sql("SELECT event_id, tier FROM enriched_t").collect()
    }
    batch = {
        (r["event_id"], r["tier"])
        for r in se.stream_enrich(
            batch_events.load_events(spark, events_path), dim
        ).collect()
    }
    assert got == batch and len(got) > 0
    assert any(t is None for _, t in got)  # left-join semantics kept


def test_stream_interval_join_matches_batch(spark, events_path):
    """Streaming bucketed interval join ≡ the batch operator on the same
    files and the same static interval set."""
    from pyspark.sql import functions as F

    from graph_loom_spark.ops.events import interval_join, session_intervals

    ev = batch_events.load_events(spark, events_path)
    iv = (
        session_intervals(ev.filter(F.col("user_id") % 7 == 0))
        .select(
            F.col("user_id").alias("iv_user"),
            F.col("session_start").alias("start"),
            F.col("session_end").alias("end"),
        )
    )
    stream = se.read_events_stream(spark, events_path)
    se.run_available_now(
        se.stream_interval_join(stream, iv).select("event_id", "iv_user", "start"),
        "iv_join_t",
        output_mode="append",
    )
    got = {
        (r["event_id"], r["iv_user"], r["start"])
        for r in spark.sql("SELECT * FROM iv_join_t").collect()
    }
    batch = {
        (r["event_id"], r["iv_user"], r["start"])
        for r in interval_join(ev, iv, ts_col="ts", start_col="start", end_col="end")
        .select("event_id", "iv_user", "start")
        .collect()
    }
    assert got == batch and len(got) > 0


def test_stream_sessionize_matches_batch_counts(spark, events_path):
    stream = se.read_events_stream(spark, events_path)
    se.run_available_now(se.stream_sessionize(stream), "sessions_t")
    rows = spark.sql(
        "SELECT user_id, count(*) AS n_sessions FROM sessions_t GROUP BY user_id"
    ).collect()
    got = {r["user_id"]: r["n_sessions"] for r in rows}
    batch = batch_events.sessionize(batch_events.load_events(spark, events_path))
    want = {r["user_id"]: r["n_sessions"] for r in batch.collect()}
    assert got == want


# ---------------------------------------------------------------------------
# streaming exact dedup (ingestion twin of ops.dedup.exact_dedup)
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def docs_path(tmp_path_factory):
    d = tmp_path_factory.mktemp("docs_stream")
    (d / "part-0.parquet").write_bytes(
        open(f"{SF_DIR}/documents.parquet", "rb").read()
    )
    return str(d)


def test_stream_exact_dedup_matches_batch_distinct(spark, docs_path):
    from graph_loom_spark.streaming import docs_stream as sd

    stream = sd.read_docs_stream(spark, docs_path)
    se.run_available_now(
        sd.stream_exact_dedup(stream), "docs_dedup_t", output_mode="append"
    )
    got = spark.sql("SELECT * FROM docs_dedup_t")
    batch = spark.read.parquet(docs_path)
    # one surviving row per distinct text, each a real document row
    assert got.count() == batch.select("text").distinct().count()
    assert got.select("text").distinct().count() == got.count()
    assert (
        got.join(batch, ["doc_id", "text"], "left_anti").count() == 0
    )  # every emitted row exists in the source


def test_stream_minhash_dedup_matches_batch(spark, tmp_path):
    """Incremental LSH dedup drained in id-ordered micro-batches must
    accumulate exactly the batch rule: keep doc d iff minhash_lsh_pairs
    over the WHOLE corpus has no pair (a, d) with a < d."""
    import os
    import time

    from graph_loom_spark.ops import dedup as ops_dedup
    from graph_loom_spark.streaming import docs_stream as sd
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    cuts = [ids[len(ids) // 3], ids[2 * len(ids) // 3]]
    src = str(tmp_path / "in")
    os.makedirs(src)
    splits = [
        docs.filter(F.col("doc_id") <= cuts[0]),
        docs.filter((F.col("doc_id") > cuts[0]) & (F.col("doc_id") <= cuts[1])),
        docs.filter(F.col("doc_id") > cuts[1]),
    ]
    # one file per split, mtimes strictly increasing so the file source
    # (which orders by timestamp) replays them in id order
    for i, part in enumerate(splits):
        staging = str(tmp_path / f"stage{i}")
        part.coalesce(1).write.parquet(staging)
        fn = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
        dst = f"{src}/part-{i}.parquet"
        os.rename(f"{staging}/{fn}", dst)
        t = time.time() - 100 + i * 10
        os.utime(dst, (t, t))

    stream = sd.read_docs_stream(spark, src, max_files_per_trigger=1)
    q = (
        sd.stream_minhash_dedup(
            stream,
            index_dir=str(tmp_path / "index"),
            out_dir=str(tmp_path / "out"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            threshold=0.3,
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    pairs = ops_dedup.minhash_lsh_pairs(
        ops_dedup.minhash_signatures(docs), threshold=0.3
    )
    dropped = {r["id_b"] for r in pairs.collect()}
    want = set(ids) - dropped
    assert dropped, "corpus should contain planted near-duplicates"
    assert got == want


def test_stream_exact_dedup_within_watermark(spark, tmp_path):
    """Watermark mode: duplicates of a text inside the horizon are
    suppressed even when their timestamps differ."""
    from graph_loom_spark.streaming import docs_stream as sd
    from pyspark.sql import functions as F

    rows = [
        (1, "alpha text", "2024-01-01 10:00:00"),
        (2, "alpha text", "2024-01-01 10:00:05"),  # dup, 5s later
        (3, "beta text", "2024-01-01 10:00:01"),
        (4, "beta text", "2024-01-01 10:59:00"),  # dup, inside 1h horizon
        (5, "gamma text", "2024-01-01 10:00:02"),
    ]
    src = str(tmp_path / "docs_ts")
    (
        spark.createDataFrame(rows, "doc_id long, text string, ts_s string")
        .withColumn("ts", F.col("ts_s").cast("timestamp"))
        .drop("ts_s")
        .write.parquet(src)
    )
    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp").parquet(src)
    )
    se.run_available_now(
        sd.stream_exact_dedup(stream, ts_col="ts", watermark="1 hour"),
        "docs_dedup_wm_t",
        output_mode="append",
    )
    got = spark.sql("SELECT text FROM docs_dedup_wm_t").collect()
    texts = sorted(r["text"] for r in got)
    assert texts == ["alpha text", "beta text", "gamma text"]


def test_minhash_dedup_batch_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-delivering a micro-batch (same
    batch_id) must leave out_dir/index_dir exactly as a single delivery
    would — and must NOT self-collide the replayed docs against the
    signatures their failed first attempt already wrote."""
    from graph_loom_spark.ops import dedup as ops_dedup
    from graph_loom_spark.streaming.docs_stream import _minhash_batch_processor
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    cut = ids[len(ids) // 2]
    b0 = docs.filter(F.col("doc_id") <= cut)
    b1 = docs.filter(F.col("doc_id") > cut)

    index_dir = str(tmp_path / "index")
    out_dir = str(tmp_path / "out")
    process = _minhash_batch_processor(index_dir, out_dir, threshold=0.3)

    process(b0, 0)
    process(b1, 1)
    once_out = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    once_idx = spark.read.parquet(index_dir).count()

    # replay batch 1 (simulated retry after its writes already landed)
    process(b1, 1)
    again_out = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    again_idx = spark.read.parquet(index_dir).count()
    assert again_out == once_out
    assert again_idx == once_idx

    # and the accumulated result still equals the batch first-seen rule
    pairs = ops_dedup.minhash_lsh_pairs(
        ops_dedup.minhash_signatures(docs), threshold=0.3
    )
    dropped = {r["id_b"] for r in pairs.collect()}
    assert dropped, "corpus should contain planted near-duplicates"
    assert once_out == set(ids) - dropped


def test_minhash_batch_processor_frees_its_blocks(spark, tmp_path):
    """A micro-batch of stream_minhash_dedup frees every block it pins,
    the pair frame of its intra-batch pass included: three batches add
    no block to the persisted set (the ContextCleaner may still free
    blocks of earlier tests meanwhile)."""
    from pyspark.sql import functions as F

    from graph_loom_spark.streaming.docs_stream import _minhash_batch_processor

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    process = _minhash_batch_processor(
        str(tmp_path / "index"), str(tmp_path / "out"), threshold=0.3
    )
    before = set(dict(spark.sparkContext._jsc.getPersistentRDDs()))
    for b in range(3):
        process(docs.filter((F.col("doc_id") >= 12 * b) & (F.col("doc_id") < 12 * (b + 1))), b)
    assert set(dict(spark.sparkContext._jsc.getPersistentRDDs())) - before == set()


def test_stream_quality_filter_matches_batch(spark, docs_path):
    """The streaming quality gate is stateless, so a drained stream must
    equal the same expressions applied in batch — row for row, including
    the PII-redacted text."""
    from pyspark.sql import functions as F

    from graph_loom_spark.ops import text as ops_text
    from graph_loom_spark.streaming import docs_stream as sd

    stream = sd.read_docs_stream(spark, docs_path)
    se.run_available_now(
        sd.stream_quality_filter(stream, min_quality=2), "docs_quality_t",
        output_mode="append",
    )
    got = {
        r["doc_id"]: (r["quality_score"], r["text"])
        for r in spark.sql("SELECT * FROM docs_quality_t").collect()
    }

    batch = spark.read.parquet(docs_path)
    q = ops_text.quality_score(batch).select("doc_id", "quality_score")
    rep = ops_text.repetition_stats(batch).select("doc_id", "dup_token_frac")
    scrub = ops_text.pii_scrub(batch).select("doc_id")  # patterns only
    red = batch.select("doc_id", "text")
    from graph_loom_spark.ops.text import PII_PATTERNS

    col = F.col("text")
    for pat, tag in PII_PATTERNS.values():
        col = F.regexp_replace(col, pat, tag)
    red = red.withColumn("text", col)
    want = {
        r["doc_id"]: (r["quality_score"], r["text"])
        for r in q.join(rep, "doc_id")
        .join(red, "doc_id")
        .filter((F.col("quality_score") >= 2) & (F.col("dup_token_frac") <= 0.9))
        .collect()
    }
    assert got == want


def test_stream_anomaly_matches_online_replay(spark, events_path):
    """Stateful streaming anomaly ≡ a pure-Python replay of the same
    online Welford rule over (ts, event_id)-ordered per-user history."""
    import math

    se.run_available_now(
        se.stream_anomaly_stateful(
            se.read_events_stream(spark, events_path), z_thresh=2.0
        ),
        "anom_t",
        output_mode="append",
    )
    got = {
        (r["user_id"], r["event_id"]): r["z"]
        for r in spark.sql("SELECT * FROM anom_t").collect()
    }

    ev = batch_events.load_events(spark, events_path).select(
        "user_id", "event_id", "ts", "value"
    )
    hist = {}
    want = {}
    rows = sorted(
        ev.collect(), key=lambda r: (r["user_id"], r["ts"], r["event_id"])
    )
    for r in rows:
        n, mean, m2 = hist.get(r["user_id"], (0, 0.0, 0.0))
        v = float(r["value"] or 0.0)
        if n >= 5:
            var = m2 / (n - 1)
            if var > 0:
                z = (v - mean) / math.sqrt(var)
                if abs(z) >= 2.0:
                    want[(r["user_id"], r["event_id"])] = round(z, 4)
        n += 1
        delta = v - mean
        mean += delta / n
        m2 += delta * (v - mean)
        hist[r["user_id"]] = (n, mean, m2)
    assert got == want


def test_stream_anomaly_flags_synthetic_spike(spark, tmp_path):
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pd.Timestamp("2024-01-01")
    rows = [
        # user 1: alternating 1/2 history then a 100 spike
        *[
            (i, 1, base + pd.Timedelta(minutes=i), "click", float(1 + i % 2))
            for i in range(8)
        ],
        (8, 1, base + pd.Timedelta(minutes=8), "click", 100.0),
        # user 2: constant values -> zero variance, never flagged
        *[
            (10 + i, 2, base + pd.Timedelta(minutes=i), "click", 5.0)
            for i in range(8)
        ],
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "user_id", "ts", "event_type", "value"]
    )
    pdf["props"] = "{}"
    d = tmp_path / "anom_src"
    d.mkdir()
    pq.write_table(pa.Table.from_pandas(pdf), str(d / "p0.parquet"))

    se.run_available_now(
        se.stream_anomaly_stateful(
            se.read_events_stream(spark, str(d)), z_thresh=3.0
        ),
        "anom_syn_t",
        output_mode="append",
    )
    got = spark.sql("SELECT * FROM anom_syn_t").collect()
    assert len(got) == 1
    assert (got[0]["user_id"], got[0]["event_id"]) == (1, 8)
    assert got[0]["z"] > 3.0


def test_stream_corpus_report_matches_batch(spark, docs_path):
    """Running per-source totals drained over the full source must equal
    the batch corpus_report's incremental columns exactly."""
    from pyspark.sql import functions as F

    from graph_loom_spark.ops import text as ops_text
    from graph_loom_spark.streaming import docs_stream as sd

    stream = sd.read_docs_stream(spark, docs_path)
    se.run_available_now(
        sd.stream_corpus_report(stream), "docs_report_t", output_mode="complete"
    )
    got = {
        r["source"]: (r["n_docs"], r["n_tokens"], r["quality_sum"])
        for r in spark.sql("SELECT * FROM docs_report_t").collect()
    }
    batch = {
        r["source"]: (
            r["n_docs"],
            r["n_tokens"],
            int(round(r["avg_quality"] * r["n_docs"])),
        )
        for r in ops_text.corpus_report(spark.read.parquet(docs_path)).collect()
    }
    assert got == batch


def test_stream_cms_cells_match_batch_grid(spark, docs_path):
    """The streamed count-min grid (bounded d*w state rows) drained over
    the full source must equal the batch operator's counter cells
    exactly — cell-wise counts are incrementally mergeable."""
    from pyspark.sql import functions as F

    from graph_loom_spark.streaming import docs_stream as sd

    stream = sd.read_docs_stream(spark, docs_path)
    se.run_available_now(
        sd.stream_cms_cells(stream, d=4, w=64), "cms_cells_t", output_mode="complete"
    )
    got = {
        (r["j"], r["b"]): r["cnt"]
        for r in spark.sql("SELECT * FROM cms_cells_t").collect()
    }
    assert len(got) <= 4 * 64

    # batch twin: same construction inline
    tok = (
        spark.read.parquet(docs_path)
        .select(F.explode(F.split("text", " ")).alias("v"))
    )
    want = {}
    for j in range(4):
        b = (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{j}:"), F.col("v"))), 1, 8), 16, 10
            ).cast("long")
            % 64
        )
        for r in tok.select(b.alias("b")).groupBy("b").count().collect():
            want[(j, r["b"])] = r["count"]
    assert got == want


def test_stream_profile_matches_batch(spark, docs_path):
    """The running per-column profile (ONE state row) drained over the
    full source must equal the batch profiler exactly on its
    incremental columns (rows/nulls/min/max; exact distincts are the
    documented non-streaming term)."""
    from graph_loom_spark.ops import relational as ops_rel
    from graph_loom_spark.streaming import docs_stream as sd

    stream = sd.read_docs_stream(spark, docs_path)
    se.run_available_now(
        sd.stream_profile(stream), "docs_profile_t", output_mode="complete"
    )
    got = {
        r["col_name"]: (r["n_rows"], r["n_nulls"], r["min_str"], r["max_str"])
        for r in spark.sql("SELECT * FROM docs_profile_t").collect()
    }
    batch = {
        r["col_name"]: (r["n_rows"], r["n_nulls"], r["min_str"], r["max_str"])
        for r in ops_rel.profile_table(spark.read.parquet(docs_path)).collect()
    }
    assert got == batch and len(got) >= 4


def test_stream_hll_registers_match_batch(spark, docs_path):
    """Streamed HLL registers (bounded state) drained over the full
    source must equal the batch register frame exactly — register max
    is associative/commutative — and therefore the estimates match too."""
    from graph_loom_spark.ops import relational as ops_rel
    from graph_loom_spark.streaming import docs_stream as sd

    stream = sd.read_docs_stream(spark, docs_path)
    se.run_available_now(
        sd.stream_hll_registers(stream), "hll_regs_t", output_mode="complete"
    )
    got = {
        (r["source"], r["reg_idx"]): r["reg_max"]
        for r in spark.sql("SELECT * FROM hll_regs_t").collect()
    }
    batch_regs = ops_rel.hll_registers(
        spark.read.parquet(docs_path), ["source"], "text"
    )
    batch = {
        (r["source"], r["reg_idx"]): r["reg_max"] for r in batch_regs.collect()
    }
    assert got == batch and len(got) > 0


@pytest.fixture(scope="module")
def embs_path(tmp_path_factory):
    d = tmp_path_factory.mktemp("embs_stream")
    (d / "part-0.parquet").write_bytes(
        open(f"{SF_DIR}/embeddings.parquet", "rb").read()
    )
    return str(d)


def test_stream_cluster_assign_matches_batch(spark, embs_path):
    """Online assignment to a frozen codebook must equal the batch
    assignment bit-for-bit — offline fit, online inference, same exact
    int64 algebra (append mode: a stateless projection)."""
    from graph_loom_spark.ops import simsearch as sim
    from graph_loom_spark.streaming import embs_stream as sb

    batch = spark.read.parquet(embs_path)
    fitted, C = sim.kmeans_fit(batch, k=4, iters=3)
    stream = sb.read_embeddings_stream(spark, embs_path)
    se.run_available_now(
        sb.stream_cluster_assign(stream, C), "embs_assign_t", output_mode="append"
    )
    got = {
        r["vec_id"]: r["cluster"]
        for r in spark.sql("SELECT * FROM embs_assign_t").collect()
    }
    want = {r["vec_id"]: r["cluster"] for r in fitted.collect()}
    assert got == want and len(got) == batch.count()


def test_stream_cluster_counts_match_batch(spark, embs_path):
    """The k-row running cluster totals drained over the full source
    must equal a batch recomputation exactly (mergeable integers)."""
    from pyspark.sql import functions as F

    from graph_loom_spark.ops import simsearch as sim
    from graph_loom_spark.streaming import embs_stream as sb

    batch = spark.read.parquet(embs_path)
    _, C = sim.kmeans_fit(batch, k=4, iters=3)
    stream = sb.read_embeddings_stream(spark, embs_path)
    se.run_available_now(
        sb.stream_cluster_counts(stream, C), "embs_counts_t"
    )
    got = {
        r["cluster"]: (r["n_vectors"], r["sum_qnorm"])
        for r in spark.sql("SELECT * FROM embs_counts_t").collect()
    }
    want = {
        r["cluster"]: (r["n_vectors"], r["sum_qnorm"])
        for r in sb.stream_cluster_counts(batch, C).collect()
    }
    assert got == want
    assert sum(v[0] for v in got.values()) == batch.count()


def test_stream_cluster_counts_incremental_batches(spark, tmp_path):
    """UPDATE-mode cluster totals drained over MULTIPLE micro-batches
    (maxFilesPerTrigger=1 over two files) must equal the single-batch
    and batch results — the incrementally-mergeable-integers claim."""
    from pyspark.sql import functions as F

    from graph_loom_spark.ops import simsearch as sim
    from graph_loom_spark.streaming import embs_stream as sb

    src = str(tmp_path / "embs2")
    full = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    full.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(src)
    full.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    _, C = sim.kmeans_fit(full, k=4, iters=2)

    stream = sb.read_embeddings_stream(spark, src, max_files_per_trigger=1)
    se.run_available_now(sb.stream_cluster_counts(stream, C), "embs_counts_inc_t")
    got = {
        r["cluster"]: (r["n_vectors"], r["sum_qnorm"])
        for r in spark.sql("SELECT * FROM embs_counts_inc_t").collect()
    }
    want = {
        r["cluster"]: (r["n_vectors"], r["sum_qnorm"])
        for r in sb.stream_cluster_counts(spark.read.parquet(src), C).collect()
    }
    assert got == want
    assert sum(v[0] for v in got.values()) == full.count()


def test_stream_daily_active_matches_batch(spark, events_path, tmp_path):
    """Streaming DAU (two chained windowed aggregates, append mode) ≡
    the batch active_users dau column, day for day. Chained aggregates
    only emit once the watermark passes a window's end, so the fixture
    gains a sentinel event 3 days past the horizon — it pushes the
    final watermark over every real day while its own (still-open)
    window stays in state."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from graph_loom_spark.ops.events import active_users

    d = tmp_path / "dau_stream"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(
        open(f"{events_path}/part-0.parquet", "rb").read()
    )
    t = pq.read_table(f"{events_path}/part-0.parquet")
    mx = pa.compute.max(t.column("ts")).as_py()
    row = {name: [None] for name in t.schema.names}
    row.update(
        event_id=[-1],
        ts=[mx + datetime.timedelta(days=3)],
        user_id=[-1],
        event_type=["__sentinel"],
        value=[0.0],
    )
    pq.write_table(pa.table(row, schema=t.schema), str(d / "part-1.parquet"))

    stream = se.read_events_stream(spark, str(d))
    se.run_available_now(
        se.stream_daily_active(stream), "dau_t", output_mode="append"
    )
    got = {r["day"]: r["dau"] for r in spark.sql("SELECT * FROM dau_t").collect()}
    want = {
        r["day"]: r["dau"]
        for r in active_users(batch_events.load_events(spark, events_path)).collect()
    }
    assert got == want  # sentinel's own day stays in state, never emits
