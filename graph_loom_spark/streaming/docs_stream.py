"""Structured Streaming document-ingestion operators (extension surface;
the reference has no streaming — SURVEY §2.11).

``stream_exact_dedup`` is the streaming twin of ``ops.dedup.exact_dedup``
for an ingestion pipeline: as documents arrive, emit only the first
occurrence of each exact text. Dedup state is keyed by the same compact
96-bit content hash as the batch operator (12 bytes/doc of state, never
the document bytes), and an event-time watermark bounds how long a key
is remembered — the standard state-retention trade for unbounded
streams: duplicates farther apart than the watermark horizon are
re-emitted, exactly like ``dropDuplicates`` documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graph_loom_spark.graph import scratch
from graph_loom_spark.ops import cms_grid, lsh_bands, norm_tokens
from graph_loom_spark.ops.relational import hll_registers

DOCS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)


def read_docs_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over a documents parquet dir."""
    reader = spark.readStream.schema(DOCS_RAW_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def stream_exact_dedup(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """First-occurrence exact dedup over a document stream.

    Keys on ``(xxhash64(text), murmur3(text))`` — the batch operator's
    96-bit content key — so the dedup state never stores document
    bytes. With ``ts_col`` the state is watermark-bounded via
    ``dropDuplicatesWithinWatermark`` (duplicates within the horizon are
    suppressed regardless of their exact timestamps; keys expire after
    it); without it the state grows with distinct keys (12 bytes each),
    the all-history-exact mode.
    """
    keyed = docs.withColumn("__k64", F.xxhash64(text_col)).withColumn(
        "__k32", F.hash(text_col)
    )
    if ts_col is not None:
        keyed = keyed.withWatermark(ts_col, watermark)
        return keyed.dropDuplicatesWithinWatermark(["__k64", "__k32"]).drop(
            "__k64", "__k32"
        )
    return keyed.dropDuplicates(["__k64", "__k32"]).drop("__k64", "__k32")


def stream_minhash_dedup(
    docs: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    bands: int = 8,
    num_perm: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Incremental NEAR-duplicate dedup for an ingestion stream — the
    actual LLM-corpus shape: as documents arrive, drop any whose
    estimated Jaccard (MinHash, same signatures/banding as the batch
    ``ops.dedup`` operators) reaches ``threshold`` against an
    already-seen document; survivors land in ``out_dir``.

    Mechanics (``foreachBatch``, since the candidate join + estimate
    filter is not expressible in a single stateful streaming op):

    1. signature each micro-batch (``minhash_signatures`` — the batch
       operator, JVM expressions only);
    2. band-join the new signatures against the parquet-backed
       signature index of every previously seen doc (state is
       ``num_perm`` longs/doc — never document bytes; at cluster scale
       this directory is a Delta/Iceberg table partitioned by band and
       the new-batch side is broadcast);
    3. drop newcomers at est-Jaccard ≥ threshold vs the index, or vs an
       earlier (smaller-id) doc in the same batch — arrival order is
       precedence, the standard first-seen-wins ingestion rule;
    4. write survivors and ALL new signatures (kept or dropped —
       precedence must not resurrect near-dups of dropped docs' own
       near-dups... it must match the batch rule: a doc is dropped iff
       SOME earlier doc collides, kept or not) under per-batch
       partitions ``__batch_id=<n>/`` of ``out_dir`` / ``index_dir``.

    Replay safety: ``foreachBatch`` is at-least-once, so a micro-batch
    can be re-run after a partial failure. Both writes are
    ``overwrite`` on the batch's own partition directory (re-running a
    batch rewrites exactly its own output — blind root-level appends
    would duplicate survivors), and the prior-index read excludes the
    current ``__batch_id`` partition, so signatures a failed attempt
    already wrote can't make the replayed docs self-collide at
    est-Jaccard 1.0 and silently drop the whole batch. Consumers read
    ``out_dir`` as ordinary partitioned parquet (the extra
    ``__batch_id`` column is the partition key).

    When documents arrive in id order, the accumulated ``out_dir``
    equals the batch rule "keep doc d iff no banded pair (a, d) with
    a < d at est ≥ threshold" computed from ``minhash_lsh_pairs`` over
    the whole corpus — asserted in tests/test_streaming.py, along with
    replay idempotency (same batch processed twice ≡ once).
    """
    process = _minhash_batch_processor(
        index_dir,
        out_dir,
        threshold=threshold,
        bands=bands,
        num_perm=num_perm,
        id_col=id_col,
        text_col=text_col,
    )
    return (
        docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )


def _minhash_batch_processor(
    index_dir: str,
    out_dir: str,
    *,
    threshold: float = 0.5,
    bands: int = 8,
    num_perm: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """The ``foreachBatch`` body of :func:`stream_minhash_dedup`,
    exposed so tests can drive it directly with explicit batch ids
    (including re-delivering the same batch to assert replay
    idempotency)."""
    from graph_loom_spark.ops.dedup import minhash_lsh_pairs, minhash_signatures

    if num_perm % bands != 0:
        raise ValueError(f"bands ({bands}) must divide num_perm ({num_perm})")
    rows_per_band = num_perm // bands

    def _banded(sig: DataFrame, idc: str) -> DataFrame:
        return sig.select(
            F.col(idc),
            "signature",
            F.explode(lsh_bands("signature", bands, rows_per_band, F.hash)).alias("b"),
        ).select(F.col(idc), "signature", "b.band", "b.bh")

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        # the scope frees the per-trigger checkpoints on every exit — the
        # two it pins and the pair frame minhash_lsh_pairs keeps in it — so a
        # long-running stream pins no dead block per micro-batch
        with scratch(spark) as s:
            batch_df = s.pin(batch_df)
            sigs = s.pin(
                minhash_signatures(
                    batch_df, text_col=text_col, id_col=id_col, num_perm=num_perm
                )
            )
            # --- vs the prior index, excluding this batch's own
            # partition (a failed earlier attempt of the SAME batch may
            # already have written its signatures there — including them
            # would self-collide every replayed doc at est 1.0); the
            # partition filter prunes those files out of the scan
            dropped = None
            try:
                prior = (
                    spark.read.option("basePath", index_dir)
                    .parquet(index_dir)
                    .filter(F.col("__batch_id") != F.lit(int(batch_id)))
                    .drop("__batch_id")
                )
                have_prior = not prior.isEmpty()
            except Exception:  # first batch: no index yet
                have_prior = False
            if have_prior:
                new_b = _banded(sigs, id_col)
                old_b = _banded(prior, "__old_id")
                est = F.size(
                    F.filter(
                        F.zip_with("signature", "__old_sig", lambda x, y: x == y),
                        lambda v: v,
                    )
                ) / F.size(F.col("signature"))
                dropped = (
                    new_b.join(
                        old_b.select("band", "bh", F.col("signature").alias("__old_sig")),
                        ["band", "bh"],
                    )
                    .filter(est >= threshold)
                    .select(F.col(id_col))
                    .distinct()
                )
            # --- vs earlier docs in the same batch (arrival precedence)
            intra = (
                minhash_lsh_pairs(
                    sigs, id_col=id_col, bands=bands, threshold=threshold, num_perm=num_perm
                )
                .select(F.col("id_b").alias(id_col))
                .distinct()
            )
            dropped = intra if dropped is None else dropped.unionByName(intra).distinct()
            kept = batch_df.join(dropped, id_col, "left_anti")
            # idempotent per-batch writes: overwrite THIS batch's
            # partition only; a retry rewrites the same directories with
            # the same deterministic content
            kept.write.mode("overwrite").parquet(f"{out_dir}/__batch_id={int(batch_id)}")
            sigs.withColumnRenamed(id_col, "__old_id").write.mode("overwrite").parquet(
                f"{index_dir}/__batch_id={int(batch_id)}"
            )

    return _process


def stream_quality_filter(
    docs: DataFrame,
    min_quality: int = 2,
    max_dup_token_frac: float = 0.9,
    scrub_pii: bool = True,
) -> DataFrame:
    """Streaming quality gate — the filter stage of an ingestion
    pipeline, built from the SAME batch operators (``quality_score``,
    ``repetition_stats``'s dup-token expression, ``pii_scrub``'s
    redaction) so stream and batch agree row-for-row (pinned by the
    stream≡batch pytest).

    Everything here is a stateless projection/filter — no watermark, no
    state store; Structured Streaming runs it per micro-batch exactly as
    batch would. Emits the surviving documents with their scores and
    (optionally) the PII-redacted text.
    """
    from graph_loom_spark.ops.text import PII_PATTERNS, _TOKEN_RE

    toks = F.size(F.regexp_extract_all(F.col("text"), F.lit(_TOKEN_RE), 0))
    chars = F.length("text")
    alpha = F.length(F.regexp_replace(F.col("text"), r"[^A-Za-z]", ""))
    len_ok = (chars >= 50) & (chars <= 20000)
    tok_ok = (toks >= 10) & ((chars.cast("double") / toks) <= 12.0)
    alpha_ratio = alpha.cast("double") / chars
    score = (
        len_ok.cast("int") + tok_ok.cast("int") + (alpha_ratio >= 0.5).cast("int")
    )
    tok_arr = F.expr(norm_tokens("text"))
    dup_frac = F.lit(1.0) - F.size(F.array_distinct(tok_arr)).cast("double") / F.size(
        tok_arr
    )
    out = docs.withColumn("quality_score", score.cast("bigint")).withColumn(
        "dup_token_frac", dup_frac
    )
    if scrub_pii:
        red = F.col("text")
        for pat, tag in PII_PATTERNS.values():
            red = F.regexp_replace(red, pat, tag)
        out = out.withColumn("text", red)
    return out.filter(
        (F.col("quality_score") >= min_quality)
        & (F.col("dup_token_frac") <= max_dup_token_frac)
    )


def stream_corpus_report(docs: DataFrame) -> DataFrame:
    """Running per-source ingestion totals — the live dashboard version
    of :func:`graph_loom_spark.ops.text.corpus_report`: document count,
    token total, and quality-score sum per source, maintained as an
    UPDATE-mode streaming aggregation (one state row per source).

    The batch report's exact-duplicate term (count DISTINCT md5) is
    deliberately absent: distinct-counting needs either a second
    aggregation (unsupported in a streaming query) or unbounded
    per-source state; the streaming dedup operators cover that concern
    incrementally. The remaining aggregates are all incrementally
    mergeable integers, so stream-after-drain equals batch exactly
    (pinned by the stream≡batch pytest).
    """
    from graph_loom_spark.ops.text import _TOKEN_RE

    toks = F.size(F.regexp_extract_all(F.col("text"), F.lit(_TOKEN_RE), 0))
    chars = F.length("text")
    alpha = F.length(F.regexp_replace(F.col("text"), r"[^A-Za-z]", ""))
    len_ok = (chars >= 50) & (chars <= 20000)
    tok_ok = (toks >= 10) & ((chars.cast("double") / toks) <= 12.0)
    score = (
        len_ok.cast("int")
        + tok_ok.cast("int")
        + ((alpha.cast("double") / chars) >= 0.5).cast("int")
    )
    return (
        docs.select(F.col("source"), toks.alias("__t"), score.alias("__q"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("__t").cast("bigint").alias("n_tokens"),
            F.sum("__q").cast("bigint").alias("quality_sum"),
        )
    )


def stream_cms_cells(docs: DataFrame, d: int = 4, w: int = 1024) -> DataFrame:
    """Streaming count-min sketch maintenance — the live form of
    :func:`graph_loom_spark.ops.relational.count_min_estimate`: the
    d x w md5 counter grid maintained as an UPDATE-mode streaming
    aggregation with at most ``d * w`` state rows TOTAL, regardless of
    stream volume (the whole point of sketching a stream: bounded
    state where per-token counting grows with the vocabulary).

    Cell-wise counts are incrementally mergeable integers, so
    stream-after-drain equals the batch grid exactly (stream≡batch
    pytest), and the drained grid can be probed/merged with any batch
    grid built by the same (d, w, md5) construction.
    """
    return cms_grid(docs.select(F.explode(F.split("text", " ")).alias("__v")), "__v", d, w)


def stream_profile(docs: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Running per-column profile — the live-ingest form of
    :func:`graph_loom_spark.ops.relational.profile_table`: per column,
    the running row count, null count and native-type min/max (rendered
    as strings), maintained as ONE wide global streaming aggregate —
    a SINGLE state row total regardless of stream volume, unpivoted
    with ``stack`` after the aggregate. Counts/min/max are all
    incrementally mergeable, so stream-after-drain equals the batch
    profiler exactly on these columns (stream≡batch pytest).

    The batch profiler's exact ``n_distinct`` is deliberately absent:
    exact distinct-counting needs unbounded state or a second
    aggregation (unsupported in one streaming query); the
    bounded-state md5-register HLL sketch is the streaming answer to
    that concern (same trade the streaming corpus report makes with its
    exact-dup term).
    """
    cols = columns or [c for c in docs.columns]
    if not cols:
        raise ValueError("stream_profile: no columns to profile")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("__n")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).cast("bigint").alias(f"__nn_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__mx_{c}"),
        ]
    stack_args = ", ".join(
        f"'{c}', __n - __nn_{c}, __mn_{c}, __mx_{c}" for c in cols
    )
    return (
        docs.agg(*aggs)
        .selectExpr(
            "__n AS n_rows",
            f"stack({len(cols)}, {stack_args}) "
            "AS (col_name, n_nulls, min_str, max_str)",
        )
        .select("col_name", "n_rows", "n_nulls", "min_str", "max_str")
    )


def stream_hll_registers(
    docs: DataFrame, value_col: str = "text", group_col: str = "source", p: int = 10
) -> DataFrame:
    """Streaming HyperLogLog register maintenance — the live form of
    :func:`graph_loom_spark.ops.relational.hll_registers`: per group,
    the md5-register max maintained as an UPDATE-mode streaming
    aggregation, ≤ groups·2^p state rows TOTAL regardless of stream
    volume (bounded-state distinct-sketching of an unbounded stream —
    the answer to the exact-distinct terms the streaming corpus report
    and profiler deliberately drop). Register max is associative and
    commutative, so stream-after-drain equals the batch registers
    EXACTLY (stream≡batch pytest) and the drained frame merges with any
    batch register frame of the same (p, md5) construction via
    :func:`graph_loom_spark.ops.relational.hll_merge`.
    """
    return hll_registers(docs, [group_col], value_col, p)
