"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design notes:
- Exact dedup is a hash groupBy (map-side partial agg, one shuffle).
- MinHash: per-doc shingle set → k permutation minima computed as array
  expressions (JVM-side, no UDF) → banded LSH bucket join so candidate
  generation is Θ(matching pairs), never O(n²).
- SimHash: 64-bit sign-aggregated token hashes; near-dup candidates via
  band buckets over 16-bit chunks (Hamming ≤ 3 ⇒ some chunk equal by
  pigeonhole over 4 chunks).
- Verification joins only run on bucket-colliding candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_loom_spark.graph import scratch
from graph_loom_spark.ops import (
    lsh_bands,
    md5_lane,
    ngrams,
    norm_text,
    norm_tokens,
    rarest_first_prefix,
    spread,
)

# 31-bit Mersenne prime: a,b < 2^31 and h mod p < 2^31, so a*h+b < 2^62
# never overflows a long even with ANSI arithmetic checks enabled.
_MERSENNE = (1 << 31) - 1


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str = "doc_id") -> DataFrame:
    """Keep the minimum id per exact key group; report group size.

    Groups by a compact hash of the key columns, not the raw values: a
    raw ``groupBy(text)`` makes the full document bytes the shuffle key,
    and at corpus scale the key bytes dominate shuffle I/O. Two
    independent hashes (xxhash64 + 32-bit murmur = 96 bits) keep the
    shuffle key at 12 bytes/row; a false merge needs a simultaneous
    collision in both across distinct texts (~n²/2⁻⁹⁷ — negligible even
    at 10¹¹ docs). Output is identical to the raw grouping.
    """
    keyed = df.select(
        F.xxhash64(*key_cols).alias("__k64"),
        F.hash(*key_cols).alias("__k32"),
        F.col(id_col),
    )
    return (
        keyed.groupBy("__k64", "__k32")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).cast("bigint").alias("dup_count"))
        .select(id_col, "dup_count")
    )


def minhash_signatures(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 32,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """MinHash signature per document: for each of ``num_perm`` affine
    permutations (a*h+b mod p), the minimum over the shingle-hash set.

    Shape: explode shingles → project ``pmod(h, p)`` once → one
    min-aggregate per permutation. The naive alternative (num_perm
    ``array_min(transform(shingles, ...))`` columns) inlines the whole
    shingle expression num_perm times — codegen blowup that ran ~30×
    slower. The aggregate gets map-side partial combine, so the shuffle
    carries only num_perm longs per (partition, doc)."""
    import random

    rng = random.Random(seed)
    documents = spread(documents)  # shingle+hash fan-out is CPU-bound
    ex = documents.select(
        F.col(id_col), F.explode(F.expr(ngrams(norm_tokens(text_col), shingle_n))).alias("__h")
    ).select(F.col(id_col), F.pmod(F.col("__h"), F.lit(_MERSENNE)).alias("__hm"))
    aggs = []
    for i in range(num_perm):
        a = rng.randrange(1, _MERSENNE)
        b = rng.randrange(0, _MERSENNE)
        aggs.append(
            F.min((F.lit(a) * F.col("__hm") + F.lit(b)) % F.lit(_MERSENNE)).alias(f"__s{i}")
        )
    return (
        ex.groupBy(id_col)
        .agg(*aggs)
        .select(F.col(id_col), F.array(*[F.col(f"__s{i}") for i in range(num_perm)]).alias("signature"))
    )


def minhash_signatures_md5(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """Engine-independent MinHash signatures: ONE md5 per shingle yields
    two 32-bit lanes ``h1`` (hex chars 1-8) and ``h2`` (chars 9-16);
    slot ``i`` is ``min((h1 + i·h2) mod 2147483647)`` over the
    document's distinct word-``shingle_n``-grams — the Kirsch-
    Mitzenmacher two-hash affine family over the Mersenne prime 2³¹−1.
    Every term stays under 2³⁷, so the arithmetic is exact int64 in any
    engine and the DuckDB oracle replays signatures bit-for-bit
    (``CAST('0x'||substr(md5(g),…) AS BIGINT)``). 31-bit slots keep the
    min-collision term ~|shingles|/2³¹ — negligible against the
    1/sqrt(num_perm) estimator noise. (The r5 form carved ``num_perm/4``
    slots out of ``num_perm/4`` md5 calls per shingle; md5-per-shingle
    was 3.3× the xxhash64 scale path's cost, and hashing dominates this
    operator — one digest per shingle closes most of that gap.)

    Trade vs :func:`minhash_signatures` (the scale default): one md5
    per shingle instead of one xxhash64 — md5 is the portability tax.
    Use this form when cross-engine reproducibility of the signatures
    themselves matters (auditable dedup manifests); use the long form
    when only recall does. Same shape otherwise: explode →
    ``num_perm`` min-aggregates with map-side partial combine.
    """
    grams = F.expr(ngrams(norm_tokens(text_col), shingle_n, "concat_ws(' ', {})"))
    documents = spread(documents)  # md5 fan-out is CPU-bound
    ex = documents.select(F.col(id_col), F.explode(grams).alias("__g"))
    ex = ex.select(
        F.col(id_col),
        F.expr(md5_lane("__g")).alias("__h1"),
        F.expr(md5_lane("__g", 9)).alias("__h2"),
    )
    aggs = [
        F.min((F.col("__h1") + F.lit(i) * F.col("__h2")) % F.lit(2147483647)).alias(
            f"__s{i}"
        )
        for i in range(num_perm)
    ]
    return (
        ex.groupBy(id_col)
        .agg(*aggs)
        .select(
            F.col(id_col),
            F.array(*[F.col(f"__s{i}") for i in range(num_perm)]).alias("signature"),
        )
    )


def minhash_lsh_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    threshold: float = 0.5,
    num_perm: int | None = None,
    band_hash: str = "murmur3",
) -> DataFrame:
    """Banded LSH: equal band-hash ⇒ candidate pair; estimated Jaccard =
    fraction of equal signature slots; keep pairs ≥ threshold.

    ``num_perm`` (the signature length) defaults to the length declared in
    the DataFrame schema when the signature column came from ``F.array``
    (as minhash_signatures builds it); bands must divide it — slicing past
    the signature end would hash empty arrays (every doc collides in those
    bands: O(n²) candidates), under-covering misses pairs.

    ``band_hash``: "murmur3" (default — 4-byte bucket keys, cheapest
    shuffle) or "md5" over the '|'-joined slice — engine-independent, so
    an external SQL engine banding the same signatures derives the
    IDENTICAL candidate set (the oracle path; collisions 2^-128 instead
    of 2^-32, and est-filter semantics are unchanged either way).

    Ownership: the result is materialized eagerly and the signature
    checkpoint freed before returning; the only block a call leaves
    pinned is the returned frame itself, owned by the caller's scope
    (see :func:`simhash_near_pairs`)."""
    if band_hash == "md5":
        bh = lambda sl: F.md5(F.concat_ws("|", F.transform(sl, lambda x: x.cast("string"))))  # noqa: E731
    else:
        bh = lambda sl: F.hash(sl).cast("string")  # noqa: E731
    with scratch(signatures.sparkSession) as s:
        # materialize signatures once: banding + both estimate joins reuse
        # them, and recomputing shingles×permutations 3x dominates otherwise
        sig = s.pin(signatures.select(F.col(id_col).alias("id"), "signature"))
        if num_perm is None:
            # Probe the real signature length off the checkpointed data (one
            # cheap action on already-materialized blocks) instead of
            # trusting a hardcoded default.
            row = sig.select(F.size("signature").alias("n")).first()
            num_perm = int(row["n"]) if row is not None else bands
        if num_perm % bands != 0:
            raise ValueError(f"bands ({bands}) must divide num_perm ({num_perm})")
        banded = sig.select(
            "id", "signature", F.explode(lsh_bands("signature", bands, num_perm // bands, bh)).alias("b")
        ).select("id", "signature", "b.band", "b.bh")
        left = banded.select(F.col("id").alias("id_a"), "band", "bh")
        right = banded.select(F.col("id").alias("id_b"), "band", "bh")
        # dedupe candidate ids FIRST (ids only — dragging the 32-slot
        # signature arrays through the distinct shuffle dominated runtime),
        # then join the signatures back for the estimate.
        cand = (
            left.join(right, ["band", "bh"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        sigs = sig.select(F.col("id"), F.col("signature"))
        cand = (
            cand.join(sigs.select(F.col("id").alias("id_a"), F.col("signature").alias("sig_a")), "id_a")
            .join(sigs.select(F.col("id").alias("id_b"), F.col("signature").alias("sig_b")), "id_b")
        )
        est = (
            F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
            / F.size(F.col("sig_a"))
        )
        return s.keep(
            cand.withColumn("est_jaccard", est)
            .filter(F.col("est_jaccard") >= threshold)
            .select("id_a", "id_b", "est_jaccard")
        )


def minhash_dedup_against(
    corpus: DataFrame,
    incoming: DataFrame,
    threshold: float = 0.5,
    bands: int = 8,
    num_perm: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Batch incremental near-dedup: flag each INCOMING document that is
    a MinHash near-duplicate of anything in the existing CORPUS — the
    crawl-ingest pattern (dedupe the new snapshot against what you
    already have) as a batch operator; the streaming twin is
    ``streaming.docs_stream.stream_minhash_dedup``. Returns one row per
    incoming doc: ``(id, keep, match_id, est_jaccard)`` with the
    best-matching corpus doc (highest estimate, ties → smallest corpus
    id; nulls when no candidate reached ``threshold``).

    md5-mode signatures + md5 band hashes (engine-independent — the
    whole decision replays in SQL). Shape: signatures on both sides,
    banded equi-join corpus×incoming (candidates only — never
    all-pairs), slot-equality estimate, one max-struct aggregate per
    incoming doc. At 100 TB the corpus signature table is the
    precomputed index (num_perm × 8-char slots per doc, no text) and
    the incoming side is the small batch — the join broadcasts it.
    """
    if num_perm % bands != 0:
        raise ValueError(f"bands ({bands}) must divide num_perm ({num_perm})")
    rows_per_band = num_perm // bands
    sig_c = minhash_signatures_md5(
        corpus, text_col=text_col, id_col=id_col, num_perm=num_perm
    ).select(F.col(id_col).alias("__cid"), F.col("signature").alias("__cs"))
    sig_i = minhash_signatures_md5(
        incoming, text_col=text_col, id_col=id_col, num_perm=num_perm
    ).select(F.col(id_col).alias("__iid"), F.col("signature").alias("__is"))

    def _banded(sig, idc, sc):
        bh = lambda sl: F.md5(F.concat_ws("|", sl))  # noqa: E731
        return sig.select(
            idc, sc, F.explode(lsh_bands(sc, bands, rows_per_band, bh)).alias("b")
        ).select(idc, sc, "b.band", "b.bh")

    est = (
        F.size(F.filter(F.zip_with("__is", "__cs", lambda x, y: x == y), lambda v: v))
        / F.size(F.col("__is"))
    )
    best = (
        _banded(sig_i, "__iid", "__is")
        .join(_banded(sig_c, "__cid", "__cs"), ["band", "bh"])
        .select("__iid", "__cid", est.alias("__e"))
        .filter(F.col("__e") >= threshold)
        .groupBy("__iid")
        # best match = min over the (-est, corpus_id) key: highest
        # estimate first, then the smallest corpus id — one hash agg
        .agg(
            F.min_by(
                F.struct(F.col("__cid").alias("match_id"), F.col("__e").alias("est")),
                F.struct((-F.col("__e")).alias("ne"), F.col("__cid").alias("i")),
            ).alias("__m")
        )
        .select("__iid", "__m.match_id", "__m.est")
    )
    return (
        incoming.select(F.col(id_col))
        .join(best.withColumnRenamed("__iid", id_col), id_col, "left")
        .select(
            id_col,
            F.col("match_id").isNull().alias("keep"),
            "match_id",
            F.col("est").alias("est_jaccard"),
        )
    )


def simhash(documents: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash: per-bit sign of summed token-hash bit votes.

    Shape: explode distinct tokens → hash once → **lane-packed
    bit-count aggregation**: 22 sum-aggregates, each packing three
    bit-counters into 21-bit lanes of one long, instead of 64 separate
    conditional sums (measured 5.2 s → 2.2 s at 5k docs — the shuffle
    carries 23 longs per partial instead of 64, and the agg-buffer
    update count drops 3×). Votes for bit b = 2·count_ones(b) − n.

    Lane bound: counters stay exact while a document has < 2^21 (~2M)
    distinct tokens — also exactly the bound keeping the packed sum
    below 2^63 under ANSI arithmetic (n·(2^42+2^21+1) < 2^63 ⇔
    n ≤ 2^21−1). A 2M-distinct-token document is ≥ ~10 MB of unique
    words; chunk such inputs upstream.

    (The naive per-bit form with 64 ``F.aggregate`` folds over the
    token array is even worse: it inlines tokenize+hash 64 times —
    codegen blowup.)"""
    toks = F.array_distinct(F.expr(norm_tokens(text_col)))
    documents = spread(documents)  # tokenize+hash fan-out is CPU-bound
    ex = documents.select(F.col(id_col), F.explode(toks).alias("__t")).select(
        F.col(id_col), F.xxhash64(F.col("__t")).alias("__h")
    )
    return _simhash_from_hashed(ex, id_col, n_bits=64)


def simhash_md5(documents: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """60-bit engine-independent SimHash: the per-token hash is the
    first 15 hex chars of ``md5(token)`` parsed as an integer (15 hex =
    60 bits — fits a signed long in every engine without overflow
    games), then the same lane-packed vote aggregation as
    :func:`simhash`. Because md5 is identical everywhere, fingerprints,
    pigeonhole candidates, and Hamming distances are all reproducible in
    ANSI SQL — the oracle replays the pipeline bit-for-bit. Pair with
    ``simhash_near_pairs(..., bits=60)``. Same scale shape as the
    xxhash64 form; md5 costs more CPU per token — use this mode when
    cross-engine auditability matters."""
    toks = F.array_distinct(F.expr(norm_tokens(text_col)))
    documents = spread(documents)
    ex = documents.select(F.col(id_col), F.explode(toks).alias("__t")).select(
        F.col(id_col), F.expr(md5_lane("__t", width=15)).alias("__h")
    )
    return _simhash_from_hashed(ex, id_col, n_bits=60)


def _simhash_from_hashed(ex: DataFrame, id_col: str, n_bits: int) -> DataFrame:
    """Lane-packed SimHash vote aggregation over exploded
    ``(id, token-hash)`` rows — shared by the xxhash64 and md5 forms."""
    n_groups = (n_bits + 2) // 3
    aggs = [F.count(F.lit(1)).alias("__n")]
    for j in range(n_groups):
        expr = None
        for lane in range(3):
            b = 3 * j + lane
            if b >= n_bits:
                continue
            term = F.shiftrightunsigned(F.col("__h"), b).bitwiseAND(F.lit(1)) * F.lit(
                1 << (21 * lane)
            ).cast("long")
            expr = term if expr is None else expr + term
        aggs.append(F.sum(expr).alias(f"__p{j}"))
    packed = ex.groupBy(id_col).agg(*aggs)
    fp = None
    for j in range(n_groups):
        for lane in range(3):
            b = 3 * j + lane
            if b >= n_bits:
                continue
            c1 = F.shiftrightunsigned(F.col(f"__p{j}"), 21 * lane).bitwiseAND(
                F.lit(0x1FFFFF)
            )
            bit = F.when(2 * c1 > F.col("__n"), F.lit(1).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            term = (
                bit * F.lit(1 << b).cast("long")
                if b < 63
                else F.when(bit == 1, F.lit(-(1 << 63)).cast("long")).otherwise(
                    F.lit(0).cast("long")
                )
            )
            fp = term if fp is None else fp + term
    return packed.select(F.col(id_col), fp.alias("simhash"))


def simhash_near_pairs(
    sim: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 64,
    max_band_df: int | None = None,
) -> DataFrame:
    """Candidate pairs with an equal ``bits/4``-wide chunk (pigeonhole
    for Hamming≤3 over 4 chunks), verified by exact popcount distance.
    ``bits`` is the fingerprint width (64 for :func:`simhash`, 60 for
    :func:`simhash_md5`; must be divisible by 4).

    ``max_band_df`` (ADVICE r13 #2): the pre-partitioned cached
    self-join below is outside AQE's skew-split reach, so a hot band
    value (many short/degenerate docs sharing one chunk) lands in one
    unsplittable partition. The cap drops band values occurring in more
    than that many fingerprints (one window count over the existing
    partitioning — the same mitigation as ``exact_dup_spans``'s
    ``max_gram_df``): pairs whose ONLY shared chunk is ubiquitous are
    missed, the standard boilerplate exclusion. ``None`` (default) =
    exact pigeonhole, the oracle path.

    Ownership: the result is eagerly materialized and the op's internal
    banded cache is unpersisted before returning — the only pinned block
    a call leaves behind is the returned frame itself, kept in the
    caller's open scope (:meth:`~graph_loom_spark.graph.Scratch.keep`)."""
    width = bits // 4
    mask = (1 << width) - 1
    chunks = [
        F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(F.lit(mask))
        for i in range(4)
    ]
    banded = (
        sim.select(
            F.col(id_col).alias("id"),
            "simhash",
            F.explode(
                F.array(*[F.struct(F.lit(i).alias("chunk"), c.alias("cv")) for i, c in enumerate(chunks)])
            ).alias("b"),
        )
        .select("id", "simhash", "b.chunk", "b.cv")
        # r13-opt: both sides of the pigeonhole self-join read this frame
        # — unmaterialized, the fingerprint pass upstream (md5-per-token
        # simhash, or a REAL image/audio decode for the media callers)
        # ran twice per call. Shuffle the 4-rows-per-doc banded frame
        # once onto the join key, sorted, and join exchange-free from
        # cache (the exact_dup_spans gram-stream lever).
        .repartition(F.col("chunk"), F.col("cv"))
        .sortWithinPartitions("chunk", "cv")
    )
    if max_band_df is not None:
        from pyspark.sql.window import Window

        wbd = Window.partitionBy("chunk", "cv")
        banded = (
            banded.withColumn("__bdf", F.count(F.lit(1)).over(wbd))
            .filter(F.col("__bdf") <= max_band_df)
            .drop("__bdf")
        )
    with scratch(sim.sparkSession) as s:
        # the self-join below materializes the cache
        banded = s.persist(banded, eager=False)
        left = banded.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), "chunk", "cv")
        right = banded.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), "chunk", "cv")
        cand = (
            left.join(right, ["chunk", "cv"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "sh_a", "sh_b")
            .distinct()
        )
        ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        return s.keep(
            cand.withColumn("hamming", ham)
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming")
        )


def ngram_jaccard_pairs(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    candidate_pairs: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs. With no explicit
    ``candidate_pairs``, candidates come from a PREFIX-FILTERED inverted
    shingle index (AllPairs / PPJoin, Bayardo et al. WWW'07; Xiao et al.
    WWW'08; the rarest-first prefix index of :mod:`graph_loom_spark.ops`)
    — any pair with Jaccard ≥ t must
    collide inside both prefixes, so the pruning is LOSSLESS while the
    frequent shingles (the quadratic blowup of a plain inverted index)
    are never joined. A symmetric length filter (``t*|b| ≤ |a|``) prunes
    candidates whose size ratio already caps Jaccard below t. Shuffles:
    one df-count agg, one df join, one per-doc sort agg, then the
    prefix-only self-equi-join (AQE skew-join splits any residual hot
    shingle)."""
    with scratch(documents.sparkSession) as s:
        sh = spread(documents).select(
            F.col(id_col).alias("id"), F.expr(ngrams(norm_tokens(text_col), n)).alias("sh")
        )
        if candidate_pairs is None:
            # reused by index + both sig joins; pinned in the scope so the op
            # frees it after materializing its result (VERDICT r13 ask #6)
            sh = s.pin(sh)
            prefix = s.persist(
                rarest_first_prefix(sh.select("id", F.explode("sh").alias("g")), threshold)
                # r13-opt: both sides of the prefix self-join read this frame
                # — unmaterialized, the df join + rarest-first sort-collect
                # aggregate ran twice per call. One shuffle onto the join
                # key, sorted, then the join runs exchange-free from cache
                # (the exact_dup_spans gram-stream lever).
                .repartition(F.col("g"))
                .sortWithinPartitions("g"),
                eager=False,  # the self-join materializes the cache
            )
            t = F.lit(float(threshold))
            cand = (
                prefix.select(F.col("id").alias("id_a"), F.col("nsh").alias("na"), "g")
                .join(
                    prefix.select(F.col("id").alias("id_b"), F.col("nsh").alias("nb"), "g"),
                    "g",
                )
                .filter(
                    (F.col("id_a") < F.col("id_b"))
                    & (F.col("na") >= t * F.col("nb"))
                    & (F.col("nb") >= t * F.col("na"))
                )
                .select("id_a", "id_b")
                .distinct()
            )
            pairs = (
                cand.join(sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
                .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
            )
        else:
            pairs = (
                candidate_pairs.select("id_a", "id_b")
                .join(sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
                .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
            )
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        union = F.size(F.array_union("sh_a", "sh_b"))
        jac = inter.cast("double") / union
        out = pairs.withColumn("jaccard", jac).filter(F.col("jaccard") >= threshold).select(
            "id_a", "id_b", "jaccard"
        )
        if candidate_pairs is not None:
            return out  # no op-internal pins on this path
        # Ownership: materialize the (bounded, near-dup-pair-sized) result
        # eagerly in the caller's scope; this scope then frees the
        # op-internal pins — the shingle checkpoint and the prefix cache —
        # so a caller looping over corpora does not accumulate dead blocks.
        return s.keep(out)


def containment_pairs(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric shingle containment ``C(a→b) = |Sa ∩ Sb| / |Sa|``:
    pairs where document ``a``'s shingle set is ≥ ``threshold`` covered
    by document ``b``'s (``a ≠ b``) — the excerpt/quotation/superset
    detector symmetric Jaccard structurally misses (a short doc fully
    quoted inside a long one has Jaccard ≈ |a|/|b| → 0 but containment
    1.0). Directional: both (a→b) and (b→a) can qualify.

    Shape (the 100 TB story): the prefix-filter lemma applies to the
    CONTAINED side only — overlap ≥ ceil(t·|Sa|) forces a collision
    among ``a``'s ``|Sa| − ceil(t·|Sa|) + 1`` rarest-first shingles — so
    the candidate join is prefix(a) ⋈ full-index(b): lossless, and the
    quadratic hot-shingle blowup of a plain inverted index survives on
    one side only (rarest-first ordering keeps hot shingles out of the
    prefixes; AQE's skew join splits any residual hot posting list). A
    size filter ``|Sb| ≥ ceil(t·|Sa|)`` (overlap ≤ |Sb|, on integers)
    prunes containers that are too small before the verify join. Same
    shuffles as :func:`ngram_jaccard_pairs`: df-count agg, per-doc sort
    agg, prefix×index equi-join, two array joins for the exact verify.
    Like :func:`ngram_jaccard_pairs`, the result is materialized eagerly
    and the only block a call leaves pinned is the returned frame.
    """
    with scratch(documents.sparkSession) as s:
        sh = s.pin(  # reused by index + both verify joins
            spread(documents).select(
                F.col(id_col).alias("id"), F.expr(ngrams(norm_tokens(text_col), n)).alias("sh")
            )
        )
        ex = sh.select("id", F.size("sh").alias("nsh"), F.explode("sh").alias("g"))
        t = F.lit(float(threshold))
        cand = (
            rarest_first_prefix(ex.select("id", "g"), threshold)
            .select(F.col("id").alias("id_a"), F.col("nsh").alias("na"), "g")
            .join(ex.select(F.col("id").alias("id_b"), F.col("nsh").alias("nb"), "g"), "g")
            .filter(
                (F.col("id_a") != F.col("id_b"))
                & (F.col("nb") >= F.ceil(t * F.col("na")).cast("bigint"))
            )
            .select("id_a", "id_b")
            .distinct()
        )
        pairs = cand.join(
            sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
        ).join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        cont = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size("sh_a")
        return s.keep(
            pairs.withColumn("containment", cont)
            .filter(F.col("containment") >= threshold)
            .select("id_a", "id_b", "containment")
        )


def pair_confusion(pred: DataFrame, truth: DataFrame) -> DataFrame:
    """Pair-level confusion scoreboard for dedup tuning: given predicted
    and ground-truth ``(id_a, id_b)`` pair frames (canonical order,
    id_a < id_b), one row ``(tp, fp, fn, precision, recall)`` — the
    metric a pipeline reports before shipping a band/threshold config.
    One full-outer join + a 1-row aggregate; null precision/recall when
    the denominator is empty (no silent 0-division). Integer counts and
    integer-ratio doubles rounded to 6 → engine-replayable.
    """
    p = pred.select("id_a", "id_b", F.lit(1).alias("__p"))
    t = truth.select("id_a", "id_b", F.lit(1).alias("__t"))
    j = p.join(t, ["id_a", "id_b"], "full_outer")
    stats = j.agg(
        F.sum(
            F.when(F.col("__p").isNotNull() & F.col("__t").isNotNull(), 1).otherwise(0)
        ).cast("bigint").alias("tp"),
        F.sum(
            F.when(F.col("__p").isNotNull() & F.col("__t").isNull(), 1).otherwise(0)
        ).cast("bigint").alias("fp"),
        F.sum(
            F.when(F.col("__p").isNull() & F.col("__t").isNotNull(), 1).otherwise(0)
        ).cast("bigint").alias("fn"),
    )
    return stats.select(
        "tp",
        "fp",
        "fn",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.round(F.col("tp") / (F.col("tp") + F.col("fp")), 6),
        ).alias("precision"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.round(F.col("tp") / (F.col("tp") + F.col("fn")), 6),
        ).alias("recall"),
    )


def dedup_clusters(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """End-to-end near-dup clustering — the full pipeline a training-data
    dedup pass runs: similarity pairs → connected components → one
    canonical document per cluster. Returns ``(doc_id, cluster_id,
    is_canonical)`` for EVERY document (singletons cluster with
    themselves); ``cluster_id`` is the smallest doc_id in the cluster and
    ``is_canonical`` marks the keeper (first-seen-wins by id, the same
    rule as :func:`exact_dedup` and the streaming dedup).

    ``pairs`` defaults to exact :func:`ngram_jaccard_pairs` (inverted
    shingle index — candidate generation is Θ(colliding pairs)); pass
    :func:`minhash_lsh_pairs` output instead for the approximate path at
    scale. Components run on the min-contraction algorithm
    (analytics.connected_components): total work is O(pairs), not
    O(diameter) full-size rounds — near-dup graphs are mostly tiny
    near-cliques plus the occasional boilerplate mega-cluster, and
    contraction collapses both geometrically.
    """
    from graph_loom_spark.analytics import connected_components
    from graph_loom_spark.graph import PropertyGraph

    spark = documents.sparkSession
    if pairs is None:
        pairs = ngram_jaccard_pairs(
            documents, text_col=text_col, id_col=id_col, n=n, threshold=threshold
        )
    # components run on string ids; fixed-width zero-pad so the min
    # string id IS the min numeric id
    sid = lambda c: F.lpad(F.col(c).cast("string"), 14, "0")  # noqa: E731
    nodes = documents.select(sid(id_col).alias("id"))
    edges = pairs.select(sid("id_a").alias("src"), sid("id_b").alias("dst"))
    comp = connected_components(PropertyGraph(spark, nodes=nodes, edges=edges))
    return comp.select(
        F.col("id").cast("bigint").alias(id_col),
        F.col("component").cast("bigint").alias("cluster_id"),
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )


def dedup_keep_best(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    pairs: DataFrame | None = None,
    quality: DataFrame | None = None,
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Quality-aware canonical selection over near-dup clusters — the
    rule production dedup actually applies: within each
    :func:`dedup_clusters` component keep the HIGHEST-quality member
    (ties → smallest id, first-seen), not blindly the first-seen one —
    when a cleaner copy of a boilerplate-wrapped page exists, the
    cleaner copy survives. Returns ``(doc_id, cluster_id,
    quality_score, is_kept)`` for EVERY document; exactly one
    ``is_kept`` per cluster.

    ``quality`` defaults to the integer 0-3
    :func:`~graph_loom_spark.ops.text.quality_score` (the same signal
    the cluster-quality report rolls up); pass any ``(id, score)``
    frame — e.g. the hashed classifier — for a different keep rule.
    Docs absent from a user-supplied ``quality`` frame rank below every
    scored doc (null→+inf sort key) and report ``quality_score`` NULL,
    so the output distinguishes "scored 0" from "unscored" and the
    tie-break rule reads consistently (ADVICE r12 #5).
    ``pairs`` passes through to :func:`dedup_clusters` (memoized exact
    Jaccard here; LSH pairs at scale); ``clusters`` short-circuits the
    clustering entirely with an already-computed ``(id, cluster_id)``
    frame — cluster ONCE, consume from split/keep-best/report (the
    same reuse seam as leakage_safe_split).

    Scale shape: clustering dominates (see dedup_clusters); selection
    adds one narrow equi-join + one partial-agg argmax groupBy — the
    argmax is a ``min`` over ``(-score, id)`` structs, the same
    portable tie-break lever as knn_label's vote, so no window and no
    second pass.
    """
    from graph_loom_spark.ops.text import quality_score as _qs

    if clusters is None:
        clusters = dedup_clusters(
            documents, text_col=text_col, id_col=id_col, n=n,
            threshold=threshold, pairs=pairs,
        )
    clusters = clusters.select(id_col, "cluster_id")
    if quality is None:
        quality = _qs(documents, text_col=text_col).select(
            id_col, "quality_score"
        )
    # LEFT join: a user-supplied quality frame that doesn't cover every
    # clustered id must not silently drop docs (an inner join here could
    # leave a cluster with zero is_kept rows, breaking the
    # exactly-one-keeper invariant — ADVICE r10 #2). Ranking convention
    # (ADVICE r11 #3): an UNSCORED doc ranks below EVERY scored doc —
    # including negative scores — via a null→+inf sort key, not a
    # coalesce-to-0 floor (0 silently outranked negative real scores).
    # The REPORTED quality_score for unscored docs is NULL (ADVICE r12
    # #5): reporting 0 made two-unscored-doc clusters look like a
    # violated "ties → smallest id" rule to anyone reading the frame,
    # since the +inf rank key is invisible in the output.
    j = clusters.join(quality, id_col, "left")
    best = j.groupBy("cluster_id").agg(
        F.min(
            F.struct(
                F.when(
                    F.col("quality_score").isNull(),
                    F.lit(float("inf")),
                )
                .otherwise(-F.col("quality_score").cast("double"))
                .alias("nq"),
                F.col(id_col).alias("i"),
            )
        ).alias("__b")
    )
    return j.join(best, "cluster_id").select(
        id_col,
        "cluster_id",
        F.col("quality_score").cast("bigint").alias("quality_score"),
        (F.col(id_col) == F.col("__b.i")).alias("is_kept"),
    )


def dedup_report(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    pairs: DataFrame | None = None,
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Dedup summary report — the one-page number a dedup pass
    publishes: cluster-size histogram plus per-size doc/keeper counts,
    from which the dedup ratio falls out (Σ docs − Σ clusters over
    Σ docs). Returns ``(cluster_size, n_clusters, n_docs,
    n_removed)`` ordered by size — the "how duplicated is this corpus,
    and in what shape?" view (a long size-1 tail = clean corpus; a few
    mega-clusters = boilerplate detection material for X128/X40).
    All-integer → oracle-exact.

    ``clusters`` reuses an existing :func:`dedup_clusters` frame (the
    cluster-once seam); otherwise the exact-Jaccard pipeline runs.
    Above the clustering, the report is two partial-agg groupBys on
    (cluster_id) then (size) — nothing corpus-sized.
    """
    if clusters is None:
        clusters = dedup_clusters(
            documents, text_col=text_col, id_col=id_col, n=n,
            threshold=threshold, pairs=pairs,
        )
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("__sz")
    )
    return (
        sizes.groupBy(F.col("__sz").cast("bigint").alias("cluster_size"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("bigint")
            .alias("n_docs"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters"))
            .cast("bigint")
            .alias("n_removed"),
        )
        .orderBy("cluster_size")
    )


def leakage_safe_split(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    pairs: DataFrame | None = None,
    fractions: dict | None = None,
    seed: str = "split",
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Cluster-aware train/val/test assignment: every document in a
    near-dup cluster lands in the SAME split. Per-document hash splits
    (:func:`graph_loom_spark.ops.text.train_split`) leak when two
    near-duplicates straddle train and eval — the eval metric then
    scores memorization, not generalization — so the split key here is
    the ``cluster_id`` from :func:`dedup_clusters`, not the doc id.
    Returns ``(doc_id, cluster_id, split)`` for every document
    (singletons cluster with themselves, so coverage is total).

    Pass ``clusters`` (a ``(doc_id, cluster_id, ...)`` frame) or
    ``pairs`` to reuse an already-computed dedup pass; both default to
    the exact n-gram-Jaccard pipeline. The split itself is the same
    md5-bucket expression as :func:`train_split` applied to cluster_id —
    a pure narrow projection (no per-cluster assignment table, no join),
    so at 100 TB the only cost above a plain split is the dedup pass the
    pipeline runs anyway.
    """
    from graph_loom_spark.ops.text import split_expr

    if clusters is None:
        clusters = dedup_clusters(
            documents,
            text_col=text_col,
            id_col=id_col,
            n=n,
            threshold=threshold,
            pairs=pairs,
        )
    return clusters.select(
        id_col,
        "cluster_id",
        split_expr("cluster_id", fractions, seed).alias("split"),
    )


def winnow_overlap_pairs(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    max_fp_df: int | None = 10,
    fps: DataFrame | None = None,
) -> DataFrame:
    """Local-overlap candidate pairs from winnowing fingerprints
    (:func:`graph_loom_spark.ops.text.winnow_fingerprints`): pairs of
    documents sharing ≥ ``min_shared`` selected fingerprints, with the
    shared count — the copied-passage / quotation detector that
    set-level Jaccard dilutes away on long documents.

    Shape: inverted fingerprint index (explode → self-equi-join on fp)
    — the same Θ(colliding pairs) candidate generation as the shingle
    index in :func:`ngram_jaccard_pairs`; one count aggregation keyed by
    the id pair. Hot fingerprints (boilerplate shared by every document)
    make the index join quadratic, so fingerprints occurring in more
    than ``max_fp_df`` documents are DROPPED first (one df-count
    aggregation) — the standard winnowing noise threshold (MOSS's
    common-code exclusion): a gram half the corpus shares identifies
    nothing. Measured at sf0.1 on the synthetic corpus: 64 s / 10.7M
    pairs uncapped → ~3 s / bounded pairs at max_fp_df=10. ``None``
    disables the cap.
    """
    from graph_loom_spark.ops.text import winnow_fingerprints

    with scratch(documents.sparkSession) as s:
        # pin the fingerprint frame: the df-cap semi-join plus both sides of
        # the pair join would otherwise re-run the winnow UDF lineage 4×;
        # callers that already computed fingerprints (e.g. the entry layer's
        # per-sf memo shared with the docs_winnow query) pass them in
        if fps is None:
            fps = s.pin(
                winnow_fingerprints(
                    documents.select(
                        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
                    )
                )
            )
        if max_fp_df is not None:
            keep = (
                fps.groupBy("fp")
                .agg(F.count(F.lit(1)).alias("__df"))
                .filter(F.col("__df") <= max_fp_df)
                .select("fp")
            )
            fps = fps.join(keep, "fp", "left_semi")
        a = fps.select(F.col("doc_id").alias("id_a"), "fp")
        b = fps.select(F.col("doc_id").alias("id_b"), "fp")
        return s.keep(
            a.join(b, "fp")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("shared_fps"))
            .filter(F.col("shared_fps") >= min_shared)
        )


def _gram_positions(documents: DataFrame, text_col: str, n: int, id_col: str):
    """``(base, grams)``: per document its normalized tokens ``__toks``
    and their count ``__nt``, and the positional stream of its hashed
    word ``n``-grams ``(id, __pos, __g)``."""
    toks = F.expr(norm_tokens(text_col))
    base = documents.select(F.col(id_col), toks.alias("__toks"), F.size(toks).alias("__nt"))
    grams = base.select(
        id_col,
        F.posexplode(F.expr(ngrams("__toks", n, positions="__nt"))).alias("__pos", "__g"),
    )
    return base, grams


def dup_ngram_coverage(
    documents: DataFrame, text_col: str = "text", n: int = 5, id_col: str = "doc_id"
) -> DataFrame:
    """Duplicate-passage coverage: for each document, the fraction of its
    tokens lying inside a word ``n``-gram that occurs more than once
    anywhere in the corpus (including elsewhere in the same document) —
    the n-gram-granularity form of the exact-substring dedup signal of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better" (their suffix-array machinery finds maximal repeats; fixed-n
    grams give the same per-token coverage statistic with pure
    relational operators). Returns ``(doc_id, n_tokens, covered_tokens,
    dup_coverage)`` for every document.

    Shape (100 TB): grams are 8-byte xxhash64 values — the corpus-wide
    occurrence count is one partial-aggregable groupBy keyed by the
    hash; duplicated-gram positions come back via an equi-join of the
    (id, pos, hash) gram stream against the count>=2 hash set (AQE
    handles hot grams); span→token expansion is a bounded n-fold
    explode; the distinct covered-index count is one more keyed
    aggregation. Never shuffles text, never compares all pairs. The
    result equals string-gram coverage barring xxhash64 collisions
    (~|grams|²/2⁶⁴) — same argument as ngram_jaccard.
    """
    base, grams = _gram_positions(documents, text_col, n, id_col)
    dup = (
        grams.groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= 2)
        .select("__g")
    )
    covered = (
        grams.join(dup, "__g")
        .select(id_col, F.explode(F.sequence("__pos", F.col("__pos") + (n - 1))).alias("__idx"))
        .groupBy(id_col)
        .agg(F.count_distinct("__idx").alias("covered_tokens"))
    )
    return (
        base.select(id_col, F.col("__nt").cast("bigint").alias("n_tokens"))
        .join(covered, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("covered_tokens", F.lit(0)).cast("bigint").alias("covered_tokens"),
            (
                F.coalesce("covered_tokens", F.lit(0)).cast("double") / F.col("n_tokens")
            ).alias("dup_coverage"),
        )
    )


def exact_dup_spans(
    documents: DataFrame,
    min_len: int = 40,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_gram_df: int | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """X128 — exact MAXIMAL duplicate substrings between document pairs
    (Lee et al. 2022 §4.1, the other half of the dedup signal X40's
    gram-hash coverage approximates): every maximal exact common
    substring of length ≥ ``min_len`` chars (normalized text), as
    ``(id_a, id_b, start_a, start_b, span_len)`` with 1-based positions.

    Construction (gram-diagonal islands — the relational equivalent of
    the paper's suffix-array maximal repeats, restricted to ≥ min_len):
    every position's ``min_len``-gram is a seed; two docs' seeds match
    iff the grams are equal; on a fixed alignment diagonal
    (``pa − pb``), RUNS of consecutive matching seeds correspond
    exactly to maximal common substrings of length ≥ min_len (a run of
    r consecutive gram matches = one maximal span of r + min_len − 1
    chars: left/right maximality is automatic, since any extending
    char would add another matching seed to the run). Runs are the
    standard gaps-and-islands ``pos − row_number()`` grouping, so the
    whole operator is explode → equi-join → windowed groupBy — exact
    and SQL-replayable, no suffix array.

    Scale shape: the gram stream is (id, pos, gram) — text never
    shuffles whole, only fixed-width min_len-char grams, and it crosses
    the network exactly ONCE: the stream is hash-partitioned on the
    gram, sorted and persisted, so the df keep-filter (a window count)
    and BOTH sides of the seed equi-join reuse the cached layout with
    zero further exchanges (r13-opt; previously the corpus was exploded
    once per plan branch and the df aggregate ran twice). The island
    window partitions by (id_a, id_b, diagonal) — per-partition rows
    are bounded by the shorter doc's length, never corpus-sized. A
    boilerplate gram is the skew/quadratic risk of the seed join, and
    the pre-partitioned cached join is outside AQE's skew-split reach —
    ``max_gram_df`` (which bounds every gram group at the cap) is the
    designed mitigation at scale, exactly as before. The
    quadratic risk is a gram shared by many documents (boilerplate):
    ``max_gram_df`` drops grams occurring in more than that many
    positions corpus-wide first (one partial-agg groupBy — the same
    noise cap as :func:`winnow_overlap_pairs`; spans found remain
    exact, but spans consisting ONLY of ubiquitous grams are missed —
    the standard common-code exclusion). At 100 TB, compose with
    :func:`winnow_overlap_pairs`: pass its output as ``pairs`` (any
    frame whose first two columns are an id pair, either order) and
    the gram stream is first semi-joined down to docs appearing in
    some candidate pair, then the matched diagonals are semi-joined to
    the pairs themselves — the gram self-join only ever runs over the
    winnow-candidate subcorpus, so its cost tracks the candidate
    count, not corpus². Spans found are still exact-maximal; pairs the
    prefilter missed are traded away exactly like winnow's own
    min_shared misses. Both 100 TB levers are pinned by registry
    entries: ``docs_exact_spans_capped`` (max_gram_df, oracle-replayed)
    and the winnow-composition pytest.
    """
    from pyspark.sql.window import Window

    g = int(min_len)
    if g < 2:
        raise ValueError("min_len must be >= 2")
    d = documents.select(F.col(id_col).alias("__id"), F.expr(norm_text(text_col)).alias("__t")).filter(
        F.length("__t") >= g
    )
    # explode positions first, substring in the same codegen stage: the
    # full text crosses no shuffle (only the 40-char gram does), and no
    # interpreted higher-order-function lambda runs per gram
    grams = (
        d.select(
            "__id",
            "__t",
            F.explode(
                F.sequence(F.lit(1), F.length("__t") - F.lit(g - 1))
            ).alias("pos"),
        )
        .select(
            "__id",
            F.col("pos").cast("bigint").alias("pos"),
            F.expr(f"substring(__t, pos, {g})").alias("gram"),
        )
    )
    # r13-opt: ONE gram-partitioned pass feeds everything. The seed
    # self-join reads the gram stream twice, and (with max_gram_df) so
    # did the df keep-filter — unmaterialized, the corpus was exploded
    # FOUR times and the df aggregate ran twice (plan-audited at sf0.1),
    # with the keep set built into two corpus-sized broadcasts. Instead:
    # shuffle the gram stream ONCE onto its join key, sorted, persist
    # it, and both join sides plus the df filter reuse the cached
    # layout exchange-free (the LPA/pagerank pinned-frame lever,
    # guide §2.4/§3.3). The df cap becomes a window count over the
    # same partitioning — corpus-wide by contract (ADVICE r11 #2),
    # computed BEFORE any pairs prefilter narrows the stream.
    if max_gram_df is not None:
        wdf = Window.partitionBy("gram")
        grams = (
            grams.repartition(F.col("gram"))
            .withColumn("__df", F.count(F.lit(1)).over(wdf))
            .filter(F.col("__df") <= max_gram_df)
            .drop("__df")
        )
    pr = None
    if pairs is not None:
        c0, c1 = pairs.columns[:2]
        # normalize to (lo, hi) — winnow/jaccard pair frames already
        # emit id_a < id_b, but accept either order
        pr = pairs.select(
            F.least(F.col(c0), F.col(c1)).alias("id_a"),
            F.greatest(F.col(c0), F.col(c1)).alias("id_b"),
        ).distinct()
        cand_ids = (
            pr.select(F.col("id_a").alias("__id"))
            .unionAll(pr.select(F.col("id_b").alias("__id")))
            .distinct()
        )
        # shrink the gram stream BEFORE the self-join — this is the
        # 100 TB lever: the quadratic only runs over candidate docs
        grams = grams.join(cand_ids, "__id", "left_semi")
    if max_gram_df is None:
        # the cap path is already hash-partitioned on gram by the df
        # window; only the uncapped path still needs the one exchange
        grams = grams.repartition(F.col("gram"))
    with scratch(documents.sparkSession) as s:
        # persisted (NOT localCheckpoint — a checkpoint's LogicalRDD drops
        # outputPartitioning/ordering and the join would re-shuffle+re-sort
        # both sides); the seed join materializes it, and the scope releases
        # it after the result materializes
        gp = s.persist(grams.sortWithinPartitions("gram"), eager=False)
        a = gp.select(F.col("__id").alias("id_a"), F.col("pos").alias("pa"), "gram")
        b = gp.select(F.col("__id").alias("id_b"), F.col("pos").alias("pb"), "gram")
        m = (
            a.join(b, "gram")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "pa", "pb", (F.col("pa") - F.col("pb")).alias("__diag"))
        )
        if pr is not None:
            m = m.join(pr, ["id_a", "id_b"], "left_semi")
        w = Window.partitionBy("id_a", "id_b", "__diag").orderBy("pa")
        spans = (
            m.withColumn("__isl", F.col("pa") - F.row_number().over(w))
            .groupBy("id_a", "id_b", "__diag", "__isl")
            .agg(
                F.min("pa").alias("start_a"),
                F.min("pb").alias("start_b"),
                F.max("pa").alias("__max_pa"),
            )
            .select(
                "id_a",
                "id_b",
                F.col("start_a").cast("bigint").alias("start_a"),
                F.col("start_b").cast("bigint").alias("start_b"),
                (F.col("__max_pa") - F.col("start_a") + g).cast("bigint").alias("span_len"),
            )
        )
        # Ownership: materialize the span set eagerly in the caller's scope
        # and release the gram-stream cache inside the op. Callers composing
        # further (coverage, removal) consume the spans, not the grams.
        return s.keep(spans)


def exact_span_coverage(
    documents: DataFrame,
    min_len: int = 40,
    text_col: str = "text",
    id_col: str = "doc_id",
    spans: DataFrame | None = None,
) -> DataFrame:
    """X129 — per-document exact-duplicate coverage: the fraction of a
    doc's normalized chars lying inside ANY maximal exact duplicate
    span (:func:`exact_dup_spans`) — the per-doc decision signal Lee
    et al. 2022 act on (they cut one copy of every duplicate span; a
    doc that is mostly covered is the removal candidate). Returns
    ``(doc_id, n_chars, covered_chars, coverage)`` for EVERY document
    (zero rows for docs in no span).

    Overlapping spans are unioned, not double-counted: span char
    ranges explode to positions and a count_distinct per doc (two-
    phase aggregate) collapses overlaps — same shape as X40's
    covered-token count. The explode fanout is Σ span lengths (a doc
    duplicated across many partners repeats its positions, which the
    distinct absorbs); pass a prefiltered ``spans`` frame (e.g. capped
    via ``max_gram_df`` or winnow-prefiltered pairs) at scale.
    """
    if spans is None:
        spans = exact_dup_spans(
            documents, min_len=min_len, text_col=text_col, id_col=id_col
        )
    sides = spans.select(
        F.col("id_a").alias("__id"), F.col("start_a").alias("__s"), "span_len"
    ).unionAll(
        spans.select(
            F.col("id_b").alias("__id"), F.col("start_b").alias("__s"), "span_len"
        )
    )
    covered = (
        sides.select(
            "__id",
            F.explode(
                F.sequence(F.col("__s"), F.col("__s") + F.col("span_len") - 1)
            ).alias("__pos"),
        )
        .groupBy("__id")
        .agg(F.count_distinct("__pos").alias("covered_chars"))
    )
    return (
        documents.select(
            F.col(id_col), F.length(F.expr(norm_text(text_col))).cast("bigint").alias("n_chars")
        )
        .join(covered.withColumnRenamed("__id", id_col), id_col, "left")
        .select(
            id_col,
            "n_chars",
            F.coalesce("covered_chars", F.lit(0)).cast("bigint").alias("covered_chars"),
            F.round(
                F.coalesce("covered_chars", F.lit(0)).cast("double")
                / F.greatest(F.col("n_chars").cast("double"), F.lit(1.0)),
                6,
            ).alias("coverage"),
        )
    )


def doc_novelty(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-document novelty profile in ingestion (id) order: the
    fraction of a doc's distinct word ``n``-gram shingles whose FIRST
    corpus occurrence (min doc id) is this doc — the "how much new
    content does each document actually add?" curve behind corpus
    redundancy growth analyses (the aggregate view of the same signal
    Lee et al. 2022 act on per-span; X40/X129 measure *duplicated*
    content, this measures its complement along the ingest axis — a
    feed whose novelty trend decays toward 0 has stopped contributing).
    Returns ``(doc_id, n_grams, n_novel, novelty_micro)`` for EVERY
    document, ``novelty_micro = n_novel·10⁶ div n_grams`` — all-integer,
    SQL-replayable. Shingles are the shingle set of
    :mod:`graph_loom_spark.ops`, so the numbers compose with the
    Jaccard/containment family.

    Scale shape: one explode + one partial-agg ``groupBy(gram)`` min
    (the inverted-index build every dedup op here already pays), one
    equi-join back (AQE splits hot boilerplate grams), one
    ``groupBy(doc)`` — no window, no driver state; the min-aggregate
    makes "first occurrence" associative, so it parallelizes exactly
    like a count.
    """
    base = spread(documents).select(
        F.col(id_col), F.explode(F.expr(ngrams(norm_tokens(text_col), n))).alias("__g")
    )
    first = base.groupBy("__g").agg(F.min(id_col).alias("__first"))
    per = (
        base.join(first, "__g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(
                F.when(F.col("__first") == F.col(id_col), 1).otherwise(0)
            ).cast("bigint").alias("n_novel"),
        )
    )
    return (
        documents.select(id_col)
        .join(per, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
            F.when(F.coalesce("n_grams", F.lit(0)) == 0, F.lit(0))
            .otherwise(F.expr("(n_novel * 1000000L) div n_grams"))
            .cast("bigint")
            .alias("novelty_micro"),
        )
    )


def co_occurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    max_group_size: int | None = 1000,
) -> DataFrame:
    """Build the co-occurrence (bipartite-projection) edge list: items
    are adjacent iff they share a group — ``(src, dst)`` with
    ``src < dst``, distinct. The association-graph constructor behind
    co-purchase / co-citation / co-mention analyses (feeds
    :func:`~graph_loom_spark.analytics.triangle_counts`, components,
    PageRank).

    ``max_group_size`` is the scale guard: a group of g items emits
    g·(g-1)/2 pairs, so one hot group (a mega-order, a viral session)
    can quadratically dominate the whole job; groups above the cap are
    DROPPED — the standard practice for projection graphs (cf. the
    same df-cap idea in :func:`winnow_overlap_pairs`). Pass ``None``
    to disable.

    Shape: one partial-aggregable group-size count, a broadcast-or-
    shuffled semi-join to filter capped groups, then the pair self-join
    on the group key — everything equi-join, AQE handles residual skew.
    """
    g = F.col(group_col).alias("__g")
    i = F.col(item_col)
    base = df.select(g, i.alias("__i")).distinct()
    if max_group_size is not None:
        sizes = (
            base.groupBy("__g")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_group_size)
            .select("__g")
        )
        base = base.join(sizes, "__g")
    a = base.select("__g", F.col("__i").alias("src"))
    b = base.select("__g", F.col("__i").alias("dst"))
    return (
        a.join(b, "__g")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def remove_dup_ngram_spans(
    documents: DataFrame, text_col: str = "text", n: int = 5, id_col: str = "doc_id"
) -> DataFrame:
    """Duplicate-passage REMOVAL (the transformation behind
    :func:`dup_ngram_coverage`'s signal, following Lee et al. 2022's
    keep-first-occurrence rule at n-gram granularity): for every word
    ``n``-gram occurring more than once in the corpus, the first
    occurrence (smallest ``(doc_id, position)``) survives; every token
    covered by a later occurrence is deleted from its document. Returns
    ``(doc_id, n_tokens, n_removed, clean_fingerprint)`` where the
    fingerprint is md5 of the cleaned, space-joined token stream — the
    cleaned text itself never needs to leave the executors.

    Shape: gram occurrences are (id, pos, 8-byte hash) rows; the
    first-vs-later split is one window keyed by the gram hash (a single
    shuffle of hash-sized rows); removal indices expand by the bounded
    factor n and aggregate back to one per-doc index array; the final
    reconstruction is a per-document array filter — no token-level
    shuffle, document text never leaves its partition.
    """
    from pyspark.sql.window import Window

    base, grams = _gram_positions(documents, text_col, n, id_col)
    w = Window.partitionBy("__g").orderBy(F.col(id_col).asc(), F.col("__pos").asc())
    later = (
        grams.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") > 1)  # rank > 1 implies the gram repeats
        .select(id_col, F.explode(F.sequence("__pos", F.col("__pos") + (n - 1))).alias("__ridx"))
        .distinct()
        .groupBy(id_col)
        .agg(F.collect_set("__ridx").alias("__rm"))
    )
    joined = base.join(later, id_col, "left").select(
        id_col,
        "__toks",
        "__nt",
        F.coalesce("__rm", F.array().cast("array<int>")).alias("__rm"),
    )
    kept = F.filter("__toks", lambda t, i: ~F.array_contains("__rm", i))
    return joined.select(
        id_col,
        F.col("__nt").cast("bigint").alias("n_tokens"),
        F.size("__rm").cast("bigint").alias("n_removed"),
        F.md5(F.array_join(kept, " ")).alias("clean_fingerprint"),
    )


def source_shingle_overlap(
    documents: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    shingle_n: int = 3,
    sample_mod: int = 1,
) -> DataFrame:
    """Cross-source contamination matrix: for every pair of sources,
    the overlap of their n-gram shingle SETS — the corpus-level
    analytic that tells a pipeline which ingest feeds are near-copies
    of each other before any doc-level dedup runs.

    Scale shape: one explode -> distinct gives the (source, shingle)
    set; the pair counts come from a shingle-keyed self-join whose
    per-shingle fanout is bounded by the SOURCE cardinality (dozens,
    not rows) squared — never an all-pairs doc join. At 100 TB the
    shingle universe itself is the cost, so ``sample_mod`` keeps only
    the deterministic md5 1/mod sample of shingle space (an unbiased
    MinHash-style estimate of the same Jaccard, reproducible in any
    md5-bearing engine — the oracle replays it bit-for-bit).

    Returns ``(src_a, src_b, inter, size_a, size_b)`` — all integers
    (exact Jaccard = inter / (size_a + size_b - inter) left to the
    caller so the frame stays hash-exact).
    """
    toks = f"split({text_col}, ' ')"
    grams = (
        f"case when size({toks}) >= {shingle_n} then "
        f"transform(sequence(0, size({toks}) - {shingle_n}), "
        f"i -> array_join(slice({toks}, i + 1, {shingle_n}), ' ')) "
        f"else array(array_join({toks}, ' ')) end"
    )
    sets = (
        documents.select(F.col(group_col).alias("src"), F.explode(F.expr(grams)).alias("g"))
        .distinct()
    )
    if sample_mod > 1:
        sets = sets.filter(F.expr(md5_lane("g", mod=sample_mod)) == 0)
    sizes = sets.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
    pairs = (
        sets.alias("a")
        .join(sets.alias("b"), "g")
        .filter(F.col("a.src") < F.col("b.src"))
        .groupBy(F.col("a.src").alias("src_a"), F.col("b.src").alias("src_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    # source-count-sized frames -> broadcast both size joins
    return (
        pairs.join(F.broadcast(sizes.select(F.col("src").alias("src_a"), F.col("sz").alias("size_a"))), "src_a")
        .join(F.broadcast(sizes.select(F.col("src").alias("src_b"), F.col("sz").alias("size_b"))), "src_b")
        .select("src_a", "src_b", "inter", "size_a", "size_b")
    )
