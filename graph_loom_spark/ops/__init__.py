"""Large-scale data-pipeline operators (beyond-reference surface):
relational analytics, windowed/sessionized event processing, text
analysis, deduplication, and similarity search — all built on
DataFrame/Catalyst primitives, designed for 100 TB-class inputs.

The corpus ops (``dedup``, ``text``, ``relational``, ``bpe``,
``streaming.docs_stream`` and ``analytics.weighted_sssp``) hash and
tokenize by the rules below, each written once in this module. The
text rules are Spark SQL text (a Column site wraps them in
``F.expr``), so SQL-built and Column-built ops share one spelling. The
DuckDB oracles of the ``docs_*`` registry entries
(``__spark_entry__.oracle_sql``) replay each rule bit for bit:

- **Normalizer.** :func:`norm_text` trims the text, lower-cases it
  and replaces each whitespace run (``\\s+``) with one space;
  :func:`norm_tokens` splits it on single spaces. A NULL text stays
  NULL (``bpe_token_counts`` normalizes ``coalesce(text, '')``). The oracles of
  ``docs_fingerprint``, ``docs_ngram_jaccard``, ``docs_minhash_pairs``,
  ``docs_gopher``, ``docs_trigram_lp``, ``docs_bloom_contamination``
  and the other token-level entries replay it with the same three
  functions (DuckDB's ``regexp_replace`` needs the ``'g'`` flag to
  replace every run).
- **md5 lane.** :func:`md5_lane` reads hex chars ``start ..
  start+width-1`` of ``md5(x)`` as a base-16 int64. A salted bucket
  hashes ``'<salt>:' || x`` and reduces the lane mod a width: row
  ``j`` of a count-min grid, position ``j`` of the Bloom filter, the
  ``'w'`` weights and buckets of the hashed classifiers and the
  ``'b'`` buckets of DSIR. Replayed as
  ``CAST(('0x' || substr(md5(x), start, width)) AS BIGINT)`` by
  ``docs_minhash_pairs``, ``docs_simhash_pairs``, ``docs_hll_distinct``,
  ``docs_cms_topk``, ``docs_classifier``, ``docs_dsir``,
  ``docs_bloom_contamination``, ``docs_length_buckets`` and
  ``docs_curriculum``.
- **Word n-grams.** :func:`ngrams` builds one gram per start position
  ``i`` of a token array, from ``slice(toks, i + 1, n)``, as
  ``xxhash64`` of the space-joined slice unless the caller gives
  another gram form. As a shingle set (the default) the grams are
  distinct and a document shorter than ``n`` tokens is one gram; as a
  positional stream they keep their order and a short document has
  none.
- **Word features.** :func:`word_features` is the hashed classifiers'
  feature list: the single-space tokens of the raw text, then the
  ``_``-joined adjacent bigrams (``docs_classifier``, ``docs_dsir``,
  ``docs_classifier_trained``).
- **Prefix index.** :func:`rarest_first_prefix` keeps, per document,
  the ``|sh| − ceil(t·|sh|) + 1`` rarest shingles by ``(df, shingle)``
  (``docs_ngram_jaccard``, ``docs_containment``).
- **Char-trigram model.** :func:`trigram_model` counts the 3-char
  windows of the normalized text and their 2-char contexts, takes each
  model's vocabulary from the chars of its trigrams, and scores
  ``ln((c + k) / (c_ctx + k·V))`` (``docs_trigram_lp``,
  ``docs_moore_lewis``, ``docs_curriculum``).
- **LSH banding.** :func:`lsh_bands` cuts a signature into equal slices
  and hashes each one (``docs_minhash_pairs``,
  ``docs_dedup_incremental``).
- **Count-min cells.** :func:`cms_grid` counts the ``d`` salted cells
  ``(j, md5_lane(v, salt=j) mod w)`` of every value (``docs_cms_topk``).

A streaming twin calls its batch builder on its streaming frame, so
stream and batch plan the same aggregate.
"""

from __future__ import annotations

import math
import os
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graph_loom_spark.graph import local_frame

# Logical nodes that preserve the file scan's partitioning (all unary,
# no exchange). Anything else (Join/Aggregate/Repartition/Deduplicate/…)
# means the frame's width is shuffle-determined, not scan-determined.
_NARROW_NODES = {"Filter", "Project", "SubqueryAlias", "View"}
_SCAN_NODES = {"LogicalRelation", "Relation", "DataSourceV2Relation"}
# Driver-local leaves: the data lives in the driver (createDataFrame /
# LocalRelation / literal ranges) and arrives in however few partitions
# the session default carves it into — treat as maximally narrow.
_LOCAL_NODES = {"LocalRelation", "OneRowRelation", "Range"}


def _estimated_scan_partitions(df: DataFrame) -> int | None:
    """Estimate the file-source partition count from driver metadata only.

    Mirrors Spark's ``FilePartition`` sizing: ``maxSplitBytes =
    min(maxPartitionBytes, max(openCostInBytes, totalBytes/parallelism))``
    then splits packed to that size (approximation: per-file split
    boundaries, bin-packing, and non-splittable codecs are ignored, so
    the estimate can be off by ±1 partition near the threshold — an
    acceptable error for a widen-or-not decision). Returns 1 for
    driver-local leaves (LocalRelation etc. — always narrow). Returns
    None when the frame is not a narrow transform of a file scan (its
    width is shuffle-determined) or when the files can't be stat'ed
    (remote FS) — callers then leave the frame untouched. Never converts
    the plan to an RDD."""
    plan = df._jdf.queryExecution().analyzed()
    while True:
        name = plan.nodeName()
        if name in _SCAN_NODES:
            break
        if name in _LOCAL_NODES:
            return 1
        if name not in _NARROW_NODES or plan.children().size() != 1:
            return None
        plan = plan.children().apply(0)
    sizes = []
    for uri in df.inputFiles():
        parsed = urlparse(uri)
        if parsed.scheme not in ("", "file"):
            return None  # can't stat remote files cheaply; don't guess
        sizes.append(os.path.getsize(unquote(parsed.path)))
    if not sizes:
        return None
    conf = df.sparkSession.conf
    try:
        max_pb = _parse_bytes(conf.get("spark.sql.files.maxPartitionBytes", "134217728b"))
    except ValueError:
        max_pb = 128 << 20  # Spark default; a bad conf string must not disable spread
    try:
        open_cost = _parse_bytes(conf.get("spark.sql.files.openCostInBytes", "4194304b"))
    except ValueError:
        open_cost = 4 << 20
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    total = sum(s + open_cost for s in sizes)
    max_split = min(max_pb, max(open_cost, total // max(1, parallelism)))
    return max(1, math.ceil(total / max(1, max_split)))


def _parse_bytes(v) -> int:
    """Spark byte-string syntax: optional fractional number + optional
    unit suffix (b/k/m/g/t/p, with or without trailing 'b'); a plain
    number means bytes. Raises ValueError on anything else."""
    s = str(v).strip().lower()
    units = {"b": 1}
    for i, prefix in enumerate("kmgtp"):
        units[prefix] = 1 << (10 * (i + 1))
        units[prefix + "b"] = 1 << (10 * (i + 1))
    for suffix, mult in sorted(units.items(), key=lambda kv: -len(kv[0])):
        if s.endswith(suffix):
            return int(float(s[: -len(suffix)]) * mult)
    return int(float(s))


def spread(df: DataFrame) -> DataFrame:
    """Widen a narrow input before a CPU-bound stage.

    Parquet splits by bytes, so a small-but-expensive input (short
    documents that each fan out into thousands of shingle hashes) can
    arrive as one partition and serialize the whole hashing stage onto a
    single core. Repartition up to the cluster's default parallelism —
    but only when the input is actually narrower, so a 100 TB table that
    already has thousands of splits is left untouched (no extra
    shuffle).

    Narrowness comes from driver-side metadata alone (file sizes vs
    Spark's split-packing formula, or "driver-local" for
    createDataFrame-style leaves) — no plan→RDD conversion, no cache to
    go stale. Frames whose width is shuffle-determined (joins,
    aggregates, repartitions anywhere below) are widened only when the
    session's ``spark.sql.shuffle.partitions`` — the width that shuffle
    produced — is itself narrower than the cluster's parallelism; a
    frame already shuffled to ≥ core-count width is returned untouched
    (no extra exchange)."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        est = _estimated_scan_partitions(df)
    except Exception:
        est = None
    if est is None:
        try:
            shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions", str(target)))
        except ValueError:
            shuffle_parts = target
        if shuffle_parts < target:
            return df.repartition(target)
        return df
    if est < target:
        return df.repartition(target)
    return df


def norm_text(col: str) -> str:
    """SQL text of the normalized ``col`` (a column or SQL expression):
    trimmed, lower-cased, each whitespace run one space."""
    return f"regexp_replace(lower(trim({col})), '\\\\s+', ' ')"


def norm_tokens(col: str) -> str:
    """SQL text of the normalized ``col`` split on single spaces."""
    return f"split({norm_text(col)}, ' ')"


def md5_lane(x: str, start: int = 1, width: int = 8, salt=None, mod: int | None = None) -> str:
    """SQL text of hex chars ``start .. start+width-1`` of ``md5(x)`` as
    an int64 (``width`` ≤ 15 keeps it non-negative). With ``salt`` the
    digest is of ``'<salt>:' || x``; with ``mod`` the lane is reduced
    mod it."""
    if salt is not None:
        x = f"concat('{salt}:', {x})"
    lane = f"cast(conv(substring(md5({x}), {start}, {width}), 16, 10) as bigint)"
    return lane if mod is None else f"({lane} % {mod})"


def ngrams(
    toks: str, n: int, gram: str = "xxhash64(concat_ws(' ', {}))", positions: str | None = None
) -> str:
    """SQL text of the word ``n``-grams of the token array ``toks``:
    ``gram`` applied to ``slice(toks, i + 1, n)`` for every start ``i``.

    By default the shingle set: distinct grams, and a document shorter
    than ``n`` tokens is one gram of all its tokens. With ``positions``
    (the SQL of the token count) every gram in start order, and none
    for a short document — the stream the span ops ``posexplode``."""
    each = f"i -> {gram.format(f'slice({toks}, i + 1, {n})')}"
    if positions is None:
        return f"array_distinct(transform(sequence(0, greatest(size({toks}) - {n}, 0)), {each}))"
    return (
        f"case when {positions} >= {n} then transform(sequence(0, {positions} - {n}), {each}) "
        "else cast(array() as array<bigint>) end"
    )


def word_features(col: str) -> str:
    """SQL text of the hashed classifiers' feature list: the
    single-space tokens of ``col``, then the adjacent bigrams joined by
    ``_`` (none for a 1-token document: ``sequence(0, -1)`` descends)."""
    toks = f"split({col}, ' ')"
    bigrams = (
        f"case when size({toks}) >= 2 then transform(sequence(0, size({toks}) - 2), "
        f"i -> concat(element_at({toks}, i + 1), '_', element_at({toks}, i + 2))) "
        f"else cast(array() as array<string>) end"
    )
    return f"concat({toks}, {bigrams})"


def rarest_first_prefix(ex: DataFrame, threshold: float) -> DataFrame:
    """The prefix-filter index over ``(id, g)`` shingle rows: per
    document its shingle count ``nsh`` and, one row each, its first
    ``|sh| − ceil(t·|sh|) + 1`` shingles in the global rarest-first
    order ``(df, g)``. A pair with overlap ≥ ``ceil(t·|a|)`` collides
    inside ``a``'s prefix, so filtering on it is lossless."""
    dfreq = ex.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    plen = F.greatest(
        F.lit(1),
        (F.size("sg") - F.ceil(F.lit(float(threshold)) * F.size("sg")) + 1).cast("int"),
    )
    return (
        ex.join(dfreq, "g")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "g"))).alias("sg"))
        .select(
            "id",
            F.size("sg").alias("nsh"),
            F.transform(F.slice("sg", 1, plen), lambda e: e["g"]).alias("pg"),
        )
        .select("id", "nsh", F.explode("pg").alias("g"))
    )


def trigram_model(docs: DataFrame, add_k: float, *counts: Column):
    """A char-trigram model over ``docs``, whose ``__n`` column holds
    normalized text of length ≥ 3.

    Returns ``(scored, vocab, lps)``. ``scored`` holds one row per
    3-char window of each document (``__t``), joined to its model row.
    ``counts`` are the per-trigram count aggregates, one per model. A
    trigram's 2-char context ``__b`` is its prefix, so each context
    count (``<count>_b``) is the model's trigram counts summed by
    prefix. ``vocab`` lists each model's distinct chars over the
    trigrams it counted, and ``lps`` the add-``k`` log-probabilities
    ``ln((c + k) / (c_b + k·V))``. The model (≤ alphabet³ rows, the
    side every scoring join broadcasts) is held on the driver, so the
    context frame and the vocabulary derive from it without
    re-exploding the corpus and no block stays pinned."""
    tri = docs.select(
        "*",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("__n") - 2),
                lambda i: F.substring(F.col("__n"), i, 3),
            )
        ).alias("__t"),
    ).drop("__n")
    agg = tri.groupBy("__t").agg(*counts)
    model = local_frame(docs.sparkSession, agg.collect(), agg.schema)
    names = model.columns[1:]
    ctx = model.groupBy(F.substring("__t", 1, 2).alias("__b")).agg(
        *[F.sum(c).alias(f"{c}_b") for c in names]
    )
    chars = model.select(*names, F.explode(F.split("__t", "")).alias("__c"))
    row = (
        chars.filter(F.col("__c") != "")
        .agg(*[F.count_distinct(F.when(F.col(c) > 0, F.col("__c"))).alias(c) for c in names])
        .first()
    )
    vocab = [float(row[c]) for c in names]
    lps = [
        F.log(
            (F.col(c).cast("double") + add_k) / (F.col(f"{c}_b").cast("double") + add_k * v)
        )
        for c, v in zip(names, vocab)
    ]
    scored = (
        tri.withColumn("__b", F.substring("__t", 1, 2))
        .join(F.broadcast(model), "__t")
        .join(F.broadcast(ctx), "__b")
    )
    return scored, vocab, lps


def lsh_bands(sig: str, bands: int, rows: int, band_hash) -> Column:
    """The LSH bands of the signature column ``sig`` as an array of
    ``(band, bh)`` structs to explode: band ``b`` is the slice of
    ``rows`` slots from ``b·rows + 1``, and ``bh = band_hash(slice)``."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"), band_hash(F.slice(sig, b * rows + 1, rows)).alias("bh")
            )
            for b in range(bands)
        ]
    )


def cms_cells(v: str, d: int, w: int) -> Column:
    """The ``d`` count-min cells of the string column ``v`` as an array
    of ``(j, b)`` structs: row ``j`` buckets ``v`` at
    ``md5_lane(v, salt=j) mod w``."""
    return F.array(
        *[
            F.struct(F.lit(j).alias("j"), F.expr(md5_lane(v, salt=j, mod=w)).alias("b"))
            for j in range(d)
        ]
    )


def cms_grid(values: DataFrame, v: str, d: int, w: int) -> DataFrame:
    """The count-min grid ``(j, b, cnt)`` of the string column ``v``:
    at most ``d·w`` rows, a partial-aggregable count per cell."""
    return (
        values.select(F.explode(cms_cells(v, d, w)).alias("__c"))
        .select("__c.j", "__c.b")
        .groupBy("j", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
