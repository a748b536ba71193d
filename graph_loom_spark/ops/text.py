"""Text-analysis operators for training-data pipelines: token stats,
quality scoring, language id, document fingerprinting.

Everything here is built from JVM-side expressions (regexp_*, md5,
length) — no Python UDFs — so it whole-stage-codegens and scales
linearly over 100 TB of documents. Formulas are chosen to be exactly
reproducible in ANSI SQL for the DuckDB oracle (md5, integer counts,
single double division).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graph_loom_spark.graph import keep, local_frame
from graph_loom_spark.ops import (
    md5_lane,
    ngrams,
    norm_text,
    norm_tokens,
    spread,
    trigram_model,
    word_features,
)

_TOKEN_RE = r"\S+"

# tiny per-language stopword profiles (public common words)
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "de", "que", "los"],
}


def token_stats(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document token/char counts + average token length."""
    toks = F.size(F.regexp_extract_all(F.col(text_col), F.lit(_TOKEN_RE), 0))
    chars = F.length(F.col(text_col))
    return documents.select(
        "doc_id",
        toks.cast("bigint").alias("n_tokens"),
        chars.cast("bigint").alias("n_chars_measured"),
        (chars.cast("double") / toks).alias("avg_token_len"),
    )


def quality_score(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic quality heuristic: length band + token-length band +
    alpha ratio. Integer/boolean arithmetic only → oracle-exact."""
    toks = F.size(F.regexp_extract_all(F.col(text_col), F.lit(_TOKEN_RE), 0))
    chars = F.length(F.col(text_col))
    alpha = F.length(F.regexp_replace(F.col(text_col), r"[^A-Za-z]", ""))
    len_ok = (chars >= 50) & (chars <= 20000)
    tok_ok = (toks >= 10) & ((chars.cast("double") / toks) <= 12.0)
    alpha_ratio = alpha.cast("double") / chars
    score = (
        len_ok.cast("int") + tok_ok.cast("int") + (alpha_ratio >= 0.5).cast("int")
    )
    return documents.select(
        "doc_id",
        score.cast("bigint").alias("quality_score"),
        alpha_ratio.alias("alpha_ratio"),
    )


def lang_id(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-profile language id: argmax of per-language hit counts,
    ties broken by profile order, 'und' (undetermined) when all zero.

    Shape: one narrow projection computing the 4 per-language whole-token
    hit counts as regex match counts (no explode, no shuffle — see the
    comment below), then a second projection doing the argmax over the
    count *attributes*. Keeping the argmax over attribute references —
    not inlined score expressions — matters: CollapseProject declines to
    merge the two selects because the counts are expensive and
    multiply-referenced, so each regex runs once per row; a naive
    nested-CASE over inline scores re-evaluates each count ~5x."""
    langs = list(LANG_PROFILES)
    # Whole-token profile-hit counts as regexp_extract_all sizes — one
    # narrow codegen'd scan, NO explode/shuffle (the former
    # explode → groupBy shape paid a data-sized exchange purely to count
    # token hits; measured 1.7 s → ~0.3 s at sf0.1). Token semantics are
    # IDENTICAL to splitting on [^a-z0-9_]+ and comparing tokens: a match
    # must start at ^ or consume one delimiter char, and the negative
    # lookahead rejects matches inside a longer token. Java-regex only —
    # the oracle keeps the portable split/unnest formulation and the
    # driver compares results.
    def _hits(words: list[str]) -> Column:
        pat = r"(?:^|[^a-z0-9_])(?:" + "|".join(words) + r")(?![a-z0-9_])"
        return F.size(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(pat), 0)
        )

    scored = documents.select(
        "doc_id",
        *[_hits(words).alias(f"__s_{lang}") for lang, words in LANG_PROFILES.items()],
    )
    scores: dict[str, Column] = {lang: F.col(f"__s_{lang}") for lang in langs}
    best = F.lit("und")
    best_score = F.lit(0)
    for lang in reversed(langs):  # earlier profiles win ties → apply last
        s = scores[lang]
        cond = s >= F.greatest(*[scores[o] for o in langs if o != lang]) if len(langs) > 1 else s > 0
        best = F.when((s > 0) & cond, F.lit(lang)).otherwise(best)
    for lang in langs:
        best_score = F.greatest(best_score, scores[lang])
    return scored.select(
        "doc_id", best.alias("lang_pred"), best_score.cast("bigint").alias("lang_hits")
    )


def tfidf_topk_terms(
    documents: DataFrame, text_col: str = "text", k: int = 5
) -> DataFrame:
    """Per-document top-k terms by TF-IDF: ``(doc_id, term, tfidf)``.

    tfidf = round(tf · ln(N/df), 6) over the same tokenizer as
    :func:`lang_id` (lowercase, split on non-[a-z0-9_] runs). The raw
    product differs across engines by 1 ulp (libm vs Math.log), so the
    score is rounded to 6 digits AND the top-k ranking orders by the
    rounded value — both the rows and their selection are then
    engine-independent. Tie-break: score desc, then term asc.

    Scale shape: explode → two partial-aggregable groupBys (the shuffle
    carries (doc_id, term, count) resp. (term, count)); the doc-frequency
    join is a plain equi-join on term (broadcastable while the term
    dictionary is small, shuffle join at corpus scale); the top-k window
    partitions by doc_id — no global ordering anywhere.
    """
    # spread: explode/feature chains on a narrow parquet scan would
    # otherwise run single-task (the scan stage owns the whole per-row
    # expression tree); widen BEFORE the projection so the heavy work
    # parallelizes. No-op on already-wide inputs.
    documents = spread(documents)
    from pyspark.sql.window import Window

    toks = documents.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col(text_col)), r"[^a-z0-9_]+")).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("__tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
    n_docs = documents.count()
    scored = tf.join(dfreq, "term").select(
        "doc_id",
        "term",
        F.round(
            F.col("__tf").cast("double")
            * F.log(F.lit(float(n_docs)) / F.col("__df").cast("double")),
            6,
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select("doc_id", "term", "tfidf")
    )


def fingerprint(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Canonical document fingerprint: md5 of the normalized text (see
    :mod:`graph_loom_spark.ops`) — identical in every engine, unlike
    xxhash64."""
    return documents.select("doc_id", F.md5(F.expr(norm_text(text_col))).alias("fingerprint"))


def contamination_flags(
    documents: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Benchmark-contamination scan: flag documents sharing any word
    ``n``-gram with a benchmark corpus — the standard pre-training decontamination
    check. Returns ``(doc_id, contaminated)`` for every document.

    Shape: the benchmark's distinct n-gram set is tiny relative to the
    corpus (benchmarks are small), so its exploded grams broadcast and
    the flag is a broadcast LEFT SEMI join on the gram hash — one scan
    of the corpus, no shuffle of document data. Grams are hashed
    (xxhash64) so the join carries 8 bytes, not text.
    """
    def grams(df, idc):
        sh = F.expr(ngrams(norm_tokens(text_col), n))
        return df.select(F.col(idc).alias(idc), F.explode(sh).alias("__g"))

    bench_grams = grams(benchmark, id_col).select("__g").distinct()
    doc_grams = grams(documents, id_col)
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "__g", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return (
        documents.select(id_col)
        .join(hits, id_col, "left")
        .select(id_col, F.coalesce("contaminated", F.lit(False)).alias("contaminated"))
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fraction: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff the first 8 hex
    digits of md5(strata || ':' || id) fall under ``fraction`` of the
    32-bit space — compared as fixed-width lowercase hex strings, which
    order exactly like the integers they encode. Engine-independent (md5
    everywhere — the DuckDB oracle reproduces the exact row set, unlike
    rand()/TABLESAMPLE), stable under re-runs and partitioning, and a
    pure narrow filter — the scan shape a 100 TB reproducible-sampling
    pass needs. Per-stratum rates stay proportional because the hash is
    uniform within each stratum.
    """
    if fraction >= 1.0:
        return df  # full sample; the 8-hex threshold cannot express 2^32
    fraction = max(fraction, 0.0)
    threshold_hex = f"{int(fraction * float(1 << 32)):08x}"
    bucket = F.substring(
        F.md5(F.concat_ws(":", F.col(strata_col), F.col(id_col).cast("string"))), 1, 8
    )
    return df.filter(bucket < threshold_hex)


def repetition_stats(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021,
    "Scaling Language Models", table A1 — adapted to token level because
    this corpus has no line structure): ``(doc_id, n_tokens,
    dup_token_frac, top_bigram_frac)``.

    - ``dup_token_frac``  = 1 − distinct_tokens / n_tokens — how much of
      the document is repeated vocabulary.
    - ``top_bigram_frac`` = occurrences of the most frequent word bigram
      / total bigrams — boilerplate/template detector.

    Both are single divisions of exact integers → engine-exact (IEEE 754
    division of integers ≤ 2^53 is correctly rounded everywhere), no
    rounding needed. Tokens are the normalized tokens of
    :mod:`graph_loom_spark.ops`.

    Scale shape: the per-doc token/distinct counts are narrow projections
    (no shuffle); the top-bigram count is explode → two partial-aggregable
    groupBys keyed by (doc_id, bigram-hash) resp. doc_id — the shuffle
    carries 16-byte keys + counts, never text — then a broadcast-sized
    join back onto the narrow stats. One scan of the corpus.
    """
    toks = F.expr(norm_tokens(text_col))
    base = documents.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("__nd"),
        toks.alias("__toks"),
    )
    # bigrams of consecutive tokens; empty for 0/1-token docs
    bigrams = F.when(
        F.size("__toks") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("__toks") - 2),
            lambda i: F.xxhash64(
                F.concat_ws(" ", F.element_at("__toks", i + 1), F.element_at("__toks", i + 2))
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    top = (
        base.select("doc_id", F.explode(bigrams).alias("__bg"))
        .groupBy("doc_id", "__bg")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy("doc_id")
        .agg(F.max("__c").alias("__top"))
    )
    return (
        base.drop("__toks")
        .join(top, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.lit(1.0) - F.col("__nd").cast("double") / F.col("n_tokens")).alias(
                "dup_token_frac"
            ),
            F.when(
                F.col("n_tokens") >= 2,
                F.coalesce(F.col("__top"), F.lit(0)).cast("double")
                / (F.col("n_tokens") - 1),
            )
            .otherwise(F.lit(0.0))
            .alias("top_bigram_frac"),
        )
    )


# Shared PII patterns — restricted to syntax that Java's regex (Spark)
# and RE2 (the DuckDB oracle) interpret identically: character classes,
# bounded repetition, \b word boundaries; no lookaround, no backrefs.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    "phone": (r"\+\d{9,15}", "<PHONE>"),
}


def pii_scrub(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """PII detection + redaction — the pre-training scrub pass: returns
    ``(doc_id, n_email, n_ipv4, n_phone, redacted_fingerprint)`` where
    the fingerprint is md5 of the text with every match replaced by its
    ``<TYPE>`` tag (emails first, then IPs, then phones — order matters
    because an email's domain could otherwise be clipped into an IP-like
    token).

    Pure JVM expressions (regexp_extract_all / regexp_replace / md5) —
    whole-stage codegen, one narrow scan, no shuffle; the full redacted
    text never leaves the executor, only its hash. Engine-exact vs the
    oracle because the patterns are in the Java∩RE2 common subset and
    Spark's replace-all matches DuckDB's 'g' flag.
    """
    red = F.col(text_col)
    counts = []
    for name, (pat, tag) in PII_PATTERNS.items():
        counts.append(
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0)))
            .cast("bigint")
            .alias(f"n_{name}")
        )
        red = F.regexp_replace(red, pat, tag)
    return documents.select("doc_id", *counts, F.md5(red).alias("redacted_fingerprint"))


# GPT-2-style pre-tokenizer, restricted to the Java-regex ∩ RE2 common
# subset (no lookarounds): contractions, letter runs, digit runs,
# punctuation runs — each optionally preceded by one space. Whitespace
# between tokens is consumed implicitly by extract-all.
_BPE_ISH_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_token_stats(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting with a BPE-ish pre-tokenizer regex alongside the
    whitespace count — the standard "how many tokens will this cost"
    estimator a training pipeline runs before the real tokenizer.
    Returns ``(doc_id, n_ws_tokens, n_bpe_tokens, bpe_per_ws)``.

    Pure ``regexp_extract_all`` size — codegen'd, no shuffle, one scan.
    The pattern avoids lookarounds so Spark (java.util.regex) and the
    DuckDB oracle (RE2) tokenize identically.
    """
    ws = F.size(F.regexp_extract_all(F.col(text_col), F.lit(_TOKEN_RE), 0))
    bpe = F.size(F.regexp_extract_all(F.col(text_col), F.lit(_BPE_ISH_RE), 0))
    return documents.select(
        "doc_id",
        ws.cast("bigint").alias("n_ws_tokens"),
        bpe.cast("bigint").alias("n_bpe_tokens"),
        F.when(ws > 0, bpe.cast("double") / ws).otherwise(F.lit(0.0)).alias(
            "bpe_per_ws"
        ),
    )


# Stopword set for the Gopher "contains common words" rule — a small
# public English list; presence of >= 2 distinct members is the signal.
GOPHER_STOPWORDS: list[str] = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality(
    documents: DataFrame,
    text_col: str = "text",
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher quality-filter rules, token-level subset (Rae et al. 2021,
    "Scaling Language Models: ... Gopher", appendix A1.1): returns
    ``(doc_id, n_tokens, mean_token_len, alpha_word_frac, symbol_ratio,
    stop_hits, gopher_pass)`` where ``gopher_pass`` is the AND of

    - token count in ``[min_tokens, max_tokens]``
    - mean token length in ``[min_mean_len, max_mean_len]``
    - symbol-to-word ratio (``#`` or ``...`` occurrences / tokens)
      ``<= max_symbol_ratio``
    - fraction of tokens containing an alphabetic char ``>= min_alpha_frac``
    - at least ``min_stop_hits`` distinct common stopwords present

    The line-structure rules of the paper (bullet/ellipsis line ratios)
    need documents with line breaks and live in the C4-style line
    cleaner; this operator is the per-token half every pre-training
    pipeline runs first.

    All quantities are integer counts and single IEEE divisions → exact
    in any engine (same argument as :func:`repetition_stats`). Pure
    codegen'd expressions, one narrow scan, no shuffle — the 100 TB
    shape: a quality pass must never cost more than the read itself.
    Tokens are the normalized tokens of :mod:`graph_loom_spark.ops`.
    """
    norm = F.expr(norm_text(text_col))
    base = documents.select("doc_id", F.col(text_col).alias("__t"), norm.alias("__n"))
    toks = F.split(F.col("__n"), " ")
    n_tok = F.size(toks)
    # total token chars = normalized length minus the (n-1) separators
    tok_chars = F.length(F.col("__n")) - (n_tok - F.lit(1))
    mean_len = tok_chars.cast("double") / n_tok
    # tokens containing a letter, counted by regex instead of a
    # filter() HOF: higher-order-function lambdas knock the whole
    # projection out of whole-stage codegen (plan-asserted in
    # test_plans.py). Each match consumes one space-delimited token
    # that contains [a-z]; `[^ ]*` cannot cross the single-space
    # separators of the normalized text, so matches ≡ qualifying
    # tokens. (The oracle keeps the clearer list_filter form — only
    # results are compared.)
    alpha_words = F.size(
        F.regexp_extract_all(F.col("__n"), F.lit(r"(?:^| )[^ ]*[a-z][^ ]*"), 0)
    )
    alpha_frac = alpha_words.cast("double") / n_tok
    symbols = F.size(F.regexp_extract_all(F.col("__t"), F.lit(r"#|\.\.\."), 0))
    symbol_ratio = symbols.cast("double") / n_tok
    stop_hits = None
    for s in GOPHER_STOPWORDS:
        hit = F.array_contains(toks, s).cast("int")
        stop_hits = hit if stop_hits is None else stop_hits + hit
    ok = (
        (n_tok >= min_tokens)
        & (n_tok <= max_tokens)
        & (mean_len >= min_mean_len)
        & (mean_len <= max_mean_len)
        & (symbol_ratio <= max_symbol_ratio)
        & (alpha_frac >= min_alpha_frac)
        & (stop_hits >= min_stop_hits)
    )
    return base.select(
        "doc_id",
        n_tok.cast("bigint").alias("n_tokens"),
        mean_len.alias("mean_token_len"),
        alpha_frac.alias("alpha_word_frac"),
        symbol_ratio.alias("symbol_ratio"),
        stop_hits.cast("bigint").alias("stop_hits"),
        ok.alias("gopher_pass"),
    )


def winnow_fingerprints(
    documents: DataFrame, text_col: str = "text", k: int = 8, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every character ``k``-gram of
    the normalized text, slide a window of ``w`` consecutive hashes, keep
    each window's minimum; the distinct selected hashes are the
    document's fingerprint set. Guarantees any shared substring of
    length ≥ k+w−1 contributes a shared fingerprint — the local-match
    detector exact dedup can't give and MinHash only approximates.

    Returns exploded ``(doc_id, fp)`` rows, ``fp`` = first 8 hex chars of
    md5(k-gram) — fixed-width hex compares identically to the u32 it
    encodes, so window minima are engine-independent (md5 everywhere; a
    polynomial rolling hash would be faster per byte but engine-local —
    same portability trade as :func:`fingerprint`).

    Shape: normalization stays a codegen'd expression; the per-position
    hash + sliding-window min runs in ONE Arrow-batched ``mapInPandas``
    (numpy ``sliding_window_view`` min + ``unique`` per doc) — zero
    shuffle, one scan. This is deliberately NOT the pure-expression form
    (``transform(sequence(...), i -> md5(substr ...))``): Catalyst
    interprets higher-order-function lambdas element-by-element, no
    whole-stage codegen, measured 12-14 s vs 2-5 s for this at sf0.1 —
    the same HOF-vs-Arrow trade as ``ivf_assign``. Docs shorter than
    ``k`` chars hash as a single truncated gram; empty docs emit no
    rows.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    norm = F.expr(norm_text(text_col))

    def _winnow(batches):
        for pdf in batches:
            ids: list = []
            fps: list = []
            for doc_id, text in zip(pdf["doc_id"], pdf["__n"]):
                L = len(text)
                if L == 0:
                    continue
                ng = L - k + 1 if L >= k else 1
                hs = np.fromiter(
                    (
                        int.from_bytes(
                            hashlib.md5(text[i : i + k].encode()).digest()[:4], "big"
                        )
                        for i in range(ng)
                    ),
                    dtype=np.uint32,
                    count=ng,
                )
                if ng >= w:
                    mins = np.lib.stride_tricks.sliding_window_view(hs, w).min(axis=1)
                else:
                    mins = hs.min(keepdims=True)
                for v in np.unique(mins):
                    ids.append(doc_id)
                    fps.append(f"{v:08x}")
            yield pd.DataFrame({"doc_id": ids, "fp": fps})

    # spread: the md5-per-gram loop is CPU-bound and a narrow parquet
    # scan would hand all of it to one Arrow worker
    return spread(documents.select("doc_id", norm.alias("__n"))).mapInPandas(
        _winnow, "doc_id long, fp string"
    )


def pack_sequences(
    documents: DataFrame,
    text_col: str = "text",
    budget: int = 512,
    shards: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Training-example packing map: concatenate documents (in id order,
    within a shard) into a single token stream and chunk it into
    fixed-``budget`` sequences — the standard concat-then-chunk batching
    of GPT-style pre-training. For each document returns
    ``(doc_id, shard, n_tokens, seq_idx, offset_tokens)``: the sequence
    its first token lands in and the offset inside that sequence.
    Documents may straddle a boundary (that IS concat-then-chunk
    semantics; packers that restart long docs are a policy layer above
    this map).

    Scale shape: the only shuffle is the per-shard window
    (``sum() over (partition by shard order by id)``) — ``shards``
    bounds the window-partition size, so at 100 TB you raise it until a
    shard's (id, count) pairs fit a task; the token count itself is a
    narrow codegen'd projection, and document text never enters the
    shuffle. ``shard = id % shards`` (not a hash) so the oracle
    reproduces the exact assignment in any engine.
    """
    n_tok = F.size(F.regexp_extract_all(F.col(text_col), F.lit(_TOKEN_RE), 0))
    base = documents.select(
        F.col(id_col),
        F.pmod(F.col(id_col), F.lit(shards)).cast("bigint").alias("shard"),
        n_tok.cast("bigint").alias("n_tokens"),
    )
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_cum = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return base.select(
        id_col,
        "shard",
        "n_tokens",
        F.floor(prev_cum / budget).cast("bigint").alias("seq_idx"),
        (prev_cum % budget).cast("bigint").alias("offset_tokens"),
    )


def pack_efficiency(
    documents: DataFrame,
    text_col: str = "text",
    budget: int = 512,
    shards: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Packing-efficiency manifest for :func:`pack_sequences` — the
    padding-waste report a trainer checks before committing a sequence
    budget: per shard, ``(shard, n_docs, total_tokens, n_sequences,
    fill_rate)`` where ``n_sequences = ceil(total_tokens / budget)``
    (concat-then-chunk fills every sequence except the shard's last)
    and ``fill_rate = total_tokens / (n_sequences · budget)`` — the
    fraction of the token grid carrying real tokens rather than padding.

    Derived closed-form from the same shard rule and token counts as
    :func:`pack_sequences` (pinned by a pytest that cross-checks
    against the packing map itself), so it costs one narrow scan + a
    ``shards``-row aggregate instead of materializing the packing.
    Integer ceiling via ``(s + budget-1) div budget`` — exact in any
    engine; fill_rate is an integer-ratio double rounded to 6.
    """
    n_tok = F.size(F.regexp_extract_all(F.col(text_col), F.lit(_TOKEN_RE), 0))
    base = documents.select(
        F.pmod(F.col(id_col), F.lit(shards)).cast("bigint").alias("shard"),
        n_tok.cast("bigint").alias("n"),
    )
    n_seq = F.expr(f"(sum(n) + {budget - 1}) div {budget}")
    return (
        base.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("total_tokens"),
            n_seq.cast("bigint").alias("n_sequences"),
            F.round(
                F.sum("n") / (n_seq * F.lit(budget)), 6
            ).alias("fill_rate"),
        )
        .orderBy("shard")
    )


def chunk_documents(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Sliding-window document chunking — the RAG/pre-training splitter:
    each document's whitespace tokens are cut into windows of
    ``chunk_tokens`` starting every ``stride`` tokens (overlap =
    ``chunk_tokens − stride``). Returns one row per chunk:
    ``(doc_id, chunk_index, chunk_tokens_n, chunk_text)``.

    Window rule: starts are 0, stride, 2·stride, … while start < the
    token count, so every token is covered, short documents yield one
    chunk, and the final chunk may be shorter (no silent truncation —
    the standard LangChain/tokenizer-splitter semantics).

    Shape: a pure narrow projection — tokenize once, generate start
    offsets with ``sequence``, explode, slice. No shuffle, no UDF;
    at 100 TB this is a map-only pass that parallelizes with the scan.
    """
    base = documents.select(F.col(id_col), F.expr(norm_tokens(text_col)).alias("__t"))
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("__t") - 1, F.lit(0)), F.lit(stride)
    )
    ex = base.select(
        id_col,
        F.col("__t"),
        F.posexplode(starts).alias("chunk_index", "__s"),
    )
    piece = F.slice("__t", F.col("__s") + 1, chunk_tokens)
    return ex.select(
        id_col,
        F.col("chunk_index").cast("bigint").alias("chunk_index"),
        F.size(piece).cast("bigint").alias("chunk_tokens_n"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    )


def train_split(
    documents: DataFrame,
    id_col: str = "doc_id",
    fractions: dict | None = None,
    seed: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: the first 8 hex chars of
    ``md5(seed || ':' || id)`` fall into cumulative-fraction buckets of
    the 32-bit space (compared as fixed-width hex strings — the
    :func:`stratified_sample` lever). Engine-independent, stable under
    re-runs/partitioning, no RNG state; a pure narrow projection, so at
    100 TB the split is decided at scan speed and is re-derivable from
    the id alone (no membership tables to ship). Returns
    ``(id, split)``."""
    return documents.select(
        F.col(id_col), split_expr(id_col, fractions, seed).alias("split")
    )


def split_expr(
    id_col: str = "doc_id", fractions: dict | None = None, seed: str = "split"
) -> Column:
    """The :func:`train_split` assignment as a bare Column expression —
    a deterministic pure function of the id, so callers that split by a
    DERIVED key (e.g. :func:`graph_loom_spark.ops.dedup.
    leakage_safe_split` keying on cluster_id) stay narrow projections
    instead of joining a per-key assignment table."""
    fractions = fractions or {"train": 0.9, "val": 0.05, "test": 0.05}
    names = list(fractions)
    if sum(fractions[n] for n in names[:-1]) >= 1.0:
        # at cum ≥ 1.0 the %08x limit becomes a 9-char hex string and the
        # fixed-width lexicographic compare silently misroutes most docs
        raise ValueError(
            "train_split fractions before the last split must sum to < 1.0; "
            f"got {fractions}"
        )
    bucket = F.substring(
        F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string"))), 1, 8
    )
    expr = None
    cum = 0.0
    for name in names[:-1]:
        cum += fractions[name]
        hexlim = f"{int(cum * float(1 << 32)):08x}"
        cond = bucket < hexlim
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])


def epoch_shuffle(
    documents: DataFrame,
    id_col: str = "doc_id",
    seed: str = "epoch0",
    shards: int = 16,
) -> DataFrame:
    """Deterministic epoch shuffle: a reproducible random-looking
    training order as ``(id, shard, pos)`` — shard from the last 1-3
    hex chars of ``md5(seed || ':' || id)`` (``shards`` ∈ {16, 256,
    4096}; positional strpos arithmetic, so no engine-specific hex→int
    builtin is needed), position by the full hex key within the shard.
    Changing ``seed`` reshuffles every epoch; same seed reproduces the
    exact order anywhere.

    Scale shape: one hash projection + one window partitioned by shard.
    Scale ``shards`` with the corpus so each window partition's sort
    stays task-sized (4096 shards ⇒ ~25 GB/shard at 100 TB); a consumer
    that doesn't need DENSE positions can skip the window entirely and
    ``ORDER BY (shard, key)`` — a distributed range sort."""
    import math

    h = round(math.log(shards, 16))
    if 16**h != shards or not 1 <= h <= 3:
        raise ValueError("shards must be 16, 256, or 4096 (1-3 md5 hex chars)")
    key = F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string")))
    from pyspark.sql.window import Window

    shard = None
    for j in range(h):
        digit = F.instr(
            F.lit("0123456789abcdef"), F.substring(key, 32 - j, 1)
        ) - 1
        term = digit * F.lit(16**j)
        shard = term if shard is None else shard + term
    base = documents.select(
        F.col(id_col), key.alias("__k"), shard.cast("bigint").alias("shard")
    )
    w = Window.partitionBy("shard").orderBy("__k")
    return base.select(
        id_col, "shard", (F.row_number().over(w) - 1).cast("bigint").alias("pos")
    )


def vocab_topk(documents: DataFrame, text_col: str = "text", k: int = 50) -> DataFrame:
    """Corpus-level vocabulary head: top-``k`` terms by total occurrence
    count — ``(term, n_occurrences, rank)``, rank dense in count-desc /
    term-asc order. The tokenizer matches :func:`lang_id` / TF-IDF
    (lowercase, split on non-[a-z0-9_] runs).

    Shape: explode → one partial-aggregable groupBy (shuffle carries
    (term, count)); the global top-k is TakeOrdered over the aggregated
    term dictionary — no full sort, driver sees k rows. This is the
    vocabulary/tokenizer-training statistic every corpus build runs.
    """
    # spread: explode/feature chains on a narrow parquet scan would
    # otherwise run single-task (the scan stage owns the whole per-row
    # expression tree); widen BEFORE the projection so the heavy work
    # parallelizes. No-op on already-wide inputs.
    documents = spread(documents)
    counts = (
        documents.select(
            F.explode(
                F.split(F.lower(F.col(text_col)), r"[^a-z0-9_]+")
            ).alias("term")
        )
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    top = counts.orderBy(F.col("n_occurrences").desc(), F.col("term").asc()).limit(k)
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("term").asc())
    return top.select(
        "term", "n_occurrences", F.row_number().over(w).cast("bigint").alias("rank")
    )


def source_unigram_drift(
    documents: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source-pair vocabulary drift: total-variation distance
    between unigram distributions — the distribution-level "are these
    ingest feeds diverging?" monitor next to the set-level shingle
    overlap matrix (X73 asks "do they share content?"; this asks "do
    they *write* differently?" — a feed can share zero documents yet
    have identical language, or vice versa). For sources a, b with
    fixed-point term frequencies ``p(t) = c(t)·10⁶ div N``::

        drift_micro(a,b) = (S_a + S_b − 2·Σ_t min(p_a(t), p_b(t))) div 2

    which equals ½·Σ|p_a−p_b| because one-sided terms contribute
    min = 0 — so the expensive stage is an INNER join on shared terms
    only, never a full-outer union of vocabularies. 0 = identical
    distributions, ~10⁶ = disjoint. All-integer (per-term floors, the
    RRF micropoint trick) → a SQL oracle replays it bit-for-bit.
    Returns ``(source_a, source_b, n_shared_terms, drift_micro)`` for
    EVERY source pair (zero-overlap pairs report drift ≈ 10⁶), pairs
    ordered ``source_a < source_b``. Tokenizer matches
    :func:`lang_id` / TF-IDF (lowercase, split on non-[a-z0-9_]).

    Scale shape: one partial-agg ``groupBy(source, term)`` over the
    exploded stream (the only corpus-sized stage), per-source totals
    broadcast back (|sources| rows), the shared-term equi-join fans
    out ≤ |sources|² rows per term (AQE splits hot stopword terms),
    and the pair grid is a crossJoin of two |sources|-row aggregates —
    at a thousand feeds that grid is 10⁶ rows, still nothing. The
    per-term floor makes drift exact-reproducible but means Σp ≤ 10⁶
    (off by ≤ |vocab| micropoints); both engines replay identically.
    """
    documents = spread(documents)
    c = (
        documents.select(
            F.col(source_col).alias("__src"),
            F.explode(
                F.split(F.lower(F.col(text_col)), r"[^a-z0-9_]+")
            ).alias("__t"),
        )
        .filter(F.col("__t") != "")
        .groupBy("__src", "__t")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    tot = c.groupBy("__src").agg(F.sum("__n").alias("__tot"))
    p = c.join(F.broadcast(tot), "__src").select(
        "__src", "__t", F.expr("(__n * 1000000L) div __tot").alias("__p")
    )
    s = p.groupBy("__src").agg(F.sum("__p").cast("bigint").alias("__S"))
    pa = p.select(
        F.col("__src").alias("source_a"), "__t", F.col("__p").alias("__pa")
    )
    pb = p.select(
        F.col("__src").alias("source_b"), "__t", F.col("__p").alias("__pb")
    )
    m = (
        pa.join(pb, "__t")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shared_terms"),
            F.sum(F.least("__pa", "__pb")).alias("__m"),
        )
    )
    grid = (
        s.select(F.col("__src").alias("source_a"), F.col("__S").alias("__Sa"))
        .crossJoin(
            s.select(F.col("__src").alias("source_b"), F.col("__S").alias("__Sb"))
        )
        .filter(F.col("source_a") < F.col("source_b"))
    )
    return grid.join(m, ["source_a", "source_b"], "left").select(
        "source_a",
        "source_b",
        F.coalesce("n_shared_terms", F.lit(0)).cast("bigint").alias(
            "n_shared_terms"
        ),
        F.expr("(__Sa + __Sb - 2 * coalesce(__m, 0L)) div 2")
        .cast("bigint")
        .alias("drift_micro"),
    )


def textrank_keywords(
    documents: DataFrame,
    text_col: str = "text",
    k: int = 30,
    iters: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): corpus-level
    top-``k`` terms by PageRank over the word ADJACENCY graph — terms
    are vertices, an edge links words that appear consecutively
    (window 2, the paper's default), and centrality in that graph beats
    raw frequency because a term that co-occurs with many *distinct*
    well-connected terms outranks a term that merely repeats. The
    pipeline's "what is this corpus about?" view next to the frequency
    head (X33) and TF-IDF (X9).

    Built as a COMPOSITION: tokenize → consecutive-pair explode →
    canonical distinct edge set doubled into both directions (TextRank's
    graph is undirected; symmetric edges make directed PageRank
    equivalent) → :func:`~graph_loom_spark.analytics.pagerank` — the
    fixed-point integer implementation, so ranks are bit-identical
    across engines/partitionings and the SQL oracle replays all
    ``iters`` iterations exactly. Returns ``(term, rank)``, rank-desc /
    term-asc top-k.

    Scale shape: one explode + one distinct on (a, b) word pairs (the
    only corpus-sized stages, both partial-aggregable); the graph
    itself is VOCABULARY-sized (|V| = distinct terms, edges ≤ distinct
    bigrams), so the PageRank loop runs on frames orders of magnitude
    smaller than the corpus — the same reduction BPE training rides.
    Tokenizer matches :func:`lang_id` / TF-IDF (lowercase,
    non-[a-z0-9_] splits; empty tokens dropped BEFORE pairing so
    adjacency never spans a separator run).
    """
    from graph_loom_spark import analytics
    from graph_loom_spark.graph import PropertyGraph

    documents = spread(documents)
    words = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^a-z0-9_]+"),
        lambda w: w != F.lit(""),
    )
    pairs = documents.select(
        F.explode(
            F.arrays_zip(
                F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(0))).alias("a"),
                F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0))).alias("b"),
            )
        ).alias("__p")
    ).select(F.col("__p.a").alias("a"), F.col("__p.b").alias("b"))
    # r13-opt: pin the VOCABULARY-sized distinct pair set — nodes,
    # both undirected edge orientations, the out-degree aggregate
    # and the pinned-edge build below all branch from it, and
    # unmaterialized each branch re-ran the corpus-sized explode +
    # distinct (~6 evaluations per call, plan-audited). It is kept in
    # the caller's scope, beside the pagerank result the return reads.
    e = keep(
        pairs.select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    edges = e.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        e.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    nodes = (
        e.select(F.col("u").alias("id"))
        .unionAll(e.select(F.col("v").alias("id")))
        .distinct()
    )
    g = PropertyGraph(documents.sparkSession, nodes=nodes, edges=edges)
    ranks = analytics.pagerank(g, iters=iters, damping=damping)
    return (
        ranks.select(F.col("id").alias("term"), "rank")
        .orderBy(F.col("rank").desc(), F.col("term"))
        .limit(k)
    )


def source_entropy(
    documents: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source vocabulary entropy — the distribution-level diversity
    monitor next to the pairwise drift matrix (X134 compares sources to
    each other; this scores each feed alone): unigram Shannon entropy
    in nats via the sum-form identity ``H = ln(N) − (Σ c·ln c)/N``
    (numerically kinder than Σ p·ln p: one division), plus Pielou
    evenness ``H / ln(n_types)`` — a feed whose evenness collapses has
    degenerated into boilerplate. Returns ``(source, n_tokens, n_types,
    entropy, evenness)``, doubles rounded to 6 (same float-log
    determinism class as the hash-green TF-IDF / trigram-LM entries;
    counts are exact int64). Tokenizer matches :func:`lang_id`.

    Scale shape: one partial-agg ``groupBy(source, term)`` over the
    exploded stream (the only corpus-sized stage — shared shape with
    X134), then a per-source aggregate over the vocabulary frame. No
    window, no driver state.
    """
    documents = spread(documents)
    c = (
        documents.select(
            F.col(source_col).alias("source"),
            F.explode(
                F.split(F.lower(F.col(text_col)), r"[^a-z0-9_]+")
            ).alias("__t"),
        )
        .filter(F.col("__t") != "")
        .groupBy("source", "__t")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    agg = c.groupBy("source").agg(
        F.sum("__n").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(F.col("__n").cast("double") * F.log(F.col("__n").cast("double"))).alias(
            "__snln"
        ),
    )
    nd = F.col("n_tokens").cast("double")
    h = F.log(nd) - F.col("__snln") / nd
    return agg.select(
        "source",
        "n_tokens",
        "n_types",
        F.round(h, 6).alias("entropy"),
        F.when(
            F.col("n_types") > 1,
            F.round(h / F.log(F.col("n_types").cast("double")), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("evenness"),
    )


def zipf_fit(
    documents: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source Zipf-law fit — OLS of ``ln(count)`` on ``ln(rank)``
    over the full unigram vocabulary: the canonical "is this feed
    natural language?" screen (natural text slopes ≈ −1; template/spam
    feeds flatten or cliff — Zipf 1949, Piantadosi 2014 review).
    Returns ``(source, n_types, slope, intercept)``, doubles rounded
    to 6 (same float-log determinism class as the hash-green
    entropy/TF-IDF entries; tokenizer matches :func:`lang_id`).

    Rank-window-free construction (the scale story): ranks are never
    materialized per term. The vocabulary collapses to the per-source
    COUNT HISTOGRAM (``(source, count, multiplicity)`` — O(√tokens)
    rows per source by Zipf itself), the strictly-greater cumulative
    gives each count-class its rank block [c_prev+1, c_prev+m] (tie
    order inside a class cannot matter: every tied term shares y), and
    ``sequence``-explode regenerates exactly |vocab| narrow (rank,
    count) rows — explode → ln → one partial-agg groupBy, all inside
    codegen; the only window runs over the tiny histogram frame,
    partitioned by source. No text column survives the first groupBy.
    """
    from pyspark.sql.window import Window

    documents = spread(documents)
    v = (
        documents.select(
            F.col(source_col).alias("source"),
            F.explode(F.split(F.lower(F.col(text_col)), r"[^a-z0-9_]+")).alias("__t"),
        )
        .filter(F.col("__t") != "")
        .groupBy("source", "__t")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    h = v.groupBy("source", "__c").agg(F.count(F.lit(1)).cast("bigint").alias("__m"))
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("__c").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    h2 = h.withColumn("__cp", F.coalesce(F.sum("__m").over(w), F.lit(0)).cast("bigint"))
    pts = h2.select(
        "source",
        F.log(F.col("__c").cast("double")).alias("__y"),
        F.explode(
            F.sequence(F.col("__cp") + F.lit(1), F.col("__cp") + F.col("__m"))
        ).alias("__rk"),
    ).select("source", "__y", F.log(F.col("__rk").cast("double")).alias("__x"))
    a = pts.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
    )
    nd = F.col("n_types").cast("double")
    den = nd * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    slope = (nd * F.col("__sxy") - F.col("__sx") * F.col("__sy")) / den
    return a.select(
        "source",
        "n_types",
        F.when(den != 0, F.round(slope, 6)).otherwise(F.lit(0.0)).alias("slope"),
        F.when(
            den != 0, F.round((F.col("__sy") - slope * F.col("__sx")) / nd, 6)
        )
        .otherwise(F.lit(0.0))
        .alias("intercept"),
    )


def distinct_ngram_ratios(
    documents: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    max_n: int = 3,
) -> DataFrame:
    """Per-source distinct-n ratios — the corpus diversity metric used
    to grade generated/synthetic data (distinct-1/2/3, Li et al. 2016;
    the corpus-level cousin of Self-BLEU): for each n ≤ ``max_n``,
    ``distinct_n = |unique n-grams| / |total n-grams|`` over the
    source's token stream (per-doc n-grams, so grams never span
    documents). A collapsing generator (or a template-stuffed feed)
    shows distinct-2/3 falling toward 0. Returns ``(source, n,
    total_ngrams, unique_ngrams, distinct_ratio)`` — counts exact
    int64, one rounded division. Tokenizer matches :func:`lang_id`.

    Scale shape: ONE explode of ``(n, gram)``-tagged rows — every n's
    grams assembled by ``slice`` inside the SAME codegen stage (no
    self-join, no per-n pass: VERDICT r11 "what's wrong" #1 — the
    former one-groupBy-per-n shape shuffled the same total bytes but
    paid 3× the stages/jobs) — then ONE two-phase exact distinct:
    ``groupBy(source, n, gram)`` partial-agg → ``groupBy(source, n)``,
    the X64 corpus-report shape; exactly two exchanges end to end
    (plan-asserted), nothing wider than the tagged gram stream ever
    shuffles.
    """
    documents = spread(documents)
    toks = documents.select(
        F.col(source_col).alias("source"),
        F.split(F.lower(F.col(text_col)), r"[^a-z0-9_]+").alias("__ts"),
    ).select(
        "source",
        F.filter(F.col("__ts"), lambda t: t != "").alias("__ts"),
    )
    def _tagged(n: int):
        # factory binds the loop variable; a default-arg lambda would
        # change the higher-order function's arity for pyspark
        return F.transform(
            F.slice(
                F.col("__ts"), 1, F.greatest(F.size("__ts") - (n - 1), F.lit(0))
            ),
            lambda _t, i: F.struct(
                F.lit(n).cast("bigint").alias("n"),
                F.concat_ws(" ", F.slice(F.col("__ts"), i + 1, n)).alias("g"),
            ),
        )

    tagged_arrays = [_tagged(n) for n in range(1, int(max_n) + 1)]
    grams = toks.select(
        "source", F.explode(F.concat(*tagged_arrays)).alias("__t")
    ).select("source", F.col("__t.n").alias("n"), F.col("__t.g").alias("__g"))
    per = grams.groupBy("source", "n", "__g").agg(F.count(F.lit(1)).alias("__c"))
    out = per.groupBy("source", "n").agg(
        F.sum("__c").cast("bigint").alias("total_ngrams"),
        F.count(F.lit(1)).cast("bigint").alias("unique_ngrams"),
    )
    return out.select(
        "source",
        "n",
        "total_ngrams",
        "unique_ngrams",
        F.round(
            F.col("unique_ngrams").cast("double") / F.col("total_ngrams").cast("double"),
            6,
        ).alias("distinct_ratio"),
    )


def jsd_drift(
    documents: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between per-source unigram
    distributions — the smooth companion to the X134 total-variation
    drift (TV counts mass displacement; JSD weighs it
    information-theoretically and is the standard corpus-similarity
    metric, Lin 1991). Returns ``(source_a, source_b, n_shared_terms,
    jsd)`` per unordered source pair, nats, rounded to 6; bounded by
    ln 2 ≈ 0.6931.

    Inner-join-only identity (the same 100 TB lever as X134's 2Σmin):
    terms present in ONLY one source contribute exactly ``½·p·ln 2``,
    so with shared-mass sums ``Sp = Σ_shared p`` and ``Sq``::

        JSD = ½[Σ_sh p·ln(2p/(p+q)) + (1−Sp)·ln 2]
            + ½[Σ_sh q·ln(2q/(p+q)) + (1−Sq)·ln 2]

    — one equi-join on the term over source pairs (never an outer
    join materializing the union vocabulary), one partial-agg groupBy
    per pair, then a broadcast grid join for pairs sharing nothing
    (JSD = ln 2 exactly). Same float-log determinism class as the
    entropy entries (counts exact; p, q are single divisions).
    """
    documents = spread(documents)
    c = (
        documents.select(
            F.col(source_col).alias("src"),
            F.explode(F.split(F.lower(F.col(text_col)), r"[^a-z0-9_]+")).alias("__t"),
        )
        .filter(F.col("__t") != "")
        .groupBy("src", "__t")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    tot = c.groupBy("src").agg(F.sum("__n").cast("bigint").alias("__nn"))
    p = c.join(F.broadcast(tot), "src").select(
        "src", "__t", (F.col("__n").cast("double") / F.col("__nn")).alias("__p")
    )
    a = p.select(
        F.col("src").alias("source_a"), F.col("__t"), F.col("__p").alias("__pa")
    )
    b = p.select(
        F.col("src").alias("source_b"), F.col("__t"), F.col("__p").alias("__pb")
    )
    ln2 = float(math.log(2.0))
    shared = (
        a.join(b, "__t")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shared_terms"),
            F.sum("__pa").alias("__sp"),
            F.sum("__pb").alias("__sq"),
            F.sum(
                F.col("__pa")
                * F.log(F.lit(2.0) * F.col("__pa") / (F.col("__pa") + F.col("__pb")))
            ).alias("__kp"),
            F.sum(
                F.col("__pb")
                * F.log(F.lit(2.0) * F.col("__pb") / (F.col("__pa") + F.col("__pb")))
            ).alias("__kq"),
        )
    )
    grid = (
        tot.select(F.col("src").alias("source_a"))
        .crossJoin(tot.select(F.col("src").alias("source_b")))
        .filter(F.col("source_a") < F.col("source_b"))
    )
    j = grid.join(shared, ["source_a", "source_b"], "left")
    jsd = (
        F.lit(0.5)
        * (F.coalesce("__kp", F.lit(0.0)) + (F.lit(1.0) - F.coalesce("__sp", F.lit(0.0))) * F.lit(ln2))
        + F.lit(0.5)
        * (F.coalesce("__kq", F.lit(0.0)) + (F.lit(1.0) - F.coalesce("__sq", F.lit(0.0))) * F.lit(ln2))
    )
    return j.select(
        "source_a",
        "source_b",
        F.coalesce("n_shared_terms", F.lit(0)).cast("bigint").alias("n_shared_terms"),
        F.round(jsd, 6).alias("jsd"),
    )


def mixture_rates(
    documents: DataFrame,
    weights: dict[str, float],
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Data-mixture planning: per-source sampling rates that hit a
    target token-share mix while keeping the largest-rate source at
    rate 1.0 (maximal data use — the bookkeeping step behind
    domain-reweighting schemes à la The Pile / DoReMi deployment).
    Returns ``(source, n_tokens, token_share, rate)``.

    ``raw_s = weight_s / share_s`` (sources absent from ``weights`` get
    weight 0 → rate 0), normalized by the max raw rate. Token counts are
    exact integers; shares/rates are single-division doubles rounded to
    6 digits — oracle-exact. Shape: one partial-aggregable groupBy over
    (source, count); the normalization runs on the tiny per-source frame
    (a window over |sources| rows), nothing data-sized after the first
    aggregate.
    """
    n_tok = F.size(F.regexp_extract_all(F.col(text_col), F.lit(_TOKEN_RE), 0))
    per_src = (
        documents.select(F.col(source_col).alias("source"), n_tok.alias("__nt"))
        .groupBy("source")
        .agg(F.sum("__nt").cast("bigint").alias("n_tokens"))
    )
    wmap = F.create_map(
        *[F.lit(x) for kv in weights.items() for x in kv]
    )
    from pyspark.sql.window import Window

    total = F.sum("n_tokens").over(Window.partitionBy())
    share = F.col("n_tokens").cast("double") / total
    raw = F.coalesce(wmap[F.col("source")], F.lit(0.0)) / share
    scored = per_src.select(
        "source",
        "n_tokens",
        F.round(share, 6).alias("token_share"),
        raw.alias("__raw"),
    )
    max_raw = F.max("__raw").over(Window.partitionBy())
    return scored.select(
        "source",
        "n_tokens",
        "token_share",
        F.round(F.col("__raw") / max_raw, 6).alias("rate"),
    )


def apply_mixture(
    documents: DataFrame,
    weights: dict[str, float],
    text_col: str = "text",
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize the training mix: compute :func:`mixture_rates` for
    ``weights`` and keep each document with its source's rate via the
    same deterministic md5-threshold rule as :func:`stratified_sample`
    (first 8 hex digits of ``md5(source:id)`` under ``rate`` of the
    32-bit space). Returns the kept ``(doc_id, source)`` rows — the
    end-to-end "build the mix" step after the planning step.

    Engine-exact: the rate is a 6-digit-rounded double identical in both
    engines, the integer threshold is ``floor(rate·2³²)``, and
    fixed-width lowercase hex compares like the integer it encodes.
    Shape: the per-source rate frame is tiny → broadcast join; the keep
    test is a narrow filter — one scan, no data-sized shuffle.
    """
    rates = mixture_rates(documents, weights, text_col, source_col).select(
        F.col("source").alias(source_col), "rate"
    )
    bucket = F.substring(
        F.md5(F.concat_ws(":", F.col(source_col), F.col(id_col).cast("string"))), 1, 8
    )
    thr = F.lower(
        F.lpad(
            F.hex(F.floor(F.col("rate") * F.lit(float(1 << 32))).cast("bigint")),
            8,
            "0",
        )
    )
    return (
        documents.select(id_col, source_col)
        .join(F.broadcast(rates), source_col)
        .filter((F.col("rate") >= 1.0) | (bucket < thr))
        .select(id_col, source_col)
    )


def trigram_logprob(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 1.0,
) -> DataFrame:
    """CCNet-style learned quality score without an external model:
    train a character-trigram language model on the corpus itself
    (counts of 3-char windows and their 2-char contexts over the
    normalized text), then score every document by its mean add-k
    log-likelihood ``mean ln((c(tri)+k)/(c(bi)+k·V))`` — documents whose
    character statistics deviate from the corpus (boilerplate, noise,
    wrong language) score low. Returns
    ``(doc_id, n_trigrams, avg_logprob)`` with the score rounded to 6
    digits (float sums agree across engines far below 1e-6).

    Shape: two partial-aggregable groupBys build the model ((tri, count)
    and (bi, count) — the model shuffle carries 3-byte keys + counts);
    scoring re-explodes the corpus once and equi-joins the model frames
    (broadcastable: |model| ≤ alphabet³); one final per-doc aggregate.
    Everything is codegen'd expressions — the "perplexity filter" pass
    of a 100 TB pipeline at one scan + small joins. The model is the
    char-trigram model of :mod:`graph_loom_spark.ops`, held on the
    driver, so a call leaves no block pinned.
    """
    # spread: explode/feature chains on a narrow parquet scan would
    # otherwise run single-task (the scan stage owns the whole per-row
    # expression tree); widen BEFORE the projection so the heavy work
    # parallelizes. No-op on already-wide inputs.
    documents = spread(documents)
    base = documents.select(F.col(id_col), F.expr(norm_text(text_col)).alias("__n")).filter(
        F.length("__n") >= 3
    )
    scored, _, (lp,) = trigram_model(base, add_k, F.count(F.lit(1)).alias("__ct"))
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_trigrams"),
        F.round(F.avg(lp), 6).alias("avg_logprob"),
    )


def moore_lewis_score(
    documents: DataFrame,
    in_domain_source: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    add_k: float = 1.0,
) -> DataFrame:
    """Moore-Lewis cross-entropy data selection (Moore & Lewis, ACL
    2010): score every document by ``avg_lp_in - avg_lp_out`` — its mean
    add-k char-trigram log-likelihood under an LM trained on the
    in-domain subset (``source == in_domain_source``) minus the same
    under an LM trained on the rest of the corpus. High scores mark
    text that looks like the target domain but not like the general
    crawl — the classic selection signal for domain-matched training
    subsets. Returns ``(doc_id, n_trigrams, avg_lp_in, avg_lp_out,
    ml_score)``; means rounded to 6 digits, the score is the difference
    of the ROUNDED means (so both engines subtract identical doubles).

    Shape: ONE corpus explosion feeds both models — the trigram frame
    carries an in-domain flag, so a single partial-aggregable groupBy
    yields per-trigram (in, out) count pairs, and the bigram contexts +
    per-model vocab sizes are derived from that ≤ alphabet³-row frame
    rather than re-exploding. Scoring joins the broadcast model frame
    back to the corpus trigrams once; everything else is codegen'd
    expressions. Per-model add-k smoothing handles trigrams the other
    model never saw (count 0 contributes ``ln(k / (cb + k·V))``). Like
    :func:`trigram_logprob`, a call leaves no block pinned.
    """
    # spread: explode/feature chains on a narrow parquet scan would
    # otherwise run single-task (the scan stage owns the whole per-row
    # expression tree); widen BEFORE the projection so the heavy work
    # parallelizes. No-op on already-wide inputs.
    documents = spread(documents)
    base = documents.select(
        F.col(id_col),
        (F.col(source_col) == in_domain_source).alias("__in"),
        F.expr(norm_text(text_col)).alias("__n"),
    ).filter(F.length("__n") >= 3)
    scored, (vi, vo), (lp_in, lp_out) = trigram_model(
        base,
        add_k,
        F.sum(F.when(F.col("__in"), 1).otherwise(0)).alias("__ci"),
        F.sum(F.when(F.col("__in"), 0).otherwise(1)).alias("__co"),
    )
    if vi == 0.0:
        raise ValueError(
            f"moore_lewis_score: no in-domain text for source "
            f"{in_domain_source!r} (in-domain LM is empty)"
        )
    if vo == 0.0:
        raise ValueError(
            "moore_lewis_score: no out-of-domain text (general LM is empty)"
        )
    scored = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_trigrams"),
        F.round(F.avg(lp_in), 6).alias("avg_lp_in"),
        F.round(F.avg(lp_out), 6).alias("avg_lp_out"),
    )
    return scored.withColumn(
        "ml_score", F.round(F.col("avg_lp_in") - F.col("avg_lp_out"), 6)
    )


def compression_ratio(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id", level: int = 6
) -> DataFrame:
    """Compression-ratio quality signal (the entropy proxy used by
    RefinedWeb/Gopher-class pipelines: highly repetitive or templated
    text compresses far below natural prose): per document,
    ``zlib.compress`` at ``level`` over the UTF-8 bytes —
    ``(doc_id, n_bytes, n_compressed, ratio)`` with
    ``ratio = n_compressed / n_bytes`` (1.0 for empty docs by
    convention).

    zlib output is fully deterministic for a given (input, level), so
    the pytest oracle recomputes it byte-for-byte in Python. Runs as
    Arrow-batched ``mapInPandas`` (same shape as the media codecs —
    byte-level work the JVM expression layer cannot express); one scan,
    no shuffle, and only (id, 3 numbers) leave the executor.
    """
    import zlib

    import pandas as pd

    def _ratio(batches):
        for pdf in batches:
            n_b = []
            n_c = []
            for t in pdf[text_col]:
                raw = (t or "").encode("utf-8")
                n_b.append(len(raw))
                n_c.append(len(zlib.compress(raw, level)) if raw else 0)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": pd.Series(n_b, dtype="int64"),
                    "n_compressed": pd.Series(n_c, dtype="int64"),
                }
            )

    # spread: zlib per doc is CPU-bound; don't serialize it on one worker
    out = spread(documents.select(id_col, text_col)).mapInPandas(
        _ratio, f"{id_col} long, n_bytes long, n_compressed long"
    )
    return out.select(
        id_col,
        "n_bytes",
        "n_compressed",
        F.when(
            F.col("n_bytes") > 0,
            F.col("n_compressed").cast("double") / F.col("n_bytes"),
        )
        .otherwise(F.lit(1.0))
        .alias("ratio"),
    )


def source_cap(
    documents: DataFrame,
    max_per_source: int | dict = 100,
    id_col: str = "doc_id",
    source_col: str = "source",
    seed: str = "cap",
    prefilter_factor: int = 8,
) -> DataFrame:
    """Per-source frequency capping — the domain-capping stage of
    web-crawl pipelines (cap how many documents any one domain/source
    contributes before training): keep the ``max_per_source`` docs with
    the SMALLEST ``md5(seed:source:id)`` keys per source (ties → lower
    id). Deterministic, engine-portable, re-derivable from the id alone;
    changing ``seed`` re-draws the kept set. Returns ``(id, source)``.
    ``max_per_source`` may also be a ``{source: cap}`` dict (the
    per-source form :func:`temperature_mixture` builds); sources absent
    from the dict — or mapped to a cap < 1 — are dropped entirely.

    Shape (the 100 TB story): the naive form is one ``row_number``
    window partitioned by source — but domain frequency is zipfian (a
    hot domain can hold 1-10% of a crawl) and a window partition is one
    task, so the hot key serializes. Two-phase instead:

    1. per-source counts (partial-agg shuffle; the per-source frame is
       tiny and broadcast back);
    2. keys are uniform in the 32-bit space, so pre-filter to keys under
       ``prefilter_factor·cap/count`` of the keyspace — expected
       ``prefilter_factor·cap`` survivors per source — and run the exact
       window on survivors only. The hot domain now contributes ~8·cap
       rows to its window partition, not its full row count.

    A uniform-tail shortfall (a source ending with fewer than
    ``min(cap, count)`` survivors) is astronomically unlikely at factor
    8 but NOT impossible, so a rescue path detects affected sources by
    comparing survivor counts against the requirement (all DataFrame
    ops — nothing driver-side) and routes their full row sets into the
    window. The output is therefore EXACTLY the naive window's output.
    """
    from pyspark.sql.window import Window

    key = F.md5(
        F.concat_ws(":", F.lit(seed), F.col(source_col), F.col(id_col).cast("string"))
    )
    base = documents.select(F.col(id_col), F.col(source_col), key.alias("__k"))
    counts = base.groupBy(source_col).agg(F.count(F.lit(1)).alias("__n"))
    if isinstance(max_per_source, dict):
        items = [(str(s), int(c)) for s, c in max_per_source.items() if int(c) >= 1]
        if not items:
            raise ValueError("source_cap: no source has a cap >= 1")
        caps_df = local_frame(documents.sparkSession, items, f"{source_col} string, __cap int")
        # inner join: un-capped sources are dropped before the window
        capped = counts.join(
            F.broadcast(caps_df.withColumn(source_col, F.col(source_col).cast(
                dict(counts.dtypes)[source_col]))),
            source_col,
        )
    else:
        if max_per_source < 1:
            raise ValueError("max_per_source must be >= 1")
        capped = counts.withColumn("__cap", F.lit(int(max_per_source)))
    budget = F.col("__cap").cast("bigint") * prefilter_factor
    # fixed-width lowercase hex compares like the 32-bit integer it
    # encodes (same lever as stratified_sample); only evaluated when
    # frac < 1, so the 8-char pad never overflows
    frac = budget.cast("double") / F.col("__n")
    thr = F.lower(
        F.lpad(F.hex(F.ceil(frac * F.lit(float(1 << 32))).cast("bigint")), 8, "0")
    )
    surv = base.join(F.broadcast(capped), source_col).filter(
        (F.col("__n") <= budget) | (F.col("__k") < thr)
    )
    sc = surv.groupBy(source_col).agg(F.count(F.lit(1)).alias("__s"))
    bad = (
        capped.join(sc, source_col, "left")
        .filter(
            F.coalesce(F.col("__s"), F.lit(0))
            < F.least(F.col("__cap").cast("bigint"), F.col("__n"))
        )
        .select(source_col)
    )
    window_in = surv.select(id_col, source_col, "__k", "__cap").join(
        F.broadcast(bad), source_col, "left_anti"
    ).unionByName(
        base.join(F.broadcast(bad), source_col, "left_semi").join(
            F.broadcast(capped.select(source_col, "__cap")), source_col
        )
    )
    w = Window.partitionBy(source_col).orderBy(F.col("__k"), F.col(id_col))
    return (
        window_in.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= F.col("__cap"))
        .select(id_col, source_col)
    )


def temperature_mixture(
    documents: DataFrame,
    total_docs: int,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    source_col: str = "source",
    seed: str = "temp",
    prefilter_factor: int = 8,
) -> DataFrame:
    """Temperature-scaled source sampling — the α-sampling rule
    multilingual LM pipelines use to up-weight small sources
    (XLM-R / mT5: sample source ``s`` with probability ∝ ``n_s^α``,
    α < 1 flattening the natural distribution): materialize a corpus of
    ~``total_docs`` docs with ``cap_s = min(n_s,
    floor(total_docs·w_s + 0.5))`` where ``w_s = n_s^α / Σ_t n_t^α``,
    selecting each source's ``cap_s`` smallest-md5-keyed docs via
    :func:`source_cap`'s skew-guarded per-source window.

    Determinism story: caps are computed from the tiny per-source count
    frame (≤ |sources| rows collected driver-side — bounded, never
    data-sized). At the default ``alpha=0.5`` the power is ``sqrt`` —
    correctly rounded under IEEE 754, so any engine reproduces each
    ``r_s`` bit-for-bit; the normalizer is rounded to 6 digits to
    absorb summation-order noise; and a guard raises if any
    ``total·w_s`` lands within 1e-9 of a rounding boundary (loud
    failure instead of a silent off-by-one vs a replaying oracle —
    same posture as the k-core oracle's convergence guard). Non-0.5
    alphas use ``pow``, which libms don't round identically — fine for
    production, not oracle-replayable.
    """
    import math

    if total_docs < 1:
        raise ValueError("total_docs must be >= 1")
    rows = sorted(
        (r[0], r[1])
        for r in documents.groupBy(source_col).count().collect()
    )
    if not rows:
        raise ValueError("temperature_mixture: empty corpus")
    pw = (
        (lambda n: math.sqrt(float(n)))
        if alpha == 0.5
        else (lambda n: math.pow(float(n), alpha))
    )
    r = {s: pw(n) for s, n in rows}
    # half-away-from-zero at 6 digits (DuckDB round semantics; Python's
    # built-in round is half-even)
    tot = math.floor(sum(r[s] for s, _ in rows) * 1e6 + 0.5) / 1e6
    caps: dict = {}
    for s, n in rows:
        frac = total_docs * r[s] / tot
        if abs(frac - (math.floor(frac) + 0.5)) < 1e-9:
            raise ValueError(
                f"temperature_mixture: cap for source {s!r} sits on a "
                f"rounding boundary ({frac!r}) — not engine-replayable"
            )
        cap = min(int(n), int(math.floor(frac + 0.5)))
        if cap >= 1:
            caps[s] = cap
    return source_cap(
        documents,
        max_per_source=caps,
        id_col=id_col,
        source_col=source_col,
        seed=seed,
        prefilter_factor=prefilter_factor,
    )


def corpus_report(
    documents: DataFrame, text_col: str = "text", source_col: str = "source"
) -> DataFrame:
    """Per-source corpus summary — the daily-driver report a pipeline
    operator runs over a crawl batch: document count, total tokens,
    mean quality score (same rubric as :func:`quality_score`), and
    exact-duplicate count (docs whose md5(text) collides within the
    source).

    Determinism: every aggregate is integer (counts, int-token sums,
    int-quality sums, md5-distinct counts); the one double division
    happens on exact integers — so a SQL oracle matches bit-for-bit.
    Scale shape: one two-phase hash aggregate keyed on source; the
    distinct-md5 term adds Spark's expand+regroup (keyed on
    (source, hash) — 16-byte shuffle rows, partial-aggregated
    map-side). No windows, no joins, no driver data.
    """
    toks = F.size(F.regexp_extract_all(F.col(text_col), F.lit(_TOKEN_RE), 0))
    chars = F.length(F.col(text_col))
    alpha = F.length(F.regexp_replace(F.col(text_col), r"[^A-Za-z]", ""))
    len_ok = (chars >= 50) & (chars <= 20000)
    tok_ok = (toks >= 10) & ((chars.cast("double") / toks) <= 12.0)
    q = (
        len_ok.cast("int")
        + tok_ok.cast("int")
        + ((alpha.cast("double") / chars) >= 0.5).cast("int")
    )
    per_doc = documents.select(
        source_col,
        toks.alias("__t"),
        q.alias("__q"),
        F.md5(F.col(text_col)).alias("__h"),
    )
    n = F.count(F.lit(1))
    return per_doc.groupBy(source_col).agg(
        n.cast("bigint").alias("n_docs"),
        F.sum("__t").cast("bigint").alias("n_tokens"),
        (F.sum("__q").cast("double") / n).alias("avg_quality"),
        (n - F.count_distinct(F.col("__h"))).cast("bigint").alias("n_exact_dups"),
    )


def bm25_topk(
    documents: DataFrame,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 retrieval over whitespace tokens (Robertson-Sparck Jones
    idf, the ``ln(1 + (N-df+0.5)/(df+0.5))`` always-positive form) —
    the retrieval pass a training-data pipeline runs for benchmark
    decontamination and targeted quality mining. Returns the top ``k``
    ``(doc_id, bm25)`` with score rounded to 6 digits (ties → lower
    id); float term-sums agree across engines far below 1e-6 (same
    argument as :func:`trigram_logprob`).

    Shape: tokens are exploded ONCE and immediately filtered to the
    (tiny, broadcast-literal) query term set — the inverted index is
    built only for queried terms, never the whole vocabulary. One
    scalar (N, avgdl) aggregate, one per-term df aggregate, one
    per-(doc, term) tf aggregate, a broadcast join of the ≤|q|-row df
    frame, and TakeOrdered — no full-vocab shuffle anywhere.
    """
    # spread: explode/feature chains on a narrow parquet scan would
    # otherwise run single-task (the scan stage owns the whole per-row
    # expression tree); widen BEFORE the projection so the heavy work
    # parallelizes. No-op on already-wide inputs.
    documents = spread(documents)
    if not query_terms:
        raise ValueError("bm25_topk: empty query_terms")
    qlit = [t.lower() for t in dict.fromkeys(query_terms)]
    toks = F.expr(norm_tokens(text_col))
    base = documents.select(F.col(id_col), toks.alias("__toks")).select(
        id_col, F.size("__toks").alias("__dl"), F.explode("__toks").alias("__t")
    )
    hits = base.filter(F.col("__t").isin(qlit))
    stats = documents.select(
        F.count(F.lit(1)).alias("__n"), F.sum(F.size(toks)).alias("__tok")
    )
    tf = hits.groupBy(id_col, "__t").agg(
        F.count(F.lit(1)).alias("__tf"), F.first("__dl").alias("__dl")
    )
    df_t = hits.groupBy("__t").agg(F.count_distinct(F.col(id_col)).alias("__df"))
    n_col = F.col("__n").cast("double")
    idf = F.log(
        F.lit(1.0) + (n_col - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
    )
    avgdl = F.col("__tok").cast("double") / F.col("__n")
    tfv = F.col("__tf").cast("double")
    # association mirrors the SQL oracle exactly: ((idf * num) / denom)
    term_score = (
        idf * (tfv * (k1 + 1.0))
    ) / (tfv + k1 * (1.0 - b + b * F.col("__dl").cast("double") / avgdl))
    return (
        tf.join(F.broadcast(df_t), "__t")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.round(F.sum(term_score), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col(id_col).asc())
        .limit(k)
    )


def rrf_fuse(
    ranked: list[tuple[DataFrame, str]],
    k: int = 10,
    c: int = 60,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of retrieval lists —
    the hybrid-retrieval combiner that merges lexical (BM25) and dense
    (embedding cosine) rankings without score calibration. ``ranked``
    is a list of ``(frame, score_col)`` pairs; each frame is an
    already-cut top-k list carrying ``(id_col, score_col)``. Per list,
    rank = 1-based position by (score desc, id asc); fused score is the
    sum of ``10^9 div (c + rank)`` — RRF in integer micropoints, so the
    fusion is exact int64 arithmetic (no float summation order) and a
    SQL oracle replays it bit-for-bit. Returns the top ``k``
    ``(id, rrf_micro, n_lists)`` by (rrf_micro desc, id asc);
    ``n_lists`` = how many input lists retrieved the id.

    Shape: input frames are top-k cuts BY CONTRACT (tiny — the
    candidate generators bound them), so the per-list rank is a single
    unpartitioned ``row_number`` window over ≤k rows and the fusion a
    hash aggregate over ≤Σk rows; corpus scale lives in the upstream
    retrievers, never here.
    """
    from pyspark.sql.window import Window

    if not ranked:
        raise ValueError("rrf_fuse: empty ranked list")
    contribs = []
    for frame, score_col in ranked:
        w = Window.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        contribs.append(
            frame.select(id_col, score_col).withColumn(
                "__r", F.row_number().over(w)
            ).select(
                F.col(id_col),
                F.expr(f"1000000000 div ({int(c)} + __r)").alias("__pts"),
            )
        )
    u = contribs[0]
    for frame in contribs[1:]:
        u = u.unionByName(frame)
    return (
        u.groupBy(id_col)
        .agg(
            F.sum("__pts").cast("bigint").alias("rrf_micro"),
            F.count(F.lit(1)).cast("bigint").alias("n_lists"),
        )
        .orderBy(F.col("rrf_micro").desc(), F.col(id_col).asc())
        .limit(k)
    )


def hashed_linear_score(
    documents: DataFrame,
    text_col: str = "text",
    weight_span: int = 2001,
) -> DataFrame:
    """Hashed linear quality classifier — the fastText-shaped
    model-based filter stage (score = w . phi(doc) over hashed
    unigram+bigram features) that sits between heuristic rules
    (:func:`gopher_quality`) and an external model in a training-data
    pipeline. The feature hashing trick (Weinberger et al. 2009) keys
    weights by a hash of the feature string, so no vocabulary table
    ships with the job at all.

    Weights here are md5-derived integers in
    ``[-(span//2), span//2]`` (a fixed pseudo-random projection —
    standing in for trained weights, which would use the same lookup
    shape), so the whole scorer is a narrow per-row projection: no
    shuffle, no join, no UDF — split/transform/aggregate all inside
    whole-stage codegen, and integer arithmetic end to end makes the
    result bit-reproducible in any md5-bearing engine.

    Returns ``(doc_id-ish passthrough cols.., n_feats, weight_sum,
    keep)`` where ``keep = weight_sum > 0``.
    """
    # spread: the md5 feature fold is CPU-bound and otherwise runs
    # inside the scan stage's task count (one task on a single-file
    # local input — measured 9.4 s single-task vs ~5 s spread at sf0.1;
    # the evals used to pre-spread around this, now redundant but
    # harmless). No-op on already-wide inputs.
    documents = spread(documents)
    feats = word_features(text_col)
    # weight of feature x: its 'w'-salted md5 lane mod span, centred on 0
    weight = f"{md5_lane('x', salt='w', mod=weight_span)} - {weight_span // 2}"
    wsum = f"aggregate({feats}, 0L, (acc, x) -> acc + {weight})"
    return documents.select(
        "*",
        F.expr(f"size({feats})").cast("int").alias("n_feats"),
        F.expr(wsum).alias("weight_sum"),
    ).withColumn("keep", F.col("weight_sum") > 0)


def token_budget_select(
    scored: DataFrame,
    budget_tokens: int,
    id_col: str = "doc_id",
    score_col: str = "weight_sum",
    ntok_col: str = "ntok",
    n_buckets: int = 4096,
) -> DataFrame:
    """Token-budget curation: keep documents in ``(score DESC, id ASC)``
    order while the running token total (inclusive) stays ≤
    ``budget_tokens`` — the "select the best N tokens" step that turns a
    scored corpus into a fixed-size training mix. Equivalent to the SQL
    window ``sum(ntok) OVER (ORDER BY score DESC, id) <= budget`` but
    never runs that global single-partition cumsum.

    Shape (the 100 TB story): a global ordered cumsum serializes the
    corpus through one task, so split it two-phase:

    1. integer range-bucket the score domain (``n_buckets`` buckets,
       equal scores always co-bucket) and take per-bucket token sums —
       one partial-aggregable shuffle to ≤ ``n_buckets`` rows;
    2. the tiny bucket frame (driver-side, bounded by ``n_buckets``,
       never data-sized) locates the single BOUNDARY bucket where the
       cumulative total crosses the budget: every better bucket is kept
       whole (plain filter, no sort), every worse bucket is dropped
       whole, and only the boundary bucket — expected n/n_buckets rows —
       pays the exact ordered window.

    The kept set is EXACTLY the naive window's (the bucket map is
    monotone in score and ties never straddle buckets). Upstream should
    be a cheap projection (the frame is scanned three times: score
    range, bucket sums, final filters) — callers with expensive lineage
    should checkpoint first. Scores and counts must be integers
    (|score span| · n_buckets must fit int64); a score distribution
    collapsed onto few distinct values degrades the boundary bucket
    toward its tie class, which the exact window still handles.
    """
    from pyspark.sql.window import Window

    if budget_tokens < 0:
        raise ValueError("budget_tokens must be >= 0")
    s = scored.select(
        F.col(id_col),
        F.col(score_col).cast("bigint").alias("__s"),
        F.col(ntok_col).cast("bigint").alias("__n"),
    )
    out_cols = [
        F.col(id_col),
        F.col("__s").alias(score_col),
        F.col("__n").alias(ntok_col),
    ]
    rng = s.agg(
        F.min("__s").alias("lo"), F.max("__s").alias("hi"), F.sum("__n").alias("tot")
    ).first()
    if rng["tot"] is None:  # empty input
        return s.select(*out_cols)
    if rng["tot"] <= budget_tokens:  # everything fits — no window at all
        return s.select(*out_cols)
    lo, hi = int(rng["lo"]), int(rng["hi"])
    span = hi - lo + 1
    nb = min(int(n_buckets), span)
    # bucket 0 = best scores; equal scores always share a bucket.
    # Integer `div`, not double `/`: (hi−s)·nb can pass 2^53, where double
    # rounding could fold adjacent scores across a bucket edge
    bexpr = F.expr(f"(({hi}L - __s) * {nb}L) div {span}L")
    sums = (
        s.groupBy(bexpr.alias("__b"))
        .agg(F.sum("__n").alias("__t"))
        .collect()
    )
    cum = 0
    boundary, offset = None, 0
    for b, t in sorted((int(r["__b"]), int(r["__t"])) for r in sums):
        if cum + t > budget_tokens:
            boundary, offset = b, cum
            break
        cum += t
    kept_whole = s.filter(bexpr < boundary).select(*out_cols)
    w = Window.orderBy(F.col("__s").desc(), F.col(id_col))  # boundary rows only
    kept_edge = (
        s.filter(bexpr == boundary)
        .withColumn("__cum", F.sum("__n").over(w) + F.lit(offset))
        .filter(F.col("__cum") <= budget_tokens)
        .select(*out_cols)
    )
    return kept_whole.unionByName(kept_edge)


def dsir_log_weight(
    documents: DataFrame,
    target_source: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    n_buckets: int = 1024,
    add_k: float = 1.0,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): per document,
    ``log w(x) = Σ_features [ln p_target(b(f)) - ln p_raw(b(f))]``
    where features are hashed unigrams+bigrams (the same feature map as
    :func:`hashed_linear_score`, bucketed to ``n_buckets`` by md5) and
    the two bucket distributions are add-k estimates from the
    ``source == target_source`` subset vs the WHOLE corpus. High
    weights mark documents the target domain over-represents relative
    to the raw crawl — resampling by them is the DSIR selection step.
    Returns ``(doc_id, n_feats, log_weight)`` with the weight rounded
    to 6 digits.

    Shape: one feature explosion builds the ≤ ``n_buckets``-row count
    frame (target flag aggregated in the same groupBy — integer counts,
    partial-aggregable), totals collected once (2 scalars) and folded
    into the per-bucket log-ratio as literals; scoring joins the
    broadcast bucket frame back to the exploded features and sums per
    doc. Everything else is codegen'd expressions; the md5 bucketing
    makes counts AND ratios engine-independent, so the oracle replays
    the whole pipeline (float noise absorbed by the 1e-6 rounding, same
    argument as BM25/trigram). The bucket frame is held on the driver,
    so a call leaves no block pinned.
    """
    # spread: explode/feature chains on a narrow parquet scan would
    # otherwise run single-task (the scan stage owns the whole per-row
    # expression tree); widen BEFORE the projection so the heavy work
    # parallelizes. No-op on already-wide inputs.
    documents = spread(documents)
    fb = documents.select(
        F.col(id_col),
        (F.col(source_col) == target_source).alias("__t"),
        F.explode(F.expr(word_features(text_col))).alias("__f"),
    ).select(id_col, "__t", F.expr(md5_lane("__f", salt="b", mod=n_buckets)).alias("__b"))
    counts = fb.groupBy("__b").agg(
        F.sum(F.when(F.col("__t"), 1).otherwise(0)).alias("__ct"),
        F.count(F.lit(1)).alias("__cr"),
    )
    rows = counts.collect()  # ≤ n_buckets rows: held on the driver
    nt, nr = float(sum(r["__ct"] for r in rows)), float(sum(r["__cr"] for r in rows))
    if nt == 0.0:
        raise ValueError(
            f"dsir_log_weight: no target text for source {target_source!r} "
            "(target distribution is empty)"
        )
    lr = F.log(
        (F.col("__ct").cast("double") + add_k) / (nt + add_k * n_buckets)
    ) - F.log((F.col("__cr").cast("double") + add_k) / (nr + add_k * n_buckets))
    ratios = local_frame(documents.sparkSession, rows, counts.schema).select(
        "__b", lr.alias("__lr")
    )
    return (
        fb.join(F.broadcast(ratios), "__b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_feats"),
            F.round(F.sum("__lr"), 6).alias("log_weight"),
        )
    )


def bloom_contamination(
    documents: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    m_bits: int = 16384,
    k: int = 3,
) -> DataFrame:
    """Bloom-filter decontamination probe — the broadcast-bitset form
    of :func:`contamination_flags` for when even the benchmark's gram
    SET is too big to ship as join rows: the filter is ``m_bits`` bits
    (k md5-salted positions per gram, Bloom 1970), packed into
    ``m_bits/64`` int64 words and inlined into the plan as a LITERAL
    array — the probe is a pure narrow projection (no join, no
    shuffle, no broadcast exchange), ~2 KB of plan for the default
    16384 bits regardless of benchmark size.

    One-sided like every Bloom filter: a gram that IS in the benchmark
    always hits (no false negatives); false positives bounded by
    (set_bits/m)^k. All positions are md5-derived, so the DuckDB
    oracle replays the bit set and every probe exactly (as position-set
    membership — packing is an execution detail).

    Returns ``(id_col, n_gram_hits, contaminated)`` for EVERY document
    (n_gram_hits counts the doc's DISTINCT n-grams whose k bits are
    all set).
    """
    words_n = m_bits // 64
    grams = ngrams(norm_tokens(text_col), n, "array_join({}, ' ')")

    # build: benchmark grams -> distinct bit positions (bounded by
    # k * |bench grams| <= m_bits distinct values -> driver-safe)
    bg = benchmark.select(F.explode(F.expr(grams)).alias("g"))
    pos_rows = (
        bg.select(
            F.explode(
                F.array(*[F.expr(md5_lane("g", salt=j, mod=m_bits)) for j in range(k)])
            ).alias("p")
        )
        .distinct()
        .collect()
    )
    words = [0] * words_n
    for r in pos_rows:
        p = int(r["p"])
        words[p // 64] |= 1 << (p % 64)
    # int64 two's complement for the literal (bit 63 -> negative long)
    lit_words = F.array(
        *[F.lit(w - (1 << 64) if w >= (1 << 63) else w) for w in words]
    )

    # probe: per doc, count distinct grams with all k bits set — a
    # single projection over the literal words. r14-opt (guide §1.2
    # per-task work): the position expression is md5-derived and was
    # inlined TWICE per bit test (word index + bit offset) inside the
    # interpreted aggregate() lambda, where no common-subexpression
    # elimination runs — 2k md5 evaluations per gram. Binding each
    # position once (transform j → position, then forall over the bound
    # positions) evaluates exactly k md5s per gram; the bit test reuses
    # the bound value. Same positions, same bits, identical output.
    js = ", ".join(str(j) for j in range(k))
    # the salt is the bound lambda var j: concat(cast(j as string), ':', g)
    # hashes the same bytes as salt=j
    pos = md5_lane("concat(cast(j as string), ':', g)", mod=m_bits)
    pos_arr = f"transform(array({js}), j -> {pos})"
    hit = (
        f"forall({pos_arr}, "
        f"p -> ((shiftright(element_at(__w, cast(p / 64 as int) + 1), "
        f"cast(p % 64 as int)) & 1) = 1))"
    )
    return (
        documents.withColumn("__w", lit_words)
        .select(
            id_col,
            F.expr(
                f"aggregate({grams}, 0, "
                f"(acc, g) -> acc + (case when {hit} then 1 else 0 end))"
            )
            .cast("int")
            .alias("n_gram_hits"),
        )
        .withColumn("contaminated", (F.col("n_gram_hits") > 0).cast("int"))
    )


def length_bucket_stats(
    documents: DataFrame,
    n_buckets: int = 4,
    rate_denom: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Length-bucketed batching report — the padding-efficiency step of
    a training-data pipeline (HF-style length grouping): bucket
    boundaries are the deterministic hash-sampled token-length
    quantiles (``i/n_buckets``), every document lands in the bucket of
    its length range, and each bucket reports
    ``padding_waste = n_docs·max_len − sum_tokens`` — the pad tokens a
    max-length-padded batch of that bucket would burn. Compare the
    buckets' summed waste against one global bucket to quantify what
    length grouping saves.

    Shape: boundaries come from the md5-sampled exact quantiles
    (:func:`~graph_loom_spark.ops.relational.hash_sampled_percentiles`'s
    construction — ONE narrow filter + a tiny aggregate, never a
    full-data sort) and fold into the plan as a broadcast 1-row frame
    (no driver collect); assignment is an ``aggregate`` over the
    boundary array in codegen; the report is one partial-aggregable
    groupBy on the bucket index. Quantiles round to 4 digits —
    the same engine-replayable interpolation as the percentile
    operator, so the whole report is oracle-exact.
    """
    if n_buckets < 2:
        raise ValueError("length_bucket_stats: n_buckets must be >= 2")
    ntok = F.size(F.expr(f"regexp_extract_all({text_col}, '\\\\S+', 0)")).cast("long")
    base = spread(documents).select(F.col(id_col), ntok.alias("__l"))
    qs = [i / n_buckets for i in range(1, n_buckets)]
    threshold = (1 << 32) // int(rate_denom)
    h = F.expr(md5_lane(f"cast({id_col} as string)"))
    bounds = (
        base.filter(h < F.lit(threshold))
        .agg(F.percentile(F.col("__l").cast("double"), F.lit(qs)).alias("__p"))
        .select(F.transform("__p", lambda x: F.round(x, 4)).alias("__b"))
    )
    bucket = F.aggregate(
        F.col("__b"),
        F.lit(0),
        lambda acc, b: acc + (F.col("__l").cast("double") > b).cast("int"),
    )
    return (
        base.crossJoin(F.broadcast(bounds))
        .select(bucket.alias("bucket"), "__l")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.max("__l").alias("max_len"),
            F.sum("__l").alias("sum_tokens"),
        )
        .withColumn(
            "padding_waste", F.col("n_docs") * F.col("max_len") - F.col("sum_tokens")
        )
    )


def curriculum_order(
    documents: DataFrame,
    n_buckets: int = 4,
    rate_denom: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: str = "curr",
) -> DataFrame:
    """Curriculum-learning data order: bucket documents into difficulty
    quantiles of the corpus-trained trigram-LM score
    (:func:`trigram_logprob` — low mean log-likelihood = hard/noisy,
    high = easy/typical) and give each a deterministic within-bucket
    order key. An easy-first curriculum reads ``ORDER BY bucket DESC,
    ord_key`` (bucket = count of boundaries strictly below the score,
    so the top bucket holds the most-typical documents); the md5 order
    key re-randomizes within a bucket without any RNG state — the same
    re-derivable-order lever as :func:`epoch_shuffle` (change ``seed``
    to re-draw). Documents shorter than one trigram carry no score and
    are omitted, mirroring the scorer.

    Shape: the trigram score is one scan + small model joins
    (trigram_logprob's shape); boundaries are md5-sampled exact
    quantiles folded in as a broadcast 1-row frame (no driver collect,
    no full sort — :func:`length_bucket_stats`'s construction); the
    output order key is a projection, never a global sort. Scores round
    to 6 and boundaries to 4 — both engine-replayable, so the whole
    assignment is oracle-exact.
    """
    if n_buckets < 2:
        raise ValueError("curriculum_order: n_buckets must be >= 2")
    scores = trigram_logprob(documents, text_col=text_col, id_col=id_col).select(
        id_col, "avg_logprob"
    )
    qs = [i / n_buckets for i in range(1, n_buckets)]
    threshold = (1 << 32) // int(rate_denom)
    h = F.expr(md5_lane(f"cast({id_col} as string)"))
    bounds = (
        scores.filter(h < F.lit(threshold))
        .agg(F.percentile(F.col("avg_logprob"), F.lit(qs)).alias("__p"))
        .select(F.transform("__p", lambda x: F.round(x, 4)).alias("__b"))
    )
    bucket = F.aggregate(
        F.col("__b"),
        F.lit(0),
        lambda acc, b: acc + (F.col("avg_logprob") > b).cast("int"),
    )
    ord_key = F.md5(
        F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string"))
    )
    return scores.crossJoin(F.broadcast(bounds)).select(
        F.col(id_col),
        bucket.alias("bucket"),
        "avg_logprob",
        ord_key.alias("ord_key"),
    )


def lexical_diversity(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Lexical-diversity quality signals per document: token count,
    type count (distinct tokens), type-token ratio, and hapax fraction
    (share of types occurring exactly once) — low TTR/hapax flags
    templated or looping text that the repetition heuristics
    (:func:`repetition_stats`) measure at the bigram level.

    Shape: explode → two partial-aggregable groupBys keyed on
    (doc, token-hash) then (doc) — ONE token-level shuffle carrying
    hashed keys, no windows, no per-doc quadratic expressions. Ratios
    are integer/integer doubles rounded to 6 → oracle-exact.
    """
    ex = spread(documents).select(
        F.col(id_col), F.explode(F.expr(norm_tokens(text_col))).alias("__t")
    )
    per_tok = ex.groupBy(id_col, F.xxhash64("__t").alias("__h")).agg(
        F.count(F.lit(1)).alias("__c")
    )
    return (
        per_tok.groupBy(id_col)
        .agg(
            F.sum("__c").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.sum(F.when(F.col("__c") == 1, 1).otherwise(0)).cast("bigint").alias("n_hapax"),
        )
        .select(
            id_col,
            "n_tokens",
            "n_types",
            "n_hapax",
            F.round(F.col("n_types") / F.col("n_tokens"), 6).alias("ttr"),
            F.round(F.col("n_hapax") / F.col("n_types"), 6).alias("hapax_frac"),
        )
    )


def _grouped_cprev(
    g: DataFrame,
    score_col: str = "weight_sum",
    n_col: str = "__n",
    n_buckets: int = 4096,
) -> DataFrame:
    """Exclusive prefix-sum of ``n_col`` in ``score_col`` order over a
    grouped-by-distinct-score frame, WITHOUT a single-partition window
    — the same two-phase range-bucket construction as
    :func:`token_budget_select` (X82), generalized to return the
    cumulative for EVERY row instead of locating one boundary bucket:

    1. integer range-bucket the score domain (monotone: a smaller
       score never lands in a larger bucket; equal scores co-bucket),
       take per-bucket ``sum(n)`` — one partial-aggregable shuffle to
       ≤ ``n_buckets`` rows, collected driver-side (bounded by
       ``n_buckets``, never data-sized);
    2. broadcast the exclusive per-bucket offsets back and run the
       exact running-sum window PARTITIONED BY bucket — each task
       sorts ~|distinct scores|/n_buckets rows, so no stage
       serializes the frame through one task at any scale.

    Adds ``__cprev`` (count of strictly-smaller scores, int64) and
    preserves all other columns. Scores must be integers.
    """
    from pyspark.sql.window import Window

    rng = g.agg(
        F.min(score_col).alias("lo"), F.max(score_col).alias("hi")
    ).first()
    if rng["lo"] is None:
        return g.select("*", F.lit(0).cast("long").alias("__cprev"))
    lo, hi = int(rng["lo"]), int(rng["hi"])
    span = hi - lo + 1
    nb = min(int(n_buckets), span)
    # integer div, not double /: (s−lo)·nb can pass 2^53 (see X82)
    bexpr = F.expr(f"(({score_col} - {lo}L) * {nb}L) div {span}L")
    sums = g.groupBy(bexpr.alias("__b")).agg(F.sum(n_col).alias("__t")).collect()
    cum, offsets = 0, []
    for b, t in sorted((int(r["__b"]), int(r["__t"])) for r in sums):
        offsets.append((b, cum))
        cum += t
    off = F.broadcast(local_frame(g.sparkSession, offsets, "__b long, __off long"))
    w = Window.partitionBy("__b").orderBy(score_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        g.withColumn("__b", bexpr)
        .join(off, "__b")
        .withColumn(
            "__cprev",
            F.sum(n_col).over(w) - F.col(n_col) + F.col("__off"),
        )
        .drop("__b", "__off")
    )


def classifier_auc(
    documents: DataFrame,
    label: Column | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """X122 — ROC-AUC of the hashed linear classifier score against a
    binary label, via the EXACT Mann-Whitney rank statistic — the
    threshold-free quality gate a pipeline reports before trusting a
    model-based filter (a quality/domain classifier is only as good as
    its ranking; precision@threshold hides miscalibration). Default
    label: ``lang = 'en'`` (the classifier as a weak English detector
    against the fixture's language column).

    Exactness: AUC = U/(n⁺·n⁻) with tie-averaged ranks. Averaged ranks
    introduce halves, so the statistic is computed as integer
    ``2·R⁺`` — per tied-score group, positives contribute
    ``p·(2·c_prev + n + 1)`` where ``c_prev`` is the cumulative count
    of strictly-smaller scores (the tie group spans ranks
    ``c_prev+1..c_prev+n``, averaging to ``(2·c_prev+n+1)/2``). Then
    ``u2 = 2·R⁺ − n⁺(n⁺+1)`` and ``auc = u2 / (2·n⁺·n⁻)`` — everything
    int64 until the one rounded division, so a SQL oracle replays it
    bit-for-bit. Returns one row ``(n_pos, n_neg, u2, auc)``.

    Scale shape: the data-sized work is ONE partial-aggregable groupBy
    on the score (map-side combine); the rank cumulative then runs
    over the DISTINCT-SCORE frame (bounded by the score range, corpus-
    size-independent) via :func:`_grouped_cprev`'s range-bucketed
    two-phase prefix-sum — no single-partition window anywhere (the
    distinct-score frame is range-bounded, but with long documents
    that range reaches ~10⁷–10⁸, too much for one sort task at 100×).
    """
    if label is None:
        label = F.col("lang") == "en"
    # spread() first: the md5-per-feature scoring is the heavy
    # projection, and a narrow parquet scan would serialize it into one
    # or two tasks (measured 5.5 s -> 1.2 s at sf0.1)
    scored = hashed_linear_score(spread(documents), text_col=text_col).select(
        id_col, "weight_sum", label.cast("long").alias("__pos")
    )
    return score_auc(scored, score_col="weight_sum", pos_col="__pos")


def score_auc(
    scored: DataFrame,
    score_col: str = "weight_sum",
    pos_col: str = "__pos",
) -> DataFrame:
    """Exact Mann-Whitney ROC-AUC of ANY integer score column against
    a 0/1 label column — the rank machinery behind
    :func:`classifier_auc` (X122), exposed so other scorers (the
    trained NB, X161) grade on the identical statistic. Scores must be
    integers (the fixed-point contract _grouped_cprev needs). Returns
    one row ``(n_pos, n_neg, u2, auc)``; see classifier_auc for the
    2·R⁺ integer construction and the no-global-window scale shape."""
    # materialize the distinct-score frame once — _grouped_cprev scans
    # it three times (range agg, bucket sums, final join) and each scan
    # would otherwise re-run the upstream scoring
    g = keep(
        scored.groupBy(score_col).agg(F.count(F.lit(1)).alias("__n"), F.sum(pos_col).alias("__p"))
    )
    g2 = _grouped_cprev(g, score_col=score_col)
    agg = g2.agg(
        F.sum(
            F.col("__p") * (2 * F.col("__cprev") + F.col("__n") + 1)
        ).alias("__twoR"),
        F.sum("__p").alias("__np"),
        F.sum(F.col("__n") - F.col("__p")).alias("__nn"),
    )
    u2 = F.col("__twoR") - F.col("__np") * (F.col("__np") + 1)
    return agg.select(
        F.col("__np").cast("bigint").alias("n_pos"),
        F.col("__nn").cast("bigint").alias("n_neg"),
        u2.cast("bigint").alias("u2"),
        F.round(
            u2 / (2.0 * F.col("__np") * F.col("__nn")), 6
        ).alias("auc"),
    )


def nb_weights(
    documents: DataFrame,
    label: Column | None = None,
    text_col: str = "text",
    n_buckets: int = 4096,
) -> DataFrame:
    """TRAIN a multinomial Naive Bayes text classifier over the hashed
    unigram+bigram features (the exact X72 feature stream, bucketed
    mod ``n_buckets``) — the labeled counterpart to
    :func:`hashed_linear_score`'s fixed random projection (VERDICT r12
    ask #4: a DataComp/FineWeb-class quality/domain signal is a
    classifier trained on labels, not a projection). Training is ONE
    partial-aggregable groupBy: explode features, map-side-combine
    per-class occurrence counts per bucket — ≤ ``n_buckets`` rows out,
    corpus-size-independent. Weights are add-1-smoothed multinomial
    log-likelihood ratios in integer MICRO-nats::

        w_b = round(1e6 · [ln((c⁺_b+1)/(T⁺+B)) − ln((c⁻_b+1)/(T⁻+B))])

    — fixed-point so downstream per-doc sums are integer, associative,
    bit-reproducible across engines/partitionings, and feed the exact
    integer Mann-Whitney AUC directly. Returns ``(bucket, c_pos,
    c_neg, w_micro, prior_micro)`` — ``prior_micro`` (the micro-nat
    class prior ``round(1e6·ln(n⁺/n⁻))`` of the TRAINING docs) rides
    along as a constant column so the frame is the complete model: a
    scoring pass on a different corpus needs nothing else.

    Default label: ``lang = 'en'`` (the fixture's labeled column, the
    same label X122 grades against).
    """
    if label is None:
        label = F.col("lang") == "en"
    B = int(n_buckets)
    docs = spread(documents)
    ex = docs.select(
        label.cast("long").alias("__y"),
        F.explode(F.expr(word_features(text_col))).alias("__x"),
    )
    cnt = ex.select(
        "__y", F.expr(md5_lane("__x", salt="w", mod=B)).alias("__b")
    ).groupBy("__b").agg(
        F.sum("__y").alias("c_pos"),
        F.sum(F.lit(1) - F.col("__y")).alias("c_neg"),
    )
    tot = cnt.agg(
        F.sum("c_pos").alias("__tp"), F.sum("c_neg").alias("__tn")
    )
    pri = docs.agg(
        F.sum(label.cast("long")).alias("__np"),
        F.sum(F.lit(1) - label.cast("long")).alias("__nn"),
    )
    w = (
        f"cast(round((ln((cast(c_pos as double) + 1.0) / "
        f"(cast(__tp as double) + {B}.0)) - "
        f"ln((cast(c_neg as double) + 1.0) / "
        f"(cast(__tn as double) + {B}.0))) * 1000000.0) as bigint)"
    )
    prior = (
        "cast(round((ln(cast(greatest(__np, 1) as double)) - "
        "ln(cast(greatest(__nn, 1) as double))) * 1000000.0) as bigint)"
    )
    return (
        cnt.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(pri))
        .select(
            F.col("__b").alias("bucket"),
            F.col("c_pos").cast("bigint").alias("c_pos"),
            F.col("c_neg").cast("bigint").alias("c_neg"),
            F.expr(w).alias("w_micro"),
            F.expr(prior).alias("prior_micro"),
        )
    )


def nb_classify(
    documents: DataFrame,
    label: Column | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    weights: DataFrame | None = None,
) -> DataFrame:
    """Train-and-score the multinomial NB (X161): per document,
    ``score_micro = prior_micro + Σ_features w_micro[bucket]`` in
    integer micro-nats — the add-1-smoothed multinomial log-odds of
    the positive class. Returns ``(id, n_feats, score_micro, keep)``
    with ``keep = score_micro > 0`` (the Bayes decision at equal
    costs). Pass ``weights`` (a :func:`nb_weights` frame) to score a
    NEW corpus with a model trained elsewhere — unseen buckets
    contribute 0 (a neutral ratio), the hashing-trick analogue of an
    OOV backoff.

    Scale shape: training is the one ≤ ``n_buckets``-row groupBy
    (see nb_weights); scoring is explode → BROADCAST join against the
    ≤ ``n_buckets``-row weight table → one per-doc partial-agg groupBy
    (features of a doc co-locate in the scan partition, so map-side
    combine collapses the token stream to ~|docs| rows before the
    shuffle). The prior is a 1-row broadcast crossJoin (the
    dangling-mass pattern), never a driver collect. The corpus is
    scanned twice (count pass + score pass) — the price of training
    and applying in one lineage; persist the weight frame to amortize
    across corpora.
    """
    if label is None:
        label = F.col("lang") == "en"
    B = int(n_buckets)
    if weights is None:
        weights = nb_weights(
            documents, label=label, text_col=text_col, n_buckets=B
        )
    # the prior ships WITH the model (a constant column of the weight
    # frame) — recomputing it from the scoring corpus would silently
    # grade a different model when scoring new data
    pri = weights.agg(F.max("prior_micro").alias("__prior"))
    docex = spread(documents).select(
        F.col(id_col),
        F.explode(F.expr(word_features(text_col))).alias("__x"),
    )
    return (
        docex.select(id_col, F.expr(md5_lane("__x", salt="w", mod=B)).alias("bucket"))
        .join(F.broadcast(weights.select("bucket", "w_micro")), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_feats"),
            F.sum(F.coalesce(F.col("w_micro"), F.lit(0))).alias("__s"),
        )
        .crossJoin(F.broadcast(pri))
        .select(
            id_col,
            "n_feats",
            (F.col("__prior") + F.col("__s")).cast("bigint").alias("score_micro"),
            (F.col("__prior") + F.col("__s") > 0).cast("int").alias("keep"),
        )
    )


def classifier_calibration(
    documents: DataFrame,
    label: Column | None = None,
    bins: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """X126 — reliability table for the hashed linear classifier: split
    the corpus into ``bins`` equal-frequency score bands and report per
    band ``(bin, n, n_pos, pos_rate, avg_score)`` — the companion to
    :func:`classifier_auc` (AUC says the RANKING is good; calibration
    says whether the score MAGNITUDE can be thresholded). Bands are
    assigned per DISTINCT score as ``floor(bins·c_prev/N)`` where
    ``c_prev`` counts strictly-smaller scores — deterministic under
    ties (a tied score group lands wholly in one band), all-integer
    until the two rounded ratios, so the SQL oracle replays it
    bit-for-bit.

    Scale shape: identical to :func:`classifier_auc` — one
    partial-aggregable groupBy on the score is the only data-sized
    stage; the band cumulative runs over the distinct-score frame via
    :func:`_grouped_cprev`'s range-bucketed two-phase prefix-sum, so
    no single-partition window remains even when the score range is
    ~10⁷–10⁸ distinct values.
    """
    if label is None:
        label = F.col("lang") == "en"
    # spread() for the same reason as classifier_auc: don't serialize
    # the md5 scoring into a narrow scan's task count
    scored = hashed_linear_score(spread(documents), text_col=text_col).select(
        "weight_sum", label.cast("long").alias("__pos")
    )
    # materialize the distinct-score frame ONCE (it is score-range-
    # bounded — ~|scores| rows, never corpus-sized): the prefix-sum's
    # three scans and the 1-row total all read the checkpoint, instead
    # of the md5-per-feature scoring scan running each time (measured
    # 4.9 s → the AUC-comparable single-scan cost)
    g = keep(
        scored.groupBy("weight_sum").agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__pos").alias("__p"),
        )
    )
    tot = g.agg(F.sum("__n").alias("__tot"))
    g2 = _grouped_cprev(g).crossJoin(F.broadcast(tot))
    b = g2.select(
        F.floor(F.lit(bins) * F.col("__cprev") / F.col("__tot"))
        .cast("bigint")
        .alias("bin"),
        "__n",
        "__p",
        (F.col("weight_sum") * F.col("__n")).alias("__ws"),
    )
    return (
        b.groupBy("bin")
        .agg(
            F.sum("__n").cast("bigint").alias("n"),
            F.sum("__p").cast("bigint").alias("n_pos"),
            F.round(F.sum("__p") / F.sum("__n"), 6).alias("pos_rate"),
            F.round(F.sum("__ws") / F.sum("__n"), 6).alias("avg_score"),
        )
        .orderBy("bin")
    )
