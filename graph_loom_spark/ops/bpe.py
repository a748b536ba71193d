"""Distributed BPE tokenizer training (Sennrich et al. 2016) — the
"train the real tokenizer" step of a pre-training pipeline, as opposed
to the regex token-count estimator in :mod:`.text`.

Word-level BPE: the corpus collapses to a (word, freq) table once (THE
data-sized aggregate — at 100 TB this is one shuffle keyed by word and
everything after runs on the distinct-word table, which is millions of
rows, not billions); each merge round then
- counts adjacent symbol pairs weighted by word frequency (one
  partial-aggregable groupBy over the word table),
- picks the most frequent pair (count desc, then lexicographic — a
  deterministic tie-break where the original uses dict order),
- rewrites every word's symbol sequence with the merged token (an
  Arrow-batched ``mapInPandas`` pass: the rewrite is an inherently
  sequential per-word scan, the same byte-level-seam shape as the media
  codecs).

The word table is localCheckpointed every round so round r does not
re-apply merges 1..r-1 through a growing plan; blocks are freed on
completion. Words carry an end-of-word sentinel symbol ``</w>`` so
merges distinguish word-final contexts, as in the original algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EOW = "</w>"


def _py_apply_merge(sym: list[str], left: str, right: str, merged: str) -> list[str]:
    out = []
    i = 0
    while i < len(sym):
        if i + 1 < len(sym) and sym[i] == left and sym[i + 1] == right:
            out.append(merged)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return out


def bpe_train(
    documents: DataFrame,
    num_merges: int = 30,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_size: int = 1,
) -> DataFrame:
    """Learn ``num_merges`` BPE merges from the corpus; returns the
    merge table ``(rank, left, right, merged)`` in learned order.

    Deterministic end-to-end: pair counts are exact integers and the
    argmax tie-breaks lexicographically, so the pytest oracle replays
    the identical algorithm in pure Python and matches the merge list
    exactly. Stops early when no pair occurs twice.

    ``batch_size=1`` is the exact Sennrich algorithm (one merge per
    count round). ``batch_size>1`` is the standard production speedup
    for a distributed trainer where every count round is a full
    aggregate job: from the top ``8*batch_size`` candidate pairs
    (count desc, then lexicographic) greedily select up to
    ``batch_size`` mutually SYMBOL-DISJOINT pairs (a pair sharing a
    symbol with an already-selected one is skipped) and apply them in
    one rewrite — disjointness makes the batch's rewrites
    order-independent, but a merge that WOULD have created a new
    dominant pair mid-batch is deliberately deferred to the next round,
    so the result can differ from batch_size=1; both variants are exact
    vs their Python replays in the pytest.
    """
    import pandas as pd

    from graph_loom_spark.graph import _free_intermediates, _tracked_checkpoint

    spark = documents.sparkSession
    tracked: list = []
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        toks = F.split(
            F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "), " "
        )
        words = (
            documents.select(F.explode(toks).alias("__w"))
            .filter(F.col("__w") != "")
            .groupBy("__w")
            .agg(F.count(F.lit(1)).alias("__f"))
            .select(
                F.concat(F.split("__w", ""), F.array(F.lit(EOW))).alias("__sym"),
                "__f",
            )
        )
        words = _tracked_checkpoint(words, tracked)
        # Per-round shuffles operate on the distinct-word table, which is
        # tiny relative to the session default partitioning on small corpora
        # — size them from the data (same lever as kmeans; ~50 symbols/word
        # upper bound on the pair explode). Restored in the finally below, so
        # a failing round leaks neither the conf nor the pinned word tables.
        n_words = words.count()
        parts = int(max(4, (n_words * 50) // 1_000_000))
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        # ALSO shrink the word table's own partitioning: it inherits the
        # session layout from the setup aggregate, and every per-round Arrow
        # rewrite stage otherwise schedules one task per (mostly empty)
        # partition — the dominant cost on small vocabularies.
        words = _tracked_checkpoint(words.repartition(parts), tracked)

        merges: list[tuple[str, str]] = []
        # Checkpoint the word table every 4th rewrite, not every rewrite:
        # the in-between rounds re-run at most 3 Arrow rewrite stages over
        # the (tiny relative to the corpus) word table, far cheaper than a
        # materialization job per round.
        rounds_since_ckpt = 0
        while len(merges) < num_merges:
            # guard fully-merged single-symbol words: sequence(0, -1) would
            # DESCEND and element_at(-1) would read from the array end
            pairs = words.select(
                F.explode(
                    F.when(
                        F.size("__sym") >= 2,
                        F.transform(
                            F.sequence(F.lit(0), F.size("__sym") - 2),
                            lambda i: F.struct(
                                F.element_at("__sym", i + 1).alias("l"),
                                F.element_at("__sym", i + 2).alias("r"),
                            ),
                        ),
                    ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
                ).alias("__p"),
                "__f",
            )
            top = (
                pairs.groupBy("__p")
                .agg(F.sum("__f").alias("__c"))
                .orderBy(F.col("__c").desc(), F.col("__p.l").asc(), F.col("__p.r").asc())
                .limit(max(1, 8 * batch_size))
                .collect()
            )
            used: set = set()
            batch: list[tuple[str, str]] = []
            for row in top:
                if row["__c"] < 2 or len(batch) >= batch_size:
                    break
                if len(merges) + len(batch) >= num_merges:
                    break
                l, r = row["__p"]["l"], row["__p"]["r"]
                if l in used or r in used:
                    continue
                batch.append((l, r))
                used.update((l, r))
            if not batch:
                break
            merges.extend(batch)

            def _apply(batches, _b=tuple(batch)):
                for pdf in batches:
                    pdf = pdf.copy()
                    out = []
                    for s_ in pdf["__sym"]:
                        sym = list(s_)
                        for _l, _r in _b:
                            sym = _py_apply_merge(sym, _l, _r, _l + _r)
                        out.append(sym)
                    pdf["__sym"] = out
                    yield pdf

            words = words.mapInPandas(_apply, "__sym array<string>, __f long")
            rounds_since_ckpt += 1
            if rounds_since_ckpt >= 4:
                words = _tracked_checkpoint(words, tracked)
                rounds_since_ckpt = 0

        result = spark.createDataFrame(
            [
                (i, l, r, l + r)
                for i, (l, r) in enumerate(merges)
            ],
            "rank long, left string, right string, merged string",
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        _free_intermediates(spark, tracked)
    return result


def bpe_encode_stats(
    documents: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned merge list and report per-document token counts
    ``(doc_id, n_bpe_tokens)`` — the before/after compression check that
    validates a trained tokenizer. Arrow-batched; merges apply in rank
    order per word (the standard greedy encode)."""
    import pandas as pd

    def _encode(batches):
        for pdf in batches:
            counts = []
            for t in pdf[text_col]:
                norm = " ".join((t or "").lower().split())
                total = 0
                for w in norm.split(" "):
                    if not w:
                        continue
                    sym = list(w) + [EOW]
                    for l, r in merges:
                        sym = _py_apply_merge(sym, l, r, l + r)
                    total += len(sym)
                counts.append(total)
            yield pd.DataFrame({id_col: pdf[id_col], "n_bpe_tokens": counts})

    return documents.select(id_col, text_col).mapInPandas(
        _encode, f"{id_col} long, n_bpe_tokens long"
    )


def bpe_token_counts(
    documents: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_vocab_max: int = 5_000_000,
) -> DataFrame:
    """X124 — per-document token counts under a TRAINED merge list,
    amortized over the distinct-word table: encode each distinct word
    ONCE (the merges apply in rank order — the standard greedy encode),
    then join the per-word symbol counts back onto per-doc word
    occurrences. This is the scale shape of tokenizer application: a
    100 TB corpus has millions of distinct words, not billions, so the
    Arrow-batched encode touches the vocabulary while the data-sized
    stages are one explode→groupBy and one narrow join keyed on the
    word string. Returns ``(doc_id, n_bpe_tokens)`` — exact integers,
    replayed by the SQL oracle via the same doubled-separator
    ``replace()`` rewrites the trainer's oracle uses.

    Contrast :func:`bpe_encode_stats`, which re-encodes every word
    occurrence inline (fine for a probe, quadratic waste on repeated
    words at corpus scale); both produce identical counts (pytest),
    including ``n_bpe_tokens = 0`` for empty/whitespace-only documents:
    an empty text normalizes to the single token ``""`` which is KEPT
    as an occurrence marker (excluded from the vocab, left-join →
    ``coalesce(n, 0)``), so every document id survives to the output
    without a second corpus-sized join back onto ``documents``.

    Skew: the occurrences→encoded-vocab join keys on the raw word
    string, and word frequency is zipfian ("the" lands every doc's
    row in one partition). The encoded vocab is |vocab| rows of
    (word, int), so when its count fits ``broadcast_vocab_max``
    (the same measured 5M gate the iterative graph ops use) the join
    is broadcast — no shuffle on the skewed key at all; above the
    gate it falls back to a sort-merge join where AQE's skew split
    applies (the occurrence side is already per-(doc, word) counts,
    so one key's rows are bounded by |docs|, not token count).
    """
    import pandas as pd

    # coalesce: a NULL text must behave like "" (n_bpe_tokens = 0, row
    # kept), matching bpe_encode_stats' `(t or "")`
    toks = F.split(
        F.regexp_replace(
            F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+", " "
        ),
        " ",
    )
    # the "" token (empty/whitespace-only doc) is deliberately KEPT in
    # occ — it is that doc's only row and carries its id to the output
    occ = (
        documents.select(F.col(id_col), F.explode(toks).alias("__w"))
        .groupBy(id_col, "__w")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    vocab = occ.select("__w").filter(F.col("__w") != "").distinct()

    def _encode(batches):
        for pdf in batches:
            ns = []
            for w in pdf["__w"]:
                sym = list(w) + [EOW]
                for l, r in merges:
                    sym = _py_apply_merge(sym, l, r, l + r)
                ns.append(len(sym))
            yield pd.DataFrame({"__w": pdf["__w"], "__n": ns})

    enc = vocab.mapInPandas(_encode, "__w string, __n long")
    # Gate on the JVM-side distinct count, not enc.count(): counting
    # enc would run the Python encode twice (once to count, once in
    # the join); vocab.count() is the same number for free.
    if vocab.count() <= broadcast_vocab_max:
        enc = F.broadcast(enc)
    return (
        occ.join(enc, "__w", "left")
        .groupBy(id_col)
        .agg(
            F.sum(F.col("__c") * F.coalesce(F.col("__n"), F.lit(0)))
            .cast("long")
            .alias("n_bpe_tokens")
        )
    )
