"""Unit tests for the training-data quality/repetition text operators
(edge cases the sf corpus doesn't cover: empty text, 1-token docs,
fully-repeated docs)."""

from __future__ import annotations

import os
import re

import pytest

from graph_loom_spark.ops import text as ops_text


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_repetition_stats_exact(spark):
    rows = [
        (0, "a b a b a b"),          # 6 toks, 2 distinct; bigrams: "a b"x3, "b a"x2 -> top 3/5
        (1, "x y z w"),              # all distinct; every bigram unique -> top 1/3
        (2, "solo"),                 # 1 token: no bigrams
        (3, ""),                     # empty string -> split gives [""] (1 token)
        (4, "t t"),                  # 2 toks 1 distinct; 1 bigram -> top 1/1
    ]
    out = {
        r["doc_id"]: r
        for r in ops_text.repetition_stats(_docs(spark, rows)).collect()
    }
    assert out[0]["n_tokens"] == 6
    assert out[0]["dup_token_frac"] == pytest.approx(1 - 2 / 6)
    assert out[0]["top_bigram_frac"] == pytest.approx(3 / 5)
    assert out[1]["dup_token_frac"] == 0.0
    assert out[1]["top_bigram_frac"] == pytest.approx(1 / 3)
    assert out[2]["n_tokens"] == 1
    assert out[2]["top_bigram_frac"] == 0.0
    assert out[3]["n_tokens"] == 1  # split("") -> [""]
    assert out[3]["dup_token_frac"] == 0.0
    assert out[4]["dup_token_frac"] == pytest.approx(0.5)
    assert out[4]["top_bigram_frac"] == 1.0


def test_repetition_stats_normalizes_whitespace(spark):
    # tokenizer must match fingerprint/ngram_jaccard: trim + collapse
    rows = [(0, "  a   b\t b  "), (1, "a b b")]
    out = ops_text.repetition_stats(_docs(spark, rows)).collect()
    a, b = sorted(out, key=lambda r: r["doc_id"])
    assert (a["n_tokens"], a["dup_token_frac"], a["top_bigram_frac"]) == (
        b["n_tokens"],
        b["dup_token_frac"],
        b["top_bigram_frac"],
    )


def test_dedup_clusters_transitive_chain(spark):
    from graph_loom_spark.ops import dedup as ops_dedup

    # a~b and b~c overlap (Jaccard >= 0.5) but a~c don't directly;
    # transitivity must still cluster all three. d is a singleton.
    rows = [
        (10, "w1 w2 w3 w4 w5 w6"),
        (11, "w1 w2 w3 w4 w5 zz"),      # shares 4-of-? shingles with 10
        (12, "w2 w3 w4 w5 zz yy"),      # chains via 11
        (13, "completely different text here now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        r["doc_id"]: r
        for r in ops_dedup.dedup_clusters(docs, n=3, threshold=0.3).collect()
    }
    assert out[10]["cluster_id"] == out[11]["cluster_id"] == out[12]["cluster_id"] == 10
    assert out[10]["is_canonical"] and not out[11]["is_canonical"]
    assert out[13]["cluster_id"] == 13 and out[13]["is_canonical"]


def test_pii_scrub_counts_and_redaction(spark):
    rows = [
        (0, "contact john.doe+spam@example.co.uk or +4915112345678 now"),
        (1, "server at 10.0.0.1 and 192.168.1.255, mail root@host.org"),
        (2, "nothing sensitive here"),
        (3, "a@b.io a@b.io"),  # duplicate matches both counted
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in ops_text.pii_scrub(docs).collect()}
    assert (out[0]["n_email"], out[0]["n_phone"], out[0]["n_ipv4"]) == (1, 1, 0)
    assert (out[1]["n_email"], out[1]["n_ipv4"]) == (1, 2)
    assert (out[2]["n_email"], out[2]["n_ipv4"], out[2]["n_phone"]) == (0, 0, 0)
    assert out[3]["n_email"] == 2

    import hashlib

    expected = hashlib.md5(
        b"contact <EMAIL> or <PHONE> now"
    ).hexdigest()
    assert out[0]["redacted_fingerprint"] == expected
    assert out[1]["redacted_fingerprint"] == hashlib.md5(
        b"server at <IP> and <IP>, mail <EMAIL>"
    ).hexdigest()


def test_bpe_token_stats(spark):
    rows = [
        (0, "don't stop"),            # don | 't | stop -> 3 bpe, 2 ws
        (1, "abc123 x!"),             # abc | 123 | x | ! -> 4 bpe, 2 ws
        (2, ""),                      # empty -> 0/0, ratio 0.0
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in ops_text.bpe_token_stats(docs).collect()}
    assert (out[0]["n_ws_tokens"], out[0]["n_bpe_tokens"]) == (2, 3)
    assert (out[1]["n_ws_tokens"], out[1]["n_bpe_tokens"]) == (2, 4)
    assert (out[2]["n_ws_tokens"], out[2]["n_bpe_tokens"], out[2]["bpe_per_ws"]) == (0, 0, 0.0)


def test_winnow_shared_substring_guarantee(spark):
    # docs sharing a substring of length >= k+w-1 (= 11) must share a fp
    shared = "quintessential-marker"
    rows = [
        (0, "aaa " + shared + " bbb"),
        (1, "zzz prefix " + shared),
        (2, "totally unrelated content qq"),
        (3, "tiny"),   # shorter than k: single truncated gram
        (4, ""),       # empty: no rows
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = ops_text.winnow_fingerprints(docs).collect()
    fps = {}
    for r in out:
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[0] & fps[1], "shared substring must yield a shared fingerprint"
    assert len(fps[3]) == 1
    assert 4 not in fps
    import hashlib

    assert fps[3] == {hashlib.md5(b"tiny").hexdigest()[:8]}


def test_winnow_overlap_pairs_detects_shared_passage(spark):
    from graph_loom_spark.ops import dedup as ops_dedup

    shared = "the quick brown fox jumps over the lazy dog again"
    rows = [
        (0, "intro text " + shared + " outro"),
        (1, shared + " completely different tail content"),
        (2, "unrelated document body with other words"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = {
        (r["id_a"], r["id_b"]): r["shared_fps"]
        for r in ops_dedup.winnow_overlap_pairs(docs, min_shared=2).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] >= 2
    assert not any(2 in p for p in pairs)


def test_winnow_overlap_df_cap_drops_universal_fps(spark):
    from graph_loom_spark.ops import dedup as ops_dedup

    # every doc shares the same text -> every fp has df = 4 > cap 3
    rows = [(i, "identical boilerplate body everywhere") for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    assert ops_dedup.winnow_overlap_pairs(docs, min_shared=1, max_fp_df=3).count() == 0
    assert ops_dedup.winnow_overlap_pairs(docs, min_shared=1, max_fp_df=None).count() == 6


def test_gopher_quality_rules(spark):
    # 60 real words incl. stopwords -> passes every rule
    good = " ".join(["the", "cat", "sat", "with", "food"] * 12)
    # 60 tokens but every "word" is punctuation -> alpha fraction 0
    junk = " ".join(["###"] * 60)
    # too short
    short = "the cat with hat"
    # long mean token length (>10) but otherwise fine
    longw = " ".join(["the", "with"] + ["antidisestablishmentarian"] * 58)
    rows = [(0, good), (1, junk), (2, short), (3, longw)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in ops_text.gopher_quality(df).collect()}

    assert out[0]["n_tokens"] == 60
    assert out[0]["gopher_pass"] is True
    assert out[0]["stop_hits"] == 2  # "the" + "with"
    assert out[0]["alpha_word_frac"] == 1.0

    assert out[1]["alpha_word_frac"] == 0.0
    assert out[1]["symbol_ratio"] == pytest.approx(3.0)  # three '#' matches per "###" token
    assert out[1]["gopher_pass"] is False

    assert out[2]["n_tokens"] == 4
    assert out[2]["gopher_pass"] is False

    assert out[3]["mean_token_len"] > 10.0
    assert out[3]["gopher_pass"] is False


def test_gopher_quality_symbol_and_mean_len_exact(spark):
    # "ab cd#" -> norm "ab cd#": 2 toks, 6 chars - 1 sep = 5 -> mean 2.5;
    # one '#' -> symbol_ratio 0.5; "..." counts as one symbol match
    rows = [(0, "ab cd#"), (1, "hm ...")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in ops_text.gopher_quality(df).collect()}
    assert out[0]["mean_token_len"] == pytest.approx(2.5)
    assert out[0]["symbol_ratio"] == pytest.approx(0.5)
    assert out[1]["symbol_ratio"] == pytest.approx(0.5)


def test_dup_ngram_coverage_exact(spark):
    from graph_loom_spark.ops import dedup as ops_dedup

    rows = [
        (0, "a b c d e x y"),            # shares "a b c d e" with doc 1 -> 5/7
        (1, "z a b c d e"),              # -> 5/6
        (2, "p q r s t p q r s t"),      # self-repeat -> 10/10
        (3, "u v"),                      # shorter than n -> 0
        (4, "m n o aa bb cc"),           # all grams unique -> 0
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        r["doc_id"]: r for r in ops_dedup.dup_ngram_coverage(df, n=5).collect()
    }
    assert (out[0]["covered_tokens"], out[0]["n_tokens"]) == (5, 7)
    assert out[0]["dup_coverage"] == pytest.approx(5 / 7)
    assert (out[1]["covered_tokens"], out[1]["n_tokens"]) == (5, 6)
    assert out[2]["dup_coverage"] == 1.0
    assert (out[3]["covered_tokens"], out[3]["dup_coverage"]) == (0, 0.0)
    assert out[4]["covered_tokens"] == 0


def test_pack_sequences_concat_then_chunk(spark):
    # shards=1, budget=10: token counts 4,5,3,6 -> prev_cum 0,4,9,12
    rows = [
        (0, "w w w w"),
        (1, "w w w w w"),
        (2, "w w w"),
        (3, "w w w w w w"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        r["doc_id"]: r
        for r in ops_text.pack_sequences(df, budget=10, shards=1).collect()
    }
    assert [(out[i]["seq_idx"], out[i]["offset_tokens"]) for i in range(4)] == [
        (0, 0),
        (0, 4),
        (0, 9),
        (1, 2),
    ]
    assert all(out[i]["shard"] == 0 for i in range(4))


def test_pack_sequences_shards_partition_independently(spark):
    # doc ids 0..3 over 2 shards: shard 0 gets ids 0,2; shard 1 gets 1,3
    rows = [(i, "w w w") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        r["doc_id"]: r
        for r in ops_text.pack_sequences(df, budget=4, shards=2).collect()
    }
    assert (out[0]["shard"], out[2]["shard"]) == (0, 0)
    assert (out[1]["shard"], out[3]["shard"]) == (1, 1)
    # within each shard the second doc starts at prev_cum=3 -> seq 0 offset 3
    assert (out[2]["seq_idx"], out[2]["offset_tokens"]) == (0, 3)
    assert (out[3]["seq_idx"], out[3]["offset_tokens"]) == (0, 3)


def test_vocab_topk_counts_and_rank(spark):
    rows = [(0, "b a a"), (1, "a b c"), (2, "C c-c")]  # a:3 b:2 c:3(ci+split)
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["rank"]: (r["term"], r["n_occurrences"]) for r in ops_text.vocab_topk(df, k=2).collect()}
    # a=3, c=3 (lowercased; "C c-c" -> c,c,c... "c-c" splits to c,c) -> c:4? recount:
    # doc2 "C c-c" -> tokens: c, c, c => c:3 total with doc1's c -> c=4? doc1 has one c.
    # totals: a=3 (doc0 x2 + doc1), b=2, c=4 -> top2: c(4) rank1, a(3) rank2
    assert out[1] == ("c", 4)
    assert out[2] == ("a", 3)


def test_mixture_rates_normalized(spark):
    rows = [
        (0, "w w w w", "A"),     # 4 tokens
        (1, "w w w w w w", "B"), # 6
        (2, "w w", "C"),         # 2 -> total 12
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    out = {
        r["source"]: r
        for r in ops_text.mixture_rates(df, {"A": 0.5, "B": 0.5}).collect()
    }
    # shares: A=1/3, B=1/2, C=1/6; raw: A=1.5, B=1.0, C=0 -> rates 1.0, 2/3, 0
    assert out["A"]["rate"] == pytest.approx(1.0)
    assert out["B"]["rate"] == pytest.approx(round(1.0 / 1.5, 6))
    assert out["C"]["rate"] == 0.0
    assert out["A"]["n_tokens"] == 4 and out["B"]["n_tokens"] == 6
    assert out["B"]["token_share"] == pytest.approx(0.5)


def test_co_occurrence_edges_cap_and_dedup(spark):
    from graph_loom_spark.ops import dedup as ops_dedup

    rows = [
        (1, "a"), (1, "b"), (1, "c"),      # group 1 -> ab ac bc
        (2, "b"), (2, "c"),                # group 2 -> bc (dedup with g1)
        (2, "b"),                          # duplicate membership row
        (3, "x"), (3, "y"), (3, "z"), (3, "w"),  # size 4 -> capped out
    ]
    df = spark.createDataFrame(rows, "grp bigint, item string")
    got = {
        (r["src"], r["dst"])
        for r in ops_dedup.co_occurrence_edges(df, "grp", "item", max_group_size=3).collect()
    }
    assert got == {("a", "b"), ("a", "c"), ("b", "c")}
    uncapped = ops_dedup.co_occurrence_edges(df, "grp", "item", max_group_size=None)
    assert uncapped.count() == 3 + 6


def test_remove_dup_ngram_spans_keep_first(spark):
    from graph_loom_spark.ops import dedup as ops_dedup

    rows = [
        (0, "a b c d e x y"),        # first occurrence of "a b c d e" -> kept whole
        (1, "z a b c d e"),          # later occurrence -> tokens 1..5 removed -> "z"
        (2, "p q r s t p q r s t"),  # self-repeat: first span kept, second removed
        (3, "u v"),                  # shorter than n -> untouched
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        r["doc_id"]: r
        for r in ops_dedup.remove_dup_ngram_spans(df, n=5).collect()
    }
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert (out[0]["n_removed"], out[0]["clean_fingerprint"]) == (0, md5("a b c d e x y"))
    assert (out[1]["n_removed"], out[1]["clean_fingerprint"]) == (5, md5("z"))
    # doc2 grams: pos0 "p q r s t" (first), pos5 (later) -> idx 5..9 removed;
    # pos1-4 grams unique -> kept "p q r s t"
    assert (out[2]["n_removed"], out[2]["clean_fingerprint"]) == (5, md5("p q r s t"))
    assert (out[3]["n_removed"], out[3]["clean_fingerprint"]) == (0, md5("u v"))


def test_apply_mixture_deterministic_and_rate_scaled(spark):
    rows = []
    for s, n in (("A", 40), ("B", 40), ("C", 20)):
        for i in range(n):
            rows.append((len(rows), "w w w", s))
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    kept = ops_text.apply_mixture(df, {"A": 0.5, "B": 0.25}).collect()
    by_src = {}
    for r in kept:
        by_src.setdefault(r["source"], set()).add(r["doc_id"])
    # A has the max raw rate -> kept in full; C has weight 0 -> dropped
    assert len(by_src.get("A", set())) == 40
    assert "C" not in by_src
    # B's rate is 0.5: roughly half kept, md5-deterministic across runs
    kept2 = {
        (r["doc_id"], r["source"])
        for r in ops_text.apply_mixture(df, {"A": 0.5, "B": 0.25}).collect()
    }
    assert kept2 == {(r["doc_id"], r["source"]) for r in kept}
    assert 8 <= len(by_src.get("B", set())) <= 32


def test_trigram_logprob_exact_tiny(spark):
    import math

    rows = [(0, "ababa"), (1, "abxyz")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in ops_text.trigram_logprob(df).collect()}
    # corpus trigrams: doc0: aba, bab, aba; doc1: abx, bxy, xyz
    # tri counts: aba=2 bab=1 abx=1 bxy=1 xyz=1
    # bi(context) counts over trigram prefixes: ab=3(aba,aba,abx) ba=1 bx=1 xy=1
    # V = distinct chars of "ababa"+"abxyz" = {a,b,x,y,z} = 5
    V = 5.0
    lp = lambda ct, cb: math.log((ct + 1.0) / (cb + V))
    exp0 = round((lp(2, 3) + lp(1, 1) + lp(2, 3)) / 3, 6)
    exp1 = round((lp(1, 3) + lp(1, 1) + lp(1, 1)) / 3, 6)
    assert out[0]["n_trigrams"] == 3 and out[1]["n_trigrams"] == 3
    assert out[0]["avg_logprob"] == exp0
    assert out[1]["avg_logprob"] == exp1


def test_moore_lewis_exact_tiny(spark):
    import math

    import pytest as _pytest

    rows = [(0, "ababa", "A"), (1, "abxyz", "B")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    out = {
        r["doc_id"]: r
        for r in ops_text.moore_lewis_score(df, in_domain_source="A").collect()
    }
    # in-domain (A) trigrams: aba=2, bab=1 -> contexts ab=2, ba=1, V_in={a,b}=2
    # out-of-domain (B) trigrams: abx=1, bxy=1, xyz=1 -> contexts ab=1,
    #   bx=1, xy=1, V_out={a,b,x,y,z}=5
    lp = lambda c, cb, v: math.log((c + 1.0) / (cb + v))
    d0_in = round((2 * lp(2, 2, 2.0) + lp(1, 1, 2.0)) / 3, 6)
    d0_out = round((2 * lp(0, 1, 5.0) + lp(0, 0, 5.0)) / 3, 6)
    d1_in = round((lp(0, 2, 2.0) + 2 * lp(0, 0, 2.0)) / 3, 6)
    d1_out = round((2 * lp(1, 1, 5.0) + lp(1, 1, 5.0)) / 3, 6)
    assert out[0]["n_trigrams"] == 3 and out[1]["n_trigrams"] == 3
    assert out[0]["avg_lp_in"] == d0_in and out[0]["avg_lp_out"] == d0_out
    assert out[1]["avg_lp_in"] == d1_in and out[1]["avg_lp_out"] == d1_out
    # the in-domain doc scores above the out-of-domain doc
    assert out[0]["ml_score"] == round(d0_in - d0_out, 6)
    assert out[1]["ml_score"] == round(d1_in - d1_out, 6)
    assert out[0]["ml_score"] > out[1]["ml_score"]
    # empty in-domain subset is an error, not a silent empty frame
    with _pytest.raises(ValueError, match="no in-domain"):
        ops_text.moore_lewis_score(df, in_domain_source="Z")


def test_dsir_matches_python_md5(spark):
    import hashlib
    import math

    import pytest as _pytest

    rows = [(0, "a b a", "T"), (1, "b c", "U"), (2, "a c c", "U")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    out = {
        r["doc_id"]: r
        for r in ops_text.dsir_log_weight(
            df, target_source="T", n_buckets=64
        ).collect()
    }

    def feats(text):
        t = text.split(" ")
        return t + [f"{a}_{b}" for a, b in zip(t, t[1:])]

    def bucket(f):
        return int(hashlib.md5(f"b:{f}".encode()).hexdigest()[:8], 16) % 64

    ct, cr = {}, {}
    for doc_id, text, src in rows:
        for f in feats(text):
            b = bucket(f)
            cr[b] = cr.get(b, 0) + 1
            if src == "T":
                ct[b] = ct.get(b, 0) + 1
    nt, nr = sum(ct.values()), sum(cr.values())
    lr = {
        b: math.log((ct.get(b, 0) + 1.0) / (nt + 64.0))
        - math.log((cr[b] + 1.0) / (nr + 64.0))
        for b in cr
    }
    for doc_id, text, _src in rows:
        fs = feats(text)
        assert out[doc_id]["n_feats"] == len(fs)
        assert out[doc_id]["log_weight"] == round(
            sum(lr[bucket(f)] for f in fs), 6
        )
    # the target doc carries the largest importance weight
    assert out[0]["log_weight"] == max(r["log_weight"] for r in out.values())
    with _pytest.raises(ValueError, match="no target text"):
        ops_text.dsir_log_weight(df, target_source="Z")


def test_compression_ratio_matches_zlib(spark):
    import zlib

    rows = [
        (0, "abab" * 200),            # highly repetitive -> tiny ratio
        (1, "The quick brown fox jumps over the lazy dog."),
        (2, ""),                      # empty -> ratio 1.0 by convention
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in ops_text.compression_ratio(df).collect()}
    for i, t in rows:
        raw = t.encode()
        assert out[i]["n_bytes"] == len(raw)
        if raw:
            assert out[i]["n_compressed"] == len(zlib.compress(raw, 6))
            assert out[i]["ratio"] == len(zlib.compress(raw, 6)) / len(raw)
        else:
            assert (out[i]["n_compressed"], out[i]["ratio"]) == (0, 1.0)
    assert out[0]["ratio"] < 0.1 < out[1]["ratio"]


def test_chunk_documents_windows_and_tail(spark):
    """Start rule (0, stride, ... while < n), full coverage, short tail
    chunk, and the one-chunk short-document case."""
    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10))), (2, "a b")],
        "doc_id bigint, text string",
    )
    rows = ops_text.chunk_documents(
        docs, chunk_tokens=4, stride=3
    ).collect()
    got = {
        (r["doc_id"], r["chunk_index"]): (r["chunk_tokens_n"], r["chunk_text"])
        for r in rows
    }
    # doc 1: starts 0,3,6,9 -> windows of 4,4,4 and tail of 1
    assert got[(1, 0)] == (4, "w0 w1 w2 w3")
    assert got[(1, 1)] == (4, "w3 w4 w5 w6")
    assert got[(1, 2)] == (4, "w6 w7 w8 w9")
    assert got[(1, 3)] == (1, "w9")
    # doc 2: single short chunk
    assert got[(2, 0)] == (2, "a b")
    assert len(got) == 5


def test_props_stats_json_extraction(spark):
    from graph_loom_spark.ops import events as ops_events

    ev = spark.createDataFrame(
        [
            ("click", '{"k": 3}'),
            ("click", '{"k": 5}'),
            ("click", '{"other": 1}'),   # field missing -> null
            ("view", "not json at all"),  # malformed -> null
        ],
        "event_type string, props string",
    )
    got = {
        r["event_type"]: (
            r["n_events"], r["n_with_field"], r["sum_field"], r["avg_field"]
        )
        for r in ops_events.props_stats(ev).collect()
    }
    assert got["click"] == (3, 2, 8, 4.0)
    assert got["view"] == (1, 0, 0, None)  # no x/0: avg nulls out


def test_train_split_fractions_and_determinism(spark):
    docs = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    got = {r["doc_id"]: r["split"] for r in ops_text.train_split(docs).collect()}
    again = {r["doc_id"]: r["split"] for r in ops_text.train_split(docs).collect()}
    assert got == again  # re-run stable
    from collections import Counter

    c = Counter(got.values())
    assert set(c) == {"train", "val", "test"}
    assert 0.85 < c["train"] / 2000 < 0.95  # ~90%
    assert 0.02 < c["val"] / 2000 < 0.09 and 0.02 < c["test"] / 2000 < 0.09
    # a different seed produces a different assignment
    other = {r["doc_id"]: r["split"] for r in ops_text.train_split(docs, seed="s2").collect()}
    assert other != got


def test_epoch_shuffle_is_permutation_and_seed_sensitive(spark):
    docs = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    rows = ops_text.epoch_shuffle(docs).collect()
    assert len(rows) == 500
    # (shard, pos) is a proper dense order per shard
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) <= set(range(16))
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))
    order1 = sorted((r["shard"], r["pos"], r["doc_id"]) for r in rows)
    order2 = sorted(
        (r["shard"], r["pos"], r["doc_id"])
        for r in ops_text.epoch_shuffle(docs, seed="epoch1").collect()
    )
    assert [t[2] for t in order1] != [t[2] for t in order2]  # reshuffled


def test_epoch_shuffle_multi_char_shards(spark):
    docs = spark.range(0, 400).withColumnRenamed("id", "doc_id")
    rows = ops_text.epoch_shuffle(docs, shards=256).collect()
    assert len(rows) == 400
    assert all(0 <= r["shard"] < 256 for r in rows)
    assert len({r["shard"] for r in rows}) > 100  # well spread
    import pytest as _pytest

    with _pytest.raises(ValueError):
        ops_text.epoch_shuffle(docs, shards=10)


def test_train_split_rejects_overflowing_fractions(spark):
    import pytest

    docs = spark.range(0, 10).withColumnRenamed("id", "doc_id")
    # cum fraction of the non-final names hits 1.0: the %08x bucket limit
    # would be 9 hex chars and silently misroute — must raise instead
    with pytest.raises(ValueError, match="sum to < 1.0"):
        ops_text.train_split(docs, fractions={"a": 0.5, "b": 0.5, "c": 0.0})


def test_source_cap_exact_and_rescue_path(spark):
    import hashlib

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = [(r["doc_id"], r["source"]) for r in docs.select("doc_id", "source").collect()]

    def brute(n):
        by_src = {}
        for did, src in rows:
            k = hashlib.md5(f"cap:{src}:{did}".encode()).hexdigest()
            by_src.setdefault(src, []).append((k, did))
        keep = set()
        for src, lst in by_src.items():
            for _k, did in sorted(lst)[:n]:
                keep.add((did, src))
        return keep

    got = {
        (r["doc_id"], r["source"])
        for r in ops_text.source_cap(docs, max_per_source=3).collect()
    }
    assert got == brute(3)

    # prefilter_factor=1 makes per-source shortfalls near-certain — the
    # rescue path must still reproduce the exact naive-window selection
    got1 = {
        (r["doc_id"], r["source"])
        for r in ops_text.source_cap(docs, max_per_source=5, prefilter_factor=1).collect()
    }
    assert got1 == brute(5)

    with pytest.raises(ValueError):
        ops_text.source_cap(docs, max_per_source=0)


def test_source_cap_over_integer_cluster_column(spark):
    # the cluster-balanced embedding sample reuses source_cap with an
    # INT group column; concat_ws must render it identically to the
    # oracle's CAST(cluster AS VARCHAR)
    import hashlib

    rows = [(i, i % 3) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id bigint, cluster int")
    got = {
        (r["vec_id"], r["cluster"])
        for r in ops_text.source_cap(
            df, max_per_source=4, id_col="vec_id", source_col="cluster",
            seed="csample",
        ).collect()
    }
    by_c = {}
    for vid, c in rows:
        k = hashlib.md5(f"csample:{c}:{vid}".encode()).hexdigest()
        by_c.setdefault(c, []).append((k, vid))
    want = {
        (vid, c) for c, lst in by_c.items() for _k, vid in sorted(lst)[:4]
    }
    assert got == want and len(got) == 12


def test_temperature_mixture_matches_python(spark):
    import hashlib
    import math

    rows = (
        [(i, "w", "A") for i in range(40)]
        + [(100 + i, "w", "B") for i in range(10)]
        + [(200, "w", "C")]
    )
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    got = {
        (r["doc_id"], r["source"])
        for r in ops_text.temperature_mixture(df, total_docs=20).collect()
    }

    counts = {"A": 40, "B": 10, "C": 1}
    r = {s: math.sqrt(n) for s, n in counts.items()}
    tot = math.floor(sum(r[s] for s in sorted(r)) * 1e6 + 0.5) / 1e6
    caps = {
        s: min(n, int(math.floor(20 * r[s] / tot + 0.5)))
        for s, n in counts.items()
    }
    assert caps == {"A": 12, "B": 6, "C": 1}
    by_src = {}
    for did, _txt, src in rows:
        k = hashlib.md5(f"temp:{src}:{did}".encode()).hexdigest()
        by_src.setdefault(src, []).append((k, did))
    want = {
        (did, s)
        for s, lst in by_src.items()
        for _k, did in sorted(lst)[: caps[s]]
    }
    assert got == want
    # α=0.5 flattens: B keeps 60% of its docs vs A's 30%
    assert len([1 for _d, s in got if s == "B"]) == 6
    with pytest.raises(ValueError):
        ops_text.temperature_mixture(df, total_docs=0)


def test_source_cap_dict_caps_drop_unlisted_sources(spark):
    import hashlib

    rows = [(i, ["A", "B", "C"][i % 3]) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string")
    got = {
        (r["doc_id"], r["source"])
        for r in ops_text.source_cap(
            df, max_per_source={"A": 2, "B": 5, "C": 0}
        ).collect()
    }
    by_src = {}
    for did, src in rows:
        k = hashlib.md5(f"cap:{src}:{did}".encode()).hexdigest()
        by_src.setdefault(src, []).append((k, did))
    want = {(did, "A") for _k, did in sorted(by_src["A"])[:2]} | {
        (did, "B") for _k, did in sorted(by_src["B"])[:5]
    }
    assert got == want  # C (cap 0) fully dropped
    with pytest.raises(ValueError):
        ops_text.source_cap(df, max_per_source={"A": 0})


def test_ngram_jaccard_prefix_filter_lossless(spark):
    """The AllPairs/PPJoin prefix-filtered candidate join must return
    EXACTLY the brute-force all-pairs Jaccard result — on a randomized
    corpus engineered with hot shared shingles (the case prefix
    filtering prunes) and varied thresholds."""
    import itertools
    import random

    from pyspark.sql import functions as F

    from graph_loom_spark.ops import dedup as ops_dedup

    rng = random.Random(1234)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(40):
        n_tok = rng.randint(3, 25)
        # bias towards a hot prefix so many docs share frequent shingles
        toks = ["the", "of", "the"] + [rng.choice(vocab) for _ in range(n_tok)]
        rows.append((i, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    ids = docs.select(F.col("doc_id").alias("id_a"))
    all_pairs = (
        ids.crossJoin(docs.select(F.col("doc_id").alias("id_b")))
        .filter(F.col("id_a") < F.col("id_b"))
    )
    for threshold in (0.2, 0.5, 0.8):
        brute = {
            (r["id_a"], r["id_b"], round(r["jaccard"], 9))
            for r in ops_dedup.ngram_jaccard_pairs(
                docs, threshold=threshold, candidate_pairs=all_pairs
            ).collect()
        }
        pruned = {
            (r["id_a"], r["id_b"], round(r["jaccard"], 9))
            for r in ops_dedup.ngram_jaccard_pairs(docs, threshold=threshold).collect()
        }
        assert pruned == brute, f"threshold={threshold}"


def test_token_budget_select_matches_naive_window(spark):
    """Two-phase bucket selection must keep EXACTLY the naive global
    ordered-cumsum prefix — across tie-heavy scores, tiny bucket counts
    (boundary logic forced), and budgets at/off bucket edges."""
    import random

    rng = random.Random(9)
    rows = [
        (i, rng.randint(-5, 5), rng.randint(1, 20))  # heavy score ties
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, weight_sum bigint, ntok bigint")
    naive = sorted(rows, key=lambda r: (-r[1], r[0]))
    for budget in (0, 1, 37, 500, 1000, 10**9):
        for nb in (1, 3, 4096):
            cum, want = 0, set()
            for did, s, n in naive:
                if cum + n > budget:
                    break
                cum += n
                want.add((did, s, n))
            got = {
                (r["doc_id"], r["weight_sum"], r["ntok"])
                for r in ops_text.token_budget_select(
                    df, budget_tokens=budget, n_buckets=nb
                ).collect()
            }
            assert got == want, f"budget={budget} n_buckets={nb}"
    with pytest.raises(ValueError):
        ops_text.token_budget_select(df, budget_tokens=-1)
    # empty input short-circuits
    assert (
        ops_text.token_budget_select(df.filter("doc_id < 0"), budget_tokens=5).count()
        == 0
    )


def test_containment_pairs_matches_brute_force(spark):
    """Prefix(a)×full-index(b) containment must equal the brute-force
    all-ordered-pairs result — on a corpus engineered with hot shared
    shingles AND a true excerpt (short doc inside a long one, where
    Jaccard is low but containment is 1.0)."""
    import random

    from graph_loom_spark.ops import dedup as ops_dedup

    rng = random.Random(77)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(40):
        toks = ["the", "of", "the"] + [rng.choice(vocab) for _ in range(rng.randint(3, 25))]
        rows.append((i, " ".join(toks)))
    # doc 100 = an excerpt of doc 1 (first 8 tokens); doc 101 = superset of doc 2
    rows.append((100, " ".join(rows[1][1].split()[:8])))
    rows.append((101, rows[2][1] + " zz yy xx ww vv uu tt ss rr qq pp oo nn mm"))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    def shingles(text):
        toks = " ".join(text.lower().strip().split()).split(" ")
        n = max(len(toks) - 3, 0)
        return {" ".join(toks[i : i + 3]) for i in range(n + 1)}

    sh = {did: shingles(t) for did, t in rows}
    for threshold in (0.5, 0.8, 0.95):
        brute = set()
        for a, sa in sh.items():
            for b, sb in sh.items():
                if a != b and len(sa & sb) / len(sa) >= threshold:
                    brute.add((a, b, round(len(sa & sb) / len(sa), 9)))
        got = {
            (r["id_a"], r["id_b"], round(r["containment"], 9))
            for r in ops_dedup.containment_pairs(docs, threshold=threshold).collect()
        }
        assert got == brute, f"threshold={threshold}"
    # the excerpt relationship itself is detected at full containment
    assert any(a == 100 and b == 1 and c == 1.0 for a, b, c in brute)
    assert any(a == 2 and b == 101 and c == 1.0 for a, b, c in brute)


def test_corpus_report_counts_and_dups(spark):
    rows = [
        (0, "good doc with several tokens " + "alpha " * 20, "a"),
        (1, "good doc with several tokens " + "alpha " * 20, "a"),  # exact dup of 0
        (2, "x", "a"),
        (3, "different text entirely here", "b"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    out = {r["source"]: r for r in ops_text.corpus_report(docs).collect()}
    assert out["a"]["n_docs"] == 3 and out["a"]["n_exact_dups"] == 1
    assert out["b"]["n_docs"] == 1 and out["b"]["n_exact_dups"] == 0
    # token sums are exact: doc0/doc1 have 25 tokens each, doc2 has 1
    assert out["a"]["n_tokens"] == 25 + 25 + 1
    assert 0.0 <= out["a"]["avg_quality"] <= 3.0


def test_bm25_topk_exact_small(spark):
    import math

    rows = [
        (0, "join join join scan other words here", "s"),
        (1, "join scan", "s"),
        (2, "nothing relevant at all", "s"),
        (3, "scan scan scan scan", "s"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    got = [(r["doc_id"], r["bm25"]) for r in ops_text.bm25_topk(docs, ["join", "scan"], k=10).collect()]

    # independent replay, same associativity as the operator
    k1, b = 1.2, 0.75
    texts = {i: t.split(" ") for i, t, _ in rows}
    N, tot = len(texts), sum(len(t) for t in texts.values())
    avgdl = float(tot) / N
    def idf(term):
        df = sum(1 for t in texts.values() if term in t)
        return math.log(1.0 + (float(N) - df + 0.5) / (df + 0.5))
    exp = {}
    for i, t in texts.items():
        s = 0.0
        for term in ("join", "scan"):
            tf = t.count(term)
            if tf:
                s += (idf(term) * (float(tf) * (k1 + 1.0))) / (
                    float(tf) + k1 * (1.0 - b + b * float(len(t)) / avgdl)
                )
        if s:
            exp[i] = round(s, 6)
    expected = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))
    assert got == expected
    # doc 2 has no query term — never retrieved; doc 1 (both terms,
    # shortest) wins on BM25 length normalization
    assert 2 not in dict(got) and got[0][0] == 1


def test_bm25_empty_query_raises(spark):
    docs = spark.createDataFrame([(0, "x")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="query_terms"):
        ops_text.bm25_topk(docs, [])


def test_rrf_fuse_integer_points_and_ties(spark):
    # list A ranks: 10 (r1), 20 (r2), 30 (r3); list B: 20 (r1), 40 (r2)
    a = spark.createDataFrame(
        [(10, 9.0), (20, 5.0), (30, 1.0)], "doc_id bigint, s1 double"
    )
    b = spark.createDataFrame([(20, 0.9), (40, 0.1)], "doc_id bigint, s2 double")
    got = {
        r["doc_id"]: (r["rrf_micro"], r["n_lists"])
        for r in ops_text.rrf_fuse([(a, "s1"), (b, "s2")], k=10, c=60).collect()
    }
    pt = lambda r: 1000000000 // (60 + r)  # noqa: E731
    assert got == {
        10: (pt(1), 1),
        20: (pt(2) + pt(1), 2),  # retrieved by both lists
        30: (pt(3), 1),
        40: (pt(2), 1),
    }
    # equal scores tie-break by id: both docs score 5.0 in one list
    t = spark.createDataFrame([(7, 5.0), (3, 5.0)], "doc_id bigint, s double")
    rows = ops_text.rrf_fuse([(t, "s")], k=2).collect()
    by_id = {r["doc_id"]: r["rrf_micro"] for r in rows}
    assert by_id[3] == pt(1) and by_id[7] == pt(2)
    # k cuts the fused list, ordered by (rrf desc, id)
    top1 = ops_text.rrf_fuse([(a, "s1"), (b, "s2")], k=1).collect()
    assert [r["doc_id"] for r in top1] == [20]
    with pytest.raises(ValueError, match="empty"):
        ops_text.rrf_fuse([])


def test_hashed_linear_score_matches_python_reference(spark):
    import hashlib

    from graph_loom_spark.ops.text import hashed_linear_score

    def w(f):
        return int(hashlib.md5(f"w:{f}".encode()).hexdigest()[:8], 16) % 2001 - 1000

    def ref(text):
        toks = text.split(" ")
        feats = toks + [f"{a}_{b}" for a, b in zip(toks, toks[1:])]
        return len(feats), sum(w(f) for f in feats)

    rows = [(0, "alpha beta gamma beta"), (1, "solo"), (2, "x y")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["n_feats"], r["weight_sum"], r["keep"])
        for r in hashed_linear_score(df).collect()
    }
    for did, text in rows:
        n, s = ref(text)
        assert got[did] == (n, s, s > 0), (did, got[did], (n, s))
    # 1-token doc: unigram only, no descending-sequence bigram artifact
    assert got[1][0] == 1


def test_source_shingle_overlap_matches_brute_force(spark):
    import hashlib

    from graph_loom_spark.ops.dedup import source_shingle_overlap

    rows = [
        ("s1", "a b c d e"),
        ("s1", "c d e f"),
        ("s2", "a b c x y"),
        ("s3", "q"),  # shorter than shingle_n -> whole-text shingle
    ]
    df = spark.createDataFrame(rows, "source string, text string")

    def shingles(text, n=3):
        t = text.split(" ")
        if len(t) < n:
            return {" ".join(t)}
        return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}

    sets = {}
    for src, text in rows:
        sets.setdefault(src, set()).update(shingles(text))

    got = {
        (r["src_a"], r["src_b"]): (r["inter"], r["size_a"], r["size_b"])
        for r in source_shingle_overlap(df).collect()
    }
    exp = {}
    for a in sets:
        for b in sets:
            if a < b and sets[a] & sets[b]:
                exp[(a, b)] = (len(sets[a] & sets[b]), len(sets[a]), len(sets[b]))
    assert got == exp

    # sampled mode keeps only shingles whose md5 bucket % mod == 0 and
    # still reports set-consistent integers
    mod = 2
    kept = {
        src: {g for g in s if int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % mod == 0}
        for src, s in sets.items()
    }
    got2 = {
        (r["src_a"], r["src_b"]): (r["inter"], r["size_a"], r["size_b"])
        for r in source_shingle_overlap(df, sample_mod=mod).collect()
    }
    exp2 = {}
    for a in kept:
        for b in kept:
            if a < b and kept[a] & kept[b]:
                exp2[(a, b)] = (len(kept[a] & kept[b]), len(kept[a]), len(kept[b]))
    assert got2 == exp2


def test_bloom_contamination_matches_python_replay(spark):
    import hashlib

    from graph_loom_spark.ops.text import bloom_contamination, contamination_flags

    rows = [
        (0, "one two three four five six seven eight tail"),
        (1, "one two three four five six seven eight other words here"),
        (2, "completely different text with no shared grams at all ok"),
        (3, "short"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    bench = df.filter("doc_id = 0")
    m, k, n = 16384, 3, 8

    def grams(text):
        toks = text.lower().strip().split(" ")
        if len(toks) <= n:
            return {" ".join(toks[:n])}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    def positions(g):
        return [
            int(hashlib.md5(f"{j}:{g}".encode()).hexdigest()[:8], 16) % m
            for j in range(k)
        ]

    bits = {p for g in grams(rows[0][1]) for p in positions(g)}

    exp = {}
    for did, text in rows:
        nh = sum(1 for g in grams(text) if all(p in bits for p in positions(g)))
        exp[did] = (nh, 1 if nh > 0 else 0)

    got = {
        r["doc_id"]: (r["n_gram_hits"], r["contaminated"])
        for r in bloom_contamination(df, bench, n=n, m_bits=m, k=k).collect()
    }
    assert got == exp
    # no false negatives vs the exact semi-join scan
    exact = {
        r["doc_id"]: r["contaminated"]
        for r in contamination_flags(df, bench, n=n).collect()
    }
    assert all(got[d][1] == 1 for d, c in exact.items() if c)


def test_length_bucket_stats_matches_python(spark):
    import hashlib

    import numpy as np
    import pytest

    rows = [(i, " ".join(["w"] * (3 + (i * 7) % 40))) for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["bucket"]: (r["n_docs"], r["max_len"], r["sum_tokens"], r["padding_waste"])
        for r in ops_text.length_bucket_stats(df, rate_denom=2).collect()
    }

    lens = {i: len(t.split()) for i, t in rows}
    sample = [
        lens[i]
        for i, _ in rows
        if int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) < (1 << 32) // 2
    ]
    bounds = [round(float(np.percentile(sample, q, method="linear")), 4) for q in (25, 50, 75)]
    buckets = {}
    for i, _ in rows:
        b = sum(1 for x in bounds if lens[i] > x)
        buckets.setdefault(b, []).append(lens[i])
    want = {
        b: (len(v), max(v), sum(v), len(v) * max(v) - sum(v))
        for b, v in buckets.items()
    }
    assert got == want
    with pytest.raises(ValueError):
        ops_text.length_bucket_stats(df, n_buckets=1)


def test_curriculum_order_buckets_and_keys(spark):
    import hashlib

    rows = [
        # typical docs: repeated common character patterns
        (i, "the cat sat on the mat and the dog ran off") for i in range(12)
    ] + [
        # atypical/noisy docs: rare character trigrams -> low logprob
        (100 + i, "zqxj vkwp qzzx jjqv wxkz") for i in range(4)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in ops_text.curriculum_order(df, rate_denom=1).collect()}
    assert len(out) == len(rows)
    # typical docs land in a strictly higher (easier) bucket than noise
    typ = {out[i]["bucket"] for i in range(12)}
    noise = {out[100 + i]["bucket"] for i in range(4)}
    assert min(typ) > max(noise)
    # order keys are the seeded md5 of the id — re-derivable anywhere
    for did, r in out.items():
        assert r["ord_key"] == hashlib.md5(f"curr:{did}".encode()).hexdigest()
    import pytest

    with pytest.raises(ValueError):
        ops_text.curriculum_order(df, n_buckets=1)


def test_pair_confusion_counts_and_guards(spark):
    from graph_loom_spark.ops import dedup as ops_dedup

    pred = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 5)], "id_a bigint, id_b bigint"
    )
    truth = spark.createDataFrame(
        [(1, 2), (4, 5), (6, 7), (8, 9)], "id_a bigint, id_b bigint"
    )
    r = ops_dedup.pair_confusion(pred, truth).collect()[0]
    assert (r["tp"], r["fp"], r["fn"]) == (2, 1, 2)
    assert r["precision"] == round(2 / 3, 6) and r["recall"] == 0.5
    # zero-division guards: empty predictions -> null precision
    r2 = ops_dedup.pair_confusion(pred.filter("id_a < 0"), truth).collect()[0]
    assert (r2["tp"], r2["fp"], r2["fn"]) == (0, 0, 4)
    assert r2["precision"] is None and r2["recall"] == 0.0


def test_lexical_diversity_exact(spark):
    rows = [
        (0, "a b a b c"),     # 5 tokens, 3 types, hapax = {c}
        (1, "x x x x"),       # 4 tokens, 1 type, 0 hapax
        (2, "only"),          # 1 token, 1 type, 1 hapax
        (3, "  A   a b  "),   # normalization: lower+collapse -> a a b
    ]
    out = {
        r["doc_id"]: r
        for r in ops_text.lexical_diversity(_docs(spark, rows)).collect()
    }
    assert (out[0]["n_tokens"], out[0]["n_types"], out[0]["n_hapax"]) == (5, 3, 1)
    assert out[0]["ttr"] == 0.6 and out[0]["hapax_frac"] == round(1 / 3, 6)
    assert (out[1]["n_types"], out[1]["n_hapax"], out[1]["hapax_frac"]) == (1, 0, 0.0)
    assert (out[2]["ttr"], out[2]["hapax_frac"]) == (1.0, 1.0)
    assert (out[3]["n_tokens"], out[3]["n_types"], out[3]["n_hapax"]) == (3, 2, 1)


def test_pack_efficiency_consistent_with_pack_sequences(spark):
    """The closed-form efficiency manifest must agree with the actual
    packing map: per shard, n_sequences = max(seq_idx)+1 and
    total_tokens = sum of per-doc counts."""
    from graph_loom_spark.ops.text import pack_efficiency, pack_sequences

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    eff = {r["shard"]: r for r in pack_efficiency(docs, budget=128, shards=8).collect()}
    packed = pack_sequences(docs, budget=128, shards=8).collect()
    by_shard: dict = {}
    for r in packed:
        s = by_shard.setdefault(r["shard"], {"docs": 0, "tokens": 0, "last_end": 0})
        s["docs"] += 1
        s["tokens"] += r["n_tokens"]
        s["last_end"] = max(s["last_end"], r["seq_idx"] * 128 + r["offset_tokens"] + r["n_tokens"])
    assert set(eff) == set(by_shard)
    for sh, s in by_shard.items():
        assert eff[sh]["n_docs"] == s["docs"]
        assert eff[sh]["total_tokens"] == s["tokens"]
        n_seq = (s["tokens"] + 127) // 128
        assert eff[sh]["n_sequences"] == n_seq
        # the packing map's furthest token lands inside the predicted grid
        assert s["last_end"] <= n_seq * 128
        # HALF_UP like Spark/DuckDB round(), not python's half-even
        from decimal import ROUND_HALF_UP, Decimal

        want = float(
            Decimal(s["tokens"]) / Decimal(n_seq * 128)
        )
        want = float(Decimal(repr(want)).quantize(Decimal("0.000001"), ROUND_HALF_UP))
        assert eff[sh]["fill_rate"] == want


def test_classifier_auc_matches_numpy_mann_whitney(spark):
    """X122 AUC vs a numpy tie-aware Mann-Whitney replay: ranks via
    scipy-style average ranking computed by hand — same n_pos/n_neg/u2
    and the same rounded AUC."""
    import numpy as np

    from graph_loom_spark.ops import text as ops_text

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    row = ops_text.classifier_auc(docs).collect()[0]

    scored = ops_text.hashed_linear_score(docs).select(
        "weight_sum", "lang"
    ).collect()
    ws = np.array([r["weight_sum"] for r in scored], dtype=np.int64)
    pos = np.array([r["lang"] == "en" for r in scored])
    order = np.argsort(ws, kind="stable")
    ws_sorted, pos_sorted = ws[order], pos[order]
    # tie-averaged ranks, carried as 2*rank to stay integer
    two_ranks = np.empty(len(ws), dtype=np.int64)
    i = 0
    while i < len(ws_sorted):
        j = i
        while j < len(ws_sorted) and ws_sorted[j] == ws_sorted[i]:
            j += 1
        two_ranks[i:j] = (i + 1) + j  # 2*avg(i+1..j) = (i+1)+j
        i = j
    n_pos = int(pos.sum())
    n_neg = len(ws) - n_pos
    two_r_pos = int(two_ranks[pos_sorted].sum())
    u2 = two_r_pos - n_pos * (n_pos + 1)
    assert (row["n_pos"], row["n_neg"], row["u2"]) == (n_pos, n_neg, u2)
    assert row["auc"] == round(u2 / (2 * n_pos * n_neg), 6)
    assert 0.0 <= row["auc"] <= 1.0


def test_classifier_calibration_bins_partition_corpus(spark):
    """X126: bands partition the corpus exactly (Σn = corpus size,
    Σn_pos = total positives), bins are equal-frequency up to score
    ties, and per-band stats replay in pure Python."""
    from collections import Counter

    from graph_loom_spark.ops import text as ops_text

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = ops_text.classifier_calibration(docs).collect()
    got = {r["bin"]: (r["n"], r["n_pos"], r["pos_rate"], r["avg_score"]) for r in rows}

    scored = ops_text.hashed_linear_score(docs).select("weight_sum", "lang").collect()
    data = sorted((r["weight_sum"], r["lang"] == "en") for r in scored)
    N = len(data)
    cprev = {}
    cnt = Counter(ws for ws, _ in data)
    run = 0
    for ws in sorted(cnt):
        cprev[ws] = run
        run += cnt[ws]
    agg = {}
    for ws, pos in data:
        b = 10 * cprev[ws] // N
        n, p, s = agg.get(b, (0, 0, 0))
        agg[b] = (n + 1, p + int(pos), s + ws)
    want = {
        b: (n, p, round(p / n, 6), round(s / n, 6))
        for b, (n, p, s) in agg.items()
    }
    assert got == want
    assert sum(n for n, *_ in got.values()) == N


def test_source_unigram_drift_planted(spark):
    """X134: hand-computed TV — A={a,a,b}, B={a,b,b} share both terms
    (drift = ½·(|⅔−⅓|+|⅓−⅔|) ≈ 333333 micropoints); C={c} shares
    nothing with either (drift ≈ 10⁶, via the left-join zero-min path)."""
    from graph_loom_spark.ops.text import source_unigram_drift

    docs = spark.createDataFrame(
        [(1, "a a b", "A"), (2, "a b b", "B"), (3, "c", "C")],
        "doc_id long, text string, source string",
    )
    out = {
        (r["source_a"], r["source_b"]): (r["n_shared_terms"], r["drift_micro"])
        for r in source_unigram_drift(docs).collect()
    }
    assert out[("A", "B")] == (2, 333_333)
    assert out[("A", "C")] == (0, 999_999)  # (999999+1000000) div 2
    assert out[("B", "C")] == (0, 999_999)
    # identical distributions → zero drift
    docs2 = spark.createDataFrame(
        [(1, "x y", "A"), (2, "y x", "B")], "doc_id long, text string, source string"
    )
    row = source_unigram_drift(docs2).collect()[0]
    assert (row["n_shared_terms"], row["drift_micro"]) == (2, 0)


def test_textrank_keywords_hub_word_ranks_first(spark):
    """X135: 'hub' is adjacent to four distinct words, each leaf only
    to hub — the star's center must out-rank every leaf; empty and
    one-word docs contribute no edges; k-boundary ties break term-asc."""
    from graph_loom_spark.ops.text import textrank_keywords

    docs = spark.createDataFrame(
        [
            (1, "hub alpha hub beta", "s"),
            (2, "hub gamma", "s"),
            (3, "delta hub", "s"),
            (4, "solo", "s"),       # 1 word → no pairs
            (5, "", "s"),           # empty → no pairs
        ],
        "doc_id long, text string, source string",
    )
    out = textrank_keywords(docs, k=10).collect()
    terms = [r["term"] for r in out]
    assert terms[0] == "hub"
    assert set(terms) == {"hub", "alpha", "beta", "gamma", "delta"}  # no 'solo'
    ranks = {r["term"]: r["rank"] for r in out}
    assert all(ranks["hub"] > ranks[t] for t in terms[1:])
    # the four leaves are structurally identical → identical fixed-point
    # ranks, listed term-ascending
    assert terms[1:] == sorted(terms[1:])
    leaf = {ranks[t] for t in terms[1:]}
    assert len(leaf) == 1


def test_source_entropy_planted(spark):
    """X142: uniform 4-type source hits H = ln 4 with evenness 1.0; a
    single-type source scores H = 0 / evenness 0 (the degenerate-feed
    signal); values match the closed form to the rounded digit."""
    import math

    from graph_loom_spark.ops.text import source_entropy

    docs = spark.createDataFrame(
        [
            (1, "a b c d", "U"),         # uniform over 4 types
            (2, "z z z z z", "Z"),       # single type
            (3, "x x x y", "S"),         # p = (3/4, 1/4)
        ],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in source_entropy(docs).collect()}
    assert (out["U"]["n_tokens"], out["U"]["n_types"]) == (4, 4)
    assert out["U"]["entropy"] == round(math.log(4), 6)
    assert out["U"]["evenness"] == 1.0
    assert (out["Z"]["entropy"], out["Z"]["evenness"]) == (0.0, 0.0)
    h = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
    assert out["S"]["entropy"] == round(h, 6)
    assert out["S"]["evenness"] == round(h / math.log(2), 6)


def test_zipf_fit_planted(spark):
    """X148: counts a:4, b:2, c:1, d:1 → rank blocks 1, 2, {3,4};
    points (ln r, ln c) = (0, ln4), (ln2, ln2), (ln3, 0), (ln4, 0) —
    OLS slope/intercept match the closed form; a one-type source
    (degenerate fit, denominator 0) reports (0.0, 0.0)."""
    import math

    import pytest as pt

    from graph_loom_spark.ops.text import zipf_fit

    docs = spark.createDataFrame(
        [(1, "a a a a b b c d", "S"), (2, "z z z", "Z")],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in zipf_fit(docs).collect()}
    xs = [math.log(r) for r in (1, 2, 3, 4)]
    ys = [math.log(c) for c in (4, 2, 1, 1)]
    n = 4
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    inter = (sy - slope * sx) / n
    assert out["S"]["n_types"] == 4
    assert out["S"]["slope"] == pt.approx(slope, abs=2e-6)
    assert out["S"]["intercept"] == pt.approx(inter, abs=2e-6)
    assert slope < -0.9  # heads toward the Zipf −1
    assert (out["Z"]["n_types"], out["Z"]["slope"], out["Z"]["intercept"]) == (1, 0.0, 0.0)


def test_jsd_drift_planted(spark):
    """X149: identical sources → JSD exactly 0.0 (+0.0, the signed-zero
    class); fully disjoint vocabularies → exactly ln 2; a half-shared
    pair matches the closed form."""
    import math

    import pytest as pt

    from graph_loom_spark.ops.text import jsd_drift

    docs = spark.createDataFrame(
        [
            (1, "a b", "P"),
            (2, "a b", "Q"),       # identical to P
            (3, "x y", "R"),       # disjoint from P/Q
            (4, "a x", "T"),       # half-shared with everyone
        ],
        "doc_id long, text string, source string",
    )
    out = {(r["source_a"], r["source_b"]): r for r in jsd_drift(docs).collect()}
    assert len(out) == 6
    pq = out[("P", "Q")]
    assert pq["n_shared_terms"] == 2 and pq["jsd"] == 0.0
    assert math.copysign(1.0, pq["jsd"]) > 0
    pr = out[("P", "R")]
    assert pr["n_shared_terms"] == 0 and pr["jsd"] == round(math.log(2), 6)
    # P = {a:.5, b:.5}, T = {a:.5, x:.5}: shared term a with p=q=.5 →
    # its KL terms vanish; one-sided mass .5 each side → JSD = .5·ln2
    pt_pair = out[("P", "T")]
    assert pt_pair["n_shared_terms"] == 1
    assert pt_pair["jsd"] == pt.approx(0.5 * math.log(2), abs=2e-6)


def test_distinct_ngram_ratios_planted(spark):
    """X153: source S = ["a b a b", "a"] → distinct-1 = 2/5,
    distinct-2 = 2/3 (grams never span docs), distinct-3 = 2/2;
    all-unique source T scores 1.0 at every n."""
    from graph_loom_spark.ops.text import distinct_ngram_ratios

    docs = spark.createDataFrame(
        [(1, "a b a b", "S"), (2, "a", "S"), (3, "x y z", "T")],
        "doc_id long, text string, source string",
    )
    out = {(r["source"], r["n"]): r for r in distinct_ngram_ratios(docs).collect()}
    assert (out[("S", 1)]["total_ngrams"], out[("S", 1)]["unique_ngrams"]) == (5, 2)
    assert out[("S", 1)]["distinct_ratio"] == 0.4
    assert (out[("S", 2)]["total_ngrams"], out[("S", 2)]["unique_ngrams"]) == (3, 2)
    assert out[("S", 2)]["distinct_ratio"] == round(2 / 3, 6)
    assert (out[("S", 3)]["total_ngrams"], out[("S", 3)]["unique_ngrams"]) == (2, 2)
    assert all(out[("T", n)]["distinct_ratio"] == 1.0 for n in (1, 2, 3))


# the text-hashing rules the corpus oracles replay, as spelled in code
_TEXT_RULES = {
    "whitespace normalizer": re.compile(r"lower\(\s*(?:\w+\.)?trim\("),
    "md5 lane": re.compile(r"conv\(\s*(?:\w+\.)?substr(?:ing)?\("),
}


def test_text_hashing_rules_written_once():
    """The whitespace normalizer and the md5 lane are each written once
    in the library, in ``graph_loom_spark/ops/__init__.py``: a second
    copy can drift from the rule the oracles replay."""
    lib = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "graph_loom_spark")
    found = {name: [] for name in _TEXT_RULES}
    for root, _, files in os.walk(lib):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    text = fh.read()
                for name, pattern in _TEXT_RULES.items():
                    found[name] += [os.path.relpath(path, lib)] * len(pattern.findall(text))
    assert found == dict.fromkeys(found, [os.path.join("ops", "__init__.py")]), found
