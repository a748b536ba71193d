"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value" (total sec), "unit", "queries", "sf"}.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from graph_loom_spark.session import get_spark  # noqa: E402

def _warm_iterative(spark) -> None:
    """Untimed JIT warm-up of the iterated broadcast-join → two-level
    hash-aggregate → localCheckpoint shape every multi-round graph
    query runs (LPA/PageRank/PPR/HITS/components), on TINY synthetic
    frames — no real data touched. A fresh JVM otherwise pays the
    compile cost inside the first timed graph query's early rounds
    (profiled at sf0.1: LPA rounds 0-2 take 3.6-7.6 s vs ~1.0 s
    steady-state; zombie-free A/B: first LPA 25.8-30.6 s cold vs
    21.0 s after this ~2 s probe)."""
    import gc

    from pyspark.sql import functions as F

    try:
        e = spark.range(20000).select(
            (F.col("id") % 970).alias("u"),
            (F.col("id") % 890).alias("v"),
            F.lit(1.0).alias("w"),
        )
        c = spark.range(1000).select(F.col("id").alias("v"), F.col("id").alias("c"))
        pinned = []
        for _ in range(3):
            s = e.join(F.broadcast(c), "v").groupBy("u", "c").agg(F.sum("w").alias("s"))
            cb = (
                s.groupBy("u")
                .agg(
                    F.min(
                        F.struct((-F.col("s")).alias("ns"), F.col("c").alias("c"))
                    ).alias("b")
                )
                .select(F.col("u").alias("v"), F.col("b.c").alias("c"))
            )
            c = cb.localCheckpoint(eager=True)
            pinned.append(c)
            c.count()
        for df in pinned:  # free the probe's checkpoint blocks
            try:
                df.rdd.unpersist()
            except Exception:
                pass
        gc.collect()
    except Exception as e:  # warm-up must never kill the bench
        print(f"bench iterative warm-up warning: {e}", file=sys.stderr, flush=True)


def _drop_persisted_blocks(spark, extra_keep=None) -> None:
    """Free blocks pinned by finished queries (outside the timed window).

    Iterative/reused-plan operators ``localCheckpoint`` intermediates;
    those RDD blocks never leave the cache manager on their own, so over
    a 25-query session they accumulate until the block store is full and
    every later query pays eviction + GC churn (measured: the same
    components query ran 55 s fresh vs ~480 s at the tail of a full
    bench session). Each query is timed as an independent job, so
    clearing between queries is both fair and representative.

    ``extra_keep``: additional RDD ids a caller's own live checkpoints
    pin (e.g. scale_probe's pre-loaded input frames — sweeping those
    kills the next measurement with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)."""
    import gc

    sc = spark.sparkContext
    # Memoized entry-layer frames (the LPA communities shared by
    # graph_lpa → graph_community_density) are non-recomputable local
    # checkpoints; sweeping them would fail the later query outright.
    keep: set = set()
    try:
        import __spark_entry__ as entry

        keep = entry.pinned_rdd_ids()
    except Exception:
        pass
    if extra_keep:
        keep = keep | set(extra_keep)
    try:
        for rid, rdd in sc._jsc.getPersistentRDDs().items():
            if rid not in keep:
                rdd.unpersist()
        spark.catalog.clearCache()
        # Spark's ContextCleaner reclaims shuffle files / broadcasts only
        # after their references are garbage-collected; dropping the
        # py4j refs and forcing a JVM GC makes that happen between
        # queries instead of mid-flight during a later one. TWO passes:
        # the first GC frees the py4j/RDD refs (which only ENQUEUES the
        # cleanups), the second reclaims what the ContextCleaner then
        # released (measured: a repeated query degraded 4→100 s without
        # this, and recovered only after a second gc cycle).
        for _ in range(2):
            gc.collect()
            sc._jvm.System.gc()
    except Exception as e:  # cleanup must never kill the bench
        print(f"bench cleanup warning: {e}", file=sys.stderr, flush=True)


# Every entry query is timed: BENCH_QUERIES is derived from
# __spark_entry__.queries() at runtime so a newly-registered operator can
# never be correctness-green but perf-blind. Keep the heavy iterative
# graph queries last so their block churn can't inflate earlier rows.
#
# Memo-cost attribution: whichever entry of a memo group runs FIRST in
# registry order pays the group's one-time index/signature build (e.g.
# docs_pipeline_funnel at ~4 s ahead of docs_minhash_pairs at ~1 s —
# r7's "regression" was this attribution moving with the rotation, not
# a slowdown). Compare memo groups by their TOTAL across rounds, not by
# the individual line.
_BENCH_LAST = [
    "graph_triangles",
    "graph_clustering",  # immediately after triangles: shares _tri_counts
    # r13-opt: every other _cooc_edges consumer runs in the same fresh
    # graph session — previously link_*/assortativity/knn/sssp sat in
    # earlier blocks and the co-occurrence edge build (plus the
    # _link_scores scored frame) was re-paid up to 3x per bench run
    # after block restarts swept the memo.
    "graph_link_jaccard",
    "graph_link_ra",
    "graph_link_capped",
    "graph_assortativity",
    "graph_knn_degree",
    "graph_bfs",
    "graph_sssp",
    "graph_kcore",
    "graph_degrees",
    "graph_pagerank",
    "graph_ppr",
    "graph_hits",
    "graph_components",
    "graph_density_components",
    "graph_cc_sizes",  # immediately after: third _components consumer
    "graph_lpa",
    "graph_community_density",
    "graph_modularity",  # immediately after: shares the LPA memo too
]

# Queries that get a brand-new JVM immediately before them. Both ends
# of the graph group are aging-sensitive: triangles degrades 9 → 19 s
# when it follows LPA's rounds, and LPA itself runs 27-58 s at the
# group tail vs an 18 s solo floor — an A/B of the two orderings showed
# whichever query runs in the aged slot loses, so the two heaviest
# each get a clean session (~10 s untimed startup apiece, repaid
# several times over in the timed numbers). r13-opt: the cooc/link
# family joining the triangles session pushed pagerank/ppr/hits/
# components ~6 slots deeper (measured: pagerank 27.9 s at depth 12 vs
# its 9.6 s floor), so the iterative power-method block gets its own
# fresh JVM too — three graph sessions: co-occurrence family,
# pagerank-family, LPA trio.
_RESTART_BEFORE = {"graph_triangles", "graph_pagerank", "graph_lpa"}

# Default A/B variance watch list (override via $SPARK_GRAFT_AB).
# graph_components + docs_tfidf: r5 regressed with no impl change — the
# A/B min distinguishes plan cost from session / cold-JVM noise (r5
# verdict items 4 and 10). graph_community_density is deliberately NOT
# tracked: its reset_memo drops the LPA memo, so each rerun times a
# FULL LPA (~30-70 s) that graph_lpa's own A/B already measures — the
# density aggregation itself is the 0.7 s warm number. docs_vocab: r6
# 0.58->0.93 s with no impl change (r6 ask #8). emb_ann_lsh: r6 weak
# line, fixed r7 via _lsh_index — track. graph_ppr +
# media_png_features: r7 verdict asks #3/#4 — unexplained drift with
# unchanged code; min-of-3 separates plan cost from noise.
# docs_rrf_fusion: r8 final-run outlier (5.5 s vs 2.1-2.5 s typical,
# VERDICT r8 ask #8) — record the floor to pin memo/session
# attribution. graph_link_jaccard (r10): pays the _cooc_edges memo
# build at the window front, so its line mixes memo cost with its own
# wedge join — min-of-3 after reset separates the two.
_AB_DEFAULT = (
    "cypher_var_length,graph_lpa,docs_vocab,emb_ann_lsh,"
    "graph_components,docs_tfidf,graph_pagerank,graph_hits,emb_near_dup,"
    "graph_ppr,media_png_features,docs_rrf_fusion,graph_link_jaccard"
)


def bench_query_names(qs: dict) -> list[str]:
    names = [n for n in qs if n not in _BENCH_LAST]
    names += [n for n in _BENCH_LAST if n in qs]
    return names


# Aging control (VERDICT r11 ask #1): the official bench number was
# drifting ~25% above the same-code tagged floor purely from session
# aging — every window-front insertion pushes every existing entry
# deeper into an aged JVM, so the headline measured harness state, not
# plan cost. Two structural fixes:
#  1. BLOCK RESTARTS: a brand-new JVM every ~BLOCK timed queries (at
#     memo-group-safe boundaries), bounding how aged any query's slot
#     can get as the registry grows.
#  2. WARM-FLOOR PASS (_warm_floor_pass below): lines that still come
#     in far above their cross-round floor are re-measured on one
#     fresh session, min-of-2; the artifact records BOTH numbers and
#     the official per-query figure is the min — round-over-round
#     comparison reads plan cost without manual solo adjudication.
_BLOCK = int(os.environ.get("SPARK_GRAFT_BLOCK", "45"))


def _same_memo_group(entry_mod, a: str, b: str) -> bool:
    """True iff two adjacent registry entries share a memo cache — a
    restart between them would move the group's one-time build cost
    from the producer's line onto the consumer's."""
    try:
        mm = entry_mod._memo_map()
        sa = {id(c) for c in mm.get(a, [])}
        return bool(sa & {id(c) for c in mm.get(b, [])})
    except Exception:
        return False


#: restart deferral bound: a memo family stretching more than this many
#: entries past the block budget gets split anyway (with a warning)
#: rather than letting one family disable aging control for a session
_BLOCK_SLACK = 30


def _shares_touched_memo(entry_mod, name: str, touched_ids: set) -> bool:
    """True iff ``name`` consumes a memo cache that some earlier query
    in the CURRENT session already built — a restart here would
    silently move that group's one-time build cost onto ``name``'s
    line. Replaces the pairwise-adjacency rule for restart placement
    (ADVICE r12 #4): pairwise adjacency missed memo groups whose
    members are separated by a non-member entry, so a block restart
    could land inside the group and the tail consumers paid a rebuild
    their line never owed."""
    try:
        mm = entry_mod._memo_map()
        return bool({id(c) for c in mm.get(name, [])} & touched_ids)
    except Exception:
        return False


def _history_floors(sf: float | None = None) -> dict[str, float]:
    """Per-query floor-min across all prior noop-forced bench runs
    (BENCH_HISTORY.jsonl) — tagged floors and driver runs alike. The
    min across sessions is the established plan-cost estimator (the
    same rule the A/B pass applies within a session). ``sf`` filters
    to the same scale factor: a smoke run at sf0.001 must never set
    the floor an sf0.1 line is judged against."""
    floors: dict[str, float] = {}
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_HISTORY.jsonl"
    )
    try:
        with open(path) as fh:
            for line in fh:
                try:
                    rec = json.loads(line)
                except Exception:
                    continue
                if rec.get("forcing") != "noop_sink":
                    continue  # count-forced pre-r10 rows are not comparable
                if sf is not None and rec.get("sf") != sf:
                    continue
                for name, sec in (rec.get("queries") or {}).items():
                    if isinstance(sec, (int, float)) and sec >= 0:
                        if name not in floors or sec < floors[name]:
                            floors[name] = float(sec)
    except FileNotFoundError:
        pass
    return floors


def select_warm_candidates(
    timings: dict[str, float],
    floors: dict[str, float],
    already_warm: set,
    max_n: int = 10,
) -> list[str]:
    """Names whose recorded line likely measures session state rather
    than plan cost: ≥ 2 s absolute (smaller lines can't move the
    headline) AND above 1.5× / +1 s over their cross-round floor (or
    > 3 s with no floor at all — new entries). Capped at the max_n
    worst excesses; names already min-of-n'd in a fresh session
    (the post-restart graph A/B block) are skipped."""
    floored = []
    floorless = []
    for name, t in timings.items():
        if t < 2.0 or name in already_warm:
            continue
        fl = floors.get(name)
        if fl is None:
            if t > 3.0:
                floorless.append((t, name))
        elif t > max(1.5 * fl, fl + 1.0):
            floored.append((t - fl, name))
    # floored entries rank by EXCESS and take the slots first: an aged
    # line with 7 s of reclaimable aging must not be evicted by a new
    # floorless entry whose absolute time merely looks big (it may be
    # an honestly-expensive query; it still gets remaining slots so its
    # first warm floor exists for next round)
    floored.sort(reverse=True)
    floorless.sort(reverse=True)
    picks = [n for _, n in floored[:max_n]]
    picks += [n for _, n in floorless[: max(0, max_n - len(picks))]]
    return picks


#: the driver keeps exactly the LAST N chars of bench stdout (measured:
#: every BENCH_r*.json "tail" is len 2000)
TAIL_WINDOW = 2000


def restart_jvm_session(old, app_name: str, master: str, shuffle_partitions=None):
    """Tear the current SparkSession AND its JVM down, return a fresh
    one. A long session accumulates JVM-side state (listener/status
    stores, shuffle/broadcast cleanup backlog, old-gen garbage, JIT/
    codegen caches) that the per-query block sweep cannot reach and
    that slows later heavy queries 3-7x (measured: LPA 35.5 s solo vs
    67-176 s at a session tail; PageRank 18.7 s vs 63 s; r13:
    nb_trained@10x 13.2 s fresh vs 31.5-88 s after unrelated ops —
    including after a same-JVM context restart, which keeps the aged
    heap). ``spark.stop()`` alone reuses the JVM; this also shuts the
    py4j gateway down and KILLS the spark-submit process (it lingers
    as a zombie 48g-heap JVM otherwise — the r5/r6 graph variance
    source), then boots a clean JVM. Entry-layer memos are invalidated
    (they hold old-context frames).

    Shared by the bench's block restarts and scale_probe's per-row
    restarts — one definition of "fresh environment"."""
    try:
        import __spark_entry__ as entry

        entry.reset_caches()
    except Exception:
        pass
    try:
        old.stop()
    except Exception as e:
        print(f"bench session restart warning: {e}", file=sys.stderr, flush=True)
    try:
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        proc = None
        if SparkContext._gateway is not None:
            # gateway.proc is the spark-submit JVM's Popen handle;
            # shutdown() only closes the py4j sockets — the JVM itself
            # LINGERS until the python process exits. Kill it and wait
            # for the OS to reap it so the next measurements own the box.
            proc = getattr(SparkContext._gateway, "proc", None)
            SparkContext._gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        SparkSession._instantiatedSession = None
        SparkSession._activeSession = None
        if proc is not None:
            try:
                proc.terminate()
                proc.wait(timeout=10)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
    except Exception as e:
        print(f"bench gateway shutdown warning: {e}", file=sys.stderr, flush=True)
    return get_spark(
        app_name=app_name, master=master, shuffle_partitions=shuffle_partitions
    )


def family_totals(entry_mod, timings: dict[str, float]) -> dict[str, float]:
    """Per memo-family total seconds (VERDICT r13 ask #5): queries
    sharing any memo cache form a family (``_memo_families`` in
    ``__spark_entry__.py`` — the grouping the rotation planner uses too),
    and since r13's colocation the
    line a family's one-time build lands on is schedule-dependent, so
    round-over-round adjudication must compare FAMILY totals, not member
    lines. Family key = alphabetically-first member (stable while
    membership is); only families with ≥2 timed members are reported."""
    try:
        mm = entry_mod._memo_map()
    except Exception:
        return {}
    from __spark_entry__ import _memo_families

    out: dict[str, float] = {}
    for names in _memo_families(mm):
        timed = [n for n in names if timings.get(n, -1) >= 0]
        if len(timed) < 2:
            continue
        out["fam:" + min(timed)] = round(sum(timings[n] for n in timed), 3)
    return dict(sorted(out.items()))


def build_output_lines(
    timings: dict[str, float],
    variance: dict,
    sf: float,
    pq_md5: str | None,
    pq_fit: dict | None = None,
    aged: dict | None = None,
    warm_floor: dict | None = None,
    aging: dict | None = None,
    families: dict | None = None,
) -> tuple[str, list[str], str, str, str]:
    """Serialize the bench output lines. Returns (result, qt_lines,
    variance_line, qta, compact) — printed in that order, so the
    driver's bounded stdout tail (last ``TAIL_WINDOW`` chars) always
    carries the final three lines whole:

    - ``variance``: A/B n/min/max spreads for the watch-list queries.
    - ``qta``: ALL per-query timings POSITIONALLY (VERDICT r7 ask #2 —
      132 names alone are ~2.6 KB, more than the whole tail). Keys are
      not carried: values align with ``sorted(timings)`` alphabetically,
      which any parser reconstructs from ``queries()``; ``n``
      cross-checks the count, -1 marks a failed query, seconds are
      2-decimal.
    - ``compact``: the headline total plus a byte-budgeted slowest-first
      NAMED map (readability; qta is the coverage) sized so the three
      lines together fit the window.

    The r5 driver recorded parsed:null because the then-single result
    line outgrew the tail and lost its head — hence last-line-parseable
    as the invariant, with full detail in ``result`` (line 1),
    bench_result.json, and BENCH_HISTORY.jsonl.
    """
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    # n_queries records the denominator: the timed set grew 26 → 45 in
    # round 3 (all entry queries), so cross-round TOTALS are only
    # comparable per-query or normalized by this count.
    n_ok = len([t for t in timings.values() if t >= 0])
    result = json.dumps(
        {
            "metric": "total_bench_seconds",
            "value": total,
            "unit": "sec",
            "n_queries": n_ok,
            "queries": timings,
            "variance": variance,
            "pq_md5": pq_md5,
            # per-sf {expected, got, refits, diverged} — present only
            # when a PQ fit happened this run (ADVICE r8 #4)
            "pq_fit": pq_fit,
            # run provenance (VERDICT r8 ask #2): "floor" marks the
            # per-round solo idle-box run, so cross-round comparisons
            # can separate plan cost from box state in one read; the
            # driver's own runs carry no tag
            "tag": os.environ.get("SPARK_GRAFT_TAG"),
            # forcing-mode provenance (ADVICE r10 #4): rows up to r9
            # were forced by .count() (Catalyst could prune columns /
            # eliminate cardinality-preserving joins — systematically
            # LOW for projection-heavy queries); r10+ rows pay the full
            # plan via the noop sink. Cross-round deltas are
            # like-for-like ONLY within the same forcing value; history
            # lines without the key are count-forced (pre-r10).
            "forcing": "noop_sink",
            # Aging-proofing provenance (VERDICT r11 ask #1, r12+):
            # "aged" holds the ORIGINAL main-loop time for every query
            # the warm-floor pass re-measured; "warm_floor" its fresh-
            # session min-of-2; the official queries[...] figure is the
            # min of the two — so round-over-round per-query comparison
            # reads plan cost directly. "aging" records the block-
            # restart controls this run ran under.
            "aged": aged or None,
            "warm_floor": warm_floor or None,
            # Self-describing adjudication (VERDICT r12 ask #6): for
            # every re-measured query, the official figure and WHICH
            # side won — "warm" (fresh-session floor beat the aged
            # line: reclaimed aging) or "aged" (the warm run paid a
            # memo/index rebuild the aged slot never did; its higher
            # number is a rebuild cost, NOT a regression). A reader
            # scanning warm_floor alone no longer has to infer this.
            "official": (
                {
                    k: {
                        "value": timings[k],
                        "source": (
                            "warm"
                            if warm_floor.get(k, float("inf")) <= aged[k]
                            else "aged"
                        ),
                    }
                    for k in aged
                }
                if aged
                else None
            ),
            "aging": aging,
            # Memo-family totals (VERDICT r13 ask #5): per-query lines
            # inside a family are schedule-dependent (whichever member
            # runs first after a restart pays the shared build), so
            # cross-round comparison for family members reads THESE
            # lines; a reorder no-op moves member lines but not these.
            "families": families or None,
            "sf": sf,
        }
    )

    alpha = sorted(timings)
    # "k8" fingerprints the name list (first 8 hex of md5 over the
    # comma-joined sorted names): a count-preserving registry change
    # between bench run and tail parse would otherwise silently
    # misattribute every value (code-review r8)
    import hashlib

    names_fp = hashlib.md5(",".join(alpha).encode()).hexdigest()[:8]
    qta = json.dumps(
        {
            "qta": {
                "o": "alpha",
                "n": len(alpha),
                "k8": names_fp,
                "v": [round(timings[k], 2) for k in alpha],
            }
        },
        separators=(",", ":"),
    )
    variance_line = json.dumps({"variance": variance}, separators=(",", ":"))

    budgeted: dict = {}
    base = {
        "metric": "total_bench_seconds",
        "value": total,
        "unit": "sec",
        "n_queries": n_ok,
        "queries": budgeted,
        "queries_omitted": n_ok,
        "pq_md5": pq_md5,
        "sf": sf,
    }
    tail_budget = TAIL_WINDOW - len(qta) - len(variance_line) - 60
    if tail_budget < 300:
        # variance + qta alone are crowding the window: the last lines
        # (qta, compact) still survive a tail capture, but variance may
        # clip — surface it instead of silently regressing (r5 lesson)
        print(
            f"bench tail-budget warning: qta={len(qta)}B + "
            f"variance={len(variance_line)}B leave {tail_budget}B for the "
            f"compact line (window {TAIL_WINDOW}B) — shrink the A/B list "
            "or tighten the qta encoding",
            file=sys.stderr,
            flush=True,
        )
        tail_budget = 300
    for k in sorted(timings, key=lambda k: -timings[k]):
        if timings[k] < 0:
            # failed queries (-1) sort last but could still be admitted,
            # corrupting the named map and the omitted count (ADVICE r8)
            continue
        trial = dict(budgeted)
        trial[k] = round(timings[k], 2)
        base["queries"] = trial
        base["queries_omitted"] = n_ok - len(trial)
        if len(json.dumps(base, separators=(",", ":"))) > tail_budget:
            base["queries"] = budgeted
            base["queries_omitted"] = n_ok - len(budgeted)
            break
        budgeted = trial
    compact = json.dumps(base, separators=(",", ":"))

    # Named per-query chunk lines for humans / wide capture windows
    # (slowest-first; the bounded tail may clip any of these — coverage
    # there comes from the qta line and BENCH_HISTORY.jsonl).
    ordered = sorted(
        (k for k in timings if timings[k] >= 0), key=lambda k: -timings[k]
    )
    qt_lines = [
        json.dumps(
            {"qt": {k: round(timings[k], 2) for k in ordered[i : i + 12]}},
            separators=(",", ":"),
        )
        for i in range(0, len(ordered), 12)
    ]
    return result, qt_lines, variance_line, qta, compact


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark(
        app_name="graph-loom-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus) if cpus.isdigit() else None,
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    qs = entry.queries()
    bench_queries = bench_query_names(qs)

    # Untimed warm-up: first-query timings otherwise absorb one-time JVM
    # JIT/codegen and parquet-reader initialization (~4s of the ~7s
    # first-query cost at sf0.1), which is session overhead, not query
    # cost. A tiny aggregate + one small parquet scan warms both paths.
    spark.range(100_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    # Python-worker pool startup (~2s) otherwise lands on the first
    # pandas-UDF query (emb_ann_lsh) — session overhead, not query cost.
    try:
        import pandas as pd
        from pyspark.sql import functions as F

        def _warm(v):
            return v

        _warm.__annotations__ = {"v": pd.Series, "return": pd.Series}
        spark.range(1000).select(F.pandas_udf(_warm, "long")("id")).count()
    except Exception as e:
        print(f"bench pandas warm-up warning: {e}", file=sys.stderr, flush=True)
    # JIT warm-up of the hash/agg/join operator chain on TINY synthetic
    # docs (200 rows, ~2k shingles — no real data touched): the first
    # md5-mode minhash query otherwise absorbs ~3.5 s of JVM JIT for the
    # md5/conv codepaths, the 32-wide min hash-aggregate, and the
    # band-join machinery (measured at sf0.1: docs_minhash_pairs 6.5 s
    # cold vs 3.0 s after this probe vs 3.8 s steady-state) — session
    # overhead, not query cost, exactly like the pandas-pool and parquet
    # warm-ups above.
    try:
        from pyspark.sql import functions as F

        from graph_loom_spark.ops import dedup as _dedup

        _docs = spark.range(200).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.array(*[F.md5((F.col("id") * 31 + i).cast("string")) for i in range(12)]),
            ).alias("text"),
        )
        _dedup.minhash_lsh_pairs(
            _dedup.minhash_signatures_md5(_docs), threshold=0.3, band_hash="md5"
        ).count()
    except Exception as e:
        print(f"bench minhash warm-up warning: {e}", file=sys.stderr, flush=True)
    # Per-session index build: the graph projection materializes the
    # lineitem disambiguation table once per session (io/tpch_graph.py);
    # building it here amortizes it as session setup — every Cypher
    # bench query then measures query latency, not index construction.
    try:
        from graph_loom_spark.io.tpch_graph import build_graph

        build_graph(spark, sf_dir, cache=False).edges.count()
    except Exception as e:
        print(f"bench projection warm-up warning: {e}", file=sys.stderr, flush=True)
    _warm_iterative(spark)
    _drop_persisted_blocks(spark)

    def _fresh_session(old):
        """Restart into a brand-new JVM before the heavy iterative
        graph group — see restart_jvm_session for the mechanism and the
        measured LPA/PageRank aging numbers it reclaims."""
        fresh = restart_jvm_session(
            old,
            app_name="graph-loom-bench-graph",
            master=f"local[{cpus}]",
            shuffle_partitions=int(cpus) if cpus.isdigit() else None,
        )
        fresh.sparkContext.setLogLevel("ERROR")
        # Warm the new JVM the same way the session start does: JIT/
        # codegen, the parquet reader, AND the per-session graph
        # projection index — otherwise the first timed graph query
        # absorbs ~5-25 s of cold-start (r5: graph_degrees 0.24 → 1.8 s,
        # graph_components 16.2 → 41.6 s with an unchanged algorithm).
        fresh.range(100_000).selectExpr("sum(id)").collect()
        try:
            fresh.read.parquet(f"{sf_dir}/region.parquet").count()
            from graph_loom_spark.io.tpch_graph import build_graph

            build_graph(fresh, sf_dir, cache=False).edges.count()
        except Exception as e:
            print(f"bench graph warm-up warning: {e}", file=sys.stderr, flush=True)
        _warm_iterative(fresh)
        return fresh

    # A/B watch list, resolved up front: the MAIN-LOOP timing of a
    # tracked query must also measure its full computation, so its memo
    # is reset before the timed slot (an earlier memo-group sibling may
    # have pre-built the shared frame — r8: emb_dup_components warmed
    # the near-dup pairs and emb_near_dup's slot recorded a 0.1 s cache
    # hit, which would poison the cross-round min).
    ab_watch = set(
        os.environ.get("SPARK_GRAFT_AB", _AB_DEFAULT).split(",")
    )

    timings: dict[str, float] = {}
    restarts = set(_RESTART_BEFORE)
    since_restart = 0
    n_block_restarts = 0
    touched_cache_ids: set = set()
    for i, name in enumerate(bench_queries):
        fn = qs.get(name)
        if fn is None:
            continue
        # Block restart (VERDICT r11 ask #1): bound session aging by
        # giving every ~_BLOCK queries a brand-new JVM — but never
        # split a memo group (the build cost would silently move from
        # the producer's line to a consumer's, the r7/r11 attribution
        # lesson). r13-opt: the boundary test is now session-level
        # (ADVICE r12 #4) — defer the restart while the NEXT query
        # consumes any memo cache built since the last restart, so a
        # group's window-head producer and its tail consumers always
        # share one session; a _BLOCK_SLACK cap bounds the deferral.
        if since_restart >= _BLOCK and name not in restarts and i > 0:
            deferred = _shares_touched_memo(entry, name, touched_cache_ids)
            if deferred and since_restart >= _BLOCK + _BLOCK_SLACK:
                print(
                    f"bench block restart FORCED before {name}: memo "
                    f"family exceeded the {_BLOCK_SLACK}-entry deferral "
                    "slack — its tail consumers will pay a rebuild",
                    file=sys.stderr,
                    flush=True,
                )
                deferred = False
            if not deferred:
                print(
                    f"bench block restart before {name} "
                    f"({since_restart} queries in session)",
                    file=sys.stderr,
                    flush=True,
                )
                spark = _fresh_session(spark)
                since_restart = 0
                touched_cache_ids = set()
                n_block_restarts += 1
        if name in restarts:
            spark = _fresh_session(spark)
            restarts.discard(name)
            since_restart = 0
            touched_cache_ids = set()
        since_restart += 1
        try:
            touched_cache_ids.update(
                id(c) for c in entry._memo_map().get(name, [])
            )
        except Exception:
            pass
        if name in ab_watch:
            # reset ONLY when an earlier memo-group sibling pre-warmed
            # the shared frame (the timed slot would record a cache
            # hit); a cold producer's honest first build is left alone —
            # blanket resets double-counted each watched group's build
            # in the session total (code-review r8)
            try:
                if entry.memo_warm(name, sf_dir):
                    entry.reset_memo(name)
            except Exception:
                pass
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            # noop sink, NOT count(): count() lets Catalyst prune every
            # column and eliminate cardinality-preserving left joins —
            # measured r10: docs_novelty 1.1 s by count vs 4.3 s honest,
            # docs_dup_spans 0.07 vs 2.15 s (the gram work vanished from
            # the timing). The noop sink materializes ALL columns with
            # no driver transfer — the canonical benchmark forcing.
            df.write.format("noop").mode("overwrite").save()
            timings[name] = round(time.time() - t0, 3)
            print(f"bench {name}: {timings[name]}s", file=sys.stderr, flush=True)
        except Exception as e:  # record failures without killing the bench
            print(f"bench query {name} failed: {e}", file=sys.stderr, flush=True)
            timings[name] = -1.0
        if i < len(bench_queries) - 1:  # skip last pass: System.gc() right
            _drop_persisted_blocks(spark)  # before teardown caused r1 noise

    # Same-session A/B pass: this host's totals vary 2-4x on noise, so a
    # single number can't distinguish a plan regression from a bad run.
    # Re-run the variance-watch queries back-to-back and report n/min/max
    # per query — the MIN is the comparable number across rounds; a query
    # is only structurally slower if its min moved.
    variance: dict[str, dict] = {}
    ab_names = [
        n
        for n in os.environ.get("SPARK_GRAFT_AB", _AB_DEFAULT).split(",")
        if n in timings and timings.get(n, -1) >= 0
    ]
    # Run the cheap A/B queries first in the existing (aged) session,
    # then restart the JVM once before the heavy iterative graph
    # queries' reruns. Root cause of the r6 LPA spread (min 18.9 / max
    # 63.7 s): the main-loop run gets a fresh JVM (_RESTART_BEFORE) but
    # the A/B pass runs AFTER all 120 queries, so its reruns measured a
    # fully-aged session — environment class, not plan cost (measured
    # this round: LPA 17.3 s cleaned/warm vs 58.4 s rerun in an aged
    # uncleaned session; per-round profile shows rounds 0-2 pay 3.6-7.6 s
    # of JIT vs ~1 s steady-state). Restarting aligns every rerun with
    # the environment the main-loop slot measured, so min/max now spread
    # genuine noise, not aging.
    ab_names.sort(key=lambda n: n in _BENCH_LAST)
    restarted_for_ab = False
    for name in ab_names:
        if name in _BENCH_LAST and not restarted_for_ab:
            spark = _fresh_session(spark)
            restarted_for_ab = True
        runs = [timings[name]]
        # bound the A/B wall cost: two reruns (n=3) up to a 120 s first
        # run. n=2 proved too few for the iterative graph queries —
        # their same-session spread is ±60% (GC/broadcast churn; r6
        # idle-box evidence: LPA 18.0/24.9/29.8 s back-to-back, and the
        # r6 driver bench recorded LPA min 39.8 from an unlucky pair
        # while three solo runs floored at 18 s), so min-of-3 is the
        # cheapest estimate that reliably tracks plan cost. The old
        # >60 s single-rerun rule backfired exactly when it mattered:
        # a bad-GC 73 s first LPA draw got one rerun and recorded
        # min-of-2 = 40 s for a query whose floor is ~16 s.
        for _ in range(1 if timings[name] > 120 else 2):
            _drop_persisted_blocks(spark)
            try:  # a memoized rerun would time a cache hit, not the query
                entry.reset_memo(name)
            except Exception:
                pass
            t0 = time.time()
            try:  # noop sink for the same column-pruning reason as above
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                runs.append(round(time.time() - t0, 3))
            except Exception as e:
                print(f"bench A/B rerun {name} failed: {e}", file=sys.stderr, flush=True)
                break
        variance[name] = {"n": len(runs), "min": min(runs), "max": max(runs)}
        print(f"bench A/B {name}: {variance[name]}", file=sys.stderr, flush=True)
        # For A/B-tracked queries the RECORDED number is the min of the
        # n same-session runs: the first run of a 30 s iterative query
        # lands anywhere in a 2× band (GC/JIT/block-churn noise — r6:
        # graph_lpa first-run 51.6 s vs min 22.7 s with identical code),
        # so min-of-n is the estimate that tracks plan cost rather than
        # session state. The full spread stays in the variance dict.
        timings[name] = min(runs)

    # Warm-floor pass (VERDICT r11 ask #1): any line still far above
    # its cross-round floor after the block restarts is re-measured on
    # ONE fresh session, min-of-2 — the automated version of the
    # manual solo adjudications r10/r11 recorded as prose in SCALE.md.
    # The artifact keeps the aged number alongside; the official
    # per-query figure becomes min(aged, warm) so BENCH_rN.json
    # round-over-round comparison reads plan cost, not session state.
    floors = _history_floors(sf=sf)
    already_warm = {n for n in variance if n in _BENCH_LAST}
    warm_candidates = select_warm_candidates(timings, floors, already_warm)
    aged: dict[str, float] = {}
    warm_floor: dict[str, float] = {}
    if warm_candidates:
        print(
            f"bench warm-floor pass: {warm_candidates}",
            file=sys.stderr,
            flush=True,
        )
        spark = _fresh_session(spark)
        # Memo policy: each measured entry resets its OWN memos before
        # each run (the r8 full-computation rule — a memoized rerun
        # would time a cache hit), and an entry whose memo group was
        # ALREADY rebuilt by an earlier flagged entry this pass is
        # SKIPPED outright: re-measuring it would either time a cache
        # hit (0.015 s shipping as the official line — the ngram_
        # jaccard poison caught live in floor 5) or, reset, time the
        # group build its aged slot never paid. Its aged number stands.
        flagged = set(warm_candidates)
        done_cache_ids: set = set()
        for name in [n for n in bench_queries if n in flagged]:
            try:
                own_caches = list(entry._memo_map().get(name, []))
            except Exception:
                own_caches = []
            if any(id(c) in done_cache_ids for c in own_caches):
                print(
                    f"bench warm-floor {name}: skipped (memo group "
                    "already rebuilt this pass — aged number stands)",
                    file=sys.stderr,
                    flush=True,
                )
                continue
            runs = []
            for _ in range(2):
                _drop_persisted_blocks(spark)
                try:  # a memoized rerun would time a cache hit (r8 rule)
                    for cache in own_caches:
                        cache.clear()
                except Exception:
                    pass
                t0 = time.time()
                try:
                    qs[name](spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    runs.append(round(time.time() - t0, 3))
                except Exception as e:
                    print(
                        f"bench warm-floor {name} failed: {e}",
                        file=sys.stderr,
                        flush=True,
                    )
                    break
            # ADVICE r12: only mark the memo group rebuilt if at least
            # one re-measure run actually completed — a failed rebuild
            # must not cost later group-mates their re-measure slot.
            if not runs:
                continue
            done_cache_ids.update(id(c) for c in own_caches)
            aged[name] = timings[name]
            warm_floor[name] = min(runs)
            timings[name] = min(timings[name], warm_floor[name])
            print(
                f"bench warm-floor {name}: aged={aged[name]} "
                f"warm={warm_floor[name]}",
                file=sys.stderr,
                flush=True,
            )

    # PQ codebook digest as fitted in THIS driver-visible run (VERDICT
    # r7 ask #6): survives in BENCH_HISTORY.jsonl for comparison against
    # the pinned per-sf constants even when stderr rotates out.
    try:
        from graph_loom_spark.ops import simsearch as _sim

        pq_md5 = _sim.LAST_PQ_MD5
    except Exception:
        pq_md5 = None
    # Structured fit-divergence surfacing (ADVICE r8 #4): a refit that
    # STILL diverges from the pinned digest must reach bench_result.json
    # and BENCH_HISTORY.jsonl, not just stderr.
    try:
        import __spark_entry__ as entry

        pq_fit = {k: v for k, v in entry._PQ_FIT_STATUS.items() if v}
        pq_fit = pq_fit or None
    except Exception:
        pq_fit = None

    families = family_totals(entry, timings)
    result, qt_lines, variance_line, qta, compact = build_output_lines(
        timings,
        variance,
        sf,
        pq_md5,
        pq_fit,
        aged=aged,
        warm_floor=warm_floor,
        aging={"block": _BLOCK, "block_restarts": n_block_restarts},
        families=families,
    )
    fam_line = json.dumps({"families": families}, separators=(",", ":"))
    # File fallback first: even if shutdown noise clobbers stdout, the
    # driver can recover the result from bench_result.json.
    try:
        out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_result.json")
        with open(out_path, "w") as f:
            f.write(result + "\n")
    except Exception as e:
        print(f"bench result-file write warning: {e}", file=sys.stderr, flush=True)

    # Append-only full-detail history: one line per bench run, so
    # cross-round per-query comparison never depends on the stdout tail
    # (the repo snapshot commits this file every round).
    try:
        hist_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_HISTORY.jsonl"
        )
        with open(hist_path, "a") as f:
            f.write(result + "\n")
    except Exception as e:
        print(f"bench history write warning: {e}", file=sys.stderr, flush=True)

    # Stop Spark BEFORE emitting the JSON line: a shutdown-time
    # RejectedExecutionException trace (async ContextCleaner work racing
    # interpreter teardown) clobbered the JSON in round 1 (BENCH_r01
    # parsed:null). Stopping first drains those threads; any stop-time
    # noise lands on stderr before our stdout line.
    try:
        spark.stop()
    except Exception as e:
        print(f"bench spark.stop warning: {e}", file=sys.stderr, flush=True)

    # Full detail first (humans / wide capture windows), then the qt
    # chunk lines, then the three tail-sized lines the 2000-char window
    # must carry whole: variance, the positional qta (ALL timings), and
    # the compact summary LAST so a bounded tail capture always ends on
    # a complete parseable line.
    print(result, flush=True)
    for line in qt_lines:
        print(line, flush=True)
    # family totals as their own line for wide captures (full detail is
    # in the result line / bench_result.json / BENCH_HISTORY.jsonl);
    # printed BEFORE the tail-budgeted trio so those still end the tail
    print(fam_line, flush=True)
    print(variance_line, flush=True)
    print(qta, flush=True)
    print(compact, flush=True)


if __name__ == "__main__":
    main()
