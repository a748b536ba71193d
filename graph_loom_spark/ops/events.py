"""Event-stream operators over the `events` table (batch forms; the
streaming module exposes the readStream equivalents).

Time bucketing uses ``F.window`` (tumbling) whose bucket start equals
``date_trunc('hour', ts)`` for aligned widths — that equivalence is what
the DuckDB oracle checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graph_loom_spark.graph import keep, local_frame


def load_events(spark: SparkSession, path: str) -> DataFrame:
    """Read the events table, normalizing ``ts`` to a session-TZ
    TIMESTAMP whatever the writer used:

    - TIMESTAMP(NANOS) (vanilla Spark rejects it): read as long via the
      legacy conf, truncated to micros with integer division (never
      float — epoch nanos exceed double's 2^53 integer range);
    - TIMESTAMP_NTZ (micros, isAdjustedToUTC=false): cast to TIMESTAMP —
      under the engine's fixed UTC session zone this keeps the wall
      clock bit-identical to what the DuckDB oracle reads;
    - TIMESTAMP: as-is.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif dt == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def hourly_agg(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour window per event_type: count + exact value sum."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionize(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Gap-based sessionization: lag + cumulative-sum session ids, then
    per-user session count. The classic batch pattern; streaming uses
    ``session_window`` instead."""
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    return (
        events.withColumn("__new", is_new)
        .groupBy("user_id")
        .agg(F.sum("__new").cast("bigint").alias("n_sessions"))
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    ts_col: str = "ts",
    right_cols: list[str] | None = None,
) -> DataFrame:
    """As-of join: for each left row, attach the most recent right row
    with ``right.ts <= left.ts`` sharing the key (left join — no match →
    nulls). Output: all left columns + ``__asof_<ts_col>`` + the
    requested right columns.

    Spark has no native as-of join; the scalable form is union-tag +
    one window: tag right rows 0 and left rows 1, sort per key by
    (ts, tag) — so a right row at the exact left timestamp is visible —
    and carry the last non-null right payload forward. ONE shuffle on
    the key and a within-partition sort, vs. the naive
    range-theta-join which explodes to per-key cross products. Skewed
    hot keys are AQE's problem, as with any keyed window.

    Ties: among right rows with identical (key, ts) the carried row is
    sort-order-arbitrary — pre-dedupe the right side per (key, ts) for
    engine-independent determinism.
    """
    right_cols = right_cols or [
        c for c in right.columns if c not in set(on) | {ts_col}
    ]
    payload = F.struct(
        F.col(ts_col).alias("__asof_ts"), *[F.col(c) for c in right_cols]
    )
    r = right.select(
        *on, F.col(ts_col), F.lit(0).alias("__side"), payload.alias("__pl")
    )
    l = left.withColumn("__side", F.lit(1)).withColumn(
        "__pl", F.lit(None).cast(r.schema["__pl"].dataType)
    )
    u = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col(ts_col).asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = F.last("__pl", ignorenulls=True).over(w)
    out_cols = [F.col(c) for c in left.columns]
    out_cols.append(F.col("__m.__asof_ts").alias(f"__asof_{ts_col}"))
    out_cols.extend(F.col(f"__m.{c}").alias(c) for c in right_cols)
    return (
        u.withColumn("__m", matched)
        .filter(F.col("__side") == 1)
        .select(*out_cols)
    )


def purchases_with_last_click(events: DataFrame) -> DataFrame:
    """As-of query: each purchase joined to the user's most recent click
    at-or-before it. Right side deduped per (user_id, ts) keeping the
    max event_id so the match is engine-deterministic."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    j = asof_join(purchases, clicks, on=["user_id"], ts_col="ts", right_cols=["click_id"])
    return j.select(
        "purchase_id",
        "user_id",
        F.col("ts").cast("string").alias("purchase_ts"),
        "click_id",
        F.col("__asof_ts").cast("string").alias("click_ts"),
    )


def attribution_summary(
    events: DataFrame,
    conversion_type: str = "purchase",
    touch_type: str = "click",
) -> DataFrame:
    """Last-touch attribution scoreboard — the conversion-analytics
    rollup over the as-of join: every ``conversion_type`` event matched
    to the same user's most recent ``touch_type`` at-or-before it
    (:func:`asof_join`; equal-ts touches deduped to max event_id), then
    ONE summary row: conversions, how many were attributed, the
    attribution rate, the exact total touch→conversion lag, and the
    attributed conversion value.

    Exactness at any scale: the lag is summed in int64 MICROSECONDS
    (``unix_micros`` both sides — no float time math), and value in
    int64 cents (``floor(value·100 + 0.5)``), so both sums are
    order-independent and an ANSI-SQL oracle (DuckDB native ASOF JOIN +
    ``epoch_us``) replays the whole scoreboard exactly; the rate and
    the average lag are integer-ratio doubles rounded to 6.

    Shape: the as-of is ONE keyed shuffle (union-tag + carry-forward
    window — see :func:`asof_join`), the rollup a 1-row aggregate.
    """
    touches = (
        events.filter(F.col("event_type") == touch_type)
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("touch_id"))
    )
    conv = events.filter(F.col("event_type") == conversion_type).select(
        F.col("event_id").alias("conv_id"),
        "user_id",
        "ts",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("__cents"),
    )
    j = asof_join(conv, touches, on=["user_id"], ts_col="ts", right_cols=["touch_id"])
    hit = F.col("touch_id").isNotNull()
    lag_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("__asof_ts"))
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_conversions"),
        F.sum(hit.cast("int")).cast("bigint").alias("n_attributed"),
        F.round(F.sum(hit.cast("int")) / F.count(F.lit(1)), 6).alias(
            "attribution_rate"
        ),
        F.coalesce(F.sum(F.when(hit, lag_us)), F.lit(0)).cast("bigint").alias(
            "sum_lag_us"
        ),
        F.coalesce(F.sum(F.when(hit, F.col("__cents"))), F.lit(0))
        .cast("bigint")
        .alias("attributed_value_cents"),
    )


def markov_entropy(events: DataFrame) -> DataFrame:
    """Per-state entropy of the event-type transition matrix — "how
    predictable is user behavior from each state?" (low row entropy =
    funnel-like flows; the corpus entropy RATE is the share-weighted
    sum of the contributions). The information-theoretic rollup of
    :func:`event_transitions` (X125): same (ts, event_id)-ordered next
    step, entropies via the same sum-form identity as
    ``source_entropy`` (``H = ln(tot) − (Σ n·ln n)/tot``). Returns
    ``(from_type, n_steps, n_targets, row_entropy, step_share,
    contribution)`` — counts exact int64, doubles rounded 6; the
    entropy rate is Σ contribution downstream.

    Scale shape: one user-partitioned lead window (the sessionize
    shuffle) → one partial-agg groupBy on the (from, to) pair →
    per-state aggregates over the |types|²-row matrix — everything
    after the first groupBy is aggregate-sized; the 1-row total joins
    back broadcast.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = events.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    pairs = steps.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("__n")
    )
    row = pairs.groupBy("from_type").agg(
        F.sum("__n").cast("bigint").alias("n_steps"),
        F.count(F.lit(1)).cast("bigint").alias("n_targets"),
        F.sum(F.col("__n").cast("double") * F.log(F.col("__n").cast("double"))).alias(
            "__snln"
        ),
    )
    total = row.agg(F.sum("n_steps").cast("bigint").alias("__tot"))
    nd = F.col("n_steps").cast("double")
    h = F.log(nd) - F.col("__snln") / nd
    share = nd / F.col("__tot").cast("double")
    return (
        row.crossJoin(F.broadcast(total))
        .select(
            "from_type",
            "n_steps",
            "n_targets",
            F.round(h, 6).alias("row_entropy"),
            F.round(share, 6).alias("step_share"),
            F.round(share * h, 6).alias("contribution"),
        )
    )


def gini_user_activity(
    events: DataFrame,
    user_col: str = "user_id",
) -> DataFrame:
    """Gini coefficient of per-user event counts — the one-number
    concentration report behind "is this product carried by whales?"
    and, for training-data curation, "is this interaction corpus
    dominated by a few generators?" (0 = perfectly even, → 1 = one
    user produced everything). Returns a single row ``(n_users,
    total_events, gini)``.

    Exactness: with counts sorted ascending, ``G = 2·Σᵢ i·xᵢ /(n·Σx)
    − (n+1)/n``. The rank sum collapses onto the DISTINCT-count frame:
    a count value v with multiplicity m and c_prev strictly-smaller
    users contributes ``v·(m·c_prev + m(m+1)/2)`` — tie order can
    never matter, and everything stays integer (DECIMAL(38,0)
    accumulators — rank·count products pass int64 at 10⁹-user scale)
    until ONE rounded double expression.

    Scale shape: one partial-agg groupBy(user), one groupBy(count) to
    the distinct-value frame, c_prev via the X82 range-bucketed
    two-phase prefix sum (:func:`~graph_loom_spark.ops.text
    ._grouped_cprev` — no single-partition window at any scale), then
    a 1-row global aggregate.
    """
    from graph_loom_spark.ops.text import _grouped_cprev

    u = events.groupBy(F.col(user_col).alias("user_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    g = u.groupBy(F.col("__c").alias("weight_sum")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__n")
    )
    d38 = "decimal(38,0)"
    cp = _grouped_cprev(g)
    return (
        cp.select(
            F.col("__n"),
            F.col("weight_sum").alias("__v"),
            (
                F.col("weight_sum").cast(d38)
                * (
                    F.col("__n").cast(d38) * F.col("__cprev").cast(d38)
                    # m(m+1) is even → exact int64 first (div, not
                    # decimal /, whose result scale would drift)
                    + F.expr("(__n * (__n + 1)) div 2").cast(d38)
                )
            ).alias("__ranksum"),
        )
        .agg(
            F.sum("__n").cast("bigint").alias("n_users"),
            F.sum(F.col("__v").cast(d38) * F.col("__n").cast(d38))
            .cast("bigint")
            .alias("total_events"),
            F.sum("__ranksum").alias("__s"),
        )
        .select(
            "n_users",
            "total_events",
            F.round(
                F.lit(2.0) * F.col("__s").cast("double")
                / (F.col("n_users").cast("double") * F.col("total_events").cast("double"))
                - (F.col("n_users") + F.lit(1)).cast("double")
                / F.col("n_users").cast("double"),
                6,
            ).alias("gini"),
        )
    )


def user_burstiness(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Per-user inter-event burstiness (Goh & Barabási 2008): the
    coefficient-of-variation summary ``B = (σ−μ)/(σ+μ)`` of a user's
    inter-event gaps — B→−1 periodic, 0 Poisson, →1 bursty. The
    user-behavior twin of the corpus repetition signals: bursty
    "users" in a training-interaction stream are bot/scrape
    candidates. Returns ``(user_id, n_events, span_us, mean_gap_us,
    std_gap_us, burstiness)`` for EVERY user; the gap stats are NULL
    for single-event users and ``burstiness`` NULL when σ+μ = 0 (all
    gaps zero).

    Determinism: gaps come from the per-user ts-sorted sequence —
    equal timestamps make the consecutive-difference MULTISET
    invariant under tie order, so Σg (telescopes to max−min) and Σg²
    are engine-independent. Σg² accumulates in DECIMAL(38,0) (a
    year-long gap is ~3·10¹³ µs; its square passes int64). The µs gap
    stats are FLOORED integers (``span div gaps``, ``floor(sqrt
    (var))``) — ``round(x, 6)`` on a 10¹⁰-magnitude double is NOT
    engine-portable (Spark's BigDecimal HALF_UP and DuckDB's numeric
    rounding differ in the last ulp where 6 decimals aren't even
    representable), so only the O(1) burstiness ratio is rounded; it
    is computed from the UNfloored doubles (bit-identical IEEE
    division/sqrt on exact integer inputs both engines).

    Scale shape: one lag window PARTITIONED BY user (bounded by the
    busiest user, never corpus-sized) into one partial-agg
    groupBy(user) — no global sort, no driver state.
    """
    tu = events.select(
        F.col(user_col).alias("user_id"), F.unix_micros(F.col(ts_col)).alias("__tu")
    )
    w = Window.partitionBy("user_id").orderBy("__tu")
    d38 = "decimal(38,0)"
    gaps = tu.withColumn("__gap", F.col("__tu") - F.lag("__tu").over(w))
    agg = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (F.max("__tu") - F.min("__tu")).cast("bigint").alias("span_us"),
        F.sum(F.col("__gap").cast(d38) * F.col("__gap").cast(d38)).alias("__g2"),
    )
    # greatest(·, 1): ANSI mode raises DIVIDE_BY_ZERO even under a
    # CASE guard for singleton users (ng = 0); the n_events >= 2 mask
    # below discards the clamped values anyway
    ng = F.greatest((F.col("n_events") - F.lit(1)).cast("double"), F.lit(1.0))
    mean = F.col("span_us").cast("double") / ng
    var = F.col("__g2").cast("double") / ng - mean * mean
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    return agg.select(
        "user_id",
        "n_events",
        "span_us",
        F.when(
            F.col("n_events") >= 2,
            F.expr("span_us div greatest(n_events - 1, 1)"),
        ).cast("bigint").alias("mean_gap_us"),
        F.when(F.col("n_events") >= 2, F.floor(std)).cast("bigint").alias(
            "std_gap_us"
        ),
        F.when(
            (F.col("n_events") >= 2) & (std + mean > 0),
            F.round((std - mean) / (std + mean), 6),
        ).alias("burstiness"),
    )


def top_users_by_value(events: DataFrame, event_type: str = "purchase", k: int = 20) -> DataFrame:
    """Filtered top-k aggregation (orderBy+limit → TakeOrdered at scale)."""
    return (
        events.filter(F.col("event_type") == event_type)
        .groupBy("user_id")
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"))
        .orderBy(F.col("total_value").desc(), F.col("user_id"))
        .limit(k)
    )


def rfm_segments(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
    quantiles: int = 5,
) -> DataFrame:
    """RFM user segmentation — the classic recency/frequency/monetary
    quantile grid (Hughes 1994) behind cohort targeting and user-level
    data curation: per user,

    - ``recency_us``  = corpus-max ts − user's last ts (unix micros,
      no float time math);
    - ``frequency``   = event count;
    - ``monetary_cents`` = Σ floor(value·100 + 0.5) — int64 cents, the
      attribution-op convention, so the sum is exact;

    then each metric maps to a ``quantiles``-bucket code ``q = 1 +
    (c_prev·Q) div n`` where ``c_prev`` counts users with a STRICTLY
    smaller metric — equal values share a bucket (the honest rank-based
    quantile; no per-user tie-break needed, unlike NTILE whose
    remainder distribution also differs between engines). All-integer →
    a SQL oracle replays every code via ``rank() − 1``. Returns
    ``(user_id, recency_us, frequency, monetary_cents, r_q, f_q, m_q,
    rfm_code)`` with ``rfm_code = r_q·100 + f_q·10 + m_q`` (1 = most
    recent / fewest events / lowest spend — ascending metric order).

    Scale shape: one partial-agg ``groupBy(user)`` over the event
    stream, a broadcast 1-row corpus-max join, then ALL THREE metrics
    melt through one explode into a single grouped-by-(metric, value)
    count fed through the range-bucketed two-phase prefix sum (the X82
    construction as in :func:`~graph_loom_spark.ops.text._grouped_cprev`,
    multi-keyed) — c_prev for every distinct value WITHOUT a
    single-partition window, and without three serial rounds of driver
    jobs (one range aggregate, one ≤3·4096-row bucket collect) —
    joined back per metric value. No stage serializes the user frame
    through one task.

    NOTE (eager execution): unlike most ops here this one runs jobs at
    CALL time — an eager checkpoint + count of the per-user frame
    (every metric branch re-reads it) and two bounded collects (range
    row + ≤3·4096 bucket sums). The returned frame reads that
    checkpoint, so it is pinned like any op result
    (:func:`~graph_loom_spark.graph.keep`): the caller's open scope
    owns it and frees it on exit; with no scope open it is the
    caller's to free.
    """
    mx = events.agg(F.max(ts_col).alias("__mx"))
    u = (
        events.groupBy(F.col(user_col).alias("user_id"))
        .agg(
            F.unix_micros(F.max(ts_col)).alias("__last"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.sum(
                F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long")
            ).cast("bigint").alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            (F.unix_micros(F.col("__mx")) - F.col("__last")).alias("recency_us"),
            "frequency",
            "monetary_cents",
        )
    )
    # checkpoint BEFORE the metric stage: every branch below
    # re-reads the user frame, and without truncation the raw-event
    # aggregate (and its 1-row corpus-max join) re-plans once per branch
    # — measured 8 duplicated subtrees / 8 event scans for 3 metrics.
    # The frame is |users| rows; the count below materializes it anyway.
    u = keep(u)
    n = max(u.count(), 1)  # empty stream → no rows; avoid div-by-zero
    metrics = [("recency_us", "r_q"), ("frequency", "f_q"), ("monetary_cents", "m_q")]
    # All three c_prev frames in ONE melted pass (the X82 range-bucket
    # construction, multi-keyed): three per-metric _grouped_cprev calls
    # cost 2 serial driver jobs each (range agg + bucket-sum collect) —
    # measured ~6 s of pure job latency on a 100k-row table. Melting
    # (metric, value) through one explode keys everything by metric:
    # one range aggregate, one grouped count shuffle, one ≤3·4096-row
    # collect, one (metric, bucket)-partitioned window.
    rng = u.agg(
        *[f for m, _ in metrics for f in (F.min(m).alias(f"__lo_{m}"), F.max(m).alias(f"__hi_{m}"))]
    ).first()
    if rng[f"__lo_{metrics[0][0]}"] is None:  # empty stream → empty output
        out = u
        for _, code in metrics:
            out = out.withColumn(code, F.lit(0).cast("bigint"))
        return out.select(
            "user_id", "recency_us", "frequency", "monetary_cents",
            "r_q", "f_q", "m_q",
            F.lit(0).cast("bigint").alias("rfm_code"),
        )
    melted = u.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(m).alias("__k"), F.col(m).alias("__v"))
                    for m, _ in metrics
                ]
            )
        ).alias("__x")
    ).select("__x.*")
    g = melted.groupBy("__k", "__v").agg(F.count(F.lit(1)).alias("__n"))
    buckets = []
    for m, _ in metrics:
        lo, hi = int(rng[f"__lo_{m}"]), int(rng[f"__hi_{m}"])
        span = hi - lo + 1
        nb = min(4096, span)
        # integer div, not double /: (v−lo)·nb can pass 2^53 (see X82)
        buckets.append(f"WHEN __k = '{m}' THEN ((__v - {lo}L) * {nb}L) div {span}L")
    bexpr = F.expr("CASE " + " ".join(buckets) + " END")
    sums = g.groupBy("__k", bexpr.alias("__b")).agg(F.sum("__n").alias("__t")).collect()
    offsets, cum = [], {}
    for k, b, t in sorted((r["__k"], int(r["__b"]), int(r["__t"])) for r in sums):
        offsets.append((k, b, cum.get(k, 0)))
        cum[k] = cum.get(k, 0) + t
    off = F.broadcast(local_frame(u.sparkSession, offsets, "__k string, __b long, __off long"))
    w = Window.partitionBy("__k", "__b").orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cprev = (
        g.withColumn("__b", bexpr)
        .join(off, ["__k", "__b"])
        .withColumn("__cprev", F.sum("__n").over(w) - F.col("__n") + F.col("__off"))
        .select("__k", "__v", "__cprev")
    )
    out = u
    for m, code in metrics:
        cp = cprev.filter(F.col("__k") == m).select(
            F.col("__v").alias(m), "__cprev"
        )
        out = out.join(cp, m).withColumn(
            code,
            F.expr(f"1 + (__cprev * {int(quantiles)}L) div {int(n)}L").cast("bigint"),
        ).drop("__cprev")
    return out.select(
        "user_id",
        "recency_us",
        "frequency",
        "monetary_cents",
        "r_q",
        "f_q",
        "m_q",
        (F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q"))
        .cast("bigint")
        .alias("rfm_code"),
    )


def active_users(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    window_days: int = 7,
) -> DataFrame:
    """DAU / WAU / stickiness — the engagement report every event
    pipeline publishes: per calendar day, distinct daily active users,
    distinct trailing-``window_days`` active users, and the DAU/WAU
    stickiness ratio as integer micropoints (``dau·10⁶ div wau``).
    Returns ``(day, dau, wau, stickiness_micro)`` for every day with
    ≥1 event, ``day`` as an ISO string (the engine/oracle-stable
    spelling, same convention as the hourly windows).

    The trailing-window distinct is computed WITHOUT a range join or
    window function: each distinct ``(user, day)`` pair explodes into
    the ``window_days`` report days it contributes to, then one
    distinct + partial-agg count per report day — shuffle keys are
    (day, user), both partial-aggregable, no stage bounded by the
    window length times the corpus. (An oracle can use the equivalent
    O(days×pairs) range join — tiny at oracle scale.)

    Scale shape: one distinct over (user, day) — the classic daily
    rollup — then a ×``window_days`` explode of that ALREADY-reduced
    frame (days × users, orders of magnitude under the event count),
    one more distinct-count. No window, no driver state.
    """
    ud = events.select(
        F.to_date(F.col(ts_col)).alias("__day"), F.col(user_col).alias("__u")
    ).distinct()
    dau = ud.groupBy("__day").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    contrib = (
        ud.select(
            F.explode(
                F.sequence(
                    F.col("__day"), F.date_add(F.col("__day"), window_days - 1)
                )
            ).alias("__wday"),
            "__u",
        )
        .distinct()
        .groupBy("__wday")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wau"))
    )
    return (
        dau.join(contrib, dau["__day"] == contrib["__wday"])
        .select(
            F.date_format("__day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            F.expr("(dau * 1000000L) div wau").cast("bigint").alias(
                "stickiness_micro"
            ),
        )
    )


def cohort_ltv(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Cohort lifetime-value curves — the acquisition-quality report
    next to the retention matrix (X26 answers "do cohorts come back?",
    this answers "what are they worth over time?"): users cohort by
    their FIRST event date, activity rolls up per (cohort, age-in-
    weeks), and value accumulates along each cohort's age axis.
    Returns ``(cohort_day, age_weeks, n_active_users, value_cents,
    cum_value_cents)`` — value in exact int64 cents (the attribution
    convention), age as ``datediff div 7``, the cumulative via a window
    PARTITIONED per cohort (partition size = #distinct ages ≤ the
    calendar span in weeks — bounded, never corpus-sized). All-integer
    → oracle-exact.

    Scale shape: one groupBy(user) min (first-touch), one equi-join
    back, one partial-agg groupBy(cohort, age) — the event stream is
    touched twice, everything after is cohort×age-sized.
    """
    ud = events.select(
        F.col(user_col).alias("__u"),
        F.to_date(F.col(ts_col)).alias("__day"),
        F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long").alias("__cents"),
    )
    coh = ud.groupBy("__u").agg(F.min("__day").alias("__cday"))
    per = (
        ud.join(coh, "__u")
        .groupBy(
            "__cday",
            F.expr("CAST(datediff(__day, __cday) AS BIGINT) div 7").alias(
                "age_weeks"
            ),
        )
        .agg(
            F.countDistinct("__u").cast("bigint").alias("n_active_users"),
            F.sum("__cents").cast("bigint").alias("value_cents"),
        )
    )
    w = Window.partitionBy("__cday").orderBy("age_weeks")
    return per.withColumn(
        "cum_value_cents", F.sum("value_cents").over(w).cast("bigint")
    ).select(
        F.date_format("__cday", "yyyy-MM-dd").alias("cohort_day"),
        F.col("age_weeks").cast("bigint").alias("age_weeks"),
        "n_active_users",
        "value_cents",
        "cum_value_cents",
    )


def funnel(
    events: DataFrame,
    steps: list[str] = ("view", "click", "purchase"),
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered funnel analysis (first-match semantics): step i counts the
    users whose earliest step-i event occurs strictly AFTER their
    matched step-(i−1) event. Returns ``(step, step_name, n_users)``.

    Shape: one filtered min-aggregation per step (map-side partial,
    shuffle keyed by user) joined onto the previous step's reach frame
    — step frames only shrink, so later joins are broadcast candidates
    under AQE; no windows, no self-join over raw events.
    """
    reach = None  # (user, t_prev)
    out = []
    for i, step in enumerate(steps):
        ev = events.filter(F.col(type_col) == step).select(
            F.col(user_col).alias("u"), F.col(ts_col).alias("t")
        )
        if reach is None:
            cur = ev.groupBy("u").agg(F.min("t").alias("t_prev"))
        else:
            cur = (
                ev.join(reach, "u")
                .filter(F.col("t") > F.col("t_prev"))
                .groupBy("u")
                .agg(F.min("t").alias("t_prev"))
            )
        reach = cur
        out.append(
            cur.agg(
                F.lit(i + 1).cast("int").alias("step"),
                F.lit(step).alias("step_name"),
                F.count(F.lit(1)).cast("bigint").alias("n_users"),
            )
        )
    res = out[0]
    for o in out[1:]:
        res = res.unionAll(o)
    return res


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Daily retention cohorts: users grouped by first-activity day;
    for each (cohort_day, day_offset) the count of cohort users active
    that day. Returns ``(cohort_day, day_offset, n_users)``.

    Shape: one min-agg for cohort assignment, one distinct-activity
    projection, an equi-join on user (cohort frame ≤ one row per user)
    and a final count agg — all partial-aggregable, keyed shuffles only.
    """
    cohort = events.groupBy(F.col(user_col).alias("u")).agg(
        F.to_date(F.min(ts_col)).alias("cohort_day")
    )
    activity = events.select(
        F.col(user_col).alias("u"), F.to_date(F.col(ts_col)).alias("day")
    ).distinct()
    return (
        activity.join(cohort, "u")
        .groupBy("cohort_day", F.datediff("day", "cohort_day").cast("int").alias("day_offset"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


def session_intervals(
    events: DataFrame, gap_seconds: int = 1800
) -> DataFrame:
    """Gap-based sessions as intervals: ``(user_id, session_start,
    session_end, n_events)``, one row per session. Same lag+cumulative-sum
    pattern as :func:`sessionize` (which only counts sessions per user);
    this materializes each session's time span so downstream interval
    operators (:func:`interval_join`) can consume sessions as ranges.
    One keyed window shuffle + one aggregate — nothing global."""
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    return (
        events.withColumn("__new", is_new)
        .withColumn("__sid", F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "__sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
        .drop("__sid")
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    ts_col: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
    on: list[str] | None = None,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Interval-containment join: every (point, interval) pair with
    ``start <= ts <= end`` (inclusive both ends), optionally also
    matching equi-keys ``on``. Output: point columns + interval columns
    (which must not collide outside ``on`` — rename beforehand).

    Spark has no native range join; the naive formulation is a
    theta-join the planner can only run as
    broadcast-nested-loop/cartesian — O(|points|·|intervals|) at scale.
    The scalable form used here is the classic bucketed equi-join:

    - each interval is exploded to the coarse time buckets
      (``bucket_seconds`` wide) it overlaps;
    - each point maps to its single bucket;
    - equi-join on (keys + bucket) — a plain shuffled/broadcast hash
      join Catalyst can plan, prune, and AQE-skew-split;
    - refine with the exact ``BETWEEN`` predicate.

    Each qualifying pair matches in exactly one bucket (the point's
    own), so no post-dedup is needed. Explosion factor is
    ``interval_length / bucket_seconds``; pick the bucket near the
    median interval length — too coarse re-creates per-bucket
    mini-cartesians, too fine multiplies the interval side. Hot buckets
    (everything in one hour) are AQE skew-split like any keyed join.
    """
    on = list(on or [])
    b = lambda c: F.floor(F.col(c).cast("long") / F.lit(int(bucket_seconds)))  # noqa: E731
    iv = intervals.withColumn(
        "__b", F.explode(F.sequence(b(start_col), b(end_col)))
    )
    pt = points.withColumn("__b", b(ts_col))
    return (
        pt.join(iv, on + ["__b"])
        .filter(F.col(ts_col).between(F.col(start_col), F.col(end_col)))
        .drop("__b")
    )


def props_stats(
    events: DataFrame,
    props_col: str = "props",
    json_path: str = "$.k",
    group_col: str = "event_type",
) -> DataFrame:
    """Semi-structured extraction + rollup: pull a numeric field out of
    the JSON ``props`` payload and aggregate it per group —
    ``(group, n_events, n_with_field, sum_field, avg_field)``.

    ``get_json_object`` is a JVM-side expression (whole-stage codegen,
    no Python), and the JSON parse happens once per row inside the same
    projection as the aggregate's map side — the schema-on-read scan
    shape for event payloads at 100 TB (no pre-flattening pass, no
    UDF). Missing/malformed fields null out and are counted separately.
    The average is computed as exact-integer sum ÷ count, both engines
    evaluating the same IEEE division."""
    v = F.get_json_object(F.col(props_col), json_path).cast("bigint")
    return (
        events.select(F.col(group_col), v.alias("__v"))
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("__v").alias("n_with_field"),
            F.coalesce(F.sum("__v"), F.lit(0)).cast("bigint").alias("sum_field"),
        )
        .withColumn(
            "avg_field",
            F.when(
                F.col("n_with_field") > 0,
                F.col("sum_field").cast("double") / F.col("n_with_field"),
            ),  # else NULL: engines disagree on x/0 for doubles
        )
    )


def user_extreme_events(events: DataFrame, k: int = 1) -> DataFrame:
    """Per-user anomaly pick: the ``k`` events with the largest absolute
    z-score of ``value`` against that user's own mean/stddev —
    ``(user_id, event_id, value, z)``. Users with fewer than 2 events
    (stddev undefined) or zero variance are skipped.

    The z-score is rounded to 4 digits and BOTH the returned value and
    the top-k ranking use the rounded number (tie-break |z| desc then
    event_id asc) — the same two-sided rounding discipline as TF-IDF, so
    selection and values are engine-independent despite float mean/std.

    Shape: one window partitioned by user (mean/std/rank in a single
    shuffle) — the per-key profile-then-rank pattern of a 100 TB
    monitoring pass; nothing global, no second pass.
    """
    w = Window.partitionBy("user_id")
    mean = F.avg("value").over(w)
    std = F.stddev_samp("value").over(w)
    # explicit std > 0 guard: engines disagree on double x/0.0 (NULL vs
    # IEEE inf), so zero-variance users are skipped by construction
    z = F.when(std > 0, F.round((F.col("value") - mean) / std, 4))
    wr = Window.partitionBy("user_id").orderBy(
        F.abs(F.col("__z")).desc(), F.col("event_id").asc()
    )
    return (
        events.select("user_id", "event_id", "value", z.alias("__z"))
        .filter(F.col("__z").isNotNull())
        .withColumn("__rk", F.row_number().over(wr))
        .filter(F.col("__rk") <= k)
        .select("user_id", "event_id", "value", F.col("__z").alias("z"))
    )


def event_transitions(events: DataFrame) -> DataFrame:
    """X125 — first-order behavior model: the event-type transition
    matrix ``(from_type, to_type, n, prob)`` over per-user event
    streams — the Markov generalization of a fixed funnel (which paths
    do users actually take, with what probability?). ``to_type`` is the
    NEXT event in the user's stream ordered by ``(ts, event_id)`` —
    the id tie-break makes equal-timestamp orderings deterministic, so
    the SQL oracle's ``lead()`` replays them exactly. ``prob`` is the
    row-normalized integer ratio rounded to 6.

    Scale shape: one keyed window (partition by user — the same
    shuffle :func:`sessionize` pays, nothing global) feeding one
    partial-aggregable groupBy on the ``(from, to)`` pair; the
    normalization joins the |types|-row marginals back broadcast."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = events.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    pairs = steps.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("__tot"))
    return (
        pairs.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("n") / F.col("__tot"), 6).alias("prob"),
        )
    )
