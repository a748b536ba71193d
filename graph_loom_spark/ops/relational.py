"""Relational analytics operators (A5/O6/§2.5 extension surface).

All monetary aggregation goes through DECIMAL(18,2) so sums are exact
and independent of partitioning/accumulation order — float sums would
hash-differ from the DuckDB oracle by ULPs. Final columns cast back to
double for a stable cross-engine schema.

Scale: groupBy aggregations are partial-aggregated map-side by Catalyst;
joins below broadcast the dimension side automatically under AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graph_loom_spark.ops import cms_cells, cms_grid, md5_lane


def _dec(c: str) -> F.Column:
    return F.col(c).cast("decimal(18,2)")


def pricing_summary(lineitem: DataFrame, cutoff: str = "1998-09-02") -> DataFrame:
    """TPC-H Q1-style pricing summary: 2-key groupBy with 8 exact aggregates."""
    one = F.lit(1).cast("decimal(18,2)")
    disc_price = _dec("l_extendedprice") * (one - _dec("l_discount"))
    charge = disc_price * (one + _dec("l_tax"))
    n = F.count(F.lit(1))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit(cutoff))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(_dec("l_quantity")).cast("double") / n).alias("avg_qty"),
            (F.sum(_dec("l_extendedprice")).cast("double") / n).alias("avg_price"),
            (F.sum(_dec("l_discount")).cast("double") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


def revenue_by_nation(customer: DataFrame, orders: DataFrame, lineitem: DataFrame, nation: DataFrame) -> DataFrame:
    """Q5-flavor: customer→orders→lineitem join, revenue per nation.

    ``nation`` (25 rows) broadcasts; orders↔lineitem is the real shuffle
    join on l_orderkey — the layout a 100 TB run wants bucketed."""
    one = F.lit(1).cast("decimal(18,2)")
    revenue = _dec("l_extendedprice") * (one - _dec("l_discount"))
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


def shipping_priority(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    segment: str = "BUILDING",
    date: str = "1996-06-01",
    k: int = 10,
) -> DataFrame:
    """TPC-H Q3-flavor shipping priority: top-k not-yet-shipped orders
    of one market segment by open revenue. The segment filter reaches
    the customer scan (predicate pushdown), the filtered dimension
    broadcasts, and orders↔lineitem stays the one real shuffle join —
    DECIMAL revenue for partition-order-independent exactness; the
    top-k is a TakeOrdered with an id tie-break, never a full sort."""
    one = F.lit(1).cast("decimal(18,2)")
    revenue = _dec("l_extendedprice") * (one - _dec("l_discount"))
    return (
        lineitem.filter(F.col("l_shipdate") > F.lit(date))
        .join(
            orders.filter(F.col("o_orderdate") < F.lit(date)),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(
                customer.filter(F.col("c_mktsegment") == segment).select("c_custkey")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(k)
    )


def returned_items(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    date_lo: str = "1996-01-01",
    date_hi: str = "1996-04-01",
    k: int = 20,
) -> DataFrame:
    """TPC-H Q10-flavor returned-item report: top-k customers by revenue
    lost to returns (``l_returnflag = 'R'``) in one quarter. The nation
    dimension broadcasts; the quarter filter prunes orders before the
    lineitem join; DECIMAL revenue; TakeOrdered top-k with key
    tie-break."""
    one = F.lit(1).cast("decimal(18,2)")
    revenue = _dec("l_extendedprice") * (one - _dec("l_discount"))
    return (
        lineitem.filter(F.col("l_returnflag") == "R")
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit(date_lo))
                & (F.col("o_orderdate") < F.lit(date_hi))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(k)
    )


def top_orders_per_customer(orders: DataFrame, k: int = 3) -> DataFrame:
    """Window top-k per group; o_orderkey tiebreak keeps it deterministic."""
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("o_custkey", "o_orderkey", F.col("o_totalprice").alias("totalprice"), "rank")
    )


def customers_without_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Anti-join set operation (no row-explosion, null-safe unlike NOT IN)."""
    return customer.join(
        orders.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti"
    ).select("c_custkey", "c_name")


def grouping_sets_rollup(orders: DataFrame) -> DataFrame:
    """ROLLUP over (orderpriority, orderstatus): count + exact total."""
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
        )
    )


def grouping_sets_cube(orders: DataFrame) -> DataFrame:
    """CUBE over (orderpriority, orderstatus): all 2^2 grouping sets.

    Same partial-aggregation shape as ROLLUP — Spark expands the cube
    into grouping sets before the shuffle, so each input row contributes
    map-side partials for its 4 set memberships; no extra pass over the
    table at scale."""
    return (
        orders.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
        )
    )


def price_percentiles(lineitem: DataFrame) -> DataFrame:
    """Exact grouped percentiles (p25/p50/p75 of extendedprice per
    returnflag), linear interpolation.

    ``F.percentile`` is the exact (sort-based) aggregate, matching
    DuckDB's ``quantile_cont`` — both interpolate linearly between the
    two straddling order statistics, so values agree to float noise and
    are rounded to 4 digits for the oracle hash. Exact percentile sorts
    within each group; at 100 TB prefer ``approx_percentile``
    (t-digest, partial-aggregable) when 1e-3 relative error is fine —
    kept exact here because approximate sketches are not
    oracle-comparable across engines.
    """
    pcts = F.percentile(F.col("l_extendedprice").cast("double"), F.lit([0.25, 0.5, 0.75]))
    return (
        lineitem.groupBy("l_returnflag")
        .agg(pcts.alias("__p"))
        .select(
            "l_returnflag",
            F.round(F.col("__p")[0], 4).alias("p25"),
            F.round(F.col("__p")[1], 4).alias("p50"),
            F.round(F.col("__p")[2], 4).alias("p75"),
        )
    )


def merge_upsert(
    current: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    op_col: str = "op",
) -> DataFrame:
    """Keyed CDC merge — the MERGE INTO / incremental-corpus-refresh
    step (apply a crawl delta to the standing corpus): ``changes``
    carries the ``current`` schema plus an ``op`` column of ``'upsert'``
    or ``'delete'``. Keys marked delete are removed; upsert rows replace
    matching keys and insert new ones; everything else passes through.
    Duplicate keys inside one change batch are rejected (a batch must be
    pre-deduplicated — silently picking a winner hides upstream bugs).

    Shape: one left-anti join of the corpus against the change keys plus
    a union with the upsert rows — the change batch is the small side of
    the anti-join (broadcast when it fits; at 100 TB the corpus is never
    shuffled, only scanned), and the validation aggregate runs on the
    tiny batch. No window, no global order.
    """
    ops = {"upsert", "delete"}
    bad = changes.filter(~F.col(op_col).isin(*ops))
    if not bad.isEmpty():
        val = bad.select(op_col).first()[0]
        raise ValueError(f"merge_upsert: unknown op {val!r} (use 'upsert'/'delete')")
    dup = changes.groupBy(*key_cols).count().filter(F.col("count") > 1)
    if not dup.isEmpty():
        k = dup.select(*key_cols).first()
        raise ValueError(f"merge_upsert: duplicate change key {tuple(k)!r}")
    keys = changes.select(*key_cols)
    kept = current.join(F.broadcast(keys), key_cols, "left_anti")
    ups = changes.filter(F.col(op_col) == "upsert").drop(op_col)
    return kept.unionByName(ups)


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Dataset-version diff — which keys were ``added``, ``removed`` or
    ``changed`` between two corpus versions (the audit step before
    promoting a refreshed crawl; unchanged rows are omitted). ``changed``
    compares a 96-bit hash of ``compare_cols`` (xxhash64 + 32-bit
    murmur), never the raw values: document bytes stay out of the join
    and the shuffle carries 12-byte digests — the same
    collision-is-negligible argument as :func:`~graph_loom_spark.ops.dedup.exact_dedup`.

    Shape: both sides reduce to (key, digest) projections, then ONE
    full-outer hash join on the key; status is a null-pattern CASE.
    Null-safe on compare columns (a value flipping to/from NULL is a
    change — the digest hashes a null marker, not a dropped column).
    """
    if not key_cols or not compare_cols:
        raise ValueError("corpus_diff: key_cols and compare_cols required")

    def digest(df: DataFrame, tag: str) -> DataFrame:
        # coalesce each compare col into a marked string so NULL and
        # the literal string 'null' can't collide
        marked = [
            F.coalesce(F.col(c).cast("string"), F.lit("\x00null")).alias(c)
            for c in compare_cols
        ]
        d = df.select(*key_cols, *marked)
        return d.select(
            *key_cols,
            F.xxhash64(*compare_cols).alias(f"__h64_{tag}"),
            F.hash(*compare_cols).alias(f"__h32_{tag}"),
        )
    o = digest(old, "o")
    n = digest(new, "n")
    status = (
        F.when(F.col("__h64_o").isNull(), F.lit("added"))
        .when(F.col("__h64_n").isNull(), F.lit("removed"))
        .when(
            (F.col("__h64_o") != F.col("__h64_n"))
            | (F.col("__h32_o") != F.col("__h32_n")),
            F.lit("changed"),
        )
        .otherwise(F.lit(None))
    )
    return (
        o.join(n, key_cols, "full_outer")
        .withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(*key_cols, "status")
    )


def hll_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: int = 10,
) -> DataFrame:
    """Engine-independent HyperLogLog distinct estimate per group — the
    cardinality sketch a 100 TB pipeline uses where exact
    count(DISTINCT) would shuffle every value: state is 2^p registers
    (one byte each) per group, built in ONE partial-aggregable two-level
    hash aggregate, mergeable across partitions/days by construction
    (register max is associative + commutative).

    Unlike the engines' built-in approx sketches (whose hash choices
    differ, so their estimates can never be compared across systems),
    the hash here is md5 — both the registers AND the estimate are
    bit-reproducible anywhere md5 exists, so a DuckDB oracle replays
    the sketch exactly and nightly estimates diff cleanly.

    Construction (Flajolet et al. 2007): h = first 60 bits of
    md5(value); register index = low p bits; rho = leading-zero count
    of the remaining (60-p)-bit window + 1 (portable as
    ``(60-p+1) - length(ltrim(bin(w), '0'))``); estimate =
    alpha_m * m^2 / (V + sum(2^-M)) with the small-range correction
    ``m * ln(m/V)`` when E <= 2.5m and V > 0. Returns
    ``(group_cols..., est_distinct, zero_registers)``; est rounded to
    2 digits (ln/division ulps sit far below that).
    """
    return hll_estimate(hll_registers(df, group_cols, value_col, p), group_cols, p)


def hll_registers(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: int = 10,
) -> DataFrame:
    """The persistable/mergeable HLL state behind :func:`hll_distinct`:
    ``(group_cols..., reg_idx, reg_max)`` — one row per non-zero
    register. This is what a nightly pipeline WRITES (2^p small ints
    per group, not the values), so tomorrow's run can
    :func:`hll_merge` yesterday's registers with today's instead of
    rescanning history."""
    m = 1 << p
    h = F.expr(md5_lane(value_col, width=15))
    idx = h.bitwiseAND(F.lit(m - 1))
    w = F.shiftright(h, p)
    width = 60 - p
    rho = F.lit(width + 1) - F.length(F.regexp_replace(F.bin(w), "^0+", ""))
    return (
        df.select(*group_cols, idx.alias("reg_idx"), rho.alias("__r"))
        .groupBy(*group_cols, "reg_idx")
        .agg(F.max("__r").alias("reg_max"))
    )


def hll_merge(a: DataFrame, b: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge two register frames (register max is associative and
    commutative, so merge-then-estimate equals estimate-of-union
    EXACTLY — pinned in pytest, not approximately)."""
    return (
        a.unionByName(b)
        .groupBy(*group_cols, "reg_idx")
        .agg(F.max("reg_max").alias("reg_max"))
    )


def hll_estimate(regs: DataFrame, group_cols: list[str], p: int = 10) -> DataFrame:
    """Flajolet estimate over a register frame (see
    :func:`hll_distinct` for the formula and determinism notes)."""
    m = 1 << p
    regs = regs.select(
        *group_cols, F.col("reg_idx").alias("__i"), F.col("reg_max").alias("__m")
    )
    alpha = 0.7213 / (1.0 + 1.079 / float(m))
    per_group = regs.groupBy(*group_cols).agg(
        F.sum(F.pow(F.lit(0.5), F.col("__m"))).alias("__s"),
        F.count(F.lit(1)).alias("__hit"),
    )
    v = (F.lit(m) - F.col("__hit")).cast("double")
    e_raw = F.lit(alpha) * F.lit(float(m)) * F.lit(float(m)) / (v + F.col("__s"))
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (v > 0.0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v),
    ).otherwise(e_raw)
    return per_group.select(
        *group_cols,
        F.round(est, 2).alias("est_distinct"),
        v.cast("bigint").alias("zero_registers"),
    )


def hash_sampled_percentiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    key_cols: list[str],
    rate_denom: int = 16,
    qs: tuple = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Deterministic hash-sampled grouped percentiles — the scale path
    :func:`price_percentiles` points at, made engine-reproducible: keep
    the rows whose md5(row key) falls in the first 1/``rate_denom`` of
    the hash space (ONE narrow filter — no window, no per-group sort of
    the full data), then take EXACT percentiles of the sample. The
    sample is a fixed pseudo-random 1/rate_denom of every group —
    identical in any md5-bearing engine, so unlike t-digest /
    approx_percentile sketches the estimate is bit-reproducible and a
    SQL oracle replays it (filter + quantile_cont). Returns
    ``(group_cols..., n_sample, p25, p50, p75)`` rounded to 4 digits.
    """
    threshold = (1 << 32) // int(rate_denom)
    key = ", ".join(f"cast({c} as string)" for c in key_cols)
    h = F.expr(md5_lane(f"concat_ws('|', {key})"))
    sample = df.filter(h < F.lit(threshold))
    pcts = F.percentile(F.col(value_col).cast("double"), F.lit(list(qs)))
    out = sample.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sample"), pcts.alias("__p")
    )
    cols = [out[c] for c in group_cols] + [out["n_sample"]] + [
        F.round(F.col("__p")[i], 4).alias(f"p{int(q * 100)}")
        for i, q in enumerate(qs)
    ]
    return out.select(*cols)


def count_min_estimate(
    df: DataFrame,
    value_col: str,
    probe: DataFrame | None = None,
    d: int = 4,
    w: int = 1024,
) -> DataFrame:
    """Engine-independent count-min sketch frequency estimate — the
    heavy-hitter companion to :func:`hll_distinct`: a 100 TB pipeline
    tracks per-token / per-domain frequencies in a fixed d*w counter
    grid instead of a count per distinct value (unbounded state). The
    sketch is built in ONE pass as a partial-aggregable hash aggregate
    over at most d*w cells (map-side combine collapses each partition
    to <= d*w rows before the shuffle), and the grid is mergeable
    across partitions / days by construction (cell-wise sum is
    associative + commutative).

    Hashes are md5-derived (the count-min cells of
    :mod:`graph_loom_spark.ops`), so the counters AND the
    estimates are bit-reproducible in any md5-bearing engine — a
    DuckDB oracle replays the grid exactly, unlike engine-native
    sketch types whose hash choices differ.

    ``probe`` supplies the candidate values to estimate (defaults to
    the distinct values of ``df`` — fine for demos/tests; at scale you
    probe a bounded candidate list, e.g. last hour's top tokens). Each
    estimate is min over the d rows (Cormode & Muthukrishnan 2005),
    always >= the true count. Returns ``(value, est)``.
    """
    val = F.col(value_col).cast("string")
    cells = cms_grid(df.select(val.alias("__v")), "__v", d, w)
    if probe is None:
        probe = df.select(val.alias("value")).distinct()
    else:
        probe = probe.select(F.col(value_col).cast("string").alias("value")).distinct()
    probed = probe.select("value", F.explode(cms_cells("value", d, w)).alias("__c")).select(
        "value", "__c.j", "__c.b"
    )
    # the grid is <= d*w rows regardless of input size -> broadcast
    # side; LEFT join because a never-touched cell means count 0 (a
    # probe value absent from df must estimate 0, not disappear)
    est = (
        probed.join(F.broadcast(cells), ["j", "b"], "left")
        .groupBy("value")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).cast("bigint").alias("est"))
    )
    return est


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two count-min grids of the same (d, w, hash) construction
    (cell-wise sum — associative/commutative, so a merged grid's
    estimates equal the single-pass grid's EXACTLY; pinned in pytest).
    The daily-rollup pattern: persist each day's d*w cells, merge, and
    probe the union without rescanning history."""
    return (
        a.unionByName(b).groupBy("j", "b").agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Per-column data-quality profile: one row per column with
    ``(col_name, n_rows, n_nulls, n_distinct, min_str, max_str)`` — the
    ingest-validation report a pipeline runs on every new table/shard
    before it enters the corpus.

    Shape: ONE aggregation over the table. The exact per-column
    distinct counts make Spark plan a single expand + regroup (the
    multi-distinct rewrite): the expand streams c rows per input row
    into a partial-aggregable hash aggregate, so the shuffle carries
    only the surviving (column, value) groups — no per-column rescans
    of the table. The wide 1-row aggregate result is then unpivoted
    driver-free with ``stack``. min/max are computed in each column's
    NATIVE type (string min of a numeric column would sort "10" < "9")
    and cast to string only for the report; integer/string/date columns
    render identically in any engine — float rendering is
    engine-specific, so keep floats out of oracle-compared profiles (or
    round upstream). At 100 TB exact distincts are the honest-but-heavy
    choice; the HLL sketch (:func:`hll_distinct`) is the cheap variant.
    """
    cols = columns or df.columns
    if not cols:
        raise ValueError("profile_table: no columns to profile")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("__n")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).cast("bigint").alias(f"__nn_{c}"),
            F.count_distinct(F.col(c)).cast("bigint").alias(f"__nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__mx_{c}"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', __n - __nn_{c}, __nd_{c}, __mn_{c}, __mx_{c}" for c in cols
    )
    return wide.selectExpr(
        "__n AS n_rows",
        f"stack({len(cols)}, {stack_args}) "
        "AS (col_name, n_nulls, n_distinct, min_str, max_str)",
    ).select("col_name", "n_rows", "n_nulls", "n_distinct", "min_str", "max_str")
