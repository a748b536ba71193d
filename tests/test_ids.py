"""Distributed UUIDv7 minting: uniqueness, global monotonicity vs other
batches, and the absence of a single-partition exchange in the plan."""

from __future__ import annotations

from pyspark.sql import functions as F

from graph_loom_spark.ids import assign_uuid7_ids, uuid7


def test_bulk_ids_unique_and_ordered_after_prior_batches(spark):
    before = uuid7()  # driver-side id minted first
    df = spark.range(10_000).repartition(16).select(F.col("id").alias("n"))
    out, n = assign_uuid7_ids(df, "uid")
    assert n == 10_000
    ids = [r["uid"] for r in out.collect()]
    assert len(set(ids)) == 10_000  # no collisions across partitions
    assert min(ids) > before  # whole batch sorts after earlier mints
    after = uuid7()
    assert max(ids) < after  # and before later ones
    # fixed-width lowercase hex → string order == u128 order
    assert all(len(i) == 36 and i == i.lower() for i in ids[:100])


def test_bulk_ids_plan_has_no_single_partition_window(spark):
    df = spark.range(1000).repartition(8)
    out, _ = assign_uuid7_ids(df, "uid")
    # the mint is one projection over the pinned input: no window, no
    # exchange (so no single-partition funnel), no join
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Exchange" not in plan and "Join" not in plan
    assert "SinglePartition" not in plan


def _window_ids(pinned, start_slot: int):
    """The window formulation of the mint, as the reference: per-partition
    offsets joined onto ``row_number`` within each partition id."""
    from pyspark.sql import Window

    from graph_loom_spark.ids import uuid7_expr

    counts = pinned.groupBy(F.spark_partition_id().alias("__pid")).count().collect()
    offsets, acc = [], 0
    for r in sorted(counts, key=lambda r: r["__pid"]):
        offsets.append((int(r["__pid"]), acc))
        acc += int(r["count"])
    off_df = pinned.sparkSession.createDataFrame(offsets, "__pid int, __off long")
    tagged = pinned.select(
        "*", F.spark_partition_id().alias("__pid"), F.monotonically_increasing_id().alias("__mid")
    )
    w = Window.partitionBy("__pid").orderBy("__mid")
    return (
        tagged.withColumn("__rn", F.row_number().over(w).cast("long") - 1)
        .join(F.broadcast(off_df), "__pid")
        .withColumn("uid", uuid7_expr(F.col("__off") + F.col("__rn"), start_slot))
        .select("n", "uid")
    )


def test_bulk_ids_equal_the_window_formulation_over_empty_partitions(spark, monkeypatch):
    """At a fixed slot block, the projection mints exactly the ids of the
    window formulation over the same pinned input, with empty partitions
    before, between and after the full ones, and again on re-evaluation."""
    import graph_loom_spark.ids as ids

    start = ids.reserve_slots(1) + 1000
    monkeypatch.setattr(ids, "reserve_slots", lambda n: start)
    pinned = []

    def pin(df):
        pinned.append(df.localCheckpoint(eager=True))
        return pinned[-1]

    df = spark.range(0, 90, 1, 9).select(F.col("id").alias("n"))
    df = df.where(~F.spark_partition_id().isin(0, 3, 4, 6, 8))  # 5 of 9 empty
    out, n = assign_uuid7_ids(df, "uid", pin=pin)
    assert len(pinned) == 1 and n == 40
    minted = {r["n"]: r["uid"] for r in out.select("n", "uid").collect()}
    reference = {r["n"]: r["uid"] for r in _window_ids(pinned[0], start).collect()}
    assert len(minted) == 40 and minted == reference
    assert {r["n"]: r["uid"] for r in out.select("n", "uid").collect()} == minted


def test_empty_input(spark):
    df = spark.range(0)
    out, n = assign_uuid7_ids(df, "uid")
    assert n == 0
    assert out.count() == 0


def test_minhash_bands_must_divide_signature(spark):
    import pytest

    from graph_loom_spark.ops.dedup import minhash_lsh_pairs

    sigs = spark.createDataFrame(
        [(1, [1, 2, 3, 4, 5])], "doc_id long, signature array<long>"
    )
    with pytest.raises(ValueError, match="must divide"):
        minhash_lsh_pairs(sigs, bands=2)  # probed num_perm=5, 2 ∤ 5


def test_small_input_pinned_local_mints_on_the_driver(spark):
    """A graph on the local tier pins a small binding table as a driver
    ``LocalRelation``: the ids come from one slot block reserved on the
    driver, and the mint's only Spark job is the pin's collect."""
    from graph_loom_spark.graph import PropertyGraph, local_rows

    sc = spark.sparkContext
    pin = PropertyGraph.empty(spark).pin
    df = spark.range(0, 50, 1, 4).select(F.col("id").alias("n"))
    before = uuid7()
    sc.setJobGroup("gls-test-local-mint", "local mint")
    try:
        out, n = assign_uuid7_ids(df, "uid", pin=pin)
    finally:
        sc.setJobGroup("", "")
    after = uuid7()
    assert len(sc.statusTracker().getJobIdsForGroup("gls-test-local-mint")) <= 1
    assert n == 50
    rows = out.collect()
    assert sorted(r["n"] for r in rows) == list(range(50))
    ids = [r["uid"] for r in rows]
    assert len(set(ids)) == 50
    assert before < min(ids) and max(ids) < after
    assert [r["uid"] for r in out.collect()] == ids  # stable across re-evaluation
    assert local_rows(pin(df)) == 50
