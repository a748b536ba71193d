"""UUIDv7 identifier generation (driver-side and distributed).

The reference assigns time-ordered UUIDv7 ids to every node and
relationship (src/graph_utils/graph.rs:44,59) and query semantics depend
on it: ``id(a) < id(b)`` compares the raw u128 (src/gql/cypher_spec.rs:
1081-1082), so id order == creation order. We keep ids as fixed-width
lowercase hex strings — those sort byte-identically to the u128, so
plain string comparison in Spark reproduces the reference ordering.

Layout (RFC 9562 v7): 48-bit unix-ms timestamp | ver=7 | 12-bit seq |
var=10 | 62-bit tail. Ids are allocated from a process-wide monotonic
*slot* counter (``slot = ms*4096 + seq``); distributed generation
reserves a contiguous slot block up front so executor-generated ids
stay globally ordered relative to driver-generated ones.
"""

from __future__ import annotations

import os
import random
import threading
import time

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

_lock = threading.Lock()
_last_slot = 0
_TAIL = random.Random(os.getpid() ^ int(time.time() * 1000)).getrandbits(62)


def _format_uuid7(slot: int, tail: int = _TAIL) -> str:
    ms = (slot >> 12) & ((1 << 48) - 1)
    seq = slot & 0xFFF
    return (
        f"{ms >> 16:08x}-{ms & 0xFFFF:04x}-7{seq:03x}-"
        f"{0x8000 | (tail >> 48) & 0x3FFF:04x}-{tail & ((1 << 48) - 1):012x}"
    )


def reserve_slots(n: int) -> int:
    """Reserve ``n`` contiguous monotonic id slots; returns the first slot.

    Never sleeps: within one millisecond the 12-bit seq advances, and on
    overflow the timestamp is pushed forward — monotonicity over realtime
    accuracy, same trade the reference's in-process Uuid::now_v7 makes.
    """
    global _last_slot
    with _lock:
        start = max(_last_slot + 1, int(time.time() * 1000) << 12)
        _last_slot = start + n - 1
        return start


def uuid7() -> str:
    """One monotonic UUIDv7 string."""
    return _format_uuid7(reserve_slots(1))


def uuid7_batch(n: int) -> list[str]:
    """``n`` strictly increasing UUIDv7 strings (driver-side, for CREATE
    paths where the row count is known on the driver)."""
    start = reserve_slots(n)
    return [_format_uuid7(start + i) for i in range(n)]


def _local_checkpoint(df):
    return df.localCheckpoint(eager=True)


def assign_uuid7_ids(df, id_col: str, pin=_local_checkpoint):
    """Mint one monotonic UUIDv7 per row.

    Returns ``(df_with_id_col, row_count)``; the ids are stable across
    re-evaluation. ``pin`` materializes the input (and, on the
    distributed path, the result); pass a graph's
    :meth:`PropertyGraph.pin` to free its blocks with the statement.

    **Driver path.** When the pinned input came back as a driver-held
    ``LocalRelation`` (a small graph's statement pin), its row count is
    known without a job: the ids are minted on the driver — the slot
    block ``uuid7_batch(n)`` would format — and attached in the
    relation's row order. The one Spark job is the pin's collect.

    **Distributed path** (the default ``pin``, and a pinned-tier
    graph). It replaces the round-1 ``row_number() OVER (ORDER BY
    lit(1))`` shape, whose unpartitioned window funnels every row
    through ONE task — fine for reference-sized mutations, a wall when
    a MATCH..MERGE binds millions of pairs. Here every partition
    numbers itself:

    1. checkpoint the input with ``pin`` — fixes partition contents/order so
       ``spark_partition_id`` is stable across the two passes;
    2. collect per-partition counts (one tiny row per partition) and
       cumulative-sum them on the driver into per-partition offsets;
    3. reserve ONE contiguous slot block for the whole batch (ids stay
       globally monotonic vs every other batch from this process);
    4. ordinal = offset[pid] + row_number within pid (ordered by a
       pre-materialized ``monotonically_increasing_id`` — evaluated in
       the same projection as the pid so both see the pinned partitions).

    The within-pid window does shuffle on pid, but that is a *parallel*
    exchange (as many reducers as partitions), not a single-task funnel.
    """
    from graph_loom_spark.graph import local_rows  # graph imports this module

    pinned = pin(df)
    n = local_rows(pinned)
    counts = None
    if n is None:
        counts = pinned.groupBy(F.spark_partition_id().alias("__pid")).count().collect()
        n = int(sum(r["count"] for r in counts))
    if n == 0:
        return pinned.withColumn(id_col, F.lit(None).cast("string")), 0
    start_slot = reserve_slots(n)
    if counts is None:
        # one partition over the relation's fixed row order: a row's
        # monotonically_increasing_id is its ordinal 0..n-1
        ordinal = F.monotonically_increasing_id()
        return pinned.coalesce(1).withColumn(id_col, uuid7_expr(ordinal, start_slot)), n
    offsets, acc = [], 0
    for r in sorted(counts, key=lambda r: r["__pid"]):
        offsets.append((int(r["__pid"]), acc))
        acc += int(r["count"])
    spark = pinned.sparkSession
    off_df = spark.createDataFrame(offsets, schema="__pid int, __off long")
    tagged = pinned.select(
        "*",
        F.spark_partition_id().alias("__pid"),
        F.monotonically_increasing_id().alias("__mid"),
    )
    w = Window.partitionBy("__pid").orderBy("__mid")
    out = pin(
        tagged.withColumn("__rn", F.row_number().over(w).cast("long") - 1)
        .join(F.broadcast(off_df), "__pid")
        .withColumn(id_col, uuid7_expr(F.col("__off") + F.col("__rn"), start_slot))
        .drop("__pid", "__mid", "__rn", "__off")
    )
    return out, n


def uuid7_expr(ordinal: Column, start_slot: int) -> Column:
    """Distributed UUIDv7 column from a 0-based bigint ordinal column and a
    slot block from :func:`reserve_slots`.

    For bulk creation on executors: id = slot ``start_slot + ordinal``,
    so ids are monotonic in ``ordinal`` and totally ordered against all
    other ids from this process. No driver round-trip per row.
    """
    slot = F.lit(start_slot) + ordinal
    ms = F.shiftright(slot, 12)
    seq = slot.bitwiseAND(F.lit(0xFFF))
    # F.hex emits uppercase; ids must be lowercase for string order == u128 order
    return F.lower(
        F.concat(
            F.lpad(F.hex(F.shiftright(ms, 16)), 8, "0"),
            F.lit("-"),
            F.lpad(F.hex(ms.bitwiseAND(F.lit(0xFFFF))), 4, "0"),
            F.lit("-7"),
            F.lpad(F.hex(seq), 3, "0"),
            F.lit("-"),
            F.lit(f"{0x8000 | (_TAIL >> 48) & 0x3FFF:04x}"),
            F.lit("-"),
            F.lit(f"{_TAIL & ((1 << 48) - 1):012x}"),
        )
    )
