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
from itertools import accumulate

from pyspark.sql import Column
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
    re-evaluation. ``pin`` materializes the input; pass a graph's
    :meth:`PropertyGraph.pin` to free its blocks with the statement.

    The ids come from one projection over the pinned input, which fixes
    each partition's rows and their order: a row's ordinal is its
    partition's offset (the running sum of the per-partition counts, an
    array literal indexed by ``spark_partition_id``) plus its index
    within the partition (the low 33 bits of
    ``monotonically_increasing_id``), and its id is that slot of one
    block reserved for the batch, so ids stay globally monotonic
    against every other batch from this process. No window, no
    exchange, no single-task funnel. A driver-held ``LocalRelation``
    (a small graph's statement pin) knows its row count without a job
    and is read as one partition, offsets ``[0]``.
    """
    from graph_loom_spark.graph import local_rows  # graph imports this module

    pinned = pin(df)
    n = local_rows(pinned)
    counts = None
    if n is None:
        counts = dict(pinned.groupBy(F.spark_partition_id()).count().collect())
        n = sum(counts.values())
    if n == 0:
        return pinned.withColumn(id_col, F.lit(None).cast("string")), 0
    if counts is None:
        pinned, offsets = pinned.coalesce(1), [0]
    else:
        offsets = list(accumulate((counts.get(p, 0) for p in range(max(counts))), initial=0))
    ordinal = F.lit(offsets)[F.spark_partition_id()] + F.monotonically_increasing_id().bitwiseAND(
        F.lit((1 << 33) - 1)
    )
    return pinned.withColumn(id_col, uuid7_expr(ordinal, reserve_slots(n))), n


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
