"""SparkSession factory with engine-required configs.

Configs that are load-bearing for correctness:
- ``spark.sql.mapKeyDedupPolicy=LAST_WIN``: SET-property upserts compile to
  ``map_concat(properties, map(k, v))`` and must keep the *new* value on key
  collision (reference upsert semantics, graph.rs:87-94).
- ``spark.sql.session.timeZone=UTC``: the duckdb oracle compares timestamp
  values as UTC-naive.
- AQE on: runtime join re-planning + skew handling at scale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_LIBRARY_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "graph-loom-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for the engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    ``shuffle_partitions`` defaults to the local core count — the right size
    for local runs; on a real cluster pass ~2-3x total executor cores.
    The Python workers import from the directory that holds the library
    package, as the driver does, so a UDF that pickles a library
    function by reference resolves from any working directory.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = (os.cpu_count() or 8) if cpus == "*" else int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # driver testdata writes events.ts as TIMESTAMP(NANOS) parquet,
        # which vanilla Spark rejects; read as long + convert (ops.events)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local-mode driver == the only JVM: iterative ops localCheckpoint
        # per round and bench/test sessions run dozens of queries, so an
        # undersized heap turns into GC thrash (measured 6x slowdowns at
        # 8g on a 128 GiB box). Size for the machine, not the query.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", _LIBRARY_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
