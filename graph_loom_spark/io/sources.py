"""Table sources for the pipeline surface: parquet / JSONL / CSV / ORC
readers and writers with EXPLICIT schemas and corrupt-record capture.

The reference's only ingest is its RON whole-graph snapshot
(src/persistence/persist.rs:14-21) — this module is the beyond-reference
source surface a training-data pipeline needs: the same `documents` /
`events` / `embeddings` tables arriving as JSONL or CSV drops instead
of parquet.

Scale rules baked in:
- **Never infer schemas.** ``inferSchema``/sampled JSON inference is an
  extra full pass over the data before the real read — at 100 TB that
  doubles the scan. Schemas here are declared once, and the reader
  rejects drift into a ``_corrupt_record`` column instead of silently
  re-typing columns.
- **PERMISSIVE by default**: malformed rows land in ``_corrupt`` with
  the raw line preserved, so a bad shard quarantines instead of killing
  a 1000-executor job; ``mode="FAILFAST"`` opts into strictness.
- Embeddings ship through JSON/CSV as a JSON-encoded array string —
  parsed back with ``from_json`` (codegen, no Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graph_loom_spark.graph import local_frame

CORRUPT_COL = "_corrupt"

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

# embeddings: the vector crosses text formats as a JSON array string
EMBEDDINGS_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.StringType()),
        T.StructField("label", T.IntegerType()),
    ]
)


def _with_corrupt(schema: T.StructType) -> T.StructType:
    return T.StructType(list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())])


def read_table(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """Read ``path`` as ``fmt`` with the declared ``schema``. For the
    text formats (jsonl/csv) malformed rows are captured in
    ``_corrupt`` (PERMISSIVE) or abort the job (FAILFAST); parquet/orc
    carry their own schema and are verified against the declared one by
    Spark's reader. Returns only the declared columns plus ``_corrupt``
    for text formats."""
    fmt = fmt.lower()
    if fmt == "parquet":
        return spark.read.schema(schema).parquet(path)
    if fmt == "orc":
        return spark.read.schema(schema).orc(path)
    if fmt in ("jsonl", "json"):
        return (
            spark.read.schema(_with_corrupt(schema))
            .option("mode", mode)
            .option("columnNameOfCorruptRecord", CORRUPT_COL)
            .json(path)
        )
    if fmt == "csv":
        return (
            spark.read.schema(_with_corrupt(schema))
            .option("mode", mode)
            .option("columnNameOfCorruptRecord", CORRUPT_COL)
            .option("header", True)
            # embeddings/props may contain commas — standard quoting
            .option("quote", '"')
            .option("escape", '"')
            .csv(path)
        )
    raise ValueError(f"unsupported source format: {fmt}")


def write_table(df: DataFrame, path: str, fmt: str = "parquet", partition_by=None) -> None:
    """Distributed write (sharded directory — executors write in
    parallel; there is deliberately no single-file mode here, unlike the
    parity exports in :mod:`graph_loom_spark.io.exports`)."""
    fmt = fmt.lower()
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    if fmt == "parquet":
        w.parquet(path)
    elif fmt == "orc":
        w.orc(path)
    elif fmt in ("jsonl", "json"):
        w.json(path)
    elif fmt == "csv":
        w.option("header", True).option("quote", '"').option("escape", '"').csv(path)
    else:
        raise ValueError(f"unsupported sink format: {fmt}")


def read_documents(spark: SparkSession, path: str, fmt: str = "parquet", **kw) -> DataFrame:
    return read_table(spark, path, DOCUMENTS_SCHEMA, fmt, **kw)


def read_events(spark: SparkSession, path: str, fmt: str = "parquet", **kw) -> DataFrame:
    return read_table(spark, path, EVENTS_SCHEMA, fmt, **kw)


def read_embeddings(spark: SparkSession, path: str, fmt: str = "parquet", **kw) -> DataFrame:
    """Embeddings from any format; for text formats the JSON-encoded
    vector string is parsed back to ``array<float>`` JVM-side."""
    if fmt.lower() in ("parquet", "orc"):
        schema = T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
                T.StructField("label", T.IntegerType()),
            ]
        )
        return read_table(spark, path, schema, fmt, **kw)
    raw = read_table(spark, path, EMBEDDINGS_TEXT_SCHEMA, fmt, **kw)
    return raw.withColumn(
        "embedding", F.from_json("embedding", T.ArrayType(T.FloatType()))
    )


_MEDIA_MIME_BY_EXT = {
    "bmp": "image/bmp",
    "ppm": "image/x-portable-pixmap",
    "png": "image/png",
    "jpg": "image/jpeg",
    "jpeg": "image/jpeg",
    "wav": "audio/wav",
    "y4m": "video/x-yuv4mpeg",
    "mjpeg": "video/x-motion-jpeg",
    "mp4": "video/mp4",
}


def read_media_dir(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = True,
) -> DataFrame:
    """Raw-file multimodal ingest: Spark's built-in ``binaryFile``
    source mapped onto the MEDIA table contract the decoders consume —
    ``(media_id, mime, data, meta)`` with ``media_id`` = the file's
    path RELATIVE to the load root (same-named files under different
    subdirectories or object-store prefixes must not collide — ADVICE
    r7 flagged basename-only ids as corrupting downstream dedup), and
    ``mime`` from the extension map, ``meta`` carrying the full
    path/size/kind for lineage. This is the production entry point the
    synthetic media builders stand in for: point it at a directory (or
    an object-store prefix on a cluster) of image/audio/video files and
    feed the result straight to ``ops.multimodal.image_features`` /
    ``phash`` / the WAV and Y4M decoders.

    Scale notes: ``binaryFile`` is a real FileFormat — directory
    listing, partition planning, and the 4-column projection all happen
    JVM-side (``pathGlobFilter`` prunes at listing time, no Python in
    the scan); each file lands in one row of one task, so a 100 TB
    media lake parallelizes by file count. Spark caps row size via
    ``spark.sql.sources.binaryFile.maxLength`` (2 GB default) — chunk
    bigger objects upstream.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        # media lakes nest by prefix (date/source/...); binaryFile only
        # walks plain subdirectories when asked (hive-style key=value
        # partition dirs are not the layout here)
        reader = reader.option("recursiveFileLookup", "true")
    df = reader.load(path)
    ext = F.lower(F.element_at(F.split(F.col("path"), r"\."), -1))
    mime = F.lit("application/octet-stream")
    for e, m in _MEDIA_MIME_BY_EXT.items():
        mime = F.when(ext == e, m).otherwise(mime)
    # media_id = path relative to the load root. binaryFile reports
    # local files as file:<abs-path> and object-store files with their
    # scheme, so anchor on the root's scheme-less path component; fall
    # back to the full path (still collision-free) if the root string
    # doesn't appear (exotic URI normalization). Spark reports paths in
    # URI form (space → %20), while the root here is the caller's raw
    # OS path — try BOTH the raw and the URI-quoted spelling so roots
    # with spaces/%-chars still yield relative ids (ADVICE r8), and
    # quote the literal with \Q..\E (Java Pattern.quote) instead of
    # Python re.escape, whose output Java's regex may reject.
    import os
    import urllib.parse

    root = path.rstrip("/")
    if "://" not in root and not root.startswith("file:"):
        root = os.path.abspath(root)
    root_part = root.split("://", 1)[-1]
    root_part = root_part.removeprefix("file:")
    # safe set = Java URI path encoding's literal characters (RFC 2396
    # pchar marks + "&=+$," — java.net.URI / Hadoop Path leave these
    # unencoded in paths), so the quoted candidate matches Spark's
    # reported spelling even for roots mixing e.g. '+' with a space:
    # quote()'s default would percent-encode '+' and match neither
    # spelling (ADVICE r9)
    candidates = dict.fromkeys(
        [root_part, urllib.parse.quote(root_part, safe="/:@&=+$,!~*'()-_.")]
    )
    rel = F.coalesce(
        *[
            F.get(F.split(F.col("path"), "\\Q" + p + "\\E/", 2), 1)
            for p in candidates
        ]
    )
    return df.select(
        F.coalesce(rel, F.col("path")).alias("media_id"),
        mime.alias("mime"),
        F.col("content").alias("data"),
        F.create_map(
            F.lit("source"), F.lit("file"),
            F.lit("path"), F.col("path"),
            F.lit("bytes"), F.col("length").cast("string"),
            F.lit("kind"), ext,
        ).alias("meta"),
    )


def quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a PERMISSIVE text read into (clean, corrupt) frames: clean
    rows with the corrupt column dropped, corrupt rows as raw lines.

    The frame is cached first: Spark refuses to answer queries that
    reference only the corrupt-record column of a raw text scan
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) — caching
    materializes the parse, which is also what you want operationally:
    the quarantine split is the one pass that should pay the parse, with
    both halves then written out (the cache is dropped by the caller's
    session teardown, or explicitly via ``df.unpersist()``)."""
    if CORRUPT_COL not in df.columns:
        return df, local_frame(df.sparkSession, [], f"{CORRUPT_COL} string")
    df = df.cache()
    clean = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL)
    return clean, bad


def export_training_shards(
    docs: DataFrame,
    path: str,
    docs_per_shard: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Materialize a curated corpus as deterministic JSONL training
    shards + a manifest — the final "ship the mix" step of the
    pipeline. Shard assignment is ``id div docs_per_shard`` (pure
    function of the id — re-running the export after a retry or on
    another engine produces the SAME shard membership, unlike
    partition-count-dependent round-robin), written as one
    ``shard=N/`` directory each via a partitioned distributed write.
    Returns the manifest: per shard, ``(shard, n_docs, n_tokens,
    n_chars)`` — what a trainer needs for sampling weights and what an
    auditor diffs against yesterday's manifest.

    Shape: the write shuffles on the shard key only (executors write
    shards in parallel); the manifest is one partial-aggregable groupBy
    over integer columns — deterministic, so it is oracle-replayable
    even though the write itself is a side effect.
    """
    if docs_per_shard < 1:
        raise ValueError("export_training_shards: docs_per_shard must be >= 1")
    ntok = F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"\S+"), 0))
    # integer `div` (not `/` + cast): exact at any id magnitude
    sharded = docs.withColumn("shard", F.expr(f"{id_col} div {int(docs_per_shard)}"))
    sharded.repartition(F.col("shard")).write.mode("overwrite").partitionBy(
        "shard"
    ).json(path)
    return (
        sharded.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(ntok.cast("bigint")).alias("n_tokens"),
            F.sum(F.length(text_col).cast("bigint")).alias("n_chars"),
        )
    )
