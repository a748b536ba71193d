"""Structured Streaming embedding-ingestion operators (extension
surface; the reference has no streaming — SURVEY §2.11).

The production pattern these implement: a quantizer/codebook is FIT
OFFLINE (``ops.simsearch.kmeans_fit`` — fixed-point, bit-reproducible)
and newly-ingested vectors are ASSIGNED ONLINE as they arrive — routing
each embedding to its semantic cluster in-flight so downstream curation
(cluster caps, cluster-level quality gates, SemDeDup walks) sees a
labeled stream. Because the assignment math is the exact int64 algebra
of the batch fit, offline and online labels can never disagree — the
stream≡batch pytest pins that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EMBS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("label", T.IntegerType(), True),
    ]
)


def read_embeddings_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over an embeddings parquet dir."""
    reader = spark.readStream.schema(EMBS_RAW_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def stream_cluster_assign(
    embs: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Online nearest-centroid assignment against a frozen codebook —
    a stateless Arrow-batched projection (no watermark, no state store;
    Structured Streaming runs it per micro-batch exactly as batch
    would), delegating to :func:`ops.simsearch.assign_to_centroids` so
    the labels are bit-identical to a batch assignment with the same
    centroids. Emits ``(vec_id, cluster)``.
    """
    from graph_loom_spark.ops.simsearch import assign_to_centroids

    return assign_to_centroids(embs, centroids, id_col=id_col, vec_col=vec_col)


def stream_cluster_counts(
    embs: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Running per-cluster ingestion totals over the online assignment —
    the live twin of the cluster-level curation views
    (``ops.simsearch.cluster_quality_report``): vector count and the
    exact int64 quantized-squared-norm sum per cluster, maintained as
    an UPDATE-mode streaming aggregation with at most ``k`` state rows
    TOTAL regardless of stream volume. Both aggregates are
    incrementally mergeable integers, so stream-after-drain equals the
    batch replay exactly (pinned by the stream≡batch pytest). The norm
    sum is the drift monitor: a cluster whose incoming norm mass shifts
    signals the frozen codebook needs a re-fit.
    """
    from graph_loom_spark.ops.simsearch import assign_to_centroids, grid_sqnorm

    assigned = assign_to_centroids(
        embs.withColumn("__qn", grid_sqnorm(F.col(vec_col))),
        centroids,
        id_col=id_col,
        vec_col=vec_col,
        keep_cols=["__qn"],
    )
    return assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.sum("__qn").cast("bigint").alias("sum_qnorm"),
    )
