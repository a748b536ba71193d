"""Deterministic property-graph projection of the driver's TPC-H-ish tables.

Implements FIXTURES.md §5: each table becomes a node label with all
columns stringified into the properties map; FK columns become edges.
Ids are deterministic surrogates (``<prefix>:<zero-padded key>``) so the
DuckDB oracle can reconstruct them with ``lpad`` — and, being fixed-width
with a label prefix, they sort deterministically like the reference's
UUIDv7 ids sort by creation order within a bulk load.

Scale notes: the projection is a set of per-table ``select`` +
``create_map`` expressions — no shuffle at all; edges are pure column
renames of FK pairs. At 100 TB the node/edge frames stay partitioned by
their source table's layout, and the `label` column enables partition
pruning once persisted with ``.write.partitionBy("label")``.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graph_loom_spark.graph import PropertyGraph

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# (label, table, prefix, key columns)
_NODE_SPECS = [
    ("Region", "region", "R", ["r_regionkey"]),
    ("Nation", "nation", "N", ["n_nationkey"]),
    ("Customer", "customer", "C", ["c_custkey"]),
    ("Supplier", "supplier", "S", ["s_suppkey"]),
    ("Part", "part", "P", ["p_partkey"]),
    ("Order", "orders", "O", ["o_orderkey"]),
    ("Lineitem", "lineitem", "L", ["l_orderkey", "l_linenumber"]),
]

# (edge label, src table, src prefix, src keys, dst prefix, dst keys)
_EDGE_SPECS = [
    ("IN_REGION", "nation", "N", ["n_nationkey"], "R", ["n_regionkey"]),
    ("FROM_NATION", "customer", "C", ["c_custkey"], "N", ["c_nationkey"]),
    ("FROM_NATION", "supplier", "S", ["s_suppkey"], "N", ["s_nationkey"]),
    ("PLACED", "orders", "C", ["o_custkey"], "O", ["o_orderkey"]),
    ("HAS_LINE", "lineitem", "O", ["l_orderkey"], "L", ["l_orderkey", "l_linenumber"]),
    ("OF_PART", "lineitem", "L", ["l_orderkey", "l_linenumber"], "P", ["l_partkey"]),
    ("SUPPLIED_BY", "lineitem", "L", ["l_orderkey", "l_linenumber"], "S", ["l_suppkey"]),
]


def surrogate_id(prefix: str, key_cols: list[str]):
    """``P:000000000042[:...]`` — fixed-width so string order == key order.

    DuckDB equivalent: ``'P:' || lpad(CAST(k AS VARCHAR), 12, '0')``.
    """
    parts = [F.lit(prefix)]
    for k in key_cols:
        parts.append(F.lit(":"))
        parts.append(F.lpad(F.col(k).cast("string"), 12, "0"))
    return F.concat(*parts)


def surrogate_id_sql(prefix: str, key_exprs: list[str]) -> str:
    """The matching DuckDB SQL expression for :func:`surrogate_id`."""
    parts = [f"'{prefix}'"]
    for k in key_exprs:
        parts.append(f"':' || lpad(CAST({k} AS VARCHAR), 12, '0')")
    return " || ".join(parts)


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    return {t: spark.read.parquet(f"{sf_dir}/{t}.parquet") for t in (names or TABLES)}


# The synthetic lineitem violates its nominal PK: (l_orderkey, l_linenumber)
# has duplicates (full rows are distinct). A colliding node id would
# multiply every join through a Lineitem node, so each row gets a
# deterministic per-PK-group sequence number (row_number ordered by the
# remaining columns — well-defined because full rows are distinct). One
# extra shuffle keyed by the PK, done once at projection time; group sizes
# are tiny (≤ a handful of dups per key) so there is no skew at scale.
_LSEQ = "__lseq"


def _with_lineitem_seq(li: DataFrame) -> DataFrame:
    others = [c for c in li.columns if c not in ("l_orderkey", "l_linenumber")]
    w = Window.partitionBy("l_orderkey", "l_linenumber").orderBy(*[F.col(c) for c in others])
    return li.withColumn(_LSEQ, F.row_number().over(w))


# sf_dir → parquet path of the materialized lineitem-with-seq table.
# The seq window is the ONLY shuffle in the projection, and without
# materialization it re-executes inside every Cypher query that touches
# Lineitem. Writing it once per session keeps later queries on a plain
# parquet scan — predicate pushdown and column pruning still reach the
# raw columns (unlike materializing the unioned MapType node/edge
# frames, which would hide them behind a map). At cluster scale the
# path would live on shared storage; one temp dir per process, removed
# at interpreter exit, is the local equivalent.
_LSEQ_CACHE: dict[str, str] = {}
_LSEQ_DIR: list[str] = []  # this process's temp dir, once made


def _lseq_dir() -> str:
    """The process's directory for the materialized tables: made on first
    use and removed by :func:`_remove_lseq_dir` at interpreter exit."""
    if not _LSEQ_DIR:
        _LSEQ_DIR.append(tempfile.mkdtemp(prefix="gls_liseq_"))
        atexit.register(_remove_lseq_dir)
    return _LSEQ_DIR[0]


def _remove_lseq_dir() -> None:
    if _LSEQ_DIR:
        shutil.rmtree(_LSEQ_DIR.pop(), ignore_errors=True)
        _LSEQ_CACHE.clear()


def _lineitem_with_seq_cached(spark: SparkSession, sf_dir: str, li: DataFrame) -> DataFrame:
    path = _LSEQ_CACHE.get(sf_dir)
    if path is None:
        path = os.path.join(_lseq_dir(), f"{len(_LSEQ_CACHE)}", "lineitem_seq.parquet")
        _with_lineitem_seq(li).write.mode("overwrite").parquet(path)
        _LSEQ_CACHE[sf_dir] = path
    return spark.read.parquet(path)


def _node_id(prefix: str, keys: list[str], table: str):
    base = surrogate_id(prefix, keys)
    if prefix == "L" and table == "lineitem":
        return F.concat(base, F.lit(":"), F.lpad(F.col(_LSEQ).cast("string"), 4, "0"))
    return base


def _props_map(df: DataFrame):
    pairs = []
    for c in df.columns:
        if c == _LSEQ:
            continue
        pairs.append(F.lit(c))
        pairs.append(F.col(c).cast("string"))
    return F.create_map(*pairs)


def build_graph(spark: SparkSession, sf_dir: str, cache: bool = True) -> PropertyGraph:
    """Project the star schema into canonical ``nodes``/``edges`` frames.

    Pure narrow transformations (no shuffle); each per-table frame keeps
    its parquet partitioning. ``cache=True`` persists the unioned frames
    for repeated queries within one session.
    """
    tables = load_tables(
        spark, sf_dir, [t for t in TABLES if t not in ("events", "documents", "embeddings")]
    )
    tables["lineitem"] = _lineitem_with_seq_cached(spark, sf_dir, tables["lineitem"])
    node_parts: dict[str, DataFrame] = {}
    for label, table, prefix, keys in _NODE_SPECS:
        df = tables[table]
        node_parts[label] = df.select(
            _node_id(prefix, keys, table).alias("id"),
            F.lit(label).alias("label"),
            _props_map(df).alias("properties"),
        )
    parts = list(node_parts.values())
    nodes = parts[0]
    for p in parts[1:]:
        nodes = nodes.unionByName(p)

    edge_parts: dict[str, DataFrame] = {}
    for elabel, table, sp, sk, dp, dk in _EDGE_SPECS:
        df = tables[table]
        part = df.select(
            F.concat(
                F.lit("E:"), F.lit(elabel), F.lit(":"), _node_id(sp, sk, table),
                F.lit(">"), _node_id(dp, dk, table),
            ).alias("id"),
            _node_id(sp, sk, table).alias("src"),
            _node_id(dp, dk, table).alias("dst"),
            F.lit(elabel).alias("label"),
            F.map_from_arrays(
                F.array().cast("array<string>"), F.array().cast("array<string>")
            ).alias("properties"),
        )
        # same label can come from several tables (FROM_NATION)
        edge_parts[elabel] = (
            part if elabel not in edge_parts else edge_parts[elabel].unionByName(part)
        )
    eparts = list(edge_parts.values())
    edges = eparts[0]
    for p in eparts[1:]:
        edges = edges.unionByName(p)

    if cache:
        nodes = nodes.cache()
        edges = edges.cache()
    g = PropertyGraph(spark, nodes, edges)
    if not cache:
        # per-label single-scan slices: a `:Label` pattern compiles
        # against one parquet scan instead of the pruned 7-branch union
        # (cuts per-query Catalyst planning ~3×; see PropertyGraph
        # docstring). Skipped when caching — the cached union IS the
        # fast path then, and the slices would bypass it.
        g.register_label_sources(node_parts, edge_parts)
    return g
