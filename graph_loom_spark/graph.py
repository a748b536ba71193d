"""PropertyGraph — the engine's data model: two DataFrames.

Reference data model (src/graph_utils/graph.rs:11-31): nodes and
relationships are hash maps of ``{id, label, metadata: map<string,string>}``
records; every property value is a string (graph.rs:7-8). Here the same
model is two DataFrames:

    nodes:  id STRING, label STRING, properties MAP<STRING,STRING>
    edges:  id STRING, src STRING, dst STRING, label STRING,
            properties MAP<STRING,STRING>

Scale notes: at 100 TB these are Parquet/Delta tables partitioned by
``label`` so ``:Label`` pattern filters become partition pruning; all
mutations are bulk set-operations (anti-joins / unions / map expressions)
that run fully on executors — no driver-side row loops.

Each write materializes the frame it changed as the graph's new
*version*, in one of two tiers (:meth:`PropertyGraph._swap`):

- **local** — a small frame's rows are collected into a driver-JVM
  ``LocalRelation``: no block to pin or free, exact size statistics,
  and reads and writes plan against rows already on the driver;
- **pinned** — past the cap, an eager ``localCheckpoint`` on the
  executors.

The cap is ``spark.sql.autoBroadcastJoinThreshold`` ÷ the schema's
``defaultSize`` (:func:`local_cap`): a frame the planner would
broadcast anyway. A threshold of ``-1`` turns the local tier off.

Rows the driver holds enter a plan as a ``LocalRelation`` through one of
two constructors: :func:`hold_local` for rows already in the JVM (a
collected version), :func:`local_frame` for rows in Python (a CREATE's
literals, the empty graph, an op's seed or offsets).

Invariants enforced (reference parity):
- edge endpoints must exist (graph.rs:51-66) — ``add_edges`` validates
  with one left-join count;
- deleting a node cascades to incident edges (graph.rs:145-162);
- a plain (non-detach) delete of a node with incident edges is an error
  (cypher_spec.rs:1235-1240: "use DETACH DELETE").
"""

from __future__ import annotations

import os
import time
from collections.abc import Iterable
from contextlib import contextmanager
from contextvars import ContextVar

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

NODE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType()), False),
    ]
)

EDGE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("src", T.StringType(), False),
        T.StructField("dst", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType()), False),
    ]
)

DEFAULT_LABEL = "_"  # reference: label defaults to "_" (cypher_spec.rs:1322)

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


_FRAME = {"node": "nodes", "rel": "edges"}  # entity kind -> PropertyGraph frame


def _id_set(ids_df: DataFrame) -> DataFrame:
    """The distinct ids in the first column of ``ids_df``, as column ``id``."""
    return ids_df.select(F.col(ids_df.columns[0]).alias("id")).distinct()


class GraphConsistencyError(ValueError):
    """Raised on FK violations / illegal deletes, mirroring reference errors."""


def _free_intermediates(spark, rdd_ids) -> None:
    """Unpersist exactly the RDD ids in ``rdd_ids`` (those a
    :class:`Scratch` pinned); cleanup never fails the caller."""
    try:
        # one lookup per id: copying the whole map costs a gateway round
        # trip per persisted RDD, on every statement of a served session
        persistent = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in rdd_ids:
            rdd = persistent.get(rid)
            if rdd is not None:
                rdd.unpersist()
    except Exception:
        pass  # cleanup must never fail the query


class Scratch:
    """The blocks one op (or one statement, or one memo value) pins,
    freed together by :meth:`release`. Every pinned block has exactly
    one such owner.

    Iterative operators (LPA, components, ranks, var-length BFS)
    ``localCheckpoint`` per round and persist their partitioned edge
    frames; those blocks otherwise stay pinned until the session ends,
    so a long-lived service (or a 47-query bench session) accumulates
    gigabytes of dead checkpoint state and every later query pays
    eviction + GC churn (measured: the same LPA run 38 s early-session
    vs 192 s late).

    The one rule: an op pins its intermediates in its own scope
    (:meth:`pin`, :meth:`persist`), which :func:`scratch` releases on
    every exit path, and pins what it hands back with :meth:`keep` (or
    the module-level :func:`keep`, for a function with no scope of its
    own), which records the block in the scope its caller has open —
    freed when that scope exits, or the caller's to free when none is
    open. Pinning for reuse across queries is the entry layer's memo
    alone, which builds each value in a :func:`root_scope`.

    Exact RDD ids are tracked rather than a diff of the global
    persistent-RDD set around the op: in a multi-query service the
    set-difference approach could free blocks some other in-flight
    operator had just pinned — local checkpoints are non-recomputable,
    so that's a hard job failure, not a cache miss. A checkpointed
    Dataset's analyzed plan is a ``LogicalRDD`` whose ``rdd`` field IS
    the persisted RDD, so its id keys ``getPersistentRDDs`` directly
    (``DataFrame.unpersist()`` on a checkpoint frees nothing)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.parent: Scratch | None = None  # the scope open when this one was entered
        self.rdd_ids: list[int] = []
        self._frames: list[DataFrame] = []

    def pin(self, df: DataFrame) -> DataFrame:
        """``localCheckpoint(eager=True)``, recording the block's RDD id."""
        df = df.localCheckpoint(eager=True)
        try:
            self.rdd_ids.append(df._jdf.queryExecution().analyzed().rdd().id())
        except Exception:
            pass  # tracking is best-effort; worst case the block stays pinned
        return df

    def keep(self, df: DataFrame) -> DataFrame:
        """Pin ``df``, the op's result, in the scope its caller has open
        (this scope's parent), so this scope's exit leaves it pinned."""
        return (self.parent or Scratch(self.spark)).pin(df)

    def persist(self, df: DataFrame, eager: bool = True) -> DataFrame:
        """``persist()`` — unlike a checkpoint it keeps the frame's
        ``outputPartitioning``, so aggregates on the partition key plan no
        exchange — materialized now when ``eager``, else by its first
        consumer."""
        df = df.persist()
        self._frames.append(df)
        if eager:
            df.count()
        return df

    def adopt(self, other: "Scratch") -> None:
        """Take over ``other``'s blocks, to be freed by this scope."""
        self.rdd_ids += other.rdd_ids
        self._frames += other._frames
        other.rdd_ids, other._frames = [], []

    def release(self) -> None:
        """Free every block pinned or persisted so far."""
        rdd_ids, self.rdd_ids = self.rdd_ids, []
        frames, self._frames = self._frames, []
        _free_intermediates(self.spark, rdd_ids)
        for df in frames:
            try:
                df.unpersist()
            except Exception:
                pass  # cleanup must never fail the query


_OPEN: ContextVar[Scratch | None] = ContextVar("graph_loom_open_scope", default=None)


def keep(df: DataFrame) -> DataFrame:
    """Pin ``df`` for a function with no scope of its own: the block is
    recorded in the scope open now (the caller's), or is the caller's to
    free when none is."""
    return (_OPEN.get() or Scratch(df.sparkSession)).pin(df)


@contextmanager
def _opened(s: Scratch):
    token = _OPEN.set(s)
    try:
        yield s
    finally:
        _OPEN.reset(token)


@contextmanager
def scratch(spark: SparkSession):
    """``with scratch(spark) as s:`` — an op's intermediates
    (:meth:`Scratch.pin`, :meth:`Scratch.persist`), released when the
    block exits, also when it raises. Scopes nest: the scope open on
    entry is this one's parent, where :meth:`Scratch.keep` pins."""
    s = Scratch(spark)
    s.parent = _OPEN.get()
    try:
        with _opened(s):
            yield s
    finally:
        s.release()


@contextmanager
def root_scope(spark: SparkSession):
    """``with root_scope(spark) as s:`` — a scope with no parent that
    outlives its block: what the block keeps lands in ``s``, which its
    holder (the entry layer's memo) releases. Released at once if the
    block raises."""
    s = Scratch(spark)
    try:
        with _opened(s):
            yield s
    except BaseException:
        s.release()
        raise


@contextmanager
def shuffle_partitions(spark: SparkSession, n: int):
    """Set the session-global ``spark.sql.shuffle.partitions`` to ``n``
    for the block and restore it on exit, also when it raises. Iterative
    ops size it from the data before building their pinned frames: the
    partitioning baked into those frames, and the task count of every
    round's shuffles, then match the data rather than the session."""
    old = spark.conf.get(_SHUFFLE_PARTITIONS)
    spark.conf.set(_SHUFFLE_PARTITIONS, str(n))
    try:
        yield
    finally:
        spark.conf.set(_SHUFFLE_PARTITIONS, old)


def partitions_for(n_rows: int, floor: int = 8) -> int:
    """The shuffle width an iterative op widens to (:func:`shuffle_partitions`):
    ~500k rows per partition, at least ``floor``. Their loops run several
    shuffle stages per round on modest frames, so task scheduling, not
    data, dominates when the width is oversized (measured in
    ``analytics.connected_components``); at cluster scale the width grows
    with the data."""
    return int(max(floor, n_rows // 500_000))


def local_cap(df: DataFrame) -> int:
    """Most rows of ``df`` the driver holds as a ``LocalRelation``:
    ``spark.sql.autoBroadcastJoinThreshold`` ÷ the schema's per-row
    ``defaultSize``; -1 when the threshold is -1 (tier off)."""
    threshold = df.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    if threshold < 0:
        return -1
    return min(threshold // max(1, df._jdf.schema().defaultSize()), 2**31 - 2)


def hold_local(df: DataFrame) -> DataFrame | None:
    """``df`` as a ``LocalRelation`` over its rows, collected in the
    driver JVM (they never cross py4j), or None when it has more than
    :func:`local_cap` rows. One task reads at most cap + 1 rows (a
    plain ``limit`` collect scans the partitions in growing rounds, a
    job each), so a frame past the cap costs one bounded probe.

    The constructor for rows already in the JVM; rows held in Python
    enter through :func:`local_frame`."""
    cap = local_cap(df)
    if cap < 0:
        return None
    rows = df._jdf.coalesce(1).limit(cap + 1).collectAsList()
    if rows.size() > cap:
        return None
    spark = df.sparkSession
    return DataFrame(spark._jsparkSession.createDataFrame(rows, df._jdf.schema()), spark)


def local_frame(spark: SparkSession, rows: Iterable[tuple], schema: T.StructType | str) -> DataFrame:
    """Rows held in Python (a CREATE's literal rows, a seed id, per-bucket
    offsets, centroids) as a frame with exactly ``schema`` (a
    ``StructType`` or a DDL string), nullability included.

    The rows travel as one Arrow table, typed by ``schema`` (a mistyped
    value raises), which Spark holds as a ``LocalRelation`` under
    ``spark.sql.execution.arrow.localRelationThreshold``: reading it
    runs no Spark job, where a Python-list ``createDataFrame`` is an
    RDD that starts a Python worker on every read. The constructor for
    rows in Python; rows already in the JVM enter through
    :func:`hold_local`."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    names = schema.fieldNames()
    table = pa.Table.from_pylist([dict(zip(names, row)) for row in rows], schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


def local_rows(df: DataFrame) -> int | None:
    """The row count of a frame held by :func:`hold_local`, else None."""
    plan = df._jdf.queryExecution().analyzed()
    return plan.data().size() if plan.nodeName() == "LocalRelation" else None


BROADCAST_ROWS_MAX = 5_000_000
"""Largest per-node (or per-frontier) frame an op hints as a broadcast:
a few long columns, ~80 MB at this size, which fits an executor
broadcast. Past it the op falls back to co-shuffled joins."""


def broadcast_if_small(n_rows: int):
    """``F.broadcast`` while a frame of ``n_rows`` fits
    :data:`BROADCAST_ROWS_MAX`, else the identity. The explicit hint
    matters because AQE converts such a join to broadcast only after
    paying the exchange stages on the data-sized side."""
    return F.broadcast if n_rows <= BROADCAST_ROWS_MAX else (lambda df: df)


class PropertyGraph:
    """A property graph backed by two DataFrames.

    The object is a mutable *handle*; the DataFrames themselves are
    immutable — every mutation swaps in a new, materialized *version*
    of the frame it changed (:meth:`_swap`): held on the driver as a
    ``LocalRelation`` while it fits :func:`local_cap` and its previous
    version was held too (an empty graph starts so;
    :meth:`cache_checkpoint` re-tries), else pinned with
    ``localCheckpoint``. A superseded pinned version is not freed at
    once, since the statement that replaced it may still read it: the
    graph's statement scope adopts it, :meth:`release` frees it with
    the statement's own pins (:meth:`pin`), and
    ``CypherSession.execute`` calls that once a statement's rows are
    collected.
    """

    def __init__(self, spark: SparkSession, nodes: DataFrame | None = None, edges: DataFrame | None = None):
        self.spark = spark
        self._node_sources: dict[str, DataFrame] = {}
        self._edge_sources: dict[str, DataFrame] = {}
        self._version: dict[str, Scratch] = {}  # frame name -> scope pinning its version
        # frame names whose version is a LocalRelation; an empty frame is one
        self._local = {name for name, df in (("nodes", nodes), ("edges", edges)) if df is None}
        self._pins = Scratch(spark)  # blocks the running statement may still read
        self.nodes = nodes if nodes is not None else local_frame(spark, [], NODE_SCHEMA)
        self.edges = edges if edges is not None else local_frame(spark, [], EDGE_SCHEMA)

    # ------------------------------------------------------------------
    # label-sliced sources (query fixed-overhead optimization)
    # ------------------------------------------------------------------
    # ``nodes``/``edges`` are plain unioned frames; every mutation swaps
    # them wholesale, so they are exposed as properties whose setters
    # drop the per-label source map — a stale slice can never survive a
    # mutation. Projections like io.tpch_graph.build_graph register the
    # per-label ORIGINAL frames (one parquet scan each): a ``:Label``
    # pattern then compiles against a single-scan plan instead of a
    # filter over the 7-branch union, which Catalyst would prune to the
    # same physical scan but only after paying full analysis/optimization
    # of the union tree ON EVERY QUERY (measured ~0.7 s/query of pure
    # planning at sf0.1).

    @property
    def nodes(self) -> DataFrame:
        return self._nodes

    @nodes.setter
    def nodes(self, df: DataFrame) -> None:
        self._nodes = df
        self._node_sources = {}

    @property
    def edges(self) -> DataFrame:
        return self._edges

    @edges.setter
    def edges(self, df: DataFrame) -> None:
        self._edges = df
        self._edge_sources = {}

    def register_label_sources(
        self,
        node_sources: dict[str, DataFrame] | None = None,
        edge_sources: dict[str, DataFrame] | None = None,
    ) -> None:
        """Attach per-label source frames equal to
        ``nodes/edges.filter(label == L)``. Caller guarantees equality;
        any mutation invalidates them automatically (setters above)."""
        if node_sources:
            self._node_sources = dict(node_sources)
        if edge_sources:
            self._edge_sources = dict(edge_sources)

    def nodes_for_label(self, label: str | None) -> DataFrame:
        if label is None:
            return self.nodes
        src = self._node_sources.get(label)
        if src is not None:
            return src
        return self.nodes.filter(F.col("label") == label)

    def edges_for_label(self, label: str | None) -> DataFrame:
        if label is None:
            return self.edges
        src = self._edge_sources.get(label)
        if src is not None:
            return src
        return self.edges.filter(F.col("label") == label)

    # ------------------------------------------------------------------
    # construction
    # ------------------------------------------------------------------
    @classmethod
    def empty(cls, spark: SparkSession) -> "PropertyGraph":
        return cls(spark)

    @classmethod
    def from_dataframes(cls, nodes: DataFrame, edges: DataFrame) -> "PropertyGraph":
        spark = nodes.sparkSession
        return cls(spark, nodes.select(*NODE_SCHEMA.fieldNames()), edges.select(*EDGE_SCHEMA.fieldNames()))

    # ------------------------------------------------------------------
    # bulk appends (the only way entities enter the graph)
    # ------------------------------------------------------------------
    def add_nodes(self, rows: Iterable[tuple[str, dict[str, str]]]) -> list[str]:
        """Append nodes from (label, properties) pairs; returns new ids.

        Driver-known row lists (the Cypher CREATE path — pattern literals,
        so always small). Bulk loads should build a DataFrame with
        ``uuid7_expr`` instead and use :meth:`add_nodes_df`.
        """
        rows = list(rows)
        if not rows:
            return []
        from graph_loom_spark.ids import uuid7_batch  # ids pins through this module

        ids = uuid7_batch(len(rows))
        df = local_frame(
            self.spark,
            [(i, lbl or DEFAULT_LABEL, dict(props or {})) for i, (lbl, props) in zip(ids, rows)],
            NODE_SCHEMA,
        )
        self.add_nodes_df(df)
        return ids

    def add_nodes_df(self, df: DataFrame) -> None:
        self._swap(nodes=self.nodes.unionByName(df.select(*NODE_SCHEMA.fieldNames())))

    def add_edges(
        self,
        rows: Iterable[tuple[str, str, str, dict[str, str]]],
        check_endpoints: bool = True,
    ) -> list[str]:
        """Append edges from (src, dst, label, properties) tuples.

        Endpoint existence is validated with one left-join count
        (reference rejects edges whose endpoints don't exist,
        graph.rs:51-66).
        """
        rows = list(rows)
        if not rows:
            return []
        from graph_loom_spark.ids import uuid7_batch  # ids pins through this module

        ids = uuid7_batch(len(rows))
        df = local_frame(
            self.spark,
            [(i, s, d, lbl or DEFAULT_LABEL, dict(props or {})) for i, (s, d, lbl, props) in zip(ids, rows)],
            EDGE_SCHEMA,
        )
        self.add_edges_df(df, check_endpoints=check_endpoints)
        return ids

    def add_edges_df(self, df: DataFrame, check_endpoints: bool = True) -> None:
        df = df.select(*EDGE_SCHEMA.fieldNames())
        if check_endpoints:
            # one action: left-join each endpoint to the node ids and count
            # the rows with a miss (node ids are unique: no row fans out)
            def found(end: str) -> DataFrame:
                return self.nodes.select(F.col("id").alias(end), F.lit(True).alias(f"_{end}"))

            dangling = (
                df.join(found("src"), "src", "left")
                .join(found("dst"), "dst", "left")
                .agg(F.count(F.when(F.col("_src").isNull() | F.col("_dst").isNull(), 1)))
                .first()[0]
            )
            if dangling:
                raise GraphConsistencyError(
                    f"add_edges: {dangling} edge(s) reference nonexistent endpoint node(s)"
                )
        self._swap(edges=self.edges.unionByName(df))

    # ------------------------------------------------------------------
    # deletes and property / label mutations (reference graph.rs:68-162)
    # ------------------------------------------------------------------
    # Each public method is its count-free core (the same name with a
    # leading underscore, which the Cypher compiler calls: its replies
    # carry no counts) plus the count it returns, taken on the pinned
    # versions.
    def delete_edges_by_ids(self, ids_df: DataFrame) -> int:
        """Anti-join delete; returns number of edges removed."""
        before = self.edges.count()
        self._delete_edges(ids_df)
        return before - self.edges.count()

    def _delete_edges(self, ids_df: DataFrame) -> None:
        self._swap(edges=self.edges.join(_id_set(ids_df), "id", "left_anti"))

    def delete_nodes_by_ids(self, ids_df: DataFrame, detach: bool = False) -> tuple[int, int]:
        """Delete nodes; returns (nodes_removed, edges_removed).

        With ``detach=False`` raises if any target has incident edges
        (reference M4). With ``detach=True`` cascades to incident edges.
        """
        if not detach:
            incident = self.edges.join(
                _id_set(ids_df).withColumnRenamed("id", "_del"),
                (F.col("src") == F.col("_del")) | (F.col("dst") == F.col("_del")),
                "left_semi",
            )
            if not incident.isEmpty():
                raise GraphConsistencyError(
                    "cannot delete node(s) with relationships; use DETACH DELETE"
                )
        nodes_before, edges_before = self.nodes.count(), self.edges.count()
        self._delete_nodes(ids_df)
        return nodes_before - self.nodes.count(), edges_before - self.edges.count()

    def _delete_nodes(self, ids_df: DataFrame) -> None:
        """Remove the nodes and, cascading, every edge with an endpoint
        among them (graph.rs:145-162): anti-joins on src and on dst (the
        join keys move to the front, so the schema order is restored)."""
        ids_df = _id_set(ids_df)
        edges = self.edges.join(ids_df.withColumnRenamed("id", "src"), "src", "left_anti").join(
            ids_df.withColumnRenamed("id", "dst"), "dst", "left_anti"
        )
        self._swap(
            nodes=self.nodes.join(ids_df, "id", "left_anti"),
            edges=edges.select(*EDGE_SCHEMA.fieldNames()),
        )

    def upsert_property(self, kind: str, ids_df: DataFrame, key: str, value: str) -> int:
        """SET var.prop = value on all ids in ``ids_df``; returns touched count.

        Compiles to ``map_filter`` (drop the key) + ``map_concat`` (add the
        new value) — upsert semantics independent of the session's
        ``spark.sql.mapKeyDedupPolicy`` (the default EXCEPTION policy
        would throw on a plain map_concat when the key already exists,
        and PropertyGraph accepts any caller-built SparkSession).
        """
        return self._touched(kind, self._upsert_property(kind, ids_df, key, value))

    def _upsert_property(self, kind: str, ids_df: DataFrame, key: str, value: str) -> DataFrame:
        upserted = F.map_concat(
            F.map_filter("properties", lambda k, _: k != F.lit(key)),
            F.create_map(F.lit(key), F.lit(value)),
        )
        return self._mark(kind, ids_df, "properties", upserted)

    def remove_property(self, kind: str, ids_df: DataFrame, key: str) -> int:
        return self._touched(kind, self._remove_property(kind, ids_df, key))

    def _remove_property(self, kind: str, ids_df: DataFrame, key: str) -> DataFrame:
        dropped = F.map_filter("properties", lambda k, _: k != F.lit(key))
        return self._mark(kind, ids_df, "properties", dropped)

    def set_label(self, kind: str, ids_df: DataFrame, label: str) -> int:
        """SET n:NewLabel — *replaces* the single label (graph.rs:68-75)."""
        return self._touched(kind, self._set_label(kind, ids_df, label))

    def _set_label(self, kind: str, ids_df: DataFrame, label: str) -> DataFrame:
        return self._mark(kind, ids_df, "label", F.lit(label))

    def _mark(self, kind: str, ids_df: DataFrame, col: str, value: Column) -> DataFrame:
        """Set ``col`` to ``value`` on the rows of ``kind`` whose id is in
        ``ids_df``; returns the id set."""
        name = _FRAME.get(kind)
        if name is None:
            raise ValueError(f"unknown entity kind: {kind}")
        ids_df = _id_set(ids_df)
        marked = getattr(self, name).join(ids_df.withColumn("_hit", F.lit(True)), "id", "left")
        self._swap(
            **{name: marked.withColumn(col, F.when(F.col("_hit"), value).otherwise(F.col(col))).drop("_hit")}
        )
        return ids_df

    def _touched(self, kind: str, ids_df: DataFrame) -> int:
        return ids_df.join(getattr(self, _FRAME[kind]), "id", "left_semi").count()

    # ------------------------------------------------------------------
    # lineage control
    # ------------------------------------------------------------------
    @staticmethod
    def _hold(df: DataFrame, scope: Scratch, local: bool) -> tuple[DataFrame, bool]:
        """Materialize ``df``: held on the driver by :func:`hold_local`
        when ``local`` and it fits the cap, else pinned in ``scope``.
        Returns the frame and whether it is held locally."""
        held = hold_local(df) if local else None
        return (held, True) if held is not None else (scope.pin(df), False)

    def _swap(self, **frames: DataFrame) -> None:
        """Swap in new versions of ``nodes`` and/or ``edges``. Each is
        materialized once (:meth:`_hold`): on the local tier while the
        frame's current version is local and the new one fits the cap,
        else pinned in a scope of its own, so a graph that outgrows the
        cap re-runs that one write's plan and stays pinned. A superseded
        version's scope is handed to the statement scope for
        :meth:`release`. Unmaterialized, every read and later write would
        re-run the mutation chain — twice per SET, whose id set comes from
        the binding table over the previous version — so plans and job
        counts grew with every write."""
        for name, df in frames.items():
            version = Scratch(self.spark)
            held, local = self._hold(df, version, name in self._local)
            if not local:
                self._local.discard(name)
            old = self._version.pop(name, None)
            if old is not None:
                self._pins.adopt(old)
            self._version[name] = version
            setattr(self, name, held)

    def cache_checkpoint(self) -> None:
        """Materialize the current ``nodes`` and ``edges`` as the graph's
        versions, trying the local tier for both (e.g. after a bulk load,
        so the first statements read a one-node plan; or to bring a
        graph that shrank back under the cap)."""
        self._local = {"nodes", "edges"}
        self._swap(nodes=self.nodes, edges=self.edges)

    def pin(self, df: DataFrame) -> DataFrame:
        """Materialize a frame the running statement reads (an id set, a
        traversal's pairs, a binding table to mint ids for): held on the
        driver while both graph versions are local and it fits the cap,
        else eagerly pinned, to be freed by :meth:`release` with the
        retired versions."""
        return self._hold(df, self._pins, self._local >= {"nodes", "edges"})[0]

    def release(self) -> None:
        """Free the retired versions and the statement pins. Call it once
        nothing reads them any more: after a statement's rows are
        collected (``CypherSession.execute`` does). A frame taken from
        ``nodes``/``edges`` before a write is one of them."""
        self._pins.release()

    def forget_pins(self) -> None:
        """Stop tracking the current versions and the retired pins without
        freeing any: a lazy frame that outlives its statement reads them
        (``CypherSession.execute_df``), so they stay pinned for the
        session's life."""
        self._version = {}
        self._pins = Scratch(self.spark)

    # ------------------------------------------------------------------
    # persistence (reference S5/S6: snapshot load/save, versioned)
    # ------------------------------------------------------------------
    def save(self, path: str, versioned: bool = False) -> str:
        """Write nodes/edges parquet under ``path`` (optionally a timestamped
        version subdir, mirroring the reference's versioned RON snapshots,
        persist.rs:89-131). Returns the directory written."""
        target = path
        if versioned:
            target = os.path.join(path, "versions", time.strftime("%Y%m%dT%H%M%S"))
        self.nodes.write.mode("overwrite").parquet(os.path.join(target, "nodes"))
        self.edges.write.mode("overwrite").parquet(os.path.join(target, "edges"))
        return target

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "PropertyGraph":
        return cls(
            spark,
            spark.read.schema(NODE_SCHEMA).parquet(os.path.join(path, "nodes")),
            spark.read.schema(EDGE_SCHEMA).parquet(os.path.join(path, "edges")),
        )

    @staticmethod
    def list_versions(path: str) -> list[str]:
        vdir = os.path.join(path, "versions")
        if not os.path.isdir(vdir):
            return []
        return sorted(os.listdir(vdir))

    def diff(self, other: "PropertyGraph") -> dict:
        """Snapshot diff vs another graph (e.g. an earlier saved
        version): ``{"nodes_added", "nodes_removed", "nodes_changed",
        "edges_added", "edges_removed", "edges_changed"}`` — each a
        DataFrame. "Changed" = same id, different label or properties
        (edges additionally compare endpoints).

        The natural companion of versioned snapshots (S6): auditing what
        a batch of mutations did, or reviewing drift between two loads.
        Shape: per frame, one full-row anti-join each way on id (AQE
        broadcasts the smaller snapshot side) and one id-equijoin with a
        row-inequality filter — three keyed passes, no collects, so a
        100 TB snapshot pair diffs at scan speed.
        """

        # MapType is not comparable in Spark; canonicalize the properties
        # map to a key-sorted entry array (orderable, equality-safe)
        props_canon = F.array_sort(
            F.transform(
                F.map_entries("properties"),
                lambda e: F.struct(e["key"].alias("k"), e["value"].alias("v")),
            )
        )

        def _three(a: DataFrame, b: DataFrame, cols: list[str]):
            added = a.join(b.select("id"), "id", "left_anti")
            removed = b.join(a.select("id"), "id", "left_anti")
            cmp_cols = [
                props_canon.alias("properties") if c == "properties" else F.col(c)
                for c in cols
            ]
            pa = a.select("id", F.struct(*cmp_cols).alias("__a"))
            pb = b.select("id", F.struct(*cmp_cols).alias("__b"))
            changed_ids = (
                pa.join(pb, "id").filter(F.col("__a") != F.col("__b")).select("id")
            )
            # output the ORIGINAL rows (map-typed properties), not the
            # canonicalized comparison payload
            changed = a.join(changed_ids, "id", "left_semi")
            return added, removed, changed

        na, nr, nc = _three(self.nodes, other.nodes, ["label", "properties"])
        ea, er, ec = _three(
            self.edges, other.edges, ["src", "dst", "label", "properties"]
        )
        return {
            "nodes_added": na,
            "nodes_removed": nr,
            "nodes_changed": nc,
            "edges_added": ea,
            "edges_removed": er,
            "edges_changed": ec,
        }

    # ------------------------------------------------------------------
    # catalog helpers (reference G6)
    # ------------------------------------------------------------------
    def node_labels(self) -> DataFrame:
        return self.nodes.select("label").distinct()

    def edge_labels(self) -> DataFrame:
        return self.edges.select("label").distinct()

    def property_keys(self) -> DataFrame:
        return (
            self.nodes.select(F.explode(F.map_keys("properties")).alias("key"))
            .union(self.edges.select(F.explode(F.map_keys("properties")).alias("key")))
            .distinct()
        )
