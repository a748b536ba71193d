"""Binding-table compiler: clause list → DataFrame plan + graph mutations.

The executor folds clauses left-to-right over a *binding table* — a
DataFrame with one id column per bound pattern variable (`v_<name>`),
mirroring the reference's ``rows: Vec<HashMap<var, NodeId|RelId>>``
(src/gql/cypher_spec.rs:751-753) — but each expansion compiles to
DataFrame joins/filters that Catalyst optimizes and executes across the
cluster, instead of the reference's row-at-a-time nested loops.

Variable kinds (node vs relationship) are static per column, so the
reference's per-row ``matches!(Val::NodeId…)`` checks become compile-time
branches. Semantic quirks reproduced on purpose (oracle parity):

- OPTIONAL MATCH executes as plain MATCH (reference discards the flag).
- WHERE is fail-open: an unrecognized conjunct keeps the row
  (cypher_spec.rs:1140-1142).
- Inline props on 1-hop/var-length path *endpoints* are compared raw,
  without $param resolution (cypher_spec.rs:901-907, 803-810); node-only
  patterns and rel props DO resolve params.
- Var-length traversal is shortest-depth-only (BFS seen-set), capped at
  8 hops, binds endpoints only, and errors on rel props
  (cypher_spec.rs:790-883).
- RETURN: multi-item projections flatten to one output row per item;
  DISTINCT / ORDER BY / SKIP / LIMIT apply only when a single item is
  projected (cypher_spec.rs:1389-1515). A projected missing property
  emits no row.
- WITH carries only bare variables; its DISTINCT is parsed and ignored
  (cypher_spec.rs:1146-1219).
"""

from __future__ import annotations

import operator
import time
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from graph_loom_spark.analytics import _frontier_bfs
from graph_loom_spark.cypher import ast
from graph_loom_spark.cypher.ast import CypherError
from graph_loom_spark.cypher.coerce import compare_expr, numeric_first_sort_cols
from graph_loom_spark.cypher.parser import parse, resolve_param, trim_quotes
from graph_loom_spark.graph import (
    DEFAULT_LABEL, PropertyGraph, local_frame, partitions_for, scratch, shuffle_partitions,
)
from graph_loom_spark.ids import assign_uuid7_ids

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),  # 'node' | 'rel' | 'info'
        T.StructField("id", T.StringType(), True),
        T.StructField("src", T.StringType(), True),
        T.StructField("dst", T.StringType(), True),
        T.StructField("label", T.StringType(), True),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("info", T.StringType(), True),
    ]
)

def _null_s() -> Column:
    return F.lit(None).cast("string")


def _null_m() -> Column:
    return F.lit(None).cast("map<string,string>")


def props_map_lit(props: dict[str, str]) -> Column:
    if not props:
        return F.map_from_arrays(F.array().cast("array<string>"), F.array().cast("array<string>"))
    pairs: list[Column] = []
    for k, v in props.items():
        pairs.extend([F.lit(k), F.lit(v)])
    return F.create_map(*pairs)


def _vcol(var: str) -> str:
    return f"v_{var}"


def _c(name: str) -> Column:
    return F.col(name)


class _Binding:
    """Binding table: DataFrame + static var→kind map. The constant `__1`
    column keeps the frame non-degenerate (a projection to zero variables
    must still preserve row multiplicity, reference WITH semantics).

    ``labels`` records the statically-known label of each bound variable
    (from the pattern that bound it). It is a pure optimization hint:
    joins back to nodes/edges pre-filter by it, which lets Catalyst prune
    the per-label union branches down to single table scans instead of
    scanning every source table. ``None`` = unknown, scan all."""

    def __init__(self, df: DataFrame, kinds: dict[str, str]):
        self.df = df
        self.kinds = kinds
        self.labels: dict[str, str | None] = {}

    @classmethod
    def unit(cls, spark) -> "_Binding":
        return cls(spark.range(1).select(F.lit(1).alias("__1")), {})

    def empty(self) -> None:
        self.df = self.df.limit(0)


class CypherExecutor:
    """Executes one Cypher statement against a PropertyGraph; RETURN
    produces a DataFrame in RESULT_SCHEMA (collected by the caller)."""

    def __init__(self, graph: PropertyGraph):
        self.graph = graph
        self.spark = graph.spark

    def _nodes_hinted(self, b: "_Binding", var: str) -> DataFrame:
        """Nodes frame pre-filtered by the var's statically-known label
        (union-branch pruning); falls back to the full frame."""
        lbl = b.labels.get(var)
        return self.graph.nodes_for_label(lbl)

    def _edges_hinted(self, b: "_Binding", var: str) -> DataFrame:
        lbl = b.labels.get(var)
        return self.graph.edges_for_label(lbl)

    # ------------------------------------------------------------- entry
    def execute(self, statement: str, params: dict[str, str] | None = None) -> DataFrame:
        params = params or {}
        clauses = parse(statement)
        b = _Binding.unit(self.spark)
        prev = None
        for cl in clauses:
            if isinstance(cl, ast.Match):
                self._exec_match(b, cl, params)
            elif isinstance(cl, ast.Where):
                self._exec_where(b, cl.raw, params)
            elif isinstance(cl, ast.With):
                self._exec_with(b, cl)
            elif isinstance(cl, ast.Create):
                self._exec_create(b, cl, params)
            elif isinstance(cl, ast.Merge):
                self._exec_merge(b, cl, params)
            elif isinstance(cl, ast.Delete):
                self._exec_delete(b, cl)
            elif isinstance(cl, ast.SetClause):
                # MATCH .. SET without RETURN parses into two identical
                # SetClauses (reference quirk, kept in the parser); the
                # binding is unchanged between them and constant
                # assignments are idempotent, so the repeat is skipped
                if not (isinstance(prev, ast.SetClause) and prev.items == cl.items):
                    self._exec_set(b, cl)
            elif isinstance(cl, ast.RemoveClause):
                self._exec_remove(b, cl)
            elif isinstance(cl, ast.Return):
                return self._exec_return(b, cl)
            prev = cl
        return self._dump_bindings(b)

    def _empty_result(self) -> DataFrame:
        return local_frame(self.spark, [], RESULT_SCHEMA)

    # ---------------------------------------------------------- matching
    def _nodes_matching(self, np: ast.NodePattern, params: dict[str, str] | None) -> DataFrame:
        """Label + exact-property scan (S1). ``params=None`` → raw compare
        (path endpoints); else $param-resolved (node-only patterns)."""
        df = self.graph.nodes_for_label(np.label)
        for k, vraw in np.props.items():
            v = resolve_param(vraw, params) if params is not None else vraw
            df = df.filter(F.col("properties")[k] == v)
        return df

    def _edges_matching(self, typ: str | None, props: dict[str, str], params: dict[str, str] | None) -> DataFrame:
        df = self.graph.edges_for_label(typ)
        for k, vraw in props.items():
            v = resolve_param(vraw, params) if params is not None else vraw
            df = df.filter(F.col("properties")[k] == v)
        return df

    def _exec_match(self, b: _Binding, cl: ast.Match, params: dict[str, str]) -> None:
        # OPTIONAL flag intentionally ignored (reference cypher_spec.rs:761)
        for p in cl.patterns:
            if isinstance(p, ast.NodeOnly):
                self._expand_node(b, p.node, params)
            elif p.rel.is_var_length:
                self._expand_var_length(b, p)
            else:
                self._expand_one_hop(b, p, params)

    def _expand_node(self, b: _Binding, np: ast.NodePattern, params: dict[str, str]) -> None:
        matches = self._nodes_matching(np, params)
        if np.var is None:
            # anonymous: multiply rows by match count, bind nothing
            b.df = b.df.crossJoin(matches.select(F.lit(1).alias("__m"))).drop("__m")
            return
        if np.var in b.kinds:
            if b.kinds[np.var] != "node":
                b.empty()
                return
            b.df = b.df.join(
                matches.select(F.col("id").alias(_vcol(np.var))), _vcol(np.var), "left_semi"
            )
            return
        b.df = b.df.crossJoin(matches.select(F.col("id").alias(_vcol(np.var))))
        b.kinds[np.var] = "node"
        b.labels[np.var] = np.label

    def _one_hop_triples(self, p: ast.PathPattern, params: dict[str, str]) -> DataFrame:
        """All (__a, __r, __b) matches of a 1-hop path (J1/J2). Endpoint
        props compared raw (no param resolution), rel props resolved —
        reference asymmetry (cypher_spec.rs:888-907)."""
        e = self._edges_matching(p.rel.typ, p.rel.props, params)

        def orient(a_col: str, b_col: str) -> DataFrame:
            t = e.select(
                F.col("id").alias("__r"), F.col(a_col).alias("__a"), F.col(b_col).alias("__b")
            )
            lp, rp = p.left, p.right
            if lp.label is not None or lp.props:
                la = self._nodes_matching(lp, None).select(F.col("id").alias("__a"))
                t = t.join(la, "__a", "left_semi")
            if rp.label is not None or rp.props:
                rb = self._nodes_matching(rp, None).select(F.col("id").alias("__b"))
                t = t.join(rb, "__b", "left_semi")
            return t

        trip = orient("src", "dst")
        if not p.rel.right:
            # undirected: both orientations, duplicates kept (reference J2)
            trip = trip.unionByName(orient("dst", "src"))
        return trip

    def _expand_one_hop(self, b: _Binding, p: ast.PathPattern, params: dict[str, str]) -> None:
        lv, rv, bv = p.left.var, p.rel.var, p.right.var
        # rel var colliding with a node var can never bind (kind mismatch)
        if rv is not None and (rv == lv or rv == bv):
            b.empty()
            return
        trip = self._one_hop_triples(p, params)
        if lv is not None and bv is not None and lv == bv:
            trip = trip.filter(F.col("__a") == F.col("__b"))

        conds: list[Column] = []
        new_vars: dict[str, tuple[str, str]] = {}  # var -> (trip col, kind)
        for tcol, var, kind in (("__a", lv, "node"), ("__r", rv, "rel"), ("__b", bv, "node")):
            if var is None:
                continue
            if var in b.kinds and var not in new_vars:
                if b.kinds[var] != kind:
                    b.empty()
                    return
                conds.append(_c(_vcol(var)) == _c(tcol))
            else:
                new_vars[var] = (tcol, kind)
        if conds:
            joined = b.df.join(trip, reduce(lambda x, y: x & y, conds), "inner")
        else:
            joined = b.df.crossJoin(trip)
        pat_labels = {"__a": p.left.label, "__r": p.rel.typ, "__b": p.right.label}
        sel = [F.col(c) for c in b.df.columns]
        for var, (tcol, kind) in new_vars.items():
            sel.append(F.col(tcol).alias(_vcol(var)))
            b.kinds[var] = kind
            b.labels[var] = pat_labels[tcol]
        b.df = joined.select(*sel)

    def _expand_var_length(self, b: _Binding, p: ast.PathPattern) -> None:
        """J4: BFS frontier joins with shortest-depth-only emission, hop cap
        8, endpoints-only binding (reference cypher_spec.rs:790-883)."""
        rel = p.rel
        if rel.props:
            raise CypherError("variable-length relationships with properties not supported yet")
        min_hops = rel.min_len if rel.min_len is not None else 1
        cap = 8
        max_hops = min(rel.max_len if rel.max_len is not None else cap, cap)

        starts = self._nodes_matching(p.left, None).select(F.col("id").alias("__start"))
        ends = self._nodes_matching(p.right, None).select(F.col("id").alias("__node"))
        ef = self._edges_matching(rel.typ, {}, None).select(
            F.col("src").alias("__u"), F.col("dst").alias("__v")
        )
        adj = ef if rel.right else ef.unionByName(
            self._edges_matching(rel.typ, {}, None).select(
                F.col("dst").alias("__u"), F.col("src").alias("__v")
            )
        )
        # The BFS runs on xxhash64 surrogates of the node ids: every hop
        # shuffles (start, node) pairs through distinct + anti-join, and
        # 8-byte longs stay in vectorized hash aggregation where the
        # ~30-byte string ids forced object-hash/sort fallbacks (same
        # lever as connected_components). Start/end hashes are mapped
        # back to string ids after the traversal; ids are unique, so the
        # map is 1:1 (a 64-bit collision needs ~2^32 nodes to be likely).
        sh = starts.select(
            F.col("__start").alias("__start_s"), F.xxhash64("__start").alias("__start")
        )
        eh = ends.select(F.col("__node").alias("__node_s"), F.xxhash64("__node").alias("__node"))
        adj = adj.select(F.xxhash64("__u").alias("__u"), F.xxhash64("__v").alias("__v"))
        spark = self.graph.nodes.sparkSession
        with scratch(spark) as s:
            if max_hops <= 2:
                # Short walks: one fused declarative plan instead of the
                # frontier BFS, whose loop costs 4 driver actions for a
                # 2-hop walk (per-hop checkpoint + count, plus the final pin); here
                # hop-1 = starts⋈adj, hop-2 = hop-1⋈adj, and the per-node
                # BFS depth falls out of groupBy(start, node).min(depth) over
                # the depth-tagged union — min over all ≤2-walks IS the
                # first-reached depth, so the distinct→anti-join frontier
                # bookkeeping is unnecessary. Single action (the result pin);
                # Catalyst reuses the hop-1 exchange for the hop-2 probe and
                # AQE picks broadcast sides at runtime.
                seed = sh.select(
                    "__start", F.col("__start").alias("__node"), F.lit(0).alias("__depth")
                )
                h1 = (
                    sh.select("__start", F.col("__start").alias("__node"))
                    .join(adj, F.col("__node") == adj["__u"])
                    .select("__start", F.col("__v").alias("__node"))
                    .distinct()
                )
                frames = [seed, h1.withColumn("__depth", F.lit(1))]
                if max_hops == 2:
                    h2 = (
                        h1.join(adj, h1["__node"] == adj["__u"])
                        .select("__start", F.col("__v").alias("__node"))
                        .distinct()
                    )
                    frames.append(h2.withColumn("__depth", F.lit(2)))
                all_reached = (
                    reduce(lambda x, y: x.unionByName(y), frames)
                    .groupBy("__start", "__node")
                    .agg(F.min("__depth").alias("__depth"))
                )
            else:
                # 3+ hops: the frontier BFS (the fused-plan trick is
                # quadratic in plan size past a couple of hops), over the
                # (src, dst) pairs materialized once — re-deriving them
                # per hop repeats the upstream scans
                adj = s.pin(adj.select(F.col("__u").alias("u"), F.col("__v").alias("v")))
                # size partitions from the data so task scheduling doesn't
                # dominate the per-hop shuffles (same lever as
                # connected_components)
                with shuffle_partitions(spark, partitions_for(adj.count())):
                    seeds = sh.select(F.col("__start").alias("start"), F.col("__start").alias("node"))
                    all_reached = _frontier_bfs(s, adj, seeds, max_hops).select(
                        F.col("start").alias("__start"),
                        F.col("node").alias("__node"),
                        F.col("depth").alias("__depth"),
                    )

            # pin only the final (start, node) pairs; the scope frees the
            # BFS levels and the adjacency they were built from — the
            # binding table below stays lazy over this one small frame,
            # which the graph frees with the statement
            pairs = self.graph.pin(
                all_reached.filter((F.col("__depth") >= min_hops) & (F.col("__depth") <= max_hops))
                .join(eh, "__node")
                .join(sh, "__start")
                .select(F.col("__start_s").alias("__start"), F.col("__node_s").alias("__node"))
            )

        lv, rv = p.left.var, p.right.var
        conds: list[Column] = []
        if lv is not None and lv in b.kinds:
            if b.kinds[lv] != "node":
                b.empty()
                return
            conds.append(_c(_vcol(lv)) == _c("__start"))
        if conds:
            joined = b.df.join(pairs, reduce(lambda x, y: x & y, conds), "inner")
        else:
            joined = b.df.crossJoin(pairs)
        # right var OVERWRITES any prior binding, no consistency check
        # (reference cypher_spec.rs:847); rel var is never bound.
        keep = [c for c in b.df.columns]
        if rv is not None and rv in b.kinds:
            keep.remove(_vcol(rv))
        sel = [F.col(c) for c in keep]
        if lv is not None and lv not in b.kinds and lv != rv:
            sel.append(joined["__start"].alias(_vcol(lv)))
            b.kinds[lv] = "node"
            b.labels[lv] = p.left.label
        if rv is not None:
            sel.append(joined["__node"].alias(_vcol(rv)))
            b.kinds[rv] = "node"
            b.labels[rv] = p.right.label  # overwrite semantics: new hint
        b.df = joined.select(*sel)

    # ------------------------------------------------------------- WHERE
    @staticmethod
    def _split_where_and(s: str) -> list[str]:
        """Quote-aware split on whitespace-delimited AND (cypher_spec.rs:956-990)."""
        out: list[str] = []
        start = i = 0
        n = len(s)
        in_sq = in_dq = False
        while i < n:
            c = s[i]
            if c == "'" and not in_dq:
                in_sq = not in_sq
                i += 1
                continue
            if c == '"' and not in_sq:
                in_dq = not in_dq
                i += 1
                continue
            if not in_sq and not in_dq and s[i : i + 3].upper() == "AND":
                prev_ws = i == 0 or s[i - 1].isspace()
                next_ws = i + 3 >= n or s[i + 3].isspace()
                if prev_ws and next_ws:
                    out.append(s[start:i].strip())
                    start = i + 3
                    i += 3
                    continue
            i += 1
        out.append(s[start:].strip())
        return [x for x in out if x]

    @staticmethod
    def _parse_id_compare(expr: str) -> tuple[str, str, str] | None:
        s = "".join(expr.split())  # strip all whitespace
        for op in ("<=", ">=", "<>", "<", ">", "="):
            i = s.find(op)
            if i >= 0:
                lhs, rhs = s[:i], s[i + len(op) :]
                if (
                    lhs.lower().startswith("id(")
                    and lhs.endswith(")")
                    and rhs.lower().startswith("id(")
                    and rhs.endswith(")")
                ):
                    return lhs[3:-1], op, rhs[3:-1]
        return None

    @staticmethod
    def _parse_str_pred(expr: str, keyword: str) -> tuple[str, str, str] | None:
        up = expr.upper()
        i = up.find(f" {keyword} ")
        if i < 0:
            return None
        lhs = expr[:i].strip()
        rhs = expr[i + len(keyword) + 2 :].strip()
        dot = lhs.find(".")
        if dot < 0:
            return None
        return lhs[:dot].strip(), lhs[dot + 1 :].strip(), rhs

    @staticmethod
    def _parse_var_prop_comp(expr: str) -> tuple[str, str, str, str] | None:
        for op in ("<=", ">=", "<>", "=", "<", ">"):
            i = expr.find(op)
            if i >= 0:
                lhs = expr[:i].strip()
                rhs = expr[i + len(op) :].strip()
                dot = lhs.find(".")
                if dot >= 0:
                    return lhs[:dot].strip(), lhs[dot + 1 :].strip(), op, rhs
                return None
        return None

    def _exec_where(self, b: _Binding, raw: str, params: dict[str, str]) -> None:
        conjuncts = self._split_where_and(raw)
        if not conjuncts:
            return
        df = b.df
        joined_vars: set[str] = set()

        def ensure_props(var: str) -> None:
            nonlocal df
            if var in joined_vars:
                return
            n = self._nodes_hinted(b, var).select(
                F.col("id").alias(f"__ex_{var}"), F.col("properties").alias(f"__pr_{var}")
            )
            df = df.join(n, _c(_vcol(var)) == _c(f"__ex_{var}"), "left")
            joined_vars.add(var)

        def prop_value(var: str, key: str) -> Column:
            return F.coalesce(_c(f"__pr_{var}")[key], F.lit(""))  # missing prop → ""

        preds: list[Column] = []
        for c in conjuncts:
            c = c.strip()
            idc = self._parse_id_compare(c)
            if idc is not None:
                lv, op, rv = idc
                if b.kinds.get(lv) == "node" and b.kinds.get(rv) == "node":
                    preds.append(compare_cols(_c(_vcol(lv)), _c(_vcol(rv)), op))
                else:
                    preds.append(F.lit(False))  # unbound/non-node var drops the row
                continue
            matched = False
            for kw, col_pred in (
                ("CONTAINS", lambda v, s: v.contains(s)),
                ("STARTS WITH", lambda v, s: v.startswith(s)),
                ("ENDS WITH", lambda v, s: v.endswith(s)),
            ):
                m = self._parse_str_pred(c, kw)
                if m is not None:
                    var, prop, rhs = m
                    val = resolve_param(rhs, params)
                    if b.kinds.get(var) == "node":
                        ensure_props(var)
                        preds.append(
                            _c(f"__ex_{var}").isNotNull() & col_pred(prop_value(var, prop), F.lit(val))
                        )
                    else:
                        preds.append(F.lit(False))
                    matched = True
                    break
            if matched:
                continue
            vpc = self._parse_var_prop_comp(c)
            if vpc is not None:
                var, prop, op, rhs = vpc
                lit = resolve_param(rhs, params)
                if b.kinds.get(var) == "node":
                    ensure_props(var)
                    preds.append(
                        _c(f"__ex_{var}").isNotNull() & compare_expr(prop_value(var, prop), lit, op)
                    )
                else:
                    preds.append(F.lit(False))
                continue
            # unsupported conjunct → fail-open, row kept (cypher_spec.rs:1140)
        if preds:
            df = df.filter(reduce(lambda x, y: x & y, preds))
        b.df = df.select(*[F.col(c) for c in b.df.columns])

    # ------------------------------------------------------- sort keys
    def _augment_keys(
        self, b: _Binding, df: DataFrame, order_by: list[tuple[ast.Expr, bool]]
    ) -> tuple[DataFrame, list[str]]:
        """Adds __k{i} string key columns for ORDER BY expressions; key
        semantics per reference (ids for vars, ""-defaulted node props)."""
        joined: set[str] = set()
        names: list[str] = []
        for i, (expr, _asc) in enumerate(order_by):
            name = f"__k{i}"
            names.append(name)
            if isinstance(expr, (ast.Var, ast.FuncId)):
                v = expr.name if isinstance(expr, ast.Var) else expr.var
                col = _c(_vcol(v)) if v in b.kinds else F.lit("")
            elif isinstance(expr, ast.Prop):
                if b.kinds.get(expr.var) == "node":
                    if expr.var not in joined:
                        n = self._nodes_hinted(b, expr.var).select(
                            F.col("id").alias(f"__kx_{expr.var}"),
                            F.col("properties").alias(f"__kp_{expr.var}"),
                        )
                        df = df.join(n, _c(_vcol(expr.var)) == _c(f"__kx_{expr.var}"), "left")
                        joined.add(expr.var)
                    col = F.coalesce(_c(f"__kp_{expr.var}")[expr.key], F.lit(""))
                else:
                    col = F.lit("")
            else:  # StrLit
                col = F.lit(expr.value)
            df = df.withColumn(name, col)
        for v in joined:
            df = df.drop(f"__kx_{v}", f"__kp_{v}")
        return df, names

    @staticmethod
    def _order_cols(names: list[str], order_by: list[tuple[ast.Expr, bool]]) -> list[Column]:
        cols: list[Column] = []
        for name, (_e, asc) in zip(names, order_by):
            cols.extend(numeric_first_sort_cols(_c(name), asc))
        return cols

    # --------------------------------------------------------------- WITH
    def _exec_with(self, b: _Binding, cl: ast.With) -> None:
        df = b.df
        if cl.order_by:
            df, key_names = self._augment_keys(b, df, cl.order_by)
            df = df.orderBy(*self._order_cols(key_names, cl.order_by))
        if cl.skip:
            df = df.offset(cl.skip)
        if cl.limit is not None:
            df = df.limit(cl.limit)
        kept_vars = [
            it.name for it in cl.items if isinstance(it, ast.Var) and it.name in b.kinds
        ]
        # de-dup var list preserving order
        seen: set[str] = set()
        kept_vars = [v for v in kept_vars if not (v in seen or seen.add(v))]
        b.df = df.select("__1", *[_c(_vcol(v)) for v in kept_vars])
        b.kinds = {v: b.kinds[v] for v in kept_vars}
        b.labels = {v: b.labels.get(v) for v in kept_vars}

    # ------------------------------------------------------------- RETURN
    def _project_item(
        self, b: _Binding, df: DataFrame, item: ast.Expr, carry: list[str]
    ) -> DataFrame | None:
        """One RETURN item → RESULT_SCHEMA columns (+ carried key cols +
        __dkey distinct key). None ⇒ statically empty (unbound var etc.)."""
        carry_cols = [_c(c) for c in carry]

        def out(kind: str, id_c, src_c, dst_c, label_c, props_c, info_c, base: DataFrame) -> DataFrame:
            return base.select(
                *carry_cols,
                F.lit(kind).alias("kind"),
                id_c.alias("id"),
                src_c.alias("src"),
                dst_c.alias("dst"),
                label_c.alias("label"),
                props_c.alias("properties"),
                info_c.alias("info"),
            )

        if isinstance(item, ast.Var):
            kind = b.kinds.get(item.name)
            if kind == "node":
                # fresh aliases: the binding df derives from `nodes`, so raw
                # column refs would be an ambiguous self-join
                n = self._nodes_hinted(b, item.name).select(
                    F.col("id").alias("__ni"),
                    F.col("label").alias("__nl"),
                    F.col("properties").alias("__np"),
                )
                j = df.join(n, _c(_vcol(item.name)) == _c("__ni"), "inner")
                return out("node", _c("__ni"), _null_s(), _null_s(), _c("__nl"), _c("__np"), _null_s(), j)
            if kind == "rel":
                e = self._edges_hinted(b, item.name).select(
                    F.col("id").alias("__ei"),
                    F.col("src").alias("__es"),
                    F.col("dst").alias("__ed"),
                    F.col("label").alias("__el"),
                    F.col("properties").alias("__ep"),
                )
                j = df.join(e, _c(_vcol(item.name)) == _c("__ei"), "inner")
                return out("rel", _c("__ei"), _c("__es"), _c("__ed"), _c("__el"), _c("__ep"), _null_s(), j)
            return None
        if isinstance(item, ast.Prop):
            if b.kinds.get(item.var) != "node":
                return None  # rel props not projectable (reference :1409-1418)
            n = self._nodes_hinted(b, item.var).select(
                F.col("id").alias("__ni"), F.col("properties").alias("__np")
            )
            j = df.join(n, _c(_vcol(item.var)) == _c("__ni"), "inner").filter(
                _c("__np")[item.key].isNotNull()  # missing prop → no row
            )
            val = _c("__np")[item.key]
            return out("info", _null_s(), _null_s(), _null_s(), _null_s(), _null_m(), val, j)
        if isinstance(item, ast.FuncId):
            if item.var not in b.kinds:
                return None
            return out("info", _null_s(), _null_s(), _null_s(), _null_s(), _null_m(), _c(_vcol(item.var)), df)
        if isinstance(item, ast.StrLit):
            return out("info", _null_s(), _null_s(), _null_s(), _null_s(), _null_m(), F.lit(item.value), df)
        return None

    def _exec_return(self, b: _Binding, cl: ast.Return) -> DataFrame:
        single = len(cl.items) == 1
        if not single:
            # multi-item flattening (O5): one output row per item per binding
            # row; DISTINCT/ORDER/SKIP/LIMIT intentionally not applied.
            parts = [self._project_item(b, b.df, it, []) for it in cl.items]
            parts = [p for p in parts if p is not None]
            if not parts:
                return self._empty_result()
            return reduce(lambda x, y: x.unionByName(y), parts)

        df = b.df
        key_names: list[str] = []
        if cl.order_by:
            df, key_names = self._augment_keys(b, df, cl.order_by)
        proj = self._project_item(b, df, cl.items[0], key_names)
        if proj is None:
            return self._empty_result()
        if cl.distinct:
            dkey = F.when(F.col("kind") == "info", F.col("info")).otherwise(F.col("id"))
            proj = proj.withColumn("__dkey", dkey).dropDuplicates(["__dkey"]).drop("__dkey")
        if cl.order_by:
            proj = proj.orderBy(*self._order_cols(key_names, cl.order_by))
        if cl.skip:
            proj = proj.offset(cl.skip)
        if cl.limit is not None:
            proj = proj.limit(cl.limit)
        return proj.select(*[F.col(f.name) for f in RESULT_SCHEMA.fields])

    def _dump_bindings(self, b: _Binding) -> DataFrame:
        """No-RETURN statement: emit every bound entity per row
        (cypher_spec.rs:1520-1531)."""
        parts = []
        for var in b.kinds:
            p = self._project_item(b, b.df, ast.Var(var), [])
            if p is not None:
                parts.append(p)
        if not parts:
            return self._empty_result()
        return reduce(lambda x, y: x.unionByName(y), parts)

    # ---------------------------------------------------------- mutations
    def _exec_create(self, b: _Binding, cl: ast.Create, params: dict[str, str]) -> None:
        for p in cl.patterns:
            if isinstance(p, ast.NodeOnly):
                np = p.node
                props = {k: resolve_param(v, params) for k, v in np.props.items()}
                nid = self.graph.add_nodes([(np.label or DEFAULT_LABEL, props)])[0]
                if np.var is not None:
                    if np.var in b.kinds:
                        b.df = b.df.drop(_vcol(np.var))
                    b.df = b.df.withColumn(_vcol(np.var), F.lit(nid))
                    b.kinds[np.var] = "node"
                    b.labels[np.var] = np.label or DEFAULT_LABEL
            else:
                self._create_edges_per_row(b, p, params)

    def _create_edges_per_row(self, b: _Binding, p: ast.PathPattern, params: dict[str, str]) -> None:
        lv, rv = p.left.var, p.right.var
        # endpoints must be bound node vars; else rows would all be dropped
        # and the reference keeps the binding unchanged (cypher_spec.rs:1346)
        if lv is None or rv is None or b.kinds.get(lv) != "node" or b.kinds.get(rv) != "node":
            return
        typ = p.rel.typ or DEFAULT_LABEL
        props = {k: resolve_param(v, params) for k, v in p.rel.props.items()}
        # distributed id mint (ids.py): the ids are stable across
        # re-evaluation, so the double use below reads the same ids
        df, n = assign_uuid7_ids(b.df, "__eid", pin=self.graph.pin)
        if n == 0:
            return
        new_edges = df.select(
            F.col("__eid").alias("id"),
            _c(_vcol(lv)).alias("src"),
            _c(_vcol(rv)).alias("dst"),
            F.lit(typ).alias("label"),
            props_map_lit(props).alias("properties"),
        )
        self.graph.add_edges_df(new_edges, check_endpoints=False)
        if p.rel.var is not None:
            if p.rel.var in b.kinds:
                df = df.drop(_vcol(p.rel.var))
            b.df = df.withColumnRenamed("__eid", _vcol(p.rel.var))
            b.kinds[p.rel.var] = "rel"
            b.labels[p.rel.var] = typ
        else:
            b.df = df.drop("__eid")

    def _exec_merge(self, b: _Binding, cl: ast.Merge, params: dict[str, str]) -> None:
        """M3: idempotent relationship merge between bound vars — exists
        check on (src,dst,type)+props, left-anti create (cypher_spec.rs:
        1351-1388)."""
        p = cl.pattern
        if not isinstance(p, ast.PathPattern):
            raise CypherError("MERGE currently supports only single relationship patterns")
        lv, rv = p.left.var, p.right.var
        if lv is None or rv is None or b.kinds.get(lv) != "node" or b.kinds.get(rv) != "node":
            b.empty()  # reference: rows = new_rows (all dropped)
            return
        typ = p.rel.typ or DEFAULT_LABEL
        props = {k: resolve_param(v, params) for k, v in p.rel.props.items()}

        existing = self.graph.edges.filter(F.col("label") == typ)
        for k, v in props.items():
            existing = existing.filter(F.col("properties")[k] == v)
        # deterministic stand-in for the reference's arbitrary first match
        existing_min = existing.groupBy("src", "dst").agg(F.min("id").alias("__rid"))

        pairs = b.df.select(_c(_vcol(lv)).alias("src"), _c(_vcol(rv)).alias("dst")).distinct()
        to_create = pairs.join(existing_min, ["src", "dst"], "left_anti")
        created, n_new = assign_uuid7_ids(to_create, "id", pin=self.graph.pin)
        if n_new == 0:
            created = None
        if n_new > 0:
            self.graph.add_edges_df(
                created.select(
                    "id", "src", "dst", F.lit(typ).alias("label"), props_map_lit(props).alias("properties")
                ),
                check_endpoints=False,
            )
        if p.rel.var is not None:
            lookup = existing_min.select("src", "dst", F.col("__rid").alias("__mid"))
            if created is not None:
                lookup = lookup.unionByName(created.select("src", "dst", F.col("id").alias("__mid")))
            joined = b.df.join(
                lookup,
                (_c(_vcol(lv)) == lookup["src"]) & (_c(_vcol(rv)) == lookup["dst"]),
                "inner",
            )
            if p.rel.var in b.kinds:
                b.df = b.df.drop(_vcol(p.rel.var))
            sel = [F.col(c) for c in b.df.columns if c != _vcol(p.rel.var)]
            sel.append(joined["__mid"].alias(_vcol(p.rel.var)))
            b.df = joined.select(*sel)
            b.kinds[p.rel.var] = "rel"
            b.labels[p.rel.var] = typ

    def _exec_delete(self, b: _Binding, cl: ast.Delete) -> None:
        rel_vars = [v for v in cl.vars if b.kinds.get(v) == "rel"]
        node_vars = [v for v in cl.vars if b.kinds.get(v) == "node"]
        node_ids = None
        if node_vars:
            node_ids = reduce(
                lambda x, y: x.unionByName(y),
                [b.df.select(_c(_vcol(v)).alias("id")) for v in node_vars],
            ).distinct()
            if not cl.detach:
                # incident check runs BEFORE any deletion, including of rels
                # deleted by this same statement (reference cypher_spec.rs:1235);
                # semi-join of the delete-set against the edge-endpoint union
                # (equi-join, not an OR theta-join)
                offender = (
                    node_ids.join(
                        self.graph.edges.select(F.col("src").alias("id")).unionByName(
                            self.graph.edges.select(F.col("dst").alias("id"))
                        ),
                        "id",
                        "left_semi",
                    )
                    .agg(F.min("id"))
                    .first()[0]
                )
                if offender is not None:
                    # reference names the offending node (cypher_spec.rs:1237);
                    # it reports an arbitrary one (HashMap order) — we pick the
                    # smallest id for determinism
                    raise CypherError(
                        f"Cannot DELETE node {offender} with existing relationships; "
                        "use DETACH DELETE"
                    )
            node_ids = self.graph.pin(node_ids)
        if rel_vars:
            rel_ids = self.graph.pin(
                reduce(
                    lambda x, y: x.unionByName(y),
                    [b.df.select(_c(_vcol(v)).alias("id")) for v in rel_vars],
                ).distinct()
            )
            self.graph._delete_edges(rel_ids)
        if node_ids is not None:
            self.graph._delete_nodes(node_ids)

    def _exec_set(self, b: _Binding, cl: ast.SetClause) -> None:
        """SET var.prop = literal | var:NewLabel (cypher_spec.rs:1251-1297).
        The ':' check precedes '=' on purpose — reference parse order."""
        for raw in cl.items:
            s = raw.strip()
            if not s:
                continue
            if ":" in s:
                col = s.find(":")
                var, label = s[:col].strip(), s[col + 1 :].strip()
                if not label:
                    continue
                kind = b.kinds.get(var)
                if kind is None:
                    continue
                ids = b.df.select(_c(_vcol(var)).alias("id")).distinct()
                self.graph._set_label(kind, ids, label)
                b.labels[var] = label  # hint follows the label replacement
                continue
            if "=" in s:
                eq = s.find("=")
                lhs, rhs = s[:eq], s[eq + 1 :].strip()
                dot = lhs.find(".")
                var, prop = (lhs[:dot].strip(), lhs[dot + 1 :].strip()) if dot >= 0 else (lhs.strip(), "")
                if not prop:
                    continue
                # quoted → trimmed; bare (incl. numbers) stored verbatim as string
                if (rhs.startswith('"') and rhs.endswith('"')) or (rhs.startswith("'") and rhs.endswith("'")):
                    value = trim_quotes(rhs)
                else:
                    value = rhs
                kind = b.kinds.get(var)
                if kind is None:
                    continue
                ids = b.df.select(_c(_vcol(var)).alias("id")).distinct()
                self.graph._upsert_property(kind, ids, prop, value)

    def _exec_remove(self, b: _Binding, cl: ast.RemoveClause) -> None:
        for raw in cl.items:
            s = raw.strip()
            if not s or "." not in s:
                continue
            dot = s.find(".")
            var, prop = s[:dot].strip(), s[dot + 1 :].strip()
            kind = b.kinds.get(var)
            if kind is None:
                continue
            ids = b.df.select(_c(_vcol(var)).alias("id")).distinct()
            self.graph._remove_property(kind, ids, prop)


_COMPARE = {
    "<": operator.lt, "<=": operator.le, ">": operator.gt, ">=": operator.ge, "=": operator.eq, "<>": operator.ne,
}


def compare_cols(lhs: Column, rhs: Column, op: str) -> Column:
    """UUIDv7 hex strings compare identically to their u128 values, so the
    reference's id() numeric compare is plain string comparison here."""
    cmp = _COMPARE.get(op)
    return cmp(lhs, rhs) if cmp is not None else F.lit(True)
