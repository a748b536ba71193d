"""Legacy line-oriented DSL (P10, M9-M11, J5) — the reference's pre-Cypher
command set (src/gql/query_interface.rs:240-663), compiled to DataFrame
filters / anti-join MERGE instead of the reference's hash-map loops.

Statements handled here (routed by the session):
- ``CREATE NODE Label {k:"v"}``
- ``CREATE REL from=<uuid> to=<uuid> label=T {props}``
- ``MATCH NODE Label {props} [WHERE conds]`` / ``MATCH REL ...``
- ``DELETE NODE <uuid>`` / ``DELETE REL <uuid>``
- legacy pairwise ``MATCH (a:L),(b:L) [WHERE id(a) op id(b)] MERGE (a)-[:T]->(b)``

WHERE conds: ``id=uuid``, ``label=X``, ``HAS(key)``, ``key="v"``,
``key!="v"``, rel-only ``from=uuid`` / ``to=uuid``, AND-joined.
"""

from __future__ import annotations

import uuid as _uuid
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graph_loom_spark.cypher.ast import CypherError
from graph_loom_spark.cypher.compiler import compare_cols
from graph_loom_spark.graph import GraphConsistencyError, PropertyGraph, local_frame
from graph_loom_spark.ids import assign_uuid7_ids
from graph_loom_spark.result import ResultRow

LegacyResult = tuple[list[ResultRow], int, int, bool]  # rows, nodes, rels, mutated


def _parse_uuid(s: str) -> str:
    try:
        return str(_uuid.UUID(s.strip()))
    except ValueError as e:
        raise CypherError(f"invalid uuid: {e}") from None


def _strip_quotes_all(s: str) -> str:
    """Mirror Rust trim_matches('"').trim_matches('\\'')."""
    return s.strip('"').strip("'")


def split_where(rest: str) -> tuple[str, str | None]:
    """(head, where_clause) on the first top-level WHERE (query_interface.rs:224-238)."""
    upper = rest.upper()
    idx = upper.find(" WHERE ")
    if idx >= 0:
        tail = rest[idx + 7 :].strip()
        return rest[:idx].strip(), tail or None
    idx = upper.find(" WHERE")
    if idx >= 0:
        tail = rest[idx + 6 :].strip()
        return rest[:idx].strip(), tail or None
    return rest.strip(), None


def parse_keyvals(s: str) -> dict[str, str]:
    out: dict[str, str] = {}
    for part in s.split(","):
        p = part.strip()
        if not p:
            continue
        kv = p.split(":", 1)
        if len(kv) != 2:
            raise CypherError(f"missing value for {kv[0].strip()}")
        out[kv[0].strip()] = _strip_quotes_all(kv[1].strip())
    return out


def parse_label_and_props(rest: str) -> tuple[str, dict[str, str]]:
    label = rest.strip()
    props: dict[str, str] = {}
    idx = rest.find("{")
    if idx >= 0:
        label = rest[:idx].strip()
        end = rest.rfind("}")
        if end > idx:
            props = parse_keyvals(rest[idx + 1 : end])
    if not label:
        raise CypherError("missing label")
    return label, props


# ------------------------------------------------------------------ WHERE IR
class _Cond:
    pass


class _IdEq(_Cond):
    def __init__(self, u: str):
        self.u = u


class _LabelEq(_Cond):
    def __init__(self, v: str):
        self.v = v


class _HasKey(_Cond):
    def __init__(self, k: str):
        self.k = k


class _MetaEq(_Cond):
    def __init__(self, k: str, v: str):
        self.k, self.v = k, v


class _MetaNe(_Cond):
    def __init__(self, k: str, v: str):
        self.k, self.v = k, v


class _FromEq(_Cond):
    def __init__(self, u: str):
        self.u = u


class _ToEq(_Cond):
    def __init__(self, u: str):
        self.u = u


def _split_and(s: str) -> list[str]:
    """AND-split with the reference's boundary rules (whitespace or parens,
    query_interface.rs:274-296)."""
    conds: list[str] = []
    start = i = 0
    n = len(s)
    while i < n:
        if i + 3 <= n and s[i : i + 3].upper() == "AND":
            prev_ok = i == 0 or s[i - 1].isspace() or s[i - 1] == ")"
            nxt = s[i + 3 : i + 4]
            next_ok = i + 3 >= n or nxt.isspace() or nxt == "("
            if prev_ok and next_ok:
                conds.append(s[start:i].strip())
                i += 3
                start = i
                continue
        i += 1
    conds.append(s[start:].strip())
    return [c for c in conds if c]


def parse_where_conds(s: str) -> list[_Cond]:
    out: list[_Cond] = []
    for c in _split_and(s):
        cu = c.upper()
        if cu.startswith("HAS(") and c.endswith(")"):
            key = _strip_quotes_all(c[4:-1].strip())
            if not key:
                raise CypherError("WHERE has() requires a key")
            out.append(_HasKey(key))
            continue
        pos = c.find("!=")
        if pos >= 0:
            key = c[:pos].strip()
            val = _strip_quotes_all(c[pos + 2 :].strip())
            if key.lower() in ("id", "label", "from", "to"):
                raise CypherError("'!=' supported only for metadata keys")
            if not key:
                raise CypherError("missing key before !=")
            out.append(_MetaNe(key, val))
            continue
        pos = c.find("=")
        if pos >= 0:
            key = c[:pos].strip()
            val_raw = c[pos + 1 :].strip()
            kl = key.lower()
            if kl == "id":
                out.append(_IdEq(_parse_uuid(val_raw.strip('"'))))
            elif kl == "from":
                out.append(_FromEq(_parse_uuid(val_raw.strip('"'))))
            elif kl == "to":
                out.append(_ToEq(_parse_uuid(val_raw.strip('"'))))
            elif kl == "label":
                out.append(_LabelEq(_strip_quotes_all(val_raw)))
            else:
                if not key:
                    raise CypherError("missing key before =")
                out.append(_MetaEq(key, _strip_quotes_all(val_raw)))
            continue
        raise CypherError(f"unrecognized WHERE condition: {c}")
    return out


def _cond_pred(c: _Cond, is_rel: bool) -> Column:
    p = F.col("properties")
    if isinstance(c, _IdEq):
        return F.col("id") == c.u
    if isinstance(c, _LabelEq):
        return F.col("label") == c.v
    if isinstance(c, _HasKey):
        return F.map_contains_key(p, c.k)
    if isinstance(c, _MetaEq):
        return p[c.k] == c.v
    if isinstance(c, _MetaNe):
        # drop only when the key exists AND equals (reference :594)
        return p[c.k].isNull() | (p[c.k] != c.v)
    if isinstance(c, _FromEq):
        return (F.col("src") == c.u) if is_rel else F.lit(False)
    if isinstance(c, _ToEq):
        return (F.col("dst") == c.u) if is_rel else F.lit(False)
    return F.lit(True)


# --------------------------------------------------------------- statements
def exec_create_node(graph: PropertyGraph, rest: str) -> LegacyResult:
    label, props = parse_label_and_props(rest)
    nid = graph.add_nodes([(label, props)])[0]
    return [ResultRow.node(nid, label, props)], 1, 0, True


def exec_create_rel(graph: PropertyGraph, rest: str) -> LegacyResult:
    cursor = rest.strip()
    props: dict[str, str] = {}
    b = cursor.find("{")
    if b >= 0:
        e = cursor.rfind("}")
        if e > b:
            props = parse_keyvals(cursor[b + 1 : e])
            cursor = cursor[:b]
    src = dst = label = None
    for token in cursor.split():
        up = token.upper()
        if up.startswith("FROM="):
            src = _parse_uuid(token[5:])
        elif up.startswith("TO="):
            dst = _parse_uuid(token[3:])
        elif up.startswith("LABEL="):
            label = token[6:]
    if src is None:
        raise CypherError("missing from uuid")
    if dst is None:
        raise CypherError("missing to uuid")
    if label is None:
        raise CypherError("missing label")
    try:
        rid = graph.add_edges([(src, dst, label, props)])[0]
    except GraphConsistencyError:
        raise CypherError("invalid endpoint(s) for relationship") from None
    return [ResultRow.rel(rid, src, dst, label, props)], 0, 1, True


def _match_entities(df: DataFrame, rest: str, is_rel: bool) -> DataFrame:
    head, where_clause = split_where(rest)
    label, props = parse_label_and_props(head)
    df = df.filter(F.col("label") == label)
    for k, v in props.items():
        df = df.filter(F.col("properties")[k] == v)
    conds = parse_where_conds(where_clause) if where_clause else []
    if conds:
        df = df.filter(reduce(lambda a, b: a & b, [_cond_pred(c, is_rel) for c in conds]))
    return df


def exec_match_node(graph: PropertyGraph, rest: str) -> LegacyResult:
    rows = [
        ResultRow.node(r["id"], r["label"], r["properties"])
        for r in _match_entities(graph.nodes, rest, False).collect()
    ]
    return rows, 0, 0, False


def exec_match_rel(graph: PropertyGraph, rest: str) -> LegacyResult:
    rows = [
        ResultRow.rel(r["id"], r["src"], r["dst"], r["label"], r["properties"])
        for r in _match_entities(graph.edges, rest, True).collect()
    ]
    return rows, 0, 0, False


def exec_delete_node(graph: PropertyGraph, rest: str) -> int:
    nid = _parse_uuid(rest)
    ids = local_frame(graph.spark, [(nid,)], "id string")
    removed, _ = graph.delete_nodes_by_ids(ids, detach=True)  # primitive cascades
    return removed


def exec_delete_rel(graph: PropertyGraph, rest: str) -> int:
    rid = _parse_uuid(rest)
    ids = local_frame(graph.spark, [(rid,)], "id string")
    return graph.delete_edges_by_ids(ids)


# ------------------------------------------------- legacy pairwise MATCH..MERGE
def _parse_var_label(p: str) -> tuple[str, str]:
    p = p.strip()
    if not (p.startswith("(") and p.endswith(")")):
        raise CypherError(f"invalid node pattern: {p}")
    inside = p[1:-1]
    col = inside.find(":")
    if col >= 0:
        var, label = inside[:col].strip(), inside[col + 1 :].strip()
    else:
        var, label = inside.strip(), ""
    if not var:
        raise CypherError("variable name required in node pattern")
    return var, label


def exec_cypher_match_merge(graph: PropertyGraph, stmt: str) -> LegacyResult:
    """J5: ``MATCH (a:L1),(b:L2) [WHERE id(a) op id(b)] MERGE (a)-[:T]->(b)``
    — cross join + id-order theta filter + left-anti against existing
    (src,dst,label), replacing the reference's nested loop + HashSet
    (query_interface.rs:372-528)."""
    up = stmt.upper()
    match_pos = up.find("MATCH ")
    if match_pos < 0:
        raise CypherError("invalid MATCH/MERGE statement")
    merge_pos = up.rfind(" MERGE ")
    if merge_pos < 0:
        raise CypherError("MATCH ... MERGE ... required")
    if merge_pos <= match_pos:
        raise CypherError("MERGE must come after MATCH")
    match_part = stmt[match_pos + 6 : merge_pos].strip()
    merge_part = stmt[merge_pos + 7 :].strip()

    patterns_part, where_opt = split_where(match_part)
    pats = [s.strip() for s in patterns_part.split(",")]
    if len(pats) < 2:
        raise CypherError("missing second pattern")
    if len(pats) > 2:
        raise CypherError("only two node patterns are supported")
    var_a, label_a = _parse_var_label(pats[0])
    var_b, label_b = _parse_var_label(pats[1])
    if not label_a or not label_b:
        raise CypherError("labels required in MATCH node patterns")

    cmp_filter: tuple[str, str, str] | None = None
    if where_opt:
        wu = where_opt.replace(" ", "")
        for sym in ("<=", ">=", "<>", "<", ">", "="):
            if sym in wu:
                parts = wu.split(sym)
                if len(parts) != 2:
                    raise CypherError("malformed WHERE clause")

                def parse_id_fn(s: str) -> str:
                    if not (s.upper().startswith("ID(") and s.endswith(")")):
                        raise CypherError("WHERE must use id(var)")
                    v = s[3:-1]
                    if not v:
                        raise CypherError("empty variable in id()")
                    return v

                cmp_filter = (sym, parse_id_fn(parts[0]), parse_id_fn(parts[1]))
                break
        else:
            raise CypherError("unsupported WHERE comparator; use <,>,<=,>=,=,<>")

    mp = merge_part
    m_up = mp.upper()
    if not (mp.startswith("(") and ")-[:" in m_up and "]->(" in m_up and mp.endswith(")")):
        raise CypherError("unsupported MERGE pattern; expected (a)-[:TYPE]->(b)")
    left_end = mp.find(")")
    left_var = mp[1:left_end].strip()
    ts = mp.find("[:", left_end)
    if ts < 0:
        raise CypherError("missing [:TYPE]")
    ts += 2
    te = mp.find("]", ts)
    if te < 0:
        raise CypherError("missing ] in MERGE type")
    rel_type = mp[ts:te].strip()
    arrow = mp.find("->(", te)
    if arrow < 0:
        raise CypherError("missing ->( in MERGE")
    right_var = mp[arrow + 3 : -1].strip()
    for name in (left_var, right_var):
        if name not in (var_a, var_b):
            raise CypherError(f"MERGE references unknown variable: {name}")

    na = graph.nodes.filter(F.col("label") == label_a).select(F.col("id").alias("__a"))
    nb = graph.nodes.filter(F.col("label") == label_b).select(F.col("id").alias("__b"))
    # Reference semantics: a theta-join over the full A×B cross product
    # (query_interface.rs:490-525) — output is O(|A|·|B|). Warn when the
    # pair estimate is large so a user can't foot-gun silently at scale.
    # The gate is the optimizer's free sizeInBytes statistic (no job);
    # the exact counts (two bounded jobs) run only when both sides are
    # plausibly big enough that 50M+ pairs are in play — small label
    # sets, the common case, pay zero extra Spark jobs for the check.
    def _est_bytes(df: DataFrame) -> int:
        try:
            return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        except Exception:
            return 0

    if min(_est_bytes(na), _est_bytes(nb)) > 512 * 1024:
        ca, cb = na.count(), nb.count()
        if ca * cb > 50_000_000:
            import warnings

            warnings.warn(
                f"pairwise MATCH..MERGE crosses {ca}x{cb} nodes "
                f"({ca * cb:,} candidate pairs) — this operator is the "
                "reference's O(|A|*|B|) semantic and does not scale; "
                "restrict the labels or use the Cypher MATCH path instead",
                stacklevel=2,
            )
    pairs = na.crossJoin(nb)
    if var_a == var_b:
        pairs = pairs.filter(F.col("__a") != F.col("__b"))
    if cmp_filter is not None:
        op, l, r = cmp_filter
        if l == var_a and r == var_b:
            lc, rc = F.col("__a"), F.col("__b")
        elif l == var_b and r == var_a:
            lc, rc = F.col("__b"), F.col("__a")
        else:
            raise CypherError("WHERE references unknown variables")
        pairs = pairs.filter(compare_cols(lc, rc, op))
    if left_var == var_a and right_var == var_b:
        sel = pairs.select(F.col("__a").alias("src"), F.col("__b").alias("dst"))
    elif left_var == var_b and right_var == var_a:
        sel = pairs.select(F.col("__b").alias("src"), F.col("__a").alias("dst"))
    else:
        raise CypherError("MERGE variable order does not match MATCH variables")

    cand = sel.distinct()
    existing = graph.edges.filter(F.col("label") == rel_type).select("src", "dst")
    new = cand.join(existing, ["src", "dst"], "left_anti")
    created, n_new = assign_uuid7_ids(new, "id", pin=graph.pin)  # distributed mint (ids.py)
    rows: list[ResultRow] = []
    if n_new:
        from graph_loom_spark.cypher.compiler import props_map_lit

        graph.add_edges_df(
            created.select(
                "id", "src", "dst", F.lit(rel_type).alias("label"), props_map_lit({}).alias("properties")
            ),
            check_endpoints=False,
        )
        rows = [
            ResultRow.rel(r["id"], r["src"], r["dst"], rel_type, {}) for r in created.collect()
        ]
    return rows, 0, n_new, n_new > 0
