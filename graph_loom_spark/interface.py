"""Statement router + session — the engine's public query entry point.

Mirrors the reference's prefix-dispatch router (query_interface.rs:77-143):
``;``-separated statements execute sequentially, each routed to the legacy
pairwise MATCH..MERGE fast path, the Cypher engine, or a legacy DSL
handler; outcomes aggregate counts and OR the mutated flag.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession

from graph_loom_spark.cypher.ast import CypherError
from graph_loom_spark.cypher.compiler import CypherExecutor
from graph_loom_spark.graph import PropertyGraph
from graph_loom_spark.legacy import dsl
from graph_loom_spark.result import QueryOutcome, ResultRow

__all__ = ["CypherSession", "QueryOutcome", "ResultRow", "CypherError"]


def log_query(query: str, outcome: QueryOutcome | None, error: str | None, log_dir: str) -> None:
    """S11 query-log sink (query_interface.rs:28-52): append
    ``timestamp | status`` + query text to ``queries_YYYYMMDD.log``."""
    os.makedirs(log_dir, exist_ok=True)
    path = os.path.join(log_dir, time.strftime("queries_%Y%m%d.log", time.gmtime()))
    ts = time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime())
    if error is None and outcome is not None:
        status = (
            f"OK mutated={str(outcome.mutated).lower()} "
            f"nodes={outcome.affected_nodes} rels={outcome.affected_relationships}"
        )
    else:
        status = f"ERR {error}"
    with open(path, "a") as f:
        f.write(f"{ts} | {status}\n{query.strip()}\n\n")


def _is_cypher(stmt: str, upper: str) -> bool:
    """Cypher-vs-legacy detection (query_interface.rs:96-109)."""
    return (
        (upper.startswith("MATCH ") and stmt[6:].lstrip().startswith("("))
        or (upper.startswith("OPTIONAL MATCH ") and stmt[15:].lstrip().startswith("("))
        or upper.startswith("MERGE ")
        or upper.startswith("RETURN ")
        or upper.startswith("SET ")
        or upper.startswith("REMOVE ")
        or (
            upper.startswith("DELETE ")
            and not upper.startswith("DELETE NODE ")
            and not upper.startswith("DELETE REL ")
        )
        or upper.startswith("DETACH DELETE ")
        or (upper.startswith("CREATE") and stmt[6:].lstrip().startswith("("))
    )


def _cypher_mutates(upper: str) -> bool:
    """Conservative mutated flag (query_interface.rs:112-117)."""
    return (
        upper.startswith("CREATE")
        or upper.startswith("MERGE ")
        or upper.startswith("SET ")
        or upper.startswith("REMOVE ")
        or (
            upper.startswith("DELETE ")
            and not upper.startswith("DELETE NODE ")
            and not upper.startswith("DELETE REL ")
        )
        or upper.startswith("DETACH DELETE ")
    )


def _collect_result(df: DataFrame) -> list[ResultRow]:
    out: list[ResultRow] = []
    for r in df.collect():
        if r["kind"] == "node":
            out.append(ResultRow.node(r["id"], r["label"], r["properties"]))
        elif r["kind"] == "rel":
            out.append(ResultRow.rel(r["id"], r["src"], r["dst"], r["label"], r["properties"]))
        else:
            out.append(ResultRow.info_row(r["info"]))
    return out


class CypherSession:
    """A mutable graph handle + query executor (the Spark-native analogue
    of the reference's broker-owned GraphDatabase)."""

    def __init__(self, graph: PropertyGraph | None = None, spark: SparkSession | None = None):
        if graph is None:
            if spark is None:
                raise ValueError("need a PropertyGraph or a SparkSession")
            graph = PropertyGraph.empty(spark)
        self.graph = graph

    # ------------------------------------------------------------ execute
    def execute(self, query: str, params: dict[str, str] | None = None) -> QueryOutcome:
        trimmed = query.strip()
        if not trimmed:
            raise CypherError("empty query")
        outcome = QueryOutcome()
        for stmt in trimmed.split(";"):
            stmt = stmt.strip()
            if not stmt:
                continue
            try:
                rows, n_cnt, r_cnt, mutated = self._route(stmt, params)
            finally:
                # the rows are collected: free the graph versions this
                # statement superseded and its scratch pins
                self.graph.release()
            outcome.rows.extend(rows)
            outcome.affected_nodes += n_cnt
            outcome.affected_relationships += r_cnt
            outcome.mutated = outcome.mutated or mutated
        return outcome

    def execute_and_log(
        self,
        query: str,
        params: dict[str, str] | None = None,
        log_dir: str = "assets/logs",
    ) -> QueryOutcome:
        """``execute`` + the S11 log sink (reference execute_and_log)."""
        try:
            outcome = self.execute(query, params)
        except Exception as e:
            log_query(query, None, str(e), log_dir)
            raise
        log_query(query, outcome, None, log_dir)
        return outcome

    def execute_df(self, query: str, params: dict[str, str] | None = None) -> DataFrame:
        """Run all statements; return the LAST statement's result as an
        uncollected DataFrame (RESULT_SCHEMA). The last statement must
        route to the Cypher engine. Releases nothing: the frame reads the
        statement's pins, which go to the scope open now (or are the
        caller's when none is, ``PropertyGraph.forget_pins``), and the
        graph's current versions, which a later write on the graph
        retires like any frame taken from ``nodes``/``edges``."""
        trimmed = query.strip()
        stmts = [s.strip() for s in trimmed.split(";") if s.strip()]
        if not stmts:
            raise CypherError("empty query")
        for stmt in stmts[:-1]:
            self._route(stmt, params)
        last = stmts[-1]
        if not _is_cypher(last, last.upper()):
            raise CypherError("execute_df requires a Cypher final statement")
        df = CypherExecutor(self.graph).execute(last, params)
        self.graph.forget_pins()
        return df

    # -------------------------------------------------------------- router
    def _route(
        self, stmt: str, params: dict[str, str] | None
    ) -> tuple[list[ResultRow], int, int, bool]:
        upper = stmt.upper()
        g = self.graph
        if upper.startswith("MATCH (") and " MERGE " in upper:
            return dsl.exec_cypher_match_merge(g, stmt)
        if _is_cypher(stmt, upper):
            df = CypherExecutor(g).execute(stmt, params)
            return _collect_result(df), 0, 0, _cypher_mutates(upper)
        if upper.startswith("CREATE NODE "):
            return dsl.exec_create_node(g, stmt[12:])
        if upper.startswith("CREATE REL "):
            return dsl.exec_create_rel(g, stmt[11:])
        if upper.startswith("MATCH NODE "):
            return dsl.exec_match_node(g, stmt[11:])
        if upper.startswith("MATCH REL "):
            return dsl.exec_match_rel(g, stmt[10:])
        if upper.startswith("DELETE NODE "):
            return [], dsl.exec_delete_node(g, stmt[12:]), 0, True
        if upper.startswith("DELETE REL "):
            return [], 0, dsl.exec_delete_rel(g, stmt[11:]), True
        raise CypherError(f"unrecognized statement: {stmt}")
