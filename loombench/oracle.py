"""Compare engine rows with the registry's DuckDB oracles.

The compare is the repository's own oracle checker
(``scripts/check_oracle.py``): column names matched after sorting, rows
as an order-insensitive multiset, floats equal only when their IEEE-754
bytes are. Its module parses ``sys.argv`` and prepends a fixed
checkout path to ``sys.path`` at import, so it is loaded here with an
empty argument list and both are restored afterwards.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ORACLE_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "documents", "embeddings",
)


def _load_checker():
    spec = importlib.util.spec_from_file_location("check_oracle", os.path.join(ROOT, "scripts", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    # import what the checker imports first, so it binds the library of
    # this checkout rather than one on its fixed path
    importlib.import_module("graph_loom_spark.io.tpch_graph")
    importlib.import_module("graph_loom_spark.session")
    argv, path = sys.argv, list(sys.path)
    sys.argv = [spec.origin]
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.argv, sys.path[:] = argv, path
    return mod


_checker = _load_checker()


def matches(cols: list[str], rows: list[tuple], want_cols: list[str], want_rows: list[tuple]) -> bool:
    """True iff ``(cols, rows)`` equal ``(want_cols, want_rows)`` under
    the checker's byte-exact compare."""
    sc, sr = _checker.norm_rows(cols, rows)
    dc, dr = _checker.norm_rows(want_cols, want_rows)
    return sc == dc and len(sr) == len(dr) and all(_checker.rows_equal(a, b) for a, b in zip(sr, dr))


class Oracle:
    def __init__(self, sf_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in ORACLE_TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        res = self.con.execute(sql)
        return [d[0] for d in res.description], [tuple(r) for r in res.fetchall()]

    def matches(self, sql: str, cols: list[str], rows: list[tuple]) -> bool:
        """True iff the engine's ``(cols, rows)`` equal the oracle's."""
        return matches(cols, rows, *self.rows(sql))

    def close(self) -> None:
        self.con.close()
