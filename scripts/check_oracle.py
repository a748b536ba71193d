"""Local stand-in for the driver's t2 correctness gate: run every
queries() entry AND its oracle_sql() on the same sf dir, compare
row-count + column names + order-insensitive exact values.

Usage:
    python scripts/check_oracle.py [SF_DIR] [name1,name2,... | name1 name2 ...] [--json OUT]

The checkout checked is the one this script lives in (its library and
its ``__spark_entry__.py``), so a second checkout's copy checks itself.

With ``--json OUT`` the per-entry results (status hash_pass/rows_only/
fail + wall seconds) are written as a replay artifact — the per-round
full-registry sweep (``assets/oracle_replay_rN.json``) that closes the
driver's 50-entry rotation blind spot (r9 verdict #1): every registry
entry is re-verified against its oracle each round, independent of the
driver's window position.
"""

from __future__ import annotations

import importlib.util
import json
import math
import os
import struct
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from graph_loom_spark.io.tpch_graph import TABLES  # noqa: E402
from graph_loom_spark.session import get_spark  # noqa: E402

argv = list(sys.argv[1:])
JSON_OUT = None
if "--json" in argv:
    i = argv.index("--json")
    JSON_OUT = argv[i + 1]
    del argv[i : i + 2]
SF_DIR = argv[0] if len(argv) > 0 else "/root/testdata/sf0.01"
ONLY = ",".join(argv[1:]).split(",") if len(argv) > 1 else None


def values_equal(x, y) -> bool:
    """Driver-faithful scalar compare. Floats are compared by their
    IEEE-754 bytes, NOT by ``==``: the driver hashes serialized
    values, so ``-0.0`` and ``+0.0`` (which Python equates) are a real
    mismatch there — the exact blind spot that shipped the r10
    ``graph_modularity`` red row (VERDICT r10 "what's wrong" #2).
    Byte compare also treats same-bit NaNs as equal, matching the
    driver's serialization."""
    if isinstance(x, float) and isinstance(y, float):
        return struct.pack("<d", x) == struct.pack("<d", y)
    if isinstance(x, float) or isinstance(y, float):
        # mixed float/non-float (e.g. Decimal vs float) — a dtype
        # seam; require exact byte equality after coercion fails
        return False
    return x == y


def rows_equal(a, b) -> bool:
    return len(a) == len(b) and all(values_equal(x, y) for x, y in zip(a, b))


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = float(v)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple(repr(x) for x in t))
    return [cols[i] for i in order], out


def main():
    spec = importlib.util.spec_from_file_location("entrymod", os.path.join(REPO, "__spark_entry__.py"))
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    spark = get_spark(app_name="oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs, oracles = m.queries(), m.oracle_sql()
    n_pass = n_fail = 0
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            results[name] = {
                "status": "fail", "rows": None,
                "err": f"spark: {e}"[:300], "sec": round(time.time() - t0, 2),
            }
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            results[name] = {
                "status": "rows_only", "rows": len(srows),
                "err": None, "sec": round(time.time() - t0, 2),
            }
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = [tuple(r) for r in res.fetchall()]
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            results[name] = {
                "status": "fail", "rows": len(srows),
                "err": f"duckdb: {e}"[:300], "sec": round(time.time() - t0, 2),
            }
            n_fail += 1
            continue
        sc, sr = norm_rows(scols, srows)
        dc, dr = norm_rows(dcols, drows)
        ok = True
        msgs = []
        if sc != dc:
            ok = False
            msgs.append(f"cols {sc} != {dc}")
        if len(sr) != len(dr):
            ok = False
            msgs.append(f"rowcount {len(sr)} != {len(dr)}")
        if ok:
            for i, (a, b) in enumerate(zip(sr, dr)):
                if not rows_equal(a, b):
                    close = len(a) == len(b) and all(
                        (isinstance(x, float) and isinstance(y, float) and math.isclose(x, y, rel_tol=1e-12, abs_tol=1e-15))
                        or x == y
                        for x, y in zip(a, b)
                    )
                    tag = "float-close-not-byte-exact (signed zero / ulp?)" if close else "value"
                    ok = False
                    msgs.append(f"row {i} {tag}: spark={a} duck={b}")
                    break
        status = "PASS " if ok else "FAIL "
        n_pass += ok
        n_fail += not ok
        results[name] = {
            "status": "hash_pass" if ok else "fail",
            "rows": len(sr),
            "err": "; ".join(msgs[:3]) or None if not ok else None,
            "sec": round(time.time() - t0, 2),
        }
        print(f"{status}{name}: {len(sr)} rows [{time.time()-t0:.1f}s] {'; '.join(msgs[:3])}")
    print(f"\n{n_pass} pass, {n_fail} fail")
    if JSON_OUT:
        summary = {
            "sf_dir": SF_DIR,
            "n_entries": len(results),
            "n_hash_pass": sum(r["status"] == "hash_pass" for r in results.values()),
            "n_rows_only": sum(r["status"] == "rows_only" for r in results.values()),
            "n_fail": sum(r["status"] == "fail" for r in results.values()),
            "entries": results,
        }
        with open(JSON_OUT, "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
        print(f"wrote {JSON_OUT}")


if __name__ == "__main__":
    main()
