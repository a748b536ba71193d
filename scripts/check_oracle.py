"""Local stand-in for the driver's t2 correctness gate: run every
queries() entry AND its oracle_sql() on the same sf dir, compare
row-count + column names + order-insensitive exact values.

Usage:
    python scripts/check_oracle.py [SF_DIR] [name1,name2,... | name1 name2 ...] [--json OUT]
    python scripts/check_oracle.py [SF_DIR] [names] --dtypes
    python scripts/check_oracle.py [SF_DIR] [names] --zeros

The checkout checked is the one this script lives in (its library and
its ``__spark_entry__.py``), so a second checkout's copy checks itself.

``--dtypes`` and ``--zeros`` run a sweep for one oracle bug class
instead of the value compare (:func:`sweep_dtypes`, :func:`sweep_zeros`).

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
SWEEP = None
for flag in ("--dtypes", "--zeros"):
    if flag in argv:
        SWEEP = flag
        argv.remove(flag)
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


def dclass(dtype) -> str:
    k = getattr(dtype, "kind", "O")
    return {"i": "int", "u": "int", "f": "float", "b": "bool", "M": "datetime"}.get(k, "object")


def sweep_dtypes(m, con, spark) -> int:
    """Dtype-parity sweep: mimic a pandas-side result canonicalizer.

    An earlier ``emb_pq_topk`` hash failure was a dtype-class mismatch
    invisible to the ``fetchall()`` compare: DuckDB ``list_sum`` returns
    HUGEINT, which ``fetchdf()`` materializes as float64 while the Spark
    result is int64 — equal values, different hashes once a
    canonicalizer serializes the pandas frames. This runs every oracle
    through ``fetchdf()`` and every Spark query through ``toPandas()``
    and flags any column whose dtype CLASS (int / float / bool /
    datetime / object) differs — the whole bug class."""
    qs, oracles = m.queries(), m.oracle_sql()
    n_ok = n_bad = n_err = 0
    for name, fn in qs.items():
        if (ONLY and name not in ONLY) or name not in oracles:
            continue
        t0 = time.time()
        try:
            spdf = fn(spark, SF_DIR).toPandas()
            opdf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"ERR   {name}: {e}")
            n_err += 1
            continue
        scls = {c: dclass(spdf[c].dtype) for c in spdf.columns}
        ocls = {c: dclass(opdf[c].dtype) for c in opdf.columns}
        bad = [
            f"{c}: spark={scls.get(c, '?')} oracle={ocls.get(c, '?')}"
            for c in sorted(set(scls) | set(ocls))
            if scls.get(c) != ocls.get(c)
        ]
        # an all-NaN / empty-frame column can legitimately differ; only
        # flag frames that actually carry rows
        if bad and len(spdf) > 0 and len(opdf) > 0:
            print(f"DTYPE {name}: {'; '.join(bad)} [{time.time()-t0:.1f}s]")
            n_bad += 1
        else:
            n_ok += 1
    print(f"\n{n_ok} ok, {n_bad} dtype-mismatched, {n_err} errors")
    return int(bool(n_bad or n_err))


def _neg_zero(v) -> bool:
    return isinstance(v, float) and v == 0.0 and math.copysign(1.0, v) < 0


def sweep_zeros(m, con) -> int:
    """Signed-zero sweep: the -0.0/+0.0 oracle class is dead at
    runtime. Spark's ``round()`` never yields ``-0.0``
    (BigDecimal HALF_UP), so a ``-0.0`` in oracle output is a certain
    hash mismatch. Two proofs, no Spark session:

    1. planted probe — DuckDB ``round(-6.9e-10, 6)`` really yields
       ``-0.0`` (so the sweep is not vacuous under a DuckDB upgrade), and
       ``_normalize_signed_zero`` turns it into ``+0.0``;
    2. every ``oracle_sql()`` entry runs in DuckDB; any float output
       equal to zero with the sign bit set fails the sweep (exit 1)."""
    raw = con.execute("SELECT round(-6.9e-10, 6) AS q").fetchone()[0]
    assert _neg_zero(raw), (
        f"DuckDB round() no longer yields -0.0 on tiny negatives (got {raw!r}) "
        "— the sweep below would be vacuous; re-audit the signed-zero seam"
    )
    fixed = con.execute(m._normalize_signed_zero("SELECT round(-6.9e-10, 6) AS q")).fetchone()[0]
    assert fixed == 0.0 and not _neg_zero(fixed), f"normalizer failed: {fixed!r}"
    print("planted probe: raw -0.0 confirmed, normalized +0.0 confirmed")

    bad: dict[str, list] = {}
    n = 0
    for name, sql in m.oracle_sql().items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            rows = con.execute(sql).fetchall()
        except Exception as e:  # oracle errors are the value compare's job
            print(f"skip  {name}: duckdb error: {str(e)[:120]}")
            continue
        hits = [r for r in rows if any(_neg_zero(v) for v in r)]
        n += 1
        if hits:
            bad[name] = hits[:3]
            print(f"NEGZ  {name}: {len(hits)} rows with -0.0, e.g. {hits[0]} [{time.time()-t0:.1f}s]")
        else:
            print(f"ok    {name}: {len(rows)} rows [{time.time()-t0:.1f}s]")
    print(f"\nswept {n} oracles on {SF_DIR}: {len(bad)} emit -0.0")
    if bad:
        print("FAIL:", ", ".join(sorted(bad)))
    return int(bool(bad))


def main():
    spec = importlib.util.spec_from_file_location("entrymod", os.path.join(REPO, "__spark_entry__.py"))
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    if SWEEP == "--zeros":
        return sweep_zeros(m, con)
    spark = get_spark(app_name="oracle-check", master="local[8]", shuffle_partitions=8)
    if SWEEP == "--dtypes":
        return sweep_dtypes(m, con, spark)

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
    sys.exit(main())
