"""Seeded input generators for the benchmark.

Everything here is pure Python + numpy/pyarrow: no Spark import, so the
inputs are fixed before the engine starts and the same seed always gives
the same bytes. Row counts are fixed per workload (only the number of
lines per order, about four, is drawn); the seed changes values.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# serve_mixed: a social graph plus a statement script
# --------------------------------------------------------------------------
N_PERSONS = 300
N_KNOWS = 1200
CITIES = ["Oslo", "Lima", "Kyiv", "Pune", "Tunis", "Quito", "Hanoi", "Perth"]


def social_graph(seed: int) -> tuple[list[tuple], list[tuple]]:
    """``(nodes, edges)`` rows in the engine's schema:
    nodes ``(id, "Person", {name, age, city})`` and edges
    ``(id, src, dst, "KNOWS", {since})`` with distinct ordered pairs."""
    rng = random.Random(seed * 7919 + 1)
    nodes = []
    for i in range(N_PERSONS):
        props = {"name": f"p{i:03d}", "age": str(rng.randint(18, 79)), "city": rng.choice(CITIES)}
        nodes.append((f"person-{i:03d}", "Person", props))
    pairs: set[tuple[int, int]] = set()
    while len(pairs) < N_KNOWS:
        s, d = rng.randrange(N_PERSONS), rng.randrange(N_PERSONS)
        if s != d:
            pairs.add((s, d))
    edges = []
    for j, (s, d) in enumerate(sorted(pairs)):
        edges.append(
            (f"knows-{j:04d}", nodes[s][0], nodes[d][0], "KNOWS", {"since": str(rng.randint(1990, 2024))})
        )
    return nodes, edges


# One script cycle: the statement kinds in a fixed order (the seed picks
# only names and values), 8 reads then 4 writes, so two statements in
# three are reads. The writes create a node, link it from an existing
# person, update a property and delete the node again, so the live graph
# size is the same after every cycle. Reads run before the writes of
# their cycle: a write leaves the graph an unmaterialized union until the
# engine's next checkpoint, and mixing the two populations would put the
# median read on that cliff.
CYCLE = [
    "point", "expand", "range", "point", "varlen", "expand", "range", "point",
    "create", "link", "set", "delete",
]
READ_KINDS = {"point", "expand", "range", "varlen"}


def serve_script(seed: int, cycles: int) -> list[dict]:
    """The statement script: ``cycles`` repetitions of :data:`CYCLE`.

    Each entry is ``{"kind", "cls" ('read'|'write'), "query", "params"}``.
    Path endpoints take inline names (the engine does not resolve
    ``$param`` there); only the point lookup uses a parameter."""
    rng = random.Random(seed * 104729 + 2)
    out = []
    for c in range(cycles):
        new = f"n{c:04d}"
        for kind in CYCLE:
            who = f"p{rng.randrange(N_PERSONS):03d}"
            params: dict[str, str] = {}
            if kind == "point":
                q = "MATCH (p:Person {name: $who}) RETURN p.age"
                params = {"who": who}
            elif kind == "expand":
                q = f'MATCH (a:Person {{name: "{who}"}})-[:KNOWS]->(b:Person) RETURN b.name'
            elif kind == "range":
                q = (
                    f"MATCH (p:Person) WHERE p.age > {rng.randint(20, 75)} "
                    "RETURN p.name ORDER BY p.name LIMIT 10"
                )
            elif kind == "varlen":
                q = f'MATCH (a:Person {{name: "{who}"}})-[:KNOWS*1..2]->(b) RETURN id(b)'
            elif kind == "create":
                q = (
                    f'CREATE (n:Person {{name: "{new}", age: "{rng.randint(18, 79)}", '
                    f'city: "{rng.choice(CITIES)}"}})'
                )
            elif kind == "link":
                q = (
                    f'MATCH (a:Person {{name: "{who}"}}), (b:Person {{name: "{new}"}}) '
                    "CREATE (a)-[:KNOWS]->(b)"
                )
            elif kind == "set":
                q = f'MATCH (p:Person {{name: "{who}"}}) SET p.age = "{rng.randint(18, 79)}"'
            elif kind == "delete":
                q = f'MATCH (n:Person {{name: "{new}"}}) DETACH DELETE n'
            else:  # pragma: no cover - CYCLE is fixed above
                raise ValueError(kind)
            out.append(
                {"kind": kind, "cls": "read" if kind in READ_KINDS else "write", "query": q, "params": params}
            )
    return out


# --------------------------------------------------------------------------
# analytics_ops: TPC-H-shaped tables + docs + embeddings
# --------------------------------------------------------------------------
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJ = ["small", "large", "green", "cold", "blue", "bright", "red", "steel"]
NOUN = ["widget", "bolt", "rod", "gear", "valve", "spring"]
PTYPES = ["ECONOMY", "LARGE", "PROMO", "STANDARD"]
WORDS = (
    "the a data table row column key value join merge sort scan filter group agg "
    "window hash batch stream spark query order line part customer vector fast slow "
    "big small dup index shard cache plan task stage shuffle"
).split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]

# Row counts: the sf0.001 shape of the registry's TPC-H-style data.
SIZES = {
    "customer": 150, "supplier": 10, "part": 200, "orders": 1500,
    "documents": 500, "embeddings": 500,
}
EMB_DIM = 64


def _ts(days: np.ndarray) -> pa.Array:
    base = np.datetime64("1995-01-01", "us")
    return pa.array(base + days.astype("timedelta64[D]"), type=pa.timestamp("us"))


def tables(seed: int) -> dict[str, pa.Table]:
    """Every table the tpch graph projection and the ``docs_*``/``emb_*``
    entries read, as Arrow tables."""
    rng = np.random.default_rng(seed * 15485863 + 3)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = SIZES["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    ns = SIZES["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, ns), 2),
    })
    npart = SIZES["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(rng.integers(0, len(ADJ), npart), rng.integers(0, len(NOUN), npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": [PTYPES[t] for t in rng.integers(0, len(PTYPES), npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(npart) * 0.1, 2),
    })
    no = SIZES["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": _ts(rng.integers(0, 2500, no)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    # 4 lines per order on average (1..7), keys unique per (order, line)
    lines = rng.integers(1, 8, no)
    lok = np.repeat(np.arange(no), lines)
    lln = np.concatenate([np.arange(1, k + 1) for k in lines])
    nl = len(lok)
    qty = rng.integers(1, 51, nl).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(lln, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _ts(rng.integers(0, 2600, nl)),
    })
    out["documents"] = _documents(rng)
    out["embeddings"] = _embeddings(rng)
    return out


def _documents(rng: np.random.Generator) -> pa.Table:
    """Word-salad documents; one in ten is a near copy (a few words
    swapped) of an earlier one, so the dedup family has real pairs."""
    n = SIZES["documents"]
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(words) // 25)):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[int(w)] for w in rng.integers(0, len(WORDS), int(rng.integers(10, 90)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    """Unit-norm float32 vectors around 10 labelled centres."""
    n = SIZES["embeddings"]
    centres = rng.normal(size=(10, EMB_DIM))
    labels = rng.integers(0, 10, n)
    v = centres[labels] + rng.normal(scale=0.8, size=(n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(seed: int, out_dir: str) -> str:
    """Write :func:`tables` as ``<out_dir>/<name>.parquet``; returns
    ``out_dir`` (the ``sf_dir`` the library's loaders expect)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def fingerprint(obj) -> str:
    """Stable digest of generated inputs (self-tests compare two calls)."""
    import hashlib

    h = hashlib.sha256()
    if isinstance(obj, dict):
        for k in sorted(obj):
            h.update(k.encode())
            h.update(fingerprint(obj[k]).encode())
    elif isinstance(obj, pa.Table):
        h.update(repr(obj.to_pydict()).encode())
    else:
        h.update(repr(obj).encode())
    return h.hexdigest()


__all__ = [
    "CYCLE", "READ_KINDS", "SIZES", "social_graph", "serve_script", "tables",
    "write_tables", "fingerprint",
]
