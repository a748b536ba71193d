"""Similarity search over embedding columns (``array<float>``).

The ops here are exact and approximate top-k search (brute force,
RP-LSH, IVF, PQ, IVFADC, int8 scalar and binary codes, MaxSim),
clustering and curation (k-means, SemDeDup, outliers, near-duplicate
pairs and groups, kNN labels) and embedding-space health reports. The
exact ones are hash-checked against DuckDB replays
(``__spark_entry__.oracle_sql``). Their fixed-point rules are each
written once, in this module:

- **Grid.** A coordinate ``x`` becomes the int64 ``floor(x·GRID + 0.5)``,
  ``GRID = 2^20`` (:func:`_grid` on a Spark column, :func:`_grid_probe`
  on a probe row the driver holds). Every integer op uses this one
  grid, so a codebook fitted by one op is searched on the same grid by
  the next. ``embedding_drift`` alone sums on its own 10^6 grid.
- **Integer folds.** Distances and norms on the grid are exact int64
  folds (:func:`_lsum`); integer sums are associative, so partitioning
  never changes a bit.
- **Nearest centroid.** :func:`_nearest` is the one assignment kernel:
  per row and per subspace, the argmin of ``|x|² − 2x·c + |c|²`` in
  int64, ties to the lowest index.
- **Lloyd loop.** :func:`_lloyd` fits k-means (one subspace), PQ (m
  subspaces) and the IVFADC residual PQ: the k smallest ids as init,
  :func:`_nearest` assignment, floor-division means, stop at the fixed
  point. The codes it returns were made with the centroids it returns.
- **Ranking.** A probe search that ends on exact cosine ends in
  :func:`_cosine_rank` (sequential double dot products, rounded to
  ``COSINE_DIGITS``, top k by ``(cosine DESC, id)`` against a broadcast
  probe); an ADC search sums the plan-literal int64 tables of
  :func:`_adc_score`.

The oracles in ``__spark_entry__`` replay the same rules:
``_grid_sql`` is their grid, ``_kmeans_sql_parts`` replays the Lloyd
loop for ``_kmeans_oracle``, ``_pq_oracle``, ``_ivf_oracle`` and
``_ivfpq_oracle`` (which also replay the probe's grid, the cell ranking
and the ADC tables), and the probe-search oracles replay the rounded
cosine ranking.
"""

from __future__ import annotations

import math
import random
import sys

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graph_loom_spark.graph import local_frame, scratch, shuffle_partitions
from graph_loom_spark.ops import spread

#: The fixed-point grid: one unit is 2^-20 (~1e-6, far below embedding noise).
GRID = 1 << 20
#: Decimal digits every exact cosine is rounded to before it is ranked
#: or thresholded, so float summation noise never flips an order.
COSINE_DIGITS = 4


def _dot(a: Column, b: Column) -> Column:
    """Sequential double-precision dot product (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def _grid(vec: Column, scale: int = GRID) -> Column:
    """``vec`` on the fixed-point grid: ``floor(x·scale + 0.5)`` as int64."""
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * F.lit(float(scale)) + F.lit(0.5)).cast("long")
    )


def _grid_probe(vec):
    """A probe row the driver holds, on the grid of :func:`_grid`."""
    import numpy as np

    return np.floor(np.asarray(vec, dtype=np.float64) * GRID + 0.5).astype(np.int64)


def _lsum(arr: Column) -> Column:
    """Exact int64 sum of an integer array."""
    return F.aggregate(arr, F.lit(0).cast("long"), lambda acc, v: acc + v)


def grid_sqnorm(vec: Column) -> Column:
    """Exact int64 squared norm of ``vec`` on the grid."""
    return _lsum(F.transform(_grid(vec), lambda v: v * v))


def _probe(df: DataFrame, probe_id: int, cols: list, id_col: str, op: str) -> list:
    """The rows of ``probe_id`` in ``df`` (columns ``cols``); raises when
    there are none."""
    rows = df.filter(F.col(id_col) == probe_id).select(*cols).collect()
    if not rows:
        raise ValueError(f"{op}: probe {probe_id!r} not in embeddings")
    return rows


def _cosine_rank(cand: DataFrame, probe: DataFrame, k: int, id_col: str, vec_col: str) -> DataFrame:
    """The exact refinement every cosine probe search ends with: score
    ``cand`` against the one-row ``probe`` frame (its vector in
    ``__p``, broadcast), round to ``COSINE_DIGITS``, keep the top ``k``
    by ``(cosine DESC, id)``. Returns ``(id, cosine)``."""
    cos = _dot(F.col(vec_col), F.col("__p")) / (_norm(F.col(vec_col)) * _norm(F.col("__p")))
    return (
        cand.crossJoin(F.broadcast(probe))
        .select(F.col(id_col), F.round(cos, COSINE_DIGITS).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def _probe_vec(df: DataFrame, probe_id: int, id_col: str, vec_col: str) -> DataFrame:
    """The probe frame :func:`_cosine_rank` broadcasts."""
    return df.filter(F.col(id_col) == probe_id).select(F.col(vec_col).alias("__p"))


def _nearest(books):
    """The nearest-centroid kernel, as an Arrow-batched pandas UDF over a
    grid-quantized vector column: for each of the ``m`` int64 codebooks
    in ``books`` (each ``k × dim/m``, codebook ``j`` owning coordinates
    ``j·dim/m ..``), the index of the nearest centroid by exact int64
    squared distance, ties to the lowest index. Returns ``array<int>``
    of length ``m``. One (batch×sub)·(sub×k) matmul per subspace and
    batch: an expression per centroid blows up codegen at k ≥ 16."""
    import numpy as np
    import pandas as pd

    mats = [np.asarray(c, dtype=np.int64) for c in books]
    cns = [(c**2).sum(axis=1) for c in mats]
    sub = mats[0].shape[1]

    def _cells(v):
        M = np.asarray(v.tolist(), dtype=np.int64)
        if M.size == 0:
            return pd.Series([], dtype=object)
        out = np.empty((M.shape[0], len(mats)), dtype=np.int32)
        for j, (C, cn) in enumerate(zip(mats, cns)):
            S = M[:, j * sub : (j + 1) * sub]
            d2 = (S**2).sum(axis=1)[:, None] - 2 * (S @ C.T) + cn[None, :]
            out[:, j] = np.argmin(d2, axis=1)
        return pd.Series(list(out))

    # `from __future__ import annotations` stringifies inline hints, which
    # pyspark's typehint inference can't resolve — attach real objects.
    _cells.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return F.pandas_udf(_cells, "array<int>")


def _nearest_cells(q, C, n: int) -> list[int]:
    """The ``n`` rows of the int64 matrix ``C`` nearest the grid vector
    ``q`` by exact squared distance, ties to the lower index."""
    import numpy as np

    d2 = ((np.asarray(C, dtype=np.int64) - q[None, :]) ** 2).sum(axis=1)
    return [int(c) for c in np.lexsort((np.arange(len(d2)), d2))[:n]]


def _adc_score(q, books) -> Column:
    """ADC score of a row's ``code_0..code_{m-1}`` against the grid
    (sub)vector ``q``: ``Σ_j LUT_j[code_j]``, each ``LUT_j`` the exact
    int64 squared distances from ``q``'s slice ``j`` to codebook ``j``,
    held as a plan literal."""
    import numpy as np

    sub = len(q) // len(books)
    score = None
    for j, B in enumerate(books):
        d = ((q[j * sub : (j + 1) * sub][None, :] - np.asarray(B, dtype=np.int64)) ** 2).sum(axis=1)
        lut = F.array(*[F.lit(int(x)).cast("long") for x in d])
        term = F.element_at(lut, F.col(f"code_{j}") + 1)
        score = term if score is None else score + term
    return score


def _lloyd(frame: DataFrame, q: Column, names: list[str], k: int, iters: int, id_col: str):
    """The fixed-point Lloyd loop behind :func:`kmeans_fit`,
    :func:`pq_fit` and :func:`ivfpq_fit`: fit ``len(names)`` independent
    k-means codebooks over the contiguous subspaces of the int64 grid
    vectors ``q`` (a column of ``frame``). Returns ``(codes, books)``:
    the pinned ``(id, *names)`` frame of per-subspace cluster indices
    and the list of int64 ``k × dim/m`` codebooks those codes were
    assigned with.

    The quantized frame is pinned first; the init rows (the k smallest
    ids), the dimension and the row count are read from the pin. Each
    iteration is one :func:`_nearest` pass and one partial-aggregable
    ``posexplode → groupBy(pos, cluster)`` sum+count shuffle carrying
    ``k·dim`` values, whose floor-division means (Python ``//``; the SQL
    oracle's ``floor(s/n)``, exact for ``|s| < 2^53``) are the next
    centroids; an empty cluster keeps its centroid. The loop stops once
    every subspace is at its fixed point (a converged subspace's extra
    passes are identities). Only the ``k×dim`` centroids reach the driver
    per iteration. (Per-coordinate columns in one row per cluster
    compute the same sums but pay dim-wide codegen on every iteration's
    fresh plan — measured 1.6–6.3 s vs 0.6 s per iteration at sf0.1.)
    """
    import numpy as np

    spark = frame.sparkSession
    m = len(names)
    with scratch(spark) as s:
        X = s.pin(spread(frame.select(F.col(id_col), q.alias("__q"))))
        init_rows = X.orderBy(id_col).limit(k).collect()
        if len(init_rows) < k:
            raise ValueError(f"k={k} exceeds row count {len(init_rows)}")
        full = np.asarray([r[1] for r in init_rows], dtype=np.int64)
        dim = full.shape[1]
        if dim % m != 0:
            raise ValueError(f"m={m} must divide dim={dim}")
        sub = dim // m
        C = [full[:, j * sub : (j + 1) * sub].copy() for j in range(m)]
        # Size the update shuffle from the data: the posexplode stream is
        # n·dim longs and the reduce side k·dim rows, so on small inputs
        # the session default (e.g. 32) means iters×32 near-empty reduce
        # tasks whose scheduling dominates the fit (measured ~10.8 s →
        # ~5 s at sf0.1, 2k×64); at cluster scale the n·dim term sizes it.
        n_rows = X.count()
        # the exploded coordinates carry their row's m codes as ints and
        # `pos` picks its subspace's (carrying the code array on every
        # exploded row cost ~5% of each update at sf0.01)
        codes = [F.element_at("__codes", j + 1).alias(f"__c{j}") for j in range(m)]
        cluster_of = F.col(f"__c{m - 1}")
        for j in reversed(range(m - 1)):
            cluster_of = F.when(F.col("pos") < (j + 1) * sub, F.col(f"__c{j}")).otherwise(cluster_of)
        with shuffle_partitions(spark, int(max(8, (n_rows * dim) // 2_000_000))):
            assigned = None
            C_assign = C
            for _ in range(iters):
                C_assign = C  # the centroids the returned codes were made with
                assigned = X.select(
                    F.col(id_col), F.col("__q"), _nearest(C)(F.col("__q")).alias("__codes")
                )
                upd = (
                    assigned.select(*codes, F.posexplode("__q").alias("pos", "val"))
                    .groupBy("pos", cluster_of.alias("cluster"))
                    .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
                    .collect()
                )
                nxt = [c.copy() for c in C]
                for row in upd:
                    j, p = divmod(int(row["pos"]), sub)
                    nxt[j][row["cluster"], p] = int(row["s"]) // int(row["n"])
                if all(np.array_equal(a, b) for a, b in zip(nxt, C)):
                    break
                C = nxt
            out = assigned.select(
                F.col(id_col),
                *[F.element_at("__codes", j + 1).alias(name) for j, name in enumerate(names)],
            ).localCheckpoint(eager=True)
    return out, list(C_assign)


def cosine_topk(
    embeddings: DataFrame,
    probe_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of one stored vector (broadcast probe)."""
    return _cosine_rank(
        spread(embeddings.filter(F.col(id_col) != probe_id)),
        _probe_vec(embeddings, probe_id, id_col, vec_col),
        k,
        id_col,
        vec_col,
    )


def cosine_topk_batch(
    embeddings: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k for a set of probe vectors (probe side broadcast when
    small; row_number window per probe)."""
    base = embeddings.select(F.col(id_col).alias("nbr_id"), F.col(vec_col).alias("__v"))
    p = probes.select(F.col(id_col).alias("probe_id"), F.col(vec_col).alias("__p"))
    cos = _dot(F.col("__v"), F.col("__p")) / (_norm(F.col("__v")) * _norm(F.col("__p")))
    scored = (
        base.crossJoin(F.broadcast(p))
        .filter(F.col("nbr_id") != F.col("probe_id"))
        .select("probe_id", "nbr_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("nbr_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _random_hyperplanes(dim: int, bits: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def rp_lsh_buckets(
    embeddings: DataFrame,
    dim: int,
    bits: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tables: int = 4,
) -> DataFrame:
    """Random-hyperplane LSH index: ``tables`` independent ``bits``-bit
    bucket ids per vector, exploded to ``(id, vec, table, bucket)`` —
    the posting-list layout. A single hash table has poor recall for
    mid-cosine neighbors (measured 1/10 top-k recall at bits=8 on the
    synthetic corpus); OR-ing ``tables`` independent bucketings is the
    standard fix: recall 1-(1-p)^L at L× the index/scan cost. At 100 TB
    the frame is written partitioned by (table, bucket) so a probe
    touches only its posting lists.

    All tables×bits projections run as ONE Arrow-batched matmul per
    batch (a pandas UDF, like ivf_assign) — the expression-tree
    alternative builds tables×bits sequential fold expressions and was
    ~5× slower at 2k vectors."""
    import numpy as np
    import pandas as pd

    H = np.asarray(
        [
            plane
            for t in range(tables)
            for plane in _random_hyperplanes(dim, bits, seed + 1000 * t)
        ],
        dtype=np.float64,
    )  # (tables*bits, dim)
    weights = (1 << np.arange(bits, dtype=np.int64))

    def _buckets(v):
        M = np.asarray(v.tolist(), dtype=np.float64)
        if M.size == 0:
            return pd.Series([], dtype=object)
        signs = (M @ H.T) >= 0  # (n, tables*bits)
        signs = signs.reshape(len(M), tables, bits)
        out = (signs * weights).sum(axis=2)  # (n, tables) bucket ids
        return pd.Series(list(out.astype("int64")))

    _buckets.__annotations__ = {"v": pd.Series, "return": pd.Series}
    bucket_udf = F.pandas_udf(_buckets, "array<long>")
    tagged = spread(embeddings).select(
        F.col(id_col), F.col(vec_col), bucket_udf(F.col(vec_col)).alias("__bks")
    )
    return tagged.select(
        id_col,
        vec_col,
        F.posexplode("__bks").alias("table", "bucket"),
    )


def ann_topk(
    bucketed: DataFrame,
    probe_id: int,
    k: int = 10,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k over the multi-table LSH index: candidates are
    vectors sharing the probe's bucket, or a Hamming-1 neighbor of it,
    in ANY table. The probe's bucket list is tiny (tables × (1+bits)
    rows) and broadcast, so candidate generation is an equi-join on
    (table, bucket) — a posting-list lookup, never a scan of the full
    index.

    The index is read three times (probe buckets, probe vector,
    candidates), so the caller holds it pinned or written (the entry
    registry's ``_lsh_index`` memo); this op pins nothing."""
    spark = bucketed.sparkSession
    probes = set()
    for r in _probe(bucketed, probe_id, ["table", "bucket"], id_col, "ann_topk"):
        t, b = int(r["table"]), int(r["bucket"])
        probes.add((t, b))
        probes.update((t, b ^ (1 << i)) for i in range(bits))
    probe_df = local_frame(spark, sorted(probes), "table int, bucket long")
    cand = (
        bucketed.join(F.broadcast(probe_df), ["table", "bucket"])
        .filter(F.col(id_col) != probe_id)
        .select(id_col, vec_col)
        .dropDuplicates([id_col])
    )
    # one row per table carries the probe vector: keep one
    return _cosine_rank(
        cand, _probe_vec(bucketed, probe_id, id_col, vec_col).limit(1), k, id_col, vec_col
    )


def ivf_centroids(
    embeddings: DataFrame,
    n_cells: int = 16,
    sample_size: int = 4096,
    iters: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Spherical k-means coarse quantizer for IVF: Lloyd iterations on a
    deterministic sample, driver-side in numpy (centroids are tiny —
    n_cells×dim floats — so this is not a scale concern; the sample read
    is one column-pruned scan). Returns a unit-normalized ndarray
    ``(n_cells, dim)``. At 100 TB the sample comes from ``TABLESAMPLE``;
    ``orderBy(id).limit`` keeps it reproducible here."""
    import numpy as np

    rows = (
        embeddings.select(id_col, vec_col).orderBy(id_col).limit(sample_size).collect()
    )
    X = np.asarray([r[1] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    X = X / norms
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=min(n_cells, len(X)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(len(C)):
            members = X[assign == j]
            if len(members):
                c = members.mean(axis=0)
                n = np.linalg.norm(c)
                if n > 0:
                    C[j] = c / n
    return C


def ivf_assign(
    embeddings: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach the nearest-centroid cell id per vector. One Arrow-batched
    pandas UDF doing a single (batch×dim)·(dim×k) matmul — the
    expression-per-centroid alternative blows up codegen at k≥16."""
    import numpy as np
    import pandas as pd

    C = np.asarray(centroids, dtype=np.float64)

    def _cell(v):
        M = np.asarray(v.tolist(), dtype=np.float64)
        if M.size == 0:
            return pd.Series([], dtype="int32")
        norms = np.linalg.norm(M, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        return pd.Series(np.argmax((M / norms) @ C.T, axis=1).astype("int32"))

    # `from __future__ import annotations` stringifies inline hints, which
    # pyspark's typehint inference can't resolve — attach real objects.
    _cell.__annotations__ = {"v": pd.Series, "return": pd.Series}
    cell_udf = F.pandas_udf(_cell, "int")
    embeddings = spread(embeddings)  # matmul per batch is CPU-bound
    return embeddings.select(F.col(id_col), F.col(vec_col), cell_udf(F.col(vec_col)).alias("cell"))


def ivf_topk(
    assigned: DataFrame,
    centroids,
    probe_id: int,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe: rank cells by centroid similarity to the probe vector,
    scan only the top ``nprobe`` cells (~nprobe/n_cells of the table;
    with the table written partitioned/bucketed by ``cell`` the pruning
    happens at the file level), exact cosine within the candidates."""
    import numpy as np

    row = _probe(assigned, probe_id, [vec_col], id_col, "ivf_topk")[0]
    p = np.asarray(row[0], dtype=np.float64)
    n = np.linalg.norm(p)
    p = p / (n if n else 1.0)
    C = np.asarray(centroids, dtype=np.float64)
    cells = [int(c) for c in np.argsort(-(C @ p))[:nprobe]]
    return _cosine_rank(
        assigned.filter(F.col("cell").isin(cells) & (F.col(id_col) != probe_id)),
        _probe_vec(assigned, probe_id, id_col, vec_col),
        k,
        id_col,
        vec_col,
    )


def ivf_flat_topk(
    embeddings: DataFrame,
    assigned: DataFrame,
    centroids_int,
    probe_id: int,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat probe over a :func:`kmeans_fit` quantizer — the fully
    deterministic sibling of :func:`ivf_topk`: cells are ranked by EXACT
    integer squared distance between the quantized probe and each
    centroid (ties → lower cell index), the top ``nprobe`` cells'
    members are scanned, and candidates are ranked by cosine rounded to
    4 decimals (ties → lower id) — every step reproducible in any
    engine, so the whole query is SQL-oracle-checkable. Same scale
    shape as :func:`ivf_topk`: the scan touches ~nprobe/n_cells of the
    table (file-level pruning when the table is written partitioned by
    cell), and the probe vector is a 1-row broadcast.
    """
    row = _probe(embeddings, probe_id, [vec_col], id_col, "ivf_flat_topk")[0]
    cells = _nearest_cells(_grid_probe(row[0]), centroids_int, nprobe)
    cand = (
        assigned.filter(F.col("cluster").isin(cells) & (F.col(id_col) != probe_id))
        .join(embeddings.select(id_col, vec_col), id_col)
    )
    return _cosine_rank(
        cand, _probe_vec(embeddings, probe_id, id_col, vec_col), k, id_col, vec_col
    )


def cosine_near_pairs_blocked(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_cells: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    salt: int = 8,
) -> DataFrame:
    """EXACT near-duplicate pairs (cosine ≥ threshold) with no cross
    join: centroid-blocked join + angular triangle-inequality pruning.

    Same result set as the brute-force all-pairs join, but the only
    full-table join is an equi-join on admissible (cell_a, cell_b)
    pairs:

    1. assign every vector to its nearest spherical-k-means centroid
       (``ivf_centroids``/``ivf_assign`` — one Arrow-batched matmul);
    2. per cell, radius r_c = max angle(member, centroid) (one cheap
       aggregate; n_cells rows collected);
    3. driver prunes cell pairs: any pair (a∈i, b∈j) satisfies
       angle(c_i,c_j) ≤ r_i + angle(a,b) + r_j, so if
       angle(c_i,c_j) − r_i − r_j > acos(threshold) NO member pair can
       reach the threshold — drop the cell pair (exactness preserved;
       only provably-empty blocks are skipped);
    4. equi-join members over the surviving (cell_a, cell_b) list
       (tiny, broadcast) and apply the exact cosine filter.

    Worst case (all cell pairs admissible) degrades to distributed
    block-nested-loop — never worse than the cross join; on clustered
    data most of the O(n²) work is pruned. n_cells ~ √n keeps both the
    per-block fan-out and the driver-side pair table bounded at scale.
    A workload-computed skew guard salts the verify join (a-side
    hash(id) mod s, b-side ×s replication, identical output) when any
    single cell's candidate work exceeds ~2× the per-core average —
    dense duplicate clusters otherwise serialize into one straggler
    task that AQE's byte-based skew split cannot see; ``salt`` caps s.
    Zero-norm vectors can never pass the threshold (NaN cosine) and are
    excluded up front so radii stay finite.
    """
    import math

    import numpy as np

    spark = embeddings.sparkSession
    embeddings = embeddings.filter(_norm(F.col(vec_col)) > 0)
    if n_cells is None:
        # n_cells ~ √n bounds both the expected per-cell population (√n)
        # and the driver-side cell-pair table (n) — a FIXED cell count
        # makes cells grow linearly with data and the candidate set
        # near-quadratic (measured: n_cells=16 at 5k vectors ⇒ 28 s at
        # sf0.1; √n-sized cells ⇒ the same exact rows in a fraction).
        # One count() job, data-independent determinism (seeded sample).
        n_cells = max(16, int(math.isqrt(embeddings.count())))
    C = ivf_centroids(
        embeddings, n_cells=n_cells, seed=seed, id_col=id_col, vec_col=vec_col
    )
    assigned = ivf_assign(embeddings, C, id_col=id_col, vec_col=vec_col).localCheckpoint(
        eager=True
    )
    cent_df = local_frame(
        spark, [(i, [float(x) for x in C[i]]) for i in range(len(C))], "cell int, __c array<double>"
    )
    # member→centroid angle; centroids are unit-norm so cos = dot/|v|
    memcos = _dot(F.col(vec_col), F.col("__c")) / _norm(F.col(vec_col))
    clamped = F.greatest(F.lit(-1.0), F.least(F.lit(1.0), memcos))
    stats = (
        assigned.join(F.broadcast(cent_df), "cell")
        .groupBy("cell")
        .agg(F.max(F.acos(clamped)).alias("r"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    radii = {int(r["cell"]): float(r["r"]) for r in stats}
    sizes = {int(r["cell"]): int(r["n"]) for r in stats}
    max_angle = math.acos(max(-1.0, min(1.0, threshold)))
    ang = np.arccos(np.clip(np.asarray(C) @ np.asarray(C).T, -1.0, 1.0))
    # ordered pairs both ways (+ diagonal): with id_a < id_b applied after
    # the join, each vector pair surfaces exactly once, whichever cell
    # holds the smaller id. 1e-9 absorbs float error in the angle math.
    admissible = [
        (i, j)
        for i in radii
        for j in radii
        if ang[i][j] - radii[i] - radii[j] <= max_angle + 1e-9
    ]
    pair_df = local_frame(spark, admissible, "cell_a int, cell_b int")
    # norms computed ONCE per row (n higher-order exprs), so the
    # per-pair verify below is a single interpreted dot product plus a
    # scalar divide — higher-order array expressions are interpreted,
    # not codegen'd, and the pair set is the hot loop (|pairs| >> n).
    # The arithmetic shape (raw-vector dot ÷ norm product) is kept
    # bit-identical to the DuckDB oracle; pre-normalizing the vectors
    # instead would perturb the last ulp and can flip round(·, 4).
    normed = assigned.select(
        F.col(id_col), F.col("cell"), F.col(vec_col), _norm(F.col(vec_col)).alias("__n")
    )
    a = normed.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__a"),
        F.col("__n").alias("__na"), F.col("cell").alias("cell_a"),
    )
    b = normed.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("__b"),
        F.col("__n").alias("__nb"), F.col("cell").alias("cell_b"),
    )
    # SKEW GUARD on the verify join: its key (cell_b) has only n_cells
    # distinct values and the per-row work (interpreted dot product) is
    # CPU, not bytes — a dense hot cell serializes into one straggler
    # task that AQE's byte-based skew split never sees (observed DNF at
    # a 10× probe corpus with replica clusters). The per-cell candidate
    # workload is exactly computable from the already-collected cell
    # sizes, so salt ONLY when some cell's verify work exceeds ~2× the
    # per-core average (uniform data pays nothing). a-side salt =
    # hash(id_a) mod s, b-side replicated ×s: identical join output,
    # hot-cell verification spread over s tasks, extra cost = (s−1)
    # copies of the b-side shuffle (vectors are dim floats — bounded).
    partners: dict[int, int] = {}
    for i, j in admissible:
        partners[j] = partners.get(j, 0) + sizes[i]
    work = {j: sizes[j] * p for j, p in partners.items()}
    total_work = sum(work.values()) or 1
    parts = spark.sparkContext.defaultParallelism
    per_core = total_work / parts
    s = min(int(salt), max(1, math.ceil(max(work.values(), default=0) / (2 * per_core))))
    joined = a.join(F.broadcast(pair_df), "cell_a")
    if s > 1:
        salt_df = spark.range(s).select(F.col("id").cast("int").alias("__s"))
        a2 = joined.withColumn(
            "__s", F.pmod(F.xxhash64("id_a"), F.lit(s)).cast("int")
        )
        b2 = b.crossJoin(F.broadcast(salt_df))
        cand = a2.join(b2, ["cell_b", "__s"]).filter(F.col("id_a") < F.col("id_b"))
    else:
        cand = joined.join(b, "cell_b").filter(F.col("id_a") < F.col("id_b"))
    cos = _dot(F.col("__a"), F.col("__b")) / (F.col("__na") * F.col("__nb"))
    return cand.select("id_a", "id_b", F.round(cos, COSINE_DIGITS).alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


def cosine_near_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    dim: int = 64,
    seed: int = 42,
    exact: bool = False,
) -> DataFrame:
    """Embedding near-duplicate pairs (cosine ≥ threshold). ``exact=True``
    brute-forces all pairs (testing only — prefer
    :func:`cosine_near_pairs_blocked`, exact without the cross join);
    default prunes via shared LSH bucket first (approximate)."""
    if exact:
        a = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__a"))
        b = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__b"))
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    else:
        bk = rp_lsh_buckets(embeddings, dim, bits, seed, id_col, vec_col)
        a = bk.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("__a"), "table", "bucket"
        )
        b = bk.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("__b"), "table", "bucket"
        )
        # same bucket in ANY table ⇒ candidate (multi-table OR-construction)
        pairs = (
            a.join(b, ["table", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
    cos = _dot(F.col("__a"), F.col("__b")) / (_norm(F.col("__a")) * _norm(F.col("__b")))
    return pairs.select("id_a", "id_b", F.round(cos, COSINE_DIGITS).alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


def kmeans(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``kmeans_fit`` returning just the ``(vec_id, cluster)`` frame —
    see :func:`kmeans_fit` for the algorithm and determinism story."""
    assigned, _ = kmeans_fit(embeddings, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    return assigned


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Fully distributed Euclidean k-means (Lloyd's): returns
    ``(assigned, centroids)`` — the ``(vec_id, cluster)`` frame plus the
    quantized int64 centroid matrix the returned assignment was computed
    with (for quantizer composition, e.g. :func:`ivf_flat_topk`).

    This is the shared fixed-point loop :func:`_lloyd` with one
    subspace, so assignment is the :func:`_nearest` kernel and the
    update one partial-aggregable shuffle of ``k×dim`` sums. Unlike
    :func:`ivf_centroids` (which Lloyd-iterates driver-side on a bounded
    SAMPLE to build a coarse quantizer), both steps run on the full
    table as Spark jobs — the 100 TB path.

    **Fixed-point arithmetic**: coordinates are quantized once to the
    ``GRID`` (``floor(x·2^20 + 0.5)``), distances are exact int64 dot
    products, and centroid updates are exact integer sums with
    floor-division means. Integer sums are associative, so clustering is
    bit-identical across engines, partitionings, and reruns — same
    determinism lever as the fixed-point PageRank, and what lets an
    ANSI-SQL oracle replay every Lloyd iteration exactly. Init is the
    quantized vectors of the k smallest ids (no RNG); ``argmin`` breaks
    distance ties toward the lowest cluster index. The quantized frame
    is pinned for the loop and freed before returning.
    """
    assigned, (C,) = _lloyd(embeddings, _grid(F.col(vec_col)), ["cluster"], k, iters, id_col)
    return assigned, C


def _symmetric_int(embeddings: DataFrame, vec_col: str, bits: int, op: str):
    """The symmetric ``bits``-bit quantizer of :func:`sq_topk` and
    :func:`hard_negatives`: one GLOBAL scale ``s = max|x_ij|`` (one
    scalar aggregate), ``q = floor(x·qmax/s + 0.5)`` with ``qmax =
    2^(bits-1)-1``. Returns ``(qmax, s, q)``, ``q`` the quantized
    ``vec_col`` column."""
    qmax = (1 << (bits - 1)) - 1
    s_row = embeddings.select(
        F.max(
            F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double"))))
        ).alias("s")
    ).head()
    if s_row is None or s_row[0] is None or s_row[0] == 0.0:
        raise ValueError(f"{op}: empty embeddings or all-zero corpus")
    s = float(s_row[0])
    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(qmax)) / F.lit(s) + 0.5),
    )
    return qmax, s, q


def hard_negatives(
    embeddings: DataFrame,
    probe_filter,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    bits: int = 8,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every probe
    vector (rows matching ``probe_filter``, a Column predicate), the
    single most-similar corpus vector with a DIFFERENT label — the
    highest-value negative pair a metric-learning batch can contain.
    Returns ``(pid, neg_id, qdot)``.

    Determinism: scores are exact int64 dot products of symmetric-int8
    quantized vectors (one global max-abs scale — :func:`sq_topk`'s
    construction), ties → lower id, so an SQL oracle replays scale,
    quantization and the argmax exactly.

    Shape: the probe block (p quantized vectors + labels, bounded by
    the filter) ships as ONE broadcast, the corpus streams through the
    resulting deliberate broadcast nested-loop join (p·n narrow rows —
    linear in p·n, no shuffle), and the per-probe argmax is a
    partial-aggregable max-struct — never a window, never a sort.
    """
    _, _, qrow = _symmetric_int(embeddings, vec_col, bits, "hard_negatives")
    q = embeddings.select(
        F.col(id_col), F.col(label_col).alias("__lb"), qrow.alias("__qv")
    )
    probes = q.filter(probe_filter).select(
        F.col(id_col).alias("__pid"),
        F.col("__lb").alias("__plb"),
        F.col("__qv").alias("__pv"),
    )
    qdot = _lsum(F.zip_with("__qv", "__pv", lambda a, b: a * b))
    return (
        spread(q)
        .crossJoin(F.broadcast(probes))
        .filter((F.col("__lb") != F.col("__plb")) & (F.col(id_col) != F.col("__pid")))
        .select("__pid", F.col(id_col), qdot.alias("__d"))
        .groupBy("__pid")
        .agg(
            F.max(
                F.struct(
                    F.col("__d").alias("d"),
                    (-F.col(id_col)).alias("ni"),
                    F.col(id_col).alias("i"),
                )
            ).alias("__m")
        )
        .select(
            F.col("__pid").alias("pid"),
            F.col("__m.i").alias("neg_id"),
            F.col("__m.d").alias("qdot"),
        )
    )


def kmeans_outliers(
    embeddings: DataFrame,
    assigned: DataFrame,
    centroids,
    top_n: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding outliers: the ``top_n`` vectors FARTHEST from their
    assigned k-means centroid (exact int64 squared distance on the
    quantized grid, ties → lower id) — the post-clustering curation
    step that surfaces noise/mislabeled/out-of-distribution embeddings
    for review or exclusion. ``assigned``/``centroids`` come from
    :func:`kmeans_fit`.

    Shape: centroids are a k×dim int64 matrix — bounded, shipped as a
    broadcast k-row frame; the distance is
    ``aggregate(zip_with(qv, cv, (a,b)→(a−b)²))`` — whole-stage codegen,
    no UDF, no shuffle beyond the assignment join; the global top-n is a
    TakeOrdered (never a full sort). Deterministic end to end, so an
    SQL replay of the fit reproduces the exact flag set.
    """
    spark = embeddings.sparkSession
    k = len(centroids)
    cent_df = local_frame(
        spark, [(int(i), [int(x) for x in centroids[i]]) for i in range(k)], "cluster int, cv array<bigint>"
    )
    qdist = _lsum(F.zip_with("qv", "cv", lambda a, b: (a - b) * (a - b)))
    return (
        embeddings.select(F.col(id_col), _grid(F.col(vec_col)).alias("qv"))
        .join(assigned.select(id_col, "cluster"), id_col)
        .join(F.broadcast(cent_df), "cluster")
        .select(F.col(id_col), F.col("cluster").cast("bigint").alias("cluster"), qdist.alias("qdist"))
        .orderBy(F.col("qdist").desc(), F.col(id_col))
        .limit(top_n)
    )


def kmeans_summary(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Cluster sizes + members' min id per cluster — the stable summary
    shape for the entry query (sizes are exact integers; min id pins the
    clustering itself, not just its histogram). Pass ``assigned`` (a
    ``(vec_id, cluster)`` frame from a prior identical-parameter
    :func:`kmeans`) to skip the fit — it is deterministic, so a caller
    sharing one fit across operators gets bit-identical results."""
    if assigned is None:
        assigned = kmeans(embeddings, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    return assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("size"), F.min(id_col).alias("min_id")
    )


def pca(
    embeddings: DataFrame,
    n_components: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed PCA over an embedding column: returns
    ``(vec_id, pc)`` with ``pc`` = the ``n_components``-dim projection
    (array<double>) of the mean-centered vector — the standard
    dimensionality-reduction pass before ANN/clustering at corpus scale.

    One-pass covariance: each Arrow batch contributes its Gram matrix
    ``XᵀX`` (dim×dim), row sum, and count via ``mapInPandas`` — so the
    driver aggregates #batches × (dim² + dim + 1) doubles, never data —
    then ``cov = (Σ XᵀX − n·μμᵀ)/(n−1)`` and a dim×dim ``eigh`` on the
    driver (64×64 here; the driver-side cost is O(dim³), independent of
    row count). Projection is one broadcast matmul per batch.

    Determinism: eigh of the SAME covariance is deterministic, and the
    covariance is made partition-order-independent by rounding (1e-9)
    before the solve; each component's sign is fixed by making its
    largest-|coefficient| entry positive (eigenvector sign is otherwise
    arbitrary). Validated against a single-machine numpy PCA in pytest.
    """
    import numpy as np
    import pandas as pd

    dim = len(embeddings.select(vec_col).head()[0])
    gram_schema = "n long, s string, g string"

    def _partials(batches):
        for pdf in batches:
            M = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            if M.size == 0:
                continue
            yield pd.DataFrame(
                {
                    "n": [M.shape[0]],
                    # float64 bytes round-trip exactly through hex strings
                    "s": [M.sum(axis=0).tobytes().hex()],
                    "g": [(M.T @ M).tobytes().hex()],
                }
            )

    parts = embeddings.select(vec_col).mapInPandas(_partials, gram_schema).collect()
    if not parts:
        raise ValueError("pca: empty input")
    n = sum(r["n"] for r in parts)
    s = np.zeros(dim)
    g = np.zeros((dim, dim))
    for r in parts:
        s += np.frombuffer(bytes.fromhex(r["s"]), dtype=np.float64)
        g += np.frombuffer(bytes.fromhex(r["g"]), dtype=np.float64).reshape(dim, dim)
    mu = s / n
    cov = (g - n * np.outer(mu, mu)) / max(n - 1, 1)
    cov = np.round((cov + cov.T) / 2.0, 9)  # symmetrize + order-independence
    evals, evecs = np.linalg.eigh(cov)
    comps = evecs[:, ::-1][:, :n_components].T.copy()  # (k, dim), desc eigenvalue
    for j in range(comps.shape[0]):  # canonical sign
        if comps[j, np.argmax(np.abs(comps[j]))] < 0:
            comps[j] = -comps[j]

    proj_schema = f"{id_col} long, pc array<double>"

    def _project(batches):
        for pdf in batches:
            M = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            if M.size == 0:
                continue
            P = np.round((M - mu) @ comps.T, 6)
            yield pd.DataFrame({id_col: pdf[id_col], "pc": list(P)})

    return embeddings.select(id_col, vec_col).mapInPandas(_project, proj_schema)


def semdedup(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 10,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): k-means-cluster the
    embedding space, then inside each cluster drop every vector whose
    cosine similarity to a lower-id cluster-mate is ``>= threshold``.
    Returns ``(vec_id, cluster, keep)`` for every vector.

    Scale shape: the quadratic step is confined to intra-cluster pairs —
    exactly the published algorithm's trick; ``k`` grows with the corpus
    so cluster populations stay bounded (the paper uses k≈11k for LAION).
    The pair stream is an equi-join on ``cluster`` (shuffle carries
    id + vector once per side), cosine is a codegen'd zip_with/aggregate
    expression with norms hoisted before the join, and the drop set is a
    distinct projection of the losing ids. Clustering reuses
    :func:`kmeans` (fully distributed, deterministic — no RNG, rounded
    centroids), so the whole operator is exactly reproducible; the pytest
    oracle recomputes it brute-force in numpy. ``assigned`` injects a
    prior identical-parameter fit (see :func:`kmeans_summary`).
    """
    if assigned is None:
        assigned = kmeans(embeddings, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    vecs = embeddings.select(id_col, vec_col).join(assigned, id_col).select(
        F.col(id_col).alias("__id"),
        F.col("cluster"),
        F.col(vec_col).alias("__v"),
        _norm(F.col(vec_col)).alias("__nrm"),
    )
    a = vecs.select(
        F.col("__id").alias("__ida"), "cluster",
        F.col("__v").alias("__va"), F.col("__nrm").alias("__na"),
    )
    b = vecs.select(
        F.col("__id").alias("__idb"), "cluster",
        F.col("__v").alias("__vb"), F.col("__nrm").alias("__nb"),
    )
    dropped = (
        a.join(b, "cluster")
        .filter(F.col("__ida") < F.col("__idb"))
        # round-to-4 before thresholding — the same determinism discipline
        # as cosine_near_pairs_blocked: sub-1e-4 float-summation noise
        # cannot flip a keep decision, so the decision is reproducible in
        # any engine (SQL oracle included)
        .filter(
            F.round(
                _dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")),
                COSINE_DIGITS,
            )
            >= threshold
        )
        .select(F.col("__idb").alias("__id"))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return (
        vecs.select("__id", "cluster")
        .join(dropped, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "cluster",
            (~F.coalesce(F.col("__dup"), F.lit(False))).alias("keep"),
        )
    )


def sq_topk(
    embeddings: DataFrame,
    probe_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """Scalar-quantized (symmetric int8) top-k by dot product — the
    memory-bound ANN path: one GLOBAL scale ``s = max|x_ij|`` over the
    corpus, every component quantized to ``q = floor(x·qmax/s + 0.5)``
    with ``qmax = 2^(bits-1)-1``, scores are EXACT int64 dot products of
    the quantized vectors. At corpus scale the index is dim bytes/vector
    (4× smaller than float32, 8× than float64) and the scan is pure
    integer SIMD; scores are deterministic (no float summation order),
    so a SQL oracle replays scale, quantization, and ranking
    bit-for-bit. Ties → lower id. Returns ``(vec_id, qdot)``.

    Shape: one scalar max-abs aggregate (driver gets 8 bytes), then a
    single narrow scan scoring against the broadcast quantized probe —
    no shuffle beyond TakeOrdered's.
    """
    qmax, s, qrow = _symmetric_int(embeddings, vec_col, bits, "sq_topk")
    probe = _probe(embeddings, probe_id, [vec_col], id_col, "sq_topk")[0][0]
    qp = [int(math.floor(float(x) * qmax / s + 0.5)) for x in probe]
    qdot = _lsum(F.zip_with(qrow, F.array(*[F.lit(v).cast("long") for v in qp]), lambda a, b: a * b))
    return (
        spread(embeddings.filter(F.col(id_col) != probe_id))
        .select(F.col(id_col), qdot.alias("qdot"))
        .orderBy(F.col("qdot").desc(), F.col(id_col).asc())
        .limit(k)
    )


def pq_fit(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Product quantization (Jégou et al. 2011): split the vector into
    ``m`` contiguous subspaces and fit a fixed-point k-means on each —
    returns ``(codes, codebooks)`` where codes is the
    ``(vec_id, code_0..code_{m-1})`` frame (each code ∈ [0, k)) and
    codebooks is the list of ``m`` int64 ``k × dim/m`` matrices the codes
    were assigned with.

    This is the memory side of ANN at corpus scale: the PQ index stores
    ``m`` small ints per vector (m·log2(k) bits — 4 bytes here vs 256
    bytes of float64), and search scans codes, not vectors.

    The fit is the shared loop :func:`_lloyd` with ``m`` subspaces, the
    loop :func:`kmeans_fit` runs with one: per iteration one
    :func:`_nearest` pass assigns every subspace from the same quantized
    batch, and one ``groupBy(pos, cluster)`` shuffle carries the update
    sums of all subspaces together. Each subspace's fit is therefore
    bit-identical to :func:`kmeans_fit` on that slice (slicing commutes
    with the elementwise quantization, and a converged subspace's extra
    passes are identities), which the SQL oracle replays as ``m``
    independent fits.

    The codebook digest is printed to stderr and kept in
    :data:`LAST_PQ_MD5`, so a harness that keeps only logs or only
    structured output can compare fits across environments.
    """
    global LAST_PQ_MD5
    codes, books = _lloyd(
        embeddings, _grid(F.col(vec_col)), [f"code_{j}" for j in range(m)], k, iters, id_col
    )
    LAST_PQ_MD5 = pq_codebooks_md5(books)
    print(f"[pq_fit] codebooks md5={LAST_PQ_MD5} m={m} k={k}", file=sys.stderr)
    return codes, books


#: md5 of the most recently fitted PQ codebooks in this process (None
#: until the first pq_fit). Read by bench.py / diag writers.
LAST_PQ_MD5: str | None = None


def pq_codebooks_md5(codebooks) -> str:
    """Stable digest of a PQ codebook list: md5 over the int64 little-
    endian bytes of each subspace's k×sub centroid matrix, '|'-joined.
    The fit is fixed-point-deterministic, so two environments that
    produce different digests have diverged at the FIT, not the scan."""
    import hashlib

    import numpy as np

    return hashlib.md5(
        b"|".join(np.asarray(C, dtype=np.int64).tobytes() for C in codebooks)
    ).hexdigest()


def pq_topk(
    embeddings: DataFrame,
    codes: DataFrame,
    codebooks,
    probe_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC (asymmetric-distance) PQ search over a :func:`pq_fit` index:
    quantize the probe once, precompute the ``m × n_centroids`` exact
    int64 distance tables driver-side (m·k·dim/m integer ops — tiny),
    then score every row as ``Σ_j dt_j[code_j]`` — one narrow scan over
    the CODES table (no vector data touched), TakeOrdered top-k. Fully
    integer, ties → lower id, so a SQL oracle replays probe quantization,
    tables, and ranking exactly. Returns ``(vec_id, adc)``.
    """
    row = _probe(embeddings, probe_id, [vec_col], id_col, "pq_topk")[0]
    return (
        codes.filter(F.col(id_col) != probe_id)
        .select(F.col(id_col), _adc_score(_grid_probe(row[0]), codebooks).alias("adc"))
        .orderBy(F.col("adc").asc(), F.col(id_col).asc())
        .limit(k)
    )


def assign_to_centroids(
    df: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Exact nearest-centroid assignment against a FROZEN quantized
    codebook — the inference half of :func:`kmeans_fit` (fit offline,
    assign in-flight): the same :func:`_nearest` kernel over the same
    grid that the fit's assignment step runs, so offline and online
    labels never disagree. Stateless projection — usable on BATCH and
    STREAMING frames alike (no watermark, no state store).

    Returns ``(id_col, *keep_cols, cluster)``.
    """
    codes = _nearest([centroids])(_grid(F.col(vec_col)))
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in (keep_cols or [])],
        F.element_at(codes, 1).alias("cluster"),
    )


def pq_rerank_topk(
    embeddings: DataFrame,
    codes: DataFrame,
    codebooks,
    probe_id: int,
    k: int = 10,
    candidates: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage PQ retrieval — the production ANN serving shape (Jégou
    et al. 2011 §V-C reranking): stage 1 ranks the WHOLE corpus in the
    compressed domain (:func:`pq_topk` ADC over the 4-small-int codes
    table, vectors never touched) and keeps ``candidates`` ids; stage 2
    fetches ONLY those vectors (a broadcast semi-join — point lookups
    against the vector store at cluster scale) and re-scores them with
    the exact sequential-double cosine, repairing ADC's quantization
    error before the final top-``k``.

    Scale shape: stage-1 cost is the memory-bounded code scan; stage-2
    touches ``candidates`` full vectors regardless of corpus size. Both
    stages are deterministic (exact int64 ADC ties → lower id; rounded
    cosine ties → lower id), so an ANSI-SQL oracle replays the fit, the
    candidate cut, and the rescue ranking exactly. Returns
    ``(vec_id, cosine)``.
    """
    cand = pq_topk(
        embeddings,
        codes,
        codebooks,
        probe_id,
        k=candidates,
        id_col=id_col,
        vec_col=vec_col,
    ).select(id_col)
    return _cosine_rank(
        embeddings.join(F.broadcast(cand), id_col, "left_semi"),
        _probe_vec(embeddings, probe_id, id_col, vec_col),
        k,
        id_col,
        vec_col,
    )


def _probe_topk(embeddings, probe_filter, k, id_col, vec_col, label_col, candidates, graded):
    """``(p, top)`` for the labeled probe searches: the broadcast probe
    frame ``p`` and each probe's ``k`` nearest OTHER vectors by rounded
    cosine ``__c`` (ties → lower id ``__nid``), numbered ``__rn``.
    Pairs come from one corpus scan crossed with the broadcast probe
    ids, or, with ``candidates``, from its ``(probe_id, nbr_id)`` pairs.
    A ``graded`` search (the retrieval scorecards) carries the probe's
    label ``__plbl`` and whether the neighbor shares it (``__rel``);
    otherwise the neighbor's label ``__lbl`` (the kNN vote)."""
    p = embeddings.filter(probe_filter).select(
        F.col(id_col).alias("__pid"),
        *([F.col(label_col).alias("__plbl")] if graded else []),
        F.col(vec_col).alias("__p"),
    )
    cos = _dot(F.col("__v"), F.col("__p")) / (
        _norm(F.col("__v")) * _norm(F.col("__p"))
    )
    nbrs = [
        F.col(id_col).alias("__nid"),
        F.col(label_col).alias("__lbl"),
        F.col(vec_col).alias("__v"),
    ]
    if candidates is not None:
        pid_col, nid_col = candidates.columns[:2]
        # .distinct(): LSH/IVF candidate generators emit a probe/nbr
        # pair once per colliding band/cell, and a duplicated pair would
        # double-count a neighbor AND occupy two row_number top-k slots
        # (ADVICE r7) — dedup is part of the contract, not the caller's
        # job. Pair frames are slim (2 ids), so the distinct is a cheap
        # pre-aggregated shuffle.
        pairs = candidates.select(
            F.col(pid_col).alias("__pid"), F.col(nid_col).alias("__nid")
        ).distinct().join(embeddings.select(*nbrs), "__nid")
    else:
        pairs = spread(embeddings).select(*nbrs).crossJoin(F.broadcast(p.select("__pid")))
    c = F.round(cos, COSINE_DIGITS).alias("__c")
    if graded:
        cols = ["__pid", "__plbl", (F.col("__lbl") == F.col("__plbl")).alias("__rel"), c, "__nid"]
    else:
        cols = ["__pid", "__nid", "__lbl", c]
    scored = pairs.join(F.broadcast(p), "__pid").filter(F.col("__nid") != F.col("__pid")).select(*cols)
    w = Window.partitionBy("__pid").orderBy(F.col("__c").desc(), F.col("__nid"))
    return p, scored.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k)


def knn_label(
    embeddings: DataFrame,
    probe_filter,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """kNN auto-labeling over the embedding store — the weak-supervision
    pattern a training-data pipeline uses to propagate labels from a
    seeded subset: for every probe row matched by ``probe_filter``,
    take the ``k`` nearest OTHER vectors by rounded cosine (ranking
    ties → lower neighbor id) and emit the majority vote of their
    labels (vote ties → smaller label). Returns
    ``(vec_id, pred_label, votes, k)`` — ``votes``/``k`` doubles as a
    confidence proxy for routing low-agreement rows to review.

    Scale shape: the probe set is small by construction (a filter the
    caller bounds) and broadcast against one narrow corpus scan; the
    per-probe top-k is a ``row_number`` window partitioned by probe —
    no global sort, no all-pairs. At corpus scale pass ``candidates``
    — a ``(probe_id, nbr_id)`` frame from LSH/IVF candidate generation
    — and the scan becomes an equi-join that scores ONLY those pairs,
    exactly like ``ngram_jaccard_pairs(candidate_pairs=...)``
    re-scoring (identical output when the candidate set covers the true
    top-k; pinned by pytest). Fully deterministic → the SQL oracle
    replays scoring, ranking, and votes.
    """
    _, top = _probe_topk(
        embeddings, probe_filter, k, id_col, vec_col, label_col, candidates, graded=False
    )
    votes = top.groupBy("__pid", "__lbl").agg(F.count(F.lit(1)).alias("__v"))
    # argmax folded into a hash aggregate (min of (-votes, label)
    # structs) — same portable tie-break lever as weighted LPA
    return (
        votes.groupBy("__pid")
        .agg(
            F.min(
                F.struct((-F.col("__v")).alias("nv"), F.col("__lbl").alias("l"))
            ).alias("__b")
        )
        .select(
            F.col("__pid").alias(id_col),
            F.col("__b.l").alias("pred_label"),
            (-F.col("__b.nv")).cast("bigint").alias("votes"),
            F.lit(k).cast("bigint").alias("k"),
        )
    )


def retrieval_label_eval(
    embeddings: DataFrame,
    probe_filter,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Labeled-retrieval quality per probe — the TREC-style scorecard
    (reciprocal rank + precision@k) that grades the *retrieval* the way
    ``index_eval`` grades the *index* (recall vs exact): for every probe
    row matched by ``probe_filter``, rank all OTHER vectors by rounded
    cosine (ties → lower neighbor id, the knn_label ordering), call a
    neighbor RELEVANT when its label equals the probe's, and emit

    ``(vec_id, label, n_rel, p_at_k_micro, first_rel_rank, rr_micro)``

    with ``p_at_k_micro = n_rel·10⁶ div k`` and ``rr_micro = 10⁶ div
    first_rel_rank`` (both 0 when no relevant neighbor lands in the
    top-k; ``first_rel_rank`` 0 likewise) — integer micropoints, so the
    corpus MRR/P@k are exact sums downstream and a SQL oracle replays
    every row bit-for-bit. Complements :func:`knn_label` (same scoring,
    opposite read: there the neighbors label the probe, here the
    probe's known label grades the neighbors).

    Scale shape: identical to :func:`knn_label` — a caller-bounded
    broadcast probe set against one narrow corpus scan, per-probe
    ``row_number`` window, no global sort; pass ``candidates`` (a
    deduped-on-read ``(probe_id, nbr_id)`` frame from LSH/IVF candidate
    generation) to score only those pairs at corpus scale.
    """
    p, top = _probe_topk(
        embeddings, probe_filter, k, id_col, vec_col, label_col, candidates, graded=True
    )
    agg = top.groupBy("__pid").agg(
        F.sum(F.when(F.col("__rel"), 1).otherwise(0)).cast("bigint").alias("__nr"),
        F.min(F.when(F.col("__rel"), F.col("__rn"))).alias("__fr"),
    )
    # EVERY probe row gets a scorecard (the docstring contract): a
    # probe with no scored rows at all — singleton corpus, or a probe
    # absent from the candidates= frame — must come back zeroed
    # (n_rel=0, p_at_k_micro=0, first_rel_rank=0, rr_micro=0), not
    # silently vanish in the groupBy (ADVICE r10 #1). The probe frame
    # is the caller-bounded small side, so this left join is a
    # broadcast, not a new shuffle. Join on __pid ALONE (unique per
    # probe) and carry __plbl from the probe frame: a NULL-labeled
    # probe would never match its own agg row on a (__pid, __plbl) key
    # (NULL join keys never equal) and would report zeroed while its
    # real scorecard was discarded (ADVICE r11 #4).
    return (
        p.select("__pid", "__plbl")
        .join(agg, "__pid", "left")
        .select(
            F.col("__pid").alias(id_col),
            F.col("__plbl").alias(label_col),
            F.coalesce(F.col("__nr"), F.lit(0)).cast("bigint").alias("n_rel"),
            F.expr(f"(coalesce(__nr, 0L) * 1000000L) div {k}")
            .cast("bigint")
            .alias("p_at_k_micro"),
            F.coalesce(F.col("__fr"), F.lit(0)).cast("bigint").alias("first_rel_rank"),
            F.coalesce(F.expr("1000000L div __fr"), F.lit(0))
            .cast("bigint")
            .alias("rr_micro"),
        )
    )


def dimension_stats(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension embedding health report — the "is this embedding
    space collapsing?" screen run before any ANN/dedup pass: a
    dimension whose variance pins near 0 carries no signal (dead
    dimension / rank collapse; the anisotropy literature's first
    diagnostic, Ethayarajh 2019). Returns ``(dim, n, mean, variance,
    vmin, vmax)`` — one row per vector component, ``dim`` 1-based.

    Determinism: components cast float→double (exact), min/max exact;
    mean/variance are corpus double sums rounded 6 (the established
    float-sum class), variance clamped at 0 before rounding so a
    constant dimension reports +0.0. Scale shape: one posexplode (n·d
    narrow rows, no text/vector payload past the explode) into ONE
    partial-agg groupBy(dim) — no window, no join, no driver state;
    output is d rows.
    """
    x = embeddings.select(
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("__pos", "__x")
    ).select((F.col("__pos") + 1).cast("bigint").alias("dim"), "__x")
    a = x.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("__x").alias("__s"),
        F.sum(F.col("__x") * F.col("__x")).alias("__s2"),
        F.min("__x").alias("vmin"),
        F.max("__x").alias("vmax"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("__s") / nd
    var = F.greatest(F.col("__s2") / nd - mean * mean, F.lit(0.0))
    return a.select(
        "dim",
        "n",
        F.round(mean, 6).alias("mean"),
        F.round(var, 6).alias("variance"),
        "vmin",
        "vmax",
    )


def hubness(
    embeddings: DataFrame,
    pairs: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """k-occurrence (hubness) profile — the third ANN-health screen
    next to :func:`dimension_stats` and :func:`anisotropy`
    (Radovanović, Nanopoulos & Ivanović 2010, "Hubs in Space"): in
    high-dimensional spaces the count ``N_k(x)`` of points whose
    top-k neighbor lists contain ``x`` grows heavily skewed — a few
    hubs appear in thousands of lists while antihubs appear in none,
    degrading kNN labeling, retrieval diversity and semantic-dedup
    canonical choices. Returns ``(vec_id, k_occ)`` for EVERY vector
    (0 for antihubs); the skew/argmax read off downstream with one
    tiny aggregate.

    ``pairs`` is a scored ``(id_a, id_b, cosine)`` frame — at scale
    the :func:`lsh_near_pairs` candidate graph (posting-list-bounded;
    the memoized index the ANN entries already share), so each
    vector's "top-k list" is its top-k among candidates — the honest
    approximate contract (a pair colliding in no table is invisible,
    exactly as retrieval would experience it). PRECONDITION: ``pairs``
    must be canonical — one row per unordered pair, ``id_a < id_b``,
    no duplicates (the :func:`lsh_near_pairs` contract). The stream is
    symmetrized here WITHOUT deduplication, so a frame already
    carrying both orientations (or repeated rows) would double-count
    each neighbor and let one vector occupy two top-k slots; a
    ``dropDuplicates`` would burn a corpus-wide shuffle every call to
    defend against inputs no in-repo site produces. Deterministic:
    ranks order by (rounded cosine DESC, neighbor id), the knn_label
    tie-break.

    Scale shape: symmetrize the pair stream (2·|pairs| narrow rows),
    one per-probe ``row_number`` window PARTITIONED BY probe (bounded
    by candidate degree, never corpus-wide), one partial-agg
    ``groupBy(neighbor)``, one id-equi-join back to the id column.
    """
    pa, pb, pc = pairs.columns[:3]
    sym = pairs.select(
        F.col(pa).alias("__p"), F.col(pb).alias("__nb"), F.col(pc).alias("__c")
    ).unionAll(
        pairs.select(
            F.col(pb).alias("__p"), F.col(pa).alias("__nb"), F.col(pc).alias("__c")
        )
    )
    w = Window.partitionBy("__p").orderBy(F.col("__c").desc(), F.col("__nb"))
    occ = (
        sym.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .groupBy("__nb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__k"))
    )
    return (
        embeddings.select(F.col(id_col))
        .join(occ, F.col(id_col) == F.col("__nb"), "left")
        .select(
            id_col,
            F.coalesce(F.col("__k"), F.lit(0)).cast("bigint").alias("k_occ"),
        )
    )


def hubness_skew(
    embeddings: DataFrame,
    pairs: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """The hubness HEADLINE scalar: skewness of the k-occurrence
    distribution ``S_{N_k}`` — the statistic Radovanović et al. 2010
    actually report (S > 1 ⇒ the space has meaningful hubs; rises
    with intrinsic dimensionality). One row:

    ``(n, mean_k_occ, max_k_occ, n_antihubs, skewness)``

    over :func:`hubness`'s per-vector counts — population moments from
    power sums (``m2 = s2/n − m1²``, ``m3 = s3/n − 3·m1·(s2/n) +
    2·m1³``, ``S = m3/m2^{3/2}``), 0.0 when the variance is 0.

    Determinism: the power sums run in DECIMAL(38,0) — EXACT integer
    arithmetic at any corpus scale (a 2.5·10⁵-occurrence hub's cube
    already exceeds 2⁵³, where double partial sums would go
    order-dependent — code-review r12), converted to double ONCE
    (IEEE-nearest, deterministic) for the closed-form moment
    arithmetic, which the SQL oracle replicates token-for-token over
    exact HUGEINT sums; rounded 6. Scale shape: the hubness pipeline
    plus ONE final aggregate — nothing new shuffles.
    """
    h = hubness(embeddings, pairs, k=k, id_col=id_col)
    kd = F.col("k_occ").cast("decimal(38,0)")
    s = h.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(kd).alias("__s1"),
        F.sum(kd * kd).alias("__s2"),
        F.sum(kd * kd * kd).alias("__s3"),
        F.max("k_occ").cast("bigint").alias("max_k_occ"),
        F.sum((F.col("k_occ") == 0).cast("int"))
        .cast("bigint")
        .alias("n_antihubs"),
    )
    nd = F.col("n").cast("double")
    s1 = F.col("__s1").cast("double")
    s2 = F.col("__s2").cast("double")
    s3 = F.col("__s3").cast("double")
    m1 = s1 / nd
    m2 = s2 / nd - m1 * m1
    m3 = s3 / nd - F.lit(3.0) * m1 * (s2 / nd) + F.lit(2.0) * m1 * m1 * m1
    return s.select(
        "n",
        F.round(m1, 6).alias("mean_k_occ"),
        "max_k_occ",
        "n_antihubs",
        F.when(m2 > 0, F.round(m3 / F.pow(m2, F.lit(1.5)), 6))
        .otherwise(F.lit(0.0))
        .alias("skewness"),
    )


def anisotropy(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space anisotropy — the expected cosine between two
    DISTINCT random vectors (Ethayarajh 2019's corpus-level measure;
    an isotropic space scores ≈ 0, a collapsed/anisotropic one → 1,
    and high anisotropy degrades both cosine-ANN recall and
    semantic-dedup thresholds, which is why this runs next to
    :func:`dimension_stats` before any embedding curation pass). With
    unit-normalized vectors u it collapses to a CLOSED FORM over
    per-dimension sums::

        E[cos(u_i, u_j)] = (‖Σu‖² − n) / (n·(n−1))

    (‖Σu‖² = Σ_d s_d², s_d the corpus sum of component d; the −n
    removes the self-pairs' unit cosines) — so the whole statistic is
    ONE narrow aggregate, never a pair join. Returns a single row
    ``(n, sum_norm_sq, expected_cosine)``, doubles rounded 6.
    Zero-norm vectors are excluded (no unit direction — the r10
    zero-norm convention).

    Scale shape: normalize in codegen → posexplode (n·d narrow rows)
    → one partial-agg groupBy(dim) (d rows) → a d-row final
    aggregate. No join, no window, no driver state.
    """
    v = F.col(vec_col).cast("array<double>")
    nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    # >= 1e-300 (not > 0): vectors with subnormal norms in (0, 1e-300)
    # would pass a >0 filter but be divided by the clamp below instead
    # of their true norm, yielding non-unit vectors and diverging from
    # the oracle, which divides by the actual norm (ADVICE r11 #5);
    # with this bound the clamp provably only touches excluded rows
    base = embeddings.select(v.alias("__v"), nrm.alias("__n")).filter(
        F.col("__n") >= 1e-300
    )
    # greatest(·, tiny): ANSI raises DIVIDE_BY_ZERO even on rows a
    # filter discards when stages fuse (the r11 burstiness lesson);
    # the clamp only ever touches the filtered-out rows
    safe_n = F.greatest(F.col("__n"), F.lit(1e-300))
    u = base.select(F.transform("__v", lambda x: x / safe_n).alias("__u"))
    dims = u.select(F.posexplode("__u").alias("__d", "__x"))
    per_dim = dims.groupBy("__d").agg(F.sum("__x").alias("__s"))
    n_row = u.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    agg = per_dim.agg(F.sum(F.col("__s") * F.col("__s")).alias("__ss")).crossJoin(
        F.broadcast(n_row)
    )
    nd = F.col("n").cast("double")
    return agg.select(
        "n",
        F.round(F.col("__ss"), 6).alias("sum_norm_sq"),
        F.when(
            F.col("n") >= 2,
            F.round(
                (F.col("__ss") - nd)
                / F.greatest(nd * (nd - F.lit(1.0)), F.lit(1.0)),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("expected_cosine"),
    )


def retrieval_ndcg(
    embeddings: DataFrame,
    probe_filter,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """nDCG@k of labeled retrieval — the graded-position companion to
    :func:`retrieval_label_eval`'s MRR/P@k (Järvelin & Kekäläinen
    2002): per probe, rank all OTHER vectors by rounded cosine (ties →
    lower id, the knn_label ordering), score binary relevance by label
    match with the standard log2 position discount::

        DCG@k  = Σ_{i ≤ k, rel_i} 1 / log2(i + 1)
        IDCG@k = Σ_{i=1..min(k, R)} 1 / log2(i + 1)

    where R = the probe's corpus-wide relevant count (same-label
    vectors minus itself) — the best ANY retriever could do, so nDCG
    is comparable across probes with different label frequencies.
    Returns ``(vec_id, label, n_rel, dcg, idcg, ndcg)`` for EVERY
    probe (zeroed when nothing scores; ndcg 0.0 when R = 0), doubles
    rounded to 6 (≤ k terms per sum — the bounded float-log class).

    Scale shape: identical to :func:`retrieval_label_eval` (broadcast
    probe set × one corpus scan, per-probe row_number window, or the
    ``candidates`` frame at corpus scale) plus one label-count
    aggregate; the IDCG closed form evaluates per probe row over a
    ≤ k-element sequence — never a join.
    """
    p, top = _probe_topk(
        embeddings, probe_filter, k, id_col, vec_col, label_col, candidates, graded=True
    )
    # groupBy/join back on __pid ALONE (unique per probe), carrying
    # __plbl from the probe frame: a NULL-labeled probe never matches
    # its own agg row on a (__pid, __plbl) key, discarding its real
    # DCG/n_rel and reporting zeroed — and the DuckDB oracle joins on
    # pid only, a latent engine/oracle divergence (ADVICE r11 #4).
    agg = top.groupBy("__pid").agg(
        F.sum(F.when(F.col("__rel"), 1).otherwise(0)).cast("bigint").alias("__nr"),
        F.sum(
            F.when(F.col("__rel"), F.lit(1.0) / F.log2(F.col("__rn") + 1)).otherwise(
                F.lit(0.0)
            )
        ).alias("__dcg"),
    )
    # corpus-wide relevant count per probe label (one tiny aggregate)
    lc = embeddings.groupBy(F.col(label_col).alias("__plbl")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__lc")
    )
    out = (
        p.select("__pid", "__plbl")
        .join(F.broadcast(lc), "__plbl", "left")
        .join(agg, "__pid", "left")
        .withColumn("__R", F.least(F.lit(k), F.coalesce(F.col("__lc") - 1, F.lit(0))))
        .withColumn(
            "__idcg",
            F.expr(
                "aggregate(sequence(1, int(greatest(__R, 1L))), 0D, "
                "(acc, i) -> acc + if(i <= __R, 1.0 / log2(double(i + 1)), 0D))"
            ),
        )
    )
    dcg = F.coalesce(F.col("__dcg"), F.lit(0.0))
    return out.select(
        F.col("__pid").alias(id_col),
        F.col("__plbl").alias(label_col),
        F.coalesce(F.col("__nr"), F.lit(0)).cast("bigint").alias("n_rel"),
        F.round(dcg, 6).alias("dcg"),
        F.round(F.col("__idcg"), 6).alias("idcg"),
        F.when(F.col("__idcg") > 0, F.round(dcg / F.col("__idcg"), 6))
        .otherwise(F.lit(0.0))
        .alias("ndcg"),
    )


def truncated_dim_eval(
    embeddings: DataFrame,
    probe_id: int,
    dims=(16, 32, 64),
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka-style dimension-truncation evaluation: recall@k of the
    cosine ranking computed on only the FIRST ``d`` components against
    the full-dimension exact top-k, one row per ``d`` — the table an
    embedding deployment reads to pick a serving dimension (truncating
    MRL-trained vectors trades recall for index size/bandwidth; this
    measures that trade on the actual corpus). Returns
    ``(dims, hits, k, recall)``.

    Shape: each candidate ranking is the broadcast-probe
    :func:`cosine_topk` over a NARROWER projection (``slice`` prunes the
    scan to d floats/vector — at corpus scale the d=16 lane reads a
    quarter of the bytes); the recall join is a semi-join of two k-row
    frames. Fully deterministic (rounded cosine, id tie-break), so a
    SQL oracle replays every lane.
    """
    exact = cosine_topk(
        embeddings, probe_id, k=k, id_col=id_col, vec_col=vec_col
    ).select(F.col(id_col))
    frames = []
    for d in dims:
        sliced = embeddings.select(
            F.col(id_col), F.slice(F.col(vec_col), 1, int(d)).alias(vec_col)
        )
        trunc = cosine_topk(
            sliced, probe_id, k=k, id_col=id_col, vec_col=vec_col
        ).select(F.col(id_col))
        frames.append(
            trunc.join(exact, id_col, "left_semi")
            .agg(F.count(F.lit(1)).cast("bigint").alias("hits"))
            .select(
                F.lit(int(d)).cast("bigint").alias("dims"),
                "hits",
                F.lit(k).cast("bigint").alias("k"),
                F.round(F.col("hits") / k, 6).alias("recall"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def embedding_dup_components(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Embedding-space duplicate GROUPS: connected components over the
    cosine-≥-threshold near-dup graph, with component sizes — the
    transitive closure a pairwise dedup report misses (A≈B, B≈C puts
    A,C in one group even when cos(A,C) dips under the threshold; pick
    one keeper PER GROUP, not per pair). Returns
    ``(vec_id, component_id, component_size)`` for EVERY vector
    (singletons are their own size-1 component); ``component_id`` is
    the smallest member id — same canonical rule as
    :func:`graph_loom_spark.ops.dedup.dedup_clusters`, whose
    min-contraction components this reuses.

    ``pairs`` defaults to the exact centroid-blocked
    :func:`cosine_near_pairs_blocked`; pass an LSH/IVF candidate-pair
    frame for the approximate path at corpus scale. The size column is
    one partial-aggregable count over the (id, component) map joined
    back along the component key.
    """
    from graph_loom_spark.ops.dedup import dedup_clusters

    if pairs is None:
        pairs = cosine_near_pairs_blocked(
            embeddings, threshold=threshold, id_col=id_col, vec_col=vec_col
        )
    comp = dedup_clusters(
        embeddings.select(id_col),
        id_col=id_col,
        pairs=pairs.select("id_a", "id_b"),
    ).select(F.col(id_col), F.col("cluster_id").alias("component_id"))
    sizes = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("component_size")
    )
    # near-dup graphs are almost all singletons; the sizes frame has
    # ~|components| ≈ |vectors| rows, so this is a co-shuffled equi-join
    # on the component key (both sides partition by it), not a broadcast
    return comp.join(sizes, "component_id").select(
        id_col, "component_id", "component_size"
    )


def cluster_quality_report(
    documents: DataFrame,
    assigned: DataFrame,
    id_col: str = "doc_id",
    assign_id_col: str = "vec_id",
) -> DataFrame:
    """Cluster-level corpus diagnostics — the view behind
    cluster-filtered data curation (prune/upsample whole semantic
    clusters by their aggregate quality, as in DataComp-style pipelines
    and the SemDeDup cluster walk): join a k-means assignment (keyed by
    the shared document id) with per-document quality signals and roll
    up per cluster. Returns ``(cluster, n_docs, sum_quality,
    avg_quality, avg_chars)`` ordered by cluster.

    Exactness: quality_score is an integer 0-3, n_chars is stored —
    sums are exact int64 and the averages are integer-ratio doubles
    rounded to 6, so the oracle composes the kmeans replay with the
    quality expression bit-for-bit. Scale shape: one equi-join of two
    narrow frames + a k-row hash aggregate; nothing data-sized leaves
    the executors.
    """
    from graph_loom_spark.ops.text import quality_score

    q = quality_score(documents).select(id_col, "quality_score")
    j = (
        assigned.select(F.col(assign_id_col).alias(id_col), "cluster")
        .join(q, id_col)
        .join(documents.select(id_col, "n_chars"), id_col)
    )
    return (
        j.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("quality_score").cast("bigint").alias("sum_quality"),
            F.round(F.sum("quality_score") / F.count(F.lit(1)), 6).alias(
                "avg_quality"
            ),
            F.round(F.sum("n_chars") / F.count(F.lit(1)), 6).alias("avg_chars"),
        )
        .orderBy("cluster")
    )


def embedding_drift(
    embeddings: DataFrame,
    split_expr: Column | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label embedding drift between two corpus slices — the
    monitor that catches a silent encoder/version change or a feed
    shift at the REPRESENTATION level (X134 watches the text
    distribution; this watches the vectors): split the store by
    ``split_expr`` (default ``vec_id % 2 = 0``, an A/B parity slice —
    pass ``ingested_at < cutoff`` in production), sum the vectors
    quantized on a 10^6 grid per (label, slice), and report the
    cosine between the two slice CENTROIDS per label (the sum-vector
    cosine — invariant to the 1/n scaling). Healthy stationary slices
    sit near 1.0; a drifting label drops first. Returns
    ``(label, n_a, n_b, centroid_cosine)``; labels present in only one
    slice report NULL cosine (flagged, not silently dropped).

    Determinism: component sums are exact int64 on the fixed-point
    grid, cross products accumulate in DECIMAL(38,0) (sum-vector
    components reach n·10^6, so products pass int64 at ~10⁶ rows —
    the 100 TB accumulator rule), and the single rounded double
    division replays in HUGEINT SQL bit-for-bit.

    Scale shape: one posexplode (rows×dim, the only corpus-sized
    stage) into a partial-agg ``groupBy(label, slice, dim)``, then the
    label-frame self-join and 1-row-per-label aggregates — everything
    downstream is |labels|·dim-sized. No window, no driver state.
    """
    if split_expr is None:
        split_expr = (F.col(id_col) % 2) == 0
    q = _grid(F.col(vec_col), 10**6)
    comp = (
        spread(embeddings)
        .select(
            F.col(label_col).alias("label"),
            split_expr.alias("__a"),
            F.posexplode(q).alias("__pos", "__v"),
        )
        .groupBy("label", "__a", "__pos")
        .agg(F.sum("__v").alias("__s"), F.count(F.lit(1)).alias("__n"))
    )
    d38 = "decimal(38,0)"
    a = comp.filter(F.col("__a")).select(
        "label", "__pos", F.col("__s").alias("__sa"), F.col("__n").alias("__na")
    )
    b = comp.filter(~F.col("__a")).select(
        "label", "__pos", F.col("__s").alias("__sb"), F.col("__n").alias("__nb")
    )
    per = (
        a.join(b, ["label", "__pos"], "full_outer")
        .groupBy("label")
        .agg(
            F.max("__na").alias("n_a"),
            F.max("__nb").alias("n_b"),
            F.sum(F.col("__sa").cast(d38) * F.col("__sb").cast(d38)).alias("__dot"),
            F.sum(F.col("__sa").cast(d38) * F.col("__sa").cast(d38)).alias("__qa"),
            F.sum(F.col("__sb").cast(d38) * F.col("__sb").cast(d38)).alias("__qb"),
        )
    )
    return per.select(
        "label",
        F.coalesce("n_a", F.lit(0)).cast("bigint").alias("n_a"),
        F.coalesce("n_b", F.lit(0)).cast("bigint").alias("n_b"),
        F.when(
            (F.col("__qa") > 0) & (F.col("__qb") > 0),
            F.round(
                F.col("__dot").cast("double")
                / (
                    F.sqrt(F.col("__qa").cast("double"))
                    * F.sqrt(F.col("__qb").cast("double"))
                ),
                6,
            ),
        ).alias("centroid_cosine"),
    )


def norm_stats(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding ingest validation: corpus-level norm statistics — the
    check that catches unnormalized / zero / blown-up vectors before
    they poison a similarity index. One narrow scan + a 1-row
    aggregate: ``(n_vectors, n_zero, min_qnorm, max_qnorm, avg_qnorm)``
    where ``qnorm`` is the EXACT int64 squared norm of the
    grid-quantized vector (:func:`grid_sqnorm`), so min/max/average are bit-reproducible in any
    engine — no float summation order anywhere (avg is an
    integer-ratio double rounded to 6).
    """
    return (
        embeddings.select(grid_sqnorm(F.col(vec_col)).alias("__q"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.sum(F.when(F.col("__q") == 0, 1).otherwise(0)).cast("bigint").alias("n_zero"),
            F.min("__q").alias("min_qnorm"),
            F.max("__q").alias("max_qnorm"),
            F.round(F.sum("__q") / F.count(F.lit(1)), 6).alias("avg_qnorm"),
        )
    )


def lsh_near_pairs(
    embeddings: DataFrame,
    index: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs from an RP-LSH posting-list ``index``
    (:func:`rp_lsh_buckets` layout ``(id, vec, table, bucket)``): every
    pair colliding in ANY table's bucket is a candidate; candidates are
    deduped and exact-cosine verified against ``threshold``. Same
    ``(id_a, id_b, cosine)`` shape as
    :func:`cosine_near_pairs_blocked`, so the output drops into
    :func:`embedding_dup_components` unchanged — this is the
    approximate at-scale pair path that function's docstring
    advertises (recall < 1: a true near-dup pair colliding in NO table
    is missed; the OR over tables is the standard recall lever).

    Scale shape: the candidate join is an equi-join on (table, bucket)
    — posting lists, never all-pairs; ``distinct()`` collapses
    multi-table collisions BEFORE the verify join so each pair pays
    one dot product; the verify joins key on the two id columns
    (co-shuffled narrow int keys). The cosine arithmetic (raw-vector
    dot ÷ norm product, round 4) is kept bit-identical to the blocked
    path and the DuckDB oracle. Zero-norm vectors are excluded before
    the verify join, mirroring :func:`cosine_near_pairs_blocked` —
    in Spark ``0.0/0.0`` is NaN and ``NaN >= threshold`` is TRUE, so
    an unfiltered zero vector would be linked into every colliding
    bucket's dup component (DuckDB yields NULL and drops the pair —
    an engine/oracle divergence as well as a false positive)."""
    ids = index.select(F.col(id_col), "table", "bucket")
    cand = (
        ids.select(F.col(id_col).alias("id_a"), "table", "bucket")
        .join(
            ids.select(F.col(id_col).alias("id_b"), "table", "bucket"),
            ["table", "bucket"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    normed = embeddings.select(
        F.col(id_col), F.col(vec_col), _norm(F.col(vec_col)).alias("__n")
    ).filter(F.col("__n") > 0)
    a = normed.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__a"),
        F.col("__n").alias("__na"),
    )
    b = normed.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__b"),
        F.col("__n").alias("__nb"),
    )
    cos = _dot(F.col("__a"), F.col("__b")) / (F.col("__na") * F.col("__nb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", F.round(cos, COSINE_DIGITS).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def bq_signatures(
    embeddings: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """X119 — binary (1-bit sign) quantization: pack each vector's
    per-component sign bits (``v[i] >= 0``) into 32-bit words
    ``sig0, sig1, ...`` — 64× smaller than the float vector, the
    memory-bounded tier BELOW PQ (PQ: 4 bytes/vec here; BQ: 1 bit/dim).
    Hamming distance between sign signatures is a monotone proxy for
    angular distance (Goemans–Williamson / SimHash bound:
    ``P[sign mismatch] = angle/π`` per random direction; for raw axes
    it is the standard binary-quantization heuristic modern vector
    stores ship). The packing is a static 32-term bitwise-OR tree per
    word — whole-stage-codegen'd JVM expressions, no UDF, and exactly
    reproducible in SQL (sign tests on the stored floats)."""
    import functools

    words = (dim + 31) // 32
    cols = [F.col(id_col)]
    for w in range(words):
        terms = [
            F.when(
                F.element_at(F.col(vec_col), i + 1) >= 0,
                F.lit(1 << (i - 32 * w)),
            )
            .otherwise(F.lit(0))
            .cast("long")
            for i in range(32 * w, min(32 * (w + 1), dim))
        ]
        cols.append(
            functools.reduce(lambda x, y: x.bitwiseOR(y), terms).alias(
                f"sig{w}"
            )
        )
    return embeddings.select(*cols)


def bq_topk(
    embeddings: DataFrame,
    probe_id: int,
    k: int = 10,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Binary-quantized ANN top-k: rank by Hamming distance between
    sign signatures (``bit_count(xor)`` per 32-bit word — integer,
    exact, tie-break ``(hamming, id)``), never touching the float
    vectors. Returns ``(vec_id, hamming)``. The scan reads ``words``
    small ints per vector — the same code-scan shape as
    :func:`pq_topk` at 1 bit/dim instead of 8. Pass ``sigs`` to reuse
    a memoized :func:`bq_signatures` frame."""
    if sigs is None:
        sigs = bq_signatures(embeddings, dim, id_col=id_col, vec_col=vec_col)
    words = (dim + 31) // 32
    probe = _probe(sigs, probe_id, [f"sig{w}" for w in range(words)], id_col, "bq_topk")[0]
    ham = None
    for w in range(words):
        term = F.bit_count(
            F.col(f"sig{w}").bitwiseXOR(F.lit(int(probe[f"sig{w}"])))
        ).cast("long")
        ham = term if ham is None else ham + term
    return (
        sigs.filter(F.col(id_col) != probe_id)
        .select(F.col(id_col), ham.alias("hamming"))
        .orderBy(F.col("hamming").asc(), F.col(id_col).asc())
        .limit(k)
    )


def bq_rerank_topk(
    embeddings: DataFrame,
    probe_id: int,
    k: int = 10,
    candidates: int = 50,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Two-stage BQ retrieval: Hamming shortlist of ``candidates`` ids
    (:func:`bq_topk` — the memory-bounded scan), then exact cosine
    rescoring of only those vectors with the ``(cosine DESC, id)``
    tie-break — the standard rescoring pattern that recovers most of
    the recall binary codes lose. Returns ``(vec_id, cosine)``.
    Zero-norm candidates are excluded from the rescore (mirroring
    :func:`maxsim_topk`): their cosine is NaN in Spark, which sorts
    FIRST under ``ORDER BY DESC`` — a zero vector would otherwise
    displace a real neighbor from the top-k, while DuckDB's NULL
    sorts last."""
    cand = bq_topk(
        embeddings,
        probe_id,
        k=candidates,
        dim=dim,
        id_col=id_col,
        vec_col=vec_col,
        sigs=sigs,
    ).select(id_col)
    return _cosine_rank(
        embeddings.filter(_norm(F.col(vec_col)) > 0).join(F.broadcast(cand), id_col),
        _probe_vec(embeddings, probe_id, id_col, vec_col),
        k,
        id_col,
        vec_col,
    )


def maxsim_topk(
    embeddings: DataFrame,
    probe_parent: int = 7,
    group: int = 8,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """X120 — multi-vector late-interaction retrieval (ColBERT MaxSim,
    Khattab & Zaharia 2020): vectors group into parent documents
    (``id div group`` — the fixture's stand-in for per-token/per-chunk
    embeddings); a candidate parent's score against the probe parent is
    ``Σ_q max_d cos(q, d)`` over the probe's vectors q and the
    candidate's vectors d. Cosines are rounded to 4 and lifted to
    integer micropoints (``floor(round(cos,4)·10⁴ + 0.5)``) so the sum
    is exact int64 — the same fixed-point trick as RRF fusion — and
    the oracle replays bit-for-bit. Returns the top ``k``
    ``(parent_id, maxsim_micro)``, score desc then id.

    Scale shape: the probe side is ``group`` rows broadcast against ONE
    corpus scan (n×group cosine evaluations — the irreducible MaxSim
    work); both reductions are partial-aggregable groupBys on narrow
    int keys (max per (parent, q), sum per parent), then a global
    top-k ``orderBy().limit()`` that TakeOrdered keeps driver-light.
    Zero-norm vectors are excluded on both sides (NaN cosine),
    mirroring the near-pair operators."""
    parent = F.expr(f"{id_col} div {group}")
    nz = embeddings.filter(_norm(F.col(vec_col)) > 0)
    probe = nz.filter(parent == probe_parent).select(
        F.pmod(F.col(id_col), F.lit(group)).alias("__qi"),
        F.col(vec_col).alias("__p"),
        _norm(F.col(vec_col)).alias("__np"),
    )
    corpus = nz.filter(parent != probe_parent).select(
        parent.alias("parent_id"),
        F.col(vec_col).alias("__v"),
        _norm(F.col(vec_col)).alias("__nv"),
    )
    cos = _dot(F.col("__v"), F.col("__p")) / (F.col("__nv") * F.col("__np"))
    micro = F.floor(F.round(cos, 4) * F.lit(10000.0) + F.lit(0.5)).cast("long")
    return (
        corpus.crossJoin(F.broadcast(probe))
        .select("parent_id", "__qi", micro.alias("__m"))
        .groupBy("parent_id", "__qi")
        .agg(F.max("__m").alias("__mm"))
        .groupBy("parent_id")
        .agg(F.sum("__mm").alias("maxsim_micro"))
        .orderBy(F.col("maxsim_micro").desc(), F.col("parent_id").asc())
        .limit(k)
    )


def ivfpq_fit(
    embeddings: DataFrame,
    assigned: DataFrame,
    coarse_centroids,
    m: int = 4,
    k: int = 16,
    iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """X121 — IVFADC residual product quantization (Jégou et al. 2011,
    §IV): the production composite ANN index. The coarse quantizer
    (``kmeans_fit`` cells — the same frame IVF-flat probes) localizes a
    vector; PQ codes encode the RESIDUAL ``v − c(v)`` instead of the
    raw vector, which concentrates the code budget on the
    within-cell variance (the part the coarse index doesn't already
    know) — the standard reason IVF+PQ beats flat PQ at equal bytes.

    Residuals are computed on the fixed-point grid — quantized vector
    minus quantized centroid, exact int64 — and fed straight to the
    shared loop :func:`_lloyd` with ``m`` subspaces (the loop
    :func:`pq_fit` runs on the quantized vectors), so no second
    rounding happens and everything stays SQL-replayable. Returns
    ``(codes, books)`` like :func:`pq_fit` (codes = ``(vec_id,
    code_0..m-1)``; cell membership stays in ``assigned``); the flat-PQ
    digest :data:`LAST_PQ_MD5` is left alone.

    Scale shape: the residual projection is one broadcast join of the
    k×dim centroid matrix onto a narrow scan, which the loop pins once
    (and frees when it returns) as its quantized frame.
    """
    spark = embeddings.sparkSession
    cent = local_frame(
        spark,
        [(i, [int(x) for x in coarse_centroids[i]]) for i in range(len(coarse_centroids))],
        "cell int, __c array<bigint>",
    )
    res = (
        embeddings.select(F.col(id_col), _grid(F.col(vec_col)).alias("__q"))
        .join(assigned.select(id_col, F.col("cluster").alias("cell")), id_col)
        .join(F.broadcast(cent), "cell")
    )
    residual = F.zip_with(F.col("__q"), F.col("__c"), lambda a, b: a - b)
    return _lloyd(res, residual, [f"code_{j}" for j in range(m)], k, iters, id_col)


def ivfpq_topk(
    embeddings: DataFrame,
    assigned: DataFrame,
    coarse_centroids,
    codes: DataFrame,
    codebooks,
    probe_id: int,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC search: rank cells by exact int64 squared distance from
    the quantized probe (ties → lower cell), then ADC-score ONLY the
    ``nprobe`` probed cells' vectors — each probed cell gets its own
    distance table built from the probe's residual AGAINST THAT CELL
    (the asymmetric part), all computed driver-side from the k×dim
    matrices (m·k·nprobe integer ops). The scan touches ``m`` small
    ints per vector in ~``nprobe/n_cells`` of the corpus — the IVF
    pruning ON TOP of PQ's byte budget. Fully integer with the
    ``(adc, id)`` tie-break → exact SQL replay. Returns
    ``(vec_id, adc)``.
    """
    import numpy as np

    row = _probe(embeddings, probe_id, [vec_col], id_col, "ivfpq_topk")[0]
    qp = _grid_probe(row[0])
    Cc = np.asarray(coarse_centroids, dtype=np.int64)
    probed = _nearest_cells(qp, Cc, nprobe)
    # per-cell ADC expression: CASE over the nprobe probed cells, each
    # summing m plan-literal 16-entry LUT lookups on its residual probe
    score = None
    for cell in probed:
        cell_score = _adc_score(qp - Cc[cell], codebooks)
        branch = F.when(F.col("cell") == cell, cell_score)
        score = branch if score is None else score.when(
            F.col("cell") == cell, cell_score
        )
    scan = codes.join(
        assigned.filter(F.col("cluster").isin([int(c) for c in probed])).select(
            id_col, F.col("cluster").alias("cell")
        ),
        id_col,
    )
    return (
        scan.filter(F.col(id_col) != probe_id)
        .select(F.col(id_col), score.alias("adc"))
        .orderBy(F.col("adc").asc(), F.col(id_col).asc())
        .limit(k)
    )


def pca_power_scores(
    embeddings: DataFrame,
    iters: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """X123 — DETERMINISTIC top-principal-component scores via
    fixed-point power iteration: the hash-checkable counterpart to
    :func:`pca` (whose eigh solve is float-only and rows-only-checked).
    The dominant direction of an embedding corpus is the
    curation-relevant one — PC1 scores drive outlier pruning, dedup
    blocking, and the "is this corpus collapsing to one axis?" ingest
    check — and this variant makes that score bit-reproducible across
    engines, partitionings and reruns.

    Arithmetic contract (every step integer-exact):
    - quantize to the standard ``floor(x·GRID + 0.5)`` int64 grid;
    - the UNCENTERED second-moment matrix ``C[i][j] = Σ_n q_n[i]·q_n[j]``
      accumulates distributed via Arrow-batched int64 partial matrices,
      summed exactly as DECIMAL(38,0) (a 100 TB corpus overflows int64:
      2^40-bounded products × 2^30 rows; decimal keeps the sum exact
      and associative);
    - ``iters`` power iterations run DRIVER-SIDE on the collected 64×64
      matrix with arbitrary-precision Python ints:
      ``w = C·v``, then rescale ``v ← trunc(w·GRID / max|w|)`` —
      truncation toward zero, matching DuckDB's ``//``, so the SQL
      oracle replays every iteration with HUGEINT arithmetic;
    - output ``(vec_id, pc1)`` = exact int64 dot of each quantized
      vector with the final fixed-point direction (|pc1| ≤ 64·GRID²).

    Scale shape: one narrow scan for the moment matrix (the only
    data-sized stage — dim² ints per BATCH, not per row, cross the
    wire), k·dim² driver flops for the iterations (same footprint as
    collecting k-means centroids), one codegen'd projection for the
    scores. Sign is pinned by the all-ones start vector, not RNG.
    The default ``iters=100`` covers slow convergence on near-isotropic
    corpora (rate (λ₂/λ₁)^t — the fixture's gap is 0.93, so 8
    iterations leave PC1 at cos 0.33 vs eigh while 100 reach ~1e-3);
    each iteration is dim² driver flops and three 64-row oracle CTEs,
    so the unroll is cheap on both sides.
    """
    import numpy as np
    import pandas as pd

    head = embeddings.select(vec_col).head()
    if head is None:
        raise ValueError("pca_power_scores: empty embeddings")
    dim = len(head[0])

    qdf = spread(embeddings.select(F.col(id_col), _grid(F.col(vec_col)).alias("__q")))

    def _partials(batches):
        for pdf in batches:
            M = np.asarray(pdf["__q"].tolist(), dtype=np.int64)
            if M.size == 0:
                continue
            C = M.T @ M  # (dim, dim) exact int64 within batch bounds
            ii, jj = np.indices(C.shape)
            yield pd.DataFrame(
                {"i": ii.ravel(), "j": jj.ravel(), "s": C.ravel()}
            )

    cov_rows = (
        qdf.select("__q")
        .mapInPandas(_partials, "i int, j int, s long")
        .groupBy("i", "j")
        .agg(F.sum(F.col("s").cast("decimal(38,0)")).alias("s"))
        .collect()
    )
    C = [[0] * dim for _ in range(dim)]
    for r in cov_rows:
        C[r["i"]][r["j"]] = int(r["s"])

    def _tdiv(a: int, b: int) -> int:
        # truncation toward zero — DuckDB's integer // semantics
        return -((-a) // b) if a < 0 else a // b

    v = [GRID] * dim
    for _ in range(iters):
        w = [sum(C[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        m = max(abs(x) for x in w)
        if m == 0:
            break
        v = [_tdiv(x * GRID, m) for x in w]

    proj = None
    for i in range(dim):
        term = F.element_at(F.col("__q"), i + 1) * F.lit(int(v[i]))
        proj = term if proj is None else proj + term
    return qdf.select(F.col(id_col), proj.alias("pc1"))
