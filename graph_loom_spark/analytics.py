"""Graph-analytics operators (reference §2.10): degrees, metadata-overlap
similarity, weighted label propagation, community density, connected
components.

Reference semantics (all in src/gui/frontend.rs):
- degree: undirected neighbor-list length, parallel edges counted
  (frontend.rs:597-600, 3135-3139);
- similarity weight w(u←v) = 1 + 0.75·[same non-empty label] +
  0.5·(#equal k/v ÷ max(|meta_u|,1)) — note the asymmetric normalizer:
  the *updating* node's metadata size (frontend.rs:536-562);
- label propagation: every node starts as its own community, each round
  a node adopts the neighbor community with max summed weight, ≤8
  rounds, stop when stable (frontend.rs:564-588). The reference updates
  in-place while iterating nodes in sorted order (asynchronous); the
  distributed version here is the standard synchronous variant with a
  deterministic tie-break (max score, then smallest xxhash64 community
  surrogate) — the reference's tie-break is HashMap iteration order,
  i.e. unspecified, so any fixed deterministic order is equally faithful.
- community density: internal undirected edges ÷ max(n·(n-1)/2, 1)
  (frontend.rs:602-616).

Scale design: each LPA round is one shuffle (groupBy node) over an
edge-partitioned frame; the similarity weights are computed ONCE before
the loop and cached, so rounds touch only (src, dst, w, community).
`localCheckpoint` truncates lineage every round — without it the plan
doubles per iteration. Skewed hub nodes are handled by AQE skew-join.
"""

from __future__ import annotations

import math
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_loom_spark.graph import (
    BROADCAST_ROWS_MAX, PropertyGraph, broadcast_if_small, local_frame, partitions_for, scratch,
    shuffle_partitions,
)
from graph_loom_spark.ops import md5_lane


def degrees(graph: PropertyGraph) -> DataFrame:
    """Undirected degree per node: ``(id, degree)``; isolated nodes → 0.

    One union + one groupBy (map-side partial count). Equivalent to
    GraphFrames ``degrees`` plus zero-degree rows.
    """
    ends = graph.edges.select(F.col("src").alias("id")).unionAll(
        graph.edges.select(F.col("dst").alias("id"))
    )
    deg = ends.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))
    return (
        graph.nodes.select("id")
        .join(deg, "id", "left")
        .select("id", F.coalesce("degree", F.lit(0)).cast("bigint").alias("degree"))
    )


def _directed_adjacency(edges: DataFrame) -> DataFrame:
    """Both orientations of every edge: ``(u, v)`` — u's neighbor list is
    the reference's ``neighbors`` map (frontend.rs:513-520); parallel
    edges deliberately kept (they add weight/degree)."""
    return edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionAll(
        edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )


def _node_features(graph: PropertyGraph) -> DataFrame:
    """Per node: ``(iid, label, kvh, msz)`` — xxhash64 surrogate id, the
    label, the properties map folded to an array of per-entry
    ``xxhash64(key, value)`` longs, and the map size.

    This is the slim join payload for the weight computation: the k/v
    overlap of two maps equals ``size(array_intersect(kvh_a, kvh_b))``
    (map keys are unique, so each entry hash is unique per node up to a
    2^-64 collision), and an array of ≤~16 longs ships through the
    shuffle an order of magnitude cheaper than the stringified map.
    All narrow projections — no shuffle."""
    return graph.nodes.select(
        F.xxhash64("id").alias("iid"),
        "label",
        F.transform(
            F.map_entries("properties"), lambda e: F.xxhash64(e["key"], e["value"])
        ).alias("kvh"),
        F.size("properties").alias("msz"),
    )


def _hashed_weights(graph: PropertyGraph) -> DataFrame:
    """Metadata-overlap weights on xxhash64 surrogates: ``(u, v, w)``
    longs+double for both orientations of every edge.

    One pass joins each (undirected) edge to both endpoints' features
    and emits the two orientations from the same row — half the join
    work of joining the doubled adjacency, and the shuffled payload is
    hashed longs instead of string ids + string maps (measured ~5× on
    the sf0.1 projection). Parallel edges deliberately kept (they add
    weight, frontend.rs:536-562)."""
    feats = _node_features(graph)
    e = graph.edges.select(F.xxhash64("src").alias("su"), F.xxhash64("dst").alias("sv"))
    fs = feats.select(
        F.col("iid").alias("su"), F.col("label").alias("__ls"),
        F.col("kvh").alias("__hs"), F.col("msz").alias("__ms"),
    )
    fd = feats.select(
        F.col("iid").alias("sv"), F.col("label").alias("__ld"),
        F.col("kvh").alias("__hd"), F.col("msz").alias("__md"),
    )
    j = e.join(fs, "su").join(fd, "sv")
    label_bonus = F.when(
        (F.col("__ls") == F.col("__ld")) & (F.col("__ls") != ""), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    eq = F.size(F.array_intersect("__hs", "__hd")).cast("double")
    w_fwd = F.lit(1.0) + F.lit(0.75) * label_bonus + F.lit(0.5) * eq / F.greatest(
        F.col("__ms"), F.lit(1)
    ).cast("double")
    w_rev = F.lit(1.0) + F.lit(0.75) * label_bonus + F.lit(0.5) * eq / F.greatest(
        F.col("__md"), F.lit(1)
    ).cast("double")
    # both orientations from ONE join execution: a self-union of `j`
    # would re-run the whole join per branch (measured 2× at sf0.1);
    # explode of a 2-element array emits them in the same pass
    both = F.explode(
        F.array(
            F.struct(F.col("su").alias("u"), F.col("sv").alias("v"), w_fwd.alias("w")),
            F.struct(F.col("sv").alias("u"), F.col("su").alias("v"), w_rev.alias("w")),
        )
    )
    return j.select(both.alias("__o")).select("__o.u", "__o.v", "__o.w")


def similarity_weights(graph: PropertyGraph) -> DataFrame:
    """Per adjacency pair (u, v): the reference's metadata-overlap weight
    w(u←v) = 1 + 0.75·[label_u = label_v ≠ ''] + 0.5·overlap/max(|meta_u|,1)
    (frontend.rs:536-562). Returns ``(u, v, w)`` for both orientations,
    with the original string node ids.

    Thin wrapper over :func:`_hashed_weights` (the surrogate-keyed fast
    path LPA iterates on) plus two long-keyed joins back to string ids."""
    idmap = graph.nodes.select("id", F.xxhash64("id").alias("iid"))
    hw = _hashed_weights(graph)
    return (
        hw.join(idmap.select(F.col("iid").alias("u"), F.col("id").alias("__su")), "u")
        .join(idmap.select(F.col("iid").alias("v"), F.col("id").alias("__sv")), "v")
        .select(F.col("__su").alias("u"), F.col("__sv").alias("v"), "w")
    )


def weighted_label_propagation(graph: PropertyGraph, max_iter: int = 8) -> DataFrame:
    """Weighted LPA (frontend.rs:509-588): returns ``(id, community)``.

    Synchronous rounds: each node adopts argmax_c Σ w(u←v) over
    neighbors v in community c; ties → the community whose ORIGINAL
    STRING id is lexicographically smallest (a portable deterministic
    order any engine can reproduce — the reference's own tie-break is
    HashMap iteration order, i.e. unspecified); isolated nodes keep
    their own id. Stops early when no node changes.

    Scale design: the whole loop runs on 8-byte xxhash64 surrogates —
    node ids AND community labels — so every per-round join/aggregate
    stays in vectorized hash aggregation (string keys forced sort
    fallbacks, measured ~4× slower; same lever as
    :func:`connected_components`). The weights frame is computed once,
    pre-partitioned on the per-round join key ``v`` and checkpointed,
    so rounds shuffle only the small (iid, community) frame plus the
    one unavoidable (u, c) score shuffle. String ids are joined back
    exactly once at the end.
    """
    spark = graph.nodes.sparkSession
    # size shuffle partitions from the data BEFORE building the pinned
    # frames (same lever as connected_components — the setup exchanges
    # and the partitioning baked into the checkpoints must match the
    # data, not the session); weights ≈ 2×edges rows
    # floor at defaultParallelism: LPA's per-round work is a few LARGE
    # shuffles (unlike components' many tiny levels), so undersized
    # partitions idle most cores (measured at sf0.1: 9 partitions on 32
    # cores ran rounds ~3× slower); the data-sized term takes over at
    # cluster scale
    n_nodes_total = graph.nodes.count()
    parts = partitions_for(
        n_nodes_total + 2 * graph.edges.count(), floor=spark.sparkContext.defaultParallelism
    )
    with shuffle_partitions(spark, parts), scratch(spark) as s:
        idmap = s.pin(graph.nodes.select("id", F.xxhash64("id").alias("iid")))
        if n_nodes_total <= BROADCAST_ROWS_MAX:
            # broadcast path: comm ships to the join as a broadcast, so
            # partitioning weights on the join key v buys NOTHING — but
            # partitioning on u lets BOTH per-round aggregations
            # (groupBy(u,c) then groupBy(u)) reuse the partitioning:
            # HashPartitioning(u) satisfies ClusteredDistribution(u,c),
            # so the whole score→argmax pipeline runs with ZERO
            # exchanges per round (plan-asserted). persist — NOT
            # localCheckpoint — because a checkpoint's LogicalRDD drops
            # outputPartitioning and the aggs would shuffle again.
            weights = s.persist(_hashed_weights(graph).repartition(parts, "u"))
        else:
            # cluster-scale fallback: comm co-shuffles on v, so weights
            # pre-partitioned on v co-locates the join
            weights = s.pin(_hashed_weights(graph).repartition(parts, "v"))
        # comm carries the community label's ORIGINAL STRING id (cstr)
        # alongside the surrogate: the tie-break needs it at argmax
        # time, and riding it through the frame (functionally dependent
        # on community, ~20 B/row) eliminates the per-round cdim join +
        # its |V|-row broadcast build that previous versions paid —
        # joins/aggregates still key on 8-byte surrogates only.
        comm = s.pin(
            idmap.select(
                F.col("iid").alias("id"),
                F.col("iid").alias("community"),
                F.col("id").alias("cstr"),
            )
        )
        # The (iid, community) frame is 16 bytes/node. While it fits an
        # executor broadcast (≤ BROADCAST_ROWS_MAX nodes ≈ 80 MB), hint
        # it explicitly on the per-round score join (and the probe
        # joins): AQE does eventually convert it to broadcast, but only
        # after paying the comm-side exchange stages — measured
        # 7.6-8.7 s vs 2.0-2.8 s per round at sf0.1. Past the threshold
        # (cluster-scale |V|) the rounds fall back to the plain
        # co-shuffled joins.
        bcast = broadcast_if_small(n_nodes_total)
        # Nodes with NO incoming weights rows never appear in a round's
        # argmax, so they keep their initial self-community forever.
        # Computing that set ONCE lets each round build the next
        # assignment as argmax-output ∪ this static frame instead of a
        # left join of the full previous assignment against a broadcast
        # of the argmax output — one fewer |V|-row broadcast build
        # (driver collect + 24 MB serialize) and one fewer |V|-row join
        # scan per round (measured at sf0.1: 8 rounds 15.0 s → 12.5 s,
        # bit-identical assignments).
        # the distinct reuses the persisted weights' u-partitioning
        # (exchange-free) and its result broadcasts into the anti-join,
        # so the iso build adds no new shuffle
        iso = s.pin(
            comm.join(
                bcast(weights.select(F.col("u").alias("id")).distinct()),
                "id",
                "left_anti",
            )
        )
        for it in range(max_iter):
            # (u, c, score) via one shuffle; cstr rides along (first()
            # is safe — functionally dependent on c)
            scores = (
                weights.join(
                    bcast(
                        comm.select(
                            F.col("id").alias("v"),
                            F.col("community").alias("c"),
                            "cstr",
                        )
                    ),
                    "v",
                )
                .groupBy("u", "c")
                .agg(F.sum("w").alias("score"), F.first("cstr").alias("cstr"))
            )
            # argmax folded into a hash aggregate: min of
            # (-score, cstr, c) structs is lexicographic, so it picks max
            # score then the lexicographically smallest community's
            # original id (portable tie-break) — one partial-aggregating
            # hash agg instead of a row_number window, and no per-round
            # surrogate→string join at all.
            best = (
                scores.groupBy("u")
                .agg(
                    F.min(
                        F.struct(
                            (-F.col("score")).alias("ns"),
                            F.col("cstr").alias("cs"),
                            F.col("c").alias("c"),
                        )
                    ).alias("__b")
                )
                .select(
                    F.col("u").alias("id"),
                    F.col("__b.c").alias("community"),
                    F.col("__b.cs").alias("cstr"),
                )
            )
            prev = comm
            comm = s.pin(best.unionByName(iso))
            # Convergence probe every 2nd round only (and never on the
            # last, where the loop ends anyway): rounds past the fixpoint
            # are no-ops, so the worst case is one wasted round. The
            # probe is an exact new-vs-old comparison (a broadcast join
            # of the two pinned |V|-row frames, isEmpty short-circuits)
            # — exact, unlike a fingerprint compare, which could stop
            # before the fixpoint on a hash collision.
            if it % 2 == 1 and it < max_iter - 1:
                changed = comm.join(
                    bcast(
                        prev.select(
                            "id", F.col("community").alias("__old")
                        )
                    ),
                    "id",
                ).filter(F.col("community") != F.col("__old"))
                if changed.isEmpty():
                    break
        # surrogate → string id, pinned; the scope then frees every
        # intermediate (weights, the per-round comm chain, idmap). The
        # community's string id is already in the frame (cstr); only
        # the node's own surrogate needs mapping back
        return s.keep(
            comm.join(idmap.select(F.col("iid").alias("id"), F.col("id").alias("__sid")), "id")
            .select(F.col("__sid").alias("id"), F.col("cstr").alias("community"))
        )


def community_density(graph: PropertyGraph, communities: DataFrame) -> DataFrame:
    """Per community: member count + internal density
    internal_edges ÷ max(n·(n-1)/2, 1) (frontend.rs:602-616).

    ``communities`` is ``(id, community)``. Internal edges counted once
    per edge (the reference counts both directions then halves — same
    number, one shuffle fewer here).
    """
    c = communities
    sizes = c.groupBy("community").agg(F.count(F.lit(1)).alias("n_nodes"))
    e = (
        graph.edges.select("src", "dst")
        .join(c.select(F.col("id").alias("src"), F.col("community").alias("__cs")), "src")
        .join(c.select(F.col("id").alias("dst"), F.col("community").alias("__cd")), "dst")
        .filter(F.col("__cs") == F.col("__cd"))
        .groupBy(F.col("__cs").alias("community"))
        .agg(F.count(F.lit(1)).alias("internal_edges"))
    )
    possible = F.greatest(
        (F.col("n_nodes") * (F.col("n_nodes") - 1) / 2).cast("double"), F.lit(1.0)
    )
    return (
        sizes.join(e, "community", "left")
        .select(
            "community",
            "n_nodes",
            F.coalesce("internal_edges", F.lit(0)).cast("bigint").alias("internal_edges"),
            (F.coalesce("internal_edges", F.lit(0)).cast("double") / possible).alias("density"),
        )
    )


def modularity(graph: PropertyGraph, communities: DataFrame) -> DataFrame:
    """Newman modularity per community over an ``(id, community)``
    assignment — the "are these communities real?" score next to LPA
    (the evaluation metric the reference's community view stops short
    of: it reports membership + density, frontend.rs:509-616; this
    plays the same role for the community family that emb_index_eval
    plays for the ANN family).

    For community c with ``e_c`` internal edges (each edge counted
    once, the same convention as :func:`community_density`), ``d_c``
    the sum of member degrees, and ``m`` total edges::

        Q = Σ_c [ e_c/m − (d_c/(2m))² ] = Σ_c (4·m·e_c − d_c²) / (4·m²)

    Each per-community numerator ``4·m·e_c − d_c²`` is an exact
    integer, computed in DECIMAL(38,0) — int64 overflows once
    m > ~1.5e9 edges, the same 100 TB accumulator lesson as the PC1
    moment matrix — then divided once as a double and rounded to 6.
    Returns ``(community, internal_edges, degree_sum, q_share)``
    with Q = Σ q_share (up to rounding); isolated-node communities
    appear with zeros.

    Scale shape: degrees are one union + partial-agg groupBy; member
    degree sums one groupBy over the assignment join; internal edges
    reuse :func:`community_density`'s two equi-joins; ``m`` is one
    scalar count — no window, no data-sized driver state.
    """
    c = communities
    m = graph.edges.count()
    mm = max(m, 1)  # m = 0 → every q_share is exactly 0, not NaN
    deg = degrees(graph)
    dsum = (
        c.join(deg, "id", "left")
        .groupBy("community")
        .agg(
            F.coalesce(F.sum("degree"), F.lit(0)).cast("bigint").alias("degree_sum")
        )
    )
    e = (
        graph.edges.select("src", "dst")
        .join(c.select(F.col("id").alias("src"), F.col("community").alias("__cs")), "src")
        .join(c.select(F.col("id").alias("dst"), F.col("community").alias("__cd")), "dst")
        .filter(F.col("__cs") == F.col("__cd"))
        .groupBy(F.col("__cs").alias("community"))
        .agg(F.count(F.lit(1)).alias("internal_edges"))
    )
    ie = F.coalesce("internal_edges", F.lit(0)).cast("bigint")
    d38 = "decimal(38,0)"
    q_num = (
        ie.cast(d38) * F.lit(4 * m).cast(d38)
        - F.col("degree_sum").cast(d38) * F.col("degree_sum").cast(d38)
    )
    return dsum.join(e, "community", "left").select(
        "community",
        ie.alias("internal_edges"),
        "degree_sum",
        # float(): a Python int→double conversion (round-to-nearest),
        # identical to SQL CAST(4·m² AS DOUBLE), and unlike a long
        # literal it cannot overflow past m ~ 1.5e9 edges
        F.round(
            q_num.cast("double") / F.lit(float(4 * mm * mm)), 6
        ).alias("q_share"),
    )


def force_layout(
    graph: PropertyGraph,
    iters: int = 30,
    target_dist: float = 120.0,
    spring_k: float = 4.0,
    damping: float = 6.0,
    min_sep: float = 90.0,
    repulse_k: float = 10.0,
    max_speed: float = 600.0,
    max_step: float = 5.0,
    hub_repulsion_scale: float = 0.25,
    gravity_k: float = 0.5,
    dt: float = 0.033,
    init_radius: float = 1000.0,
    seed: int = 42,
) -> DataFrame:
    """G5: force-directed layout as a batch operator — returns
    ``(id, x, y)``. Physics mirrors the reference's spring-damper
    simulation (frontend.rs:3019-3228: edge springs toward
    ``target_dist``, close-pair repulsion under ``min_sep`` scaled by
    log-degree for hubs, center-of-mass gravity, velocity damping with
    speed/step clamps; constants are the reference defaults).

    Scale shape: the reference's O(N²) repulsion pass (explicitly "small/
    med graphs are fine", frontend.rs:3135) is replaced by its own
    spatial-hash-grid idea (frontend.rs:744-762) done distributed: each
    point lands in a ``min_sep``-sized grid cell, candidates = equi-join
    of points against the 9 neighboring cells, exact distance check on
    candidates only — Θ(close pairs), never all pairs. Springs are one
    edges⋈positions join per iteration. Positions checkpoint per
    iteration (flat lineage). Initial placement is a deterministic
    hash-seeded disc (the GUI's golden spiral is per-insertion state the
    batch op doesn't have); layouts are qualitative, so determinism +
    force parity is the contract, not pixel equality.
    """
    spark = graph.nodes.sparkSession
    pos = graph.nodes.select(
        "id",
        (
            F.sqrt(F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(1 << 20)) / F.lit(float(1 << 20)))
            * init_radius
            * F.cos(
                F.pmod(F.xxhash64("id", F.lit(seed + 1)), F.lit(1 << 20))
                / F.lit(float(1 << 20))
                * (2 * math.pi)
            )
        ).alias("x"),
        (
            F.sqrt(F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(1 << 20)) / F.lit(float(1 << 20)))
            * init_radius
            * F.sin(
                F.pmod(F.xxhash64("id", F.lit(seed + 1)), F.lit(1 << 20))
                / F.lit(float(1 << 20))
                * (2 * math.pi)
            )
        ).alias("y"),
        F.lit(0.0).alias("vx"),
        F.lit(0.0).alias("vy"),
    )
    with scratch(spark) as s:
        pos = s.pin(pos)

        deg = (
            graph.edges.select(F.col("src").alias("id"))
            .unionAll(graph.edges.select(F.col("dst").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).cast("double").alias("deg"))
        )
        # log-degree hub scale (frontend.rs:3167-3169), precomputed once
        hub = s.pin(
            graph.nodes.select("id").join(deg, "id", "left").select(
                "id",
                (1.0 + hub_repulsion_scale * F.log(F.coalesce("deg", F.lit(0.0)) + 1.0)).alias("hub"),
            )
        )

        epairs = s.pin(graph.edges.select("src", "dst"))

        for _ in range(iters):
            pos = _layout_step(
                pos,
                epairs,
                hub,
                target_dist=target_dist,
                spring_k=spring_k,
                damping=damping,
                min_sep=min_sep,
                repulse_k=repulse_k,
                max_speed=max_speed,
                max_step=max_step,
                gravity_k=gravity_k,
                dt=dt,
            )
            pos = s.pin(pos)
        return s.keep(pos.select("id", "x", "y"))


def _layout_step(
    pos: DataFrame,
    epairs: DataFrame,
    hub: DataFrame,
    *,
    target_dist: float,
    spring_k: float,
    damping: float,
    min_sep: float,
    repulse_k: float,
    max_speed: float,
    max_step: float,
    gravity_k: float,
    dt: float,
) -> DataFrame:
    """One layout iteration as a pure plan (no driver actions): springs +
    grid-bucketed repulsion + center-of-mass gravity + damped integration.
    The COM is a 1-row aggregate broadcast into the gravity projection —
    a BroadcastNestedLoopJoin over one row, never a driver ``.first()``
    round-trip and never a true cartesian (plan-asserted in
    tests/test_plans.py). The caller checkpoints the result, so the only
    action per iteration is the checkpoint itself."""
    a = pos.select(F.col("id").alias("src"), F.col("x").alias("ax"), F.col("y").alias("ay"))
    b = pos.select(F.col("id").alias("dst"), F.col("x").alias("bx"), F.col("y").alias("by"))
    sj = epairs.join(a, "src").join(b, "dst")
    dist = F.sqrt(
        (F.col("bx") - F.col("ax")) ** 2 + (F.col("by") - F.col("ay")) ** 2
    ) + F.lit(1e-6)
    mag = F.lit(spring_k) * (dist - target_dist) / dist
    spring = (
        sj.select(
            F.col("src").alias("id"),
            (mag * (F.col("bx") - F.col("ax"))).alias("fx"),
            (mag * (F.col("by") - F.col("ay"))).alias("fy"),
        )
        .unionAll(
            sj.select(
                F.col("dst").alias("id"),
                (mag * (F.col("ax") - F.col("bx"))).alias("fx"),
                (mag * (F.col("ay") - F.col("by"))).alias("fy"),
            )
        )
    )

    celled = pos.select(
        "id", "x", "y",
        F.floor(F.col("x") / min_sep).cast("long").alias("cx"),
        F.floor(F.col("y") / min_sep).cast("long").alias("cy"),
    )
    probe = celled.select(
        F.col("id").alias("oid"), F.col("x").alias("ox"), F.col("y").alias("oy"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.floor(F.col("x") / min_sep).cast("long") + di).alias("cx"),
                        (F.floor(F.col("y") / min_sep).cast("long") + dj).alias("cy"),
                    )
                    for di in (-1, 0, 1)
                    for dj in (-1, 0, 1)
                ]
            )
        ).alias("__c"),
    ).select("oid", "ox", "oy", "__c.cx", "__c.cy")
    close = (
        celled.join(probe, ["cx", "cy"])
        .filter(F.col("id") != F.col("oid"))
        .withColumn(
            "dist",
            F.sqrt((F.col("x") - F.col("ox")) ** 2 + (F.col("y") - F.col("oy")) ** 2),
        )
        .filter((F.col("dist") < min_sep) & (F.col("dist") > 1e-6))
    )
    overlap = F.lit(repulse_k) * (min_sep - F.col("dist"))
    rep = (
        close.join(hub, "id")
        .select(
            "id",
            (overlap * F.col("hub") * (F.col("x") - F.col("ox")) / F.col("dist")).alias("fx"),
            (overlap * F.col("hub") * (F.col("y") - F.col("oy")) / F.col("dist")).alias("fy"),
        )
    )

    # center-of-mass gravity: the 1-row COM aggregate is broadcast into
    # the per-node projection (replaces the former per-iteration driver
    # .first() round-trip — 30 tiny collects per layout)
    com = pos.agg(
        F.coalesce(F.avg("x"), F.lit(0.0)).alias("gx"),
        F.coalesce(F.avg("y"), F.lit(0.0)).alias("gy"),
    )
    grav = pos.crossJoin(F.broadcast(com)).select(
        "id",
        (F.lit(gravity_k) * (F.col("gx") - F.col("x"))).alias("fx"),
        (F.lit(gravity_k) * (F.col("gy") - F.col("y"))).alias("fy"),
    )

    forces = (
        spring.unionAll(rep).unionAll(grav)
        .groupBy("id")
        .agg(F.sum("fx").alias("fx"), F.sum("fy").alias("fy"))
    )
    damp = max(0.0, 1.0 - damping * dt)
    nvx = (F.col("vx") + F.coalesce("fx", F.lit(0.0)) * dt) * damp
    nvy = (F.col("vy") + F.coalesce("fy", F.lit(0.0)) * dt) * damp
    speed = F.sqrt(nvx**2 + nvy**2) + F.lit(1e-9)
    scale = F.least(F.lit(1.0), F.lit(max_speed) / speed)
    nvx, nvy = nvx * scale, nvy * scale
    stepx, stepy = nvx * dt, nvy * dt
    stepn = F.sqrt(stepx**2 + stepy**2) + F.lit(1e-9)
    sscale = F.least(F.lit(1.0), F.lit(max_step) / stepn)
    return pos.join(forces, "id", "left").select(
        "id",
        (F.col("x") + stepx * sscale).alias("x"),
        (F.col("y") + stepy * sscale).alias("y"),
        nvx.alias("vx"),
        nvy.alias("vy"),
    )


def connected_components(graph: PropertyGraph, max_iter: int = 30) -> DataFrame:
    """Undirected connected components (the reference's BFS flood,
    frontend.rs:3044-3063, generalized to all components): returns
    ``(id, component)`` where component is the smallest node id in the
    component.

    Algorithm: **min-contraction** (the large-star family). Each level
    maps every node to m(u) = min(u, min neighbor) — one aggregate —
    then rebuilds the edge list between *representatives*
    ((m(u), m(v)), self-loops dropped, deduped) and recurses on the
    contracted graph. Every edge has a non-minimal endpoint, so the
    node set at least halves per level and the edge set collapses
    geometrically (measured on the sf0.1 projection: 3.9M → 2.9M → 1.0M
    → 2k → 4 → 0 edges in 5 levels); total work is a small constant
    times the input size, vs. O(diameter) full-size rounds for plain
    label propagation. The m-chains are then unwound top-down (small
    joins on the shrinking per-level maps) to label the original nodes.

    Everything iterative runs on ``xxhash64`` surrogates of the node
    ids: min-aggregating and joining 8-byte longs keeps every level in
    vectorized hash aggregation, where the ~30-byte string ids forced
    object-hash/sort fallbacks (measured ~4×). The propagated minimum is
    therefore the min *hash* per component; a final groupBy maps each
    hash-component back to the smallest string id — same result, two
    cheap extra shuffles. (A hash collision would need ~2^32 nodes to
    matter, and can only merge components, never split one.)

    Shuffle sizing: the loop runs several shuffle stages per level, so
    task-scheduling overhead — not data — dominates when partitions are
    oversized (measured at sf0.1: 23 s at the session's 32 shuffle
    partitions vs 14 s at 8). Partition count is sized from the actual
    row counts (~500k rows per partition, floor 8) and the session
    setting restored afterwards; at cluster scale the same formula
    grows the count with the data.
    """
    spark = graph.nodes.sparkSession
    # size partitions BEFORE building the pinned frames, so the setup
    # exchanges (and the partition count baked into the checkpoints,
    # which every later level inherits) match the data, not the session
    n_edges = 2 * graph.edges.count()
    n_nodes = graph.nodes.count()
    parts = partitions_for(n_nodes + n_edges)
    with shuffle_partitions(spark, parts), scratch(spark) as s:
        sadj = _directed_adjacency(graph.edges)
        adj_hashed = sadj.select(
            F.xxhash64("u").alias("u"), F.xxhash64("v").alias("v")
        ).repartition(parts, "u")
        if n_nodes <= BROADCAST_ROWS_MAX:
            # persist (NOT localCheckpoint — that drops
            # outputPartitioning): level 0's groupBy(u) — the single
            # biggest shuffle of the whole contraction, 2|E| rows —
            # reuses the u partitioning and plans no exchange (same
            # lever as the LPA weights frame)
            adj = s.persist(adj_hashed)
        else:
            adj = s.pin(adj_hashed)
        idmap = s.pin(graph.nodes.select("id", F.xxhash64("id").alias("iid")))
        levels = []  # per-level u → m maps (only nodes with edges at that level)
        cur = adj
        # The per-level m map is ≤ |nodes-at-level| (u, m) long pairs and
        # only SHRINKS with depth — while the initial node set fits a
        # broadcast, every level's two rebuild joins can skip the m-side
        # exchanges (same measured lever as the LPA comm broadcast); at
        # cluster scale the plain co-shuffled joins remain.
        bcast = broadcast_if_small(n_nodes)
        for _ in range(max_iter):
            m = s.pin(
                cur.groupBy("u")
                .agg(F.min("v").alias("__mv"))
                .select("u", F.least("u", "__mv").alias("m"))
            )
            levels.append(m)
            # repartition BEFORE distinct: HashPartitioning(u) satisfies
            # distinct's ClusteredDistribution(u, v), so the dedup
            # reuses the exchange instead of adding a second (u,v)
            # shuffle per level; the materialized blocks stay u-keyed
            contracted = s.pin(
                cur.join(bcast(m.select("u", F.col("m").alias("__mu"))), "u")
                .join(bcast(m.select(F.col("u").alias("v"), F.col("m").alias("__mv2"))), "v")
                .select(F.col("__mu").alias("u"), F.col("__mv2").alias("v"))
                .filter(F.col("u") != F.col("v"))
                .repartition("u")
                .distinct()
            )
            cur = contracted
            if contracted.isEmpty():
                break
        else:  # loop exhausted without an empty edge set
            # an unconverged contraction would silently SPLIT components
            # at the unwind — fail loudly instead (each level strictly
            # shrinks the node set, so hitting this needs a graph deeper
            # than 2^max_iter contractions)
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} contraction levels"
            )
        # unwind: root(u at level L) = m_L(u); one level up,
        # root(u) = root_{l+1}(m_l(u)), nodes isolated deeper → themselves
        root = None
        for m in reversed(levels):
            if root is None:
                root = m.select("u", F.col("m").alias("root"))
            else:
                # root is the deeper (strictly smaller) level's map
                root = m.join(bcast(root.withColumnRenamed("u", "m")), "m", "left").select(
                    "u", F.coalesce("root", F.col("m")).alias("root")
                )
        # degree-0 nodes never appear in any level map → their own root
        if root is None:
            comp = idmap.select("id", "iid", F.col("iid").alias("__hc"))
        else:
            comp = idmap.join(bcast(root.withColumnRenamed("u", "iid")), "iid", "left").select(
                "id", "iid", F.coalesce("root", F.col("iid")).alias("__hc")
            )
        # map hash-components back to min string ids inside the sized-
        # partition window, pinned so the caller's action is a pure scan;
        # the scope then frees the per-level maps/adjacency
        rep = comp.groupBy("__hc").agg(F.min("id").alias("component"))
        return s.keep(comp.join(rep, "__hc").select("id", "component"))


def triangle_counts(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle counts over an undirected simple graph:
    ``(id, n_triangles)`` for every node in at least one triangle.

    Degree-oriented wedge enumeration (the standard distributed triangle
    algorithm, cf. Suri & Vassilvitskii 2011 "Counting Triangles and the
    Curse of the Last Reducer"): orient each edge from its
    (degree, id)-smaller endpoint to the larger, enumerate wedges only at
    the smaller endpoint, and close them with one equi-join back on the
    oriented edge set. Orientation bounds per-node out-degree by
    O(sqrt(|E|)), so hub nodes cannot produce quadratic wedge lists —
    THE skew guard a 100 TB co-occurrence graph needs; all joins are
    equi-joins on ids (AQE handles residual skew), nothing is ever
    all-pairs.

    Input edges may be directed/duplicated/self-looped; they are
    canonicalized (undirected, distinct, loops dropped) first. Exact
    integer counts → reproducible in ANSI SQL for the oracle.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("id"))
        .unionAll(e.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient by (degree, id), CARRYING the big endpoint's degree so the
    # wedge stage orders its two spokes without re-joining the degree
    # table (saves two joins on the wedge-sized stream — the expensive
    # stage of the whole operator)
    ek = (
        e.join(deg.select(F.col("id").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("id").alias("v"), F.col("d").alias("dv")), "v")
        .select(
            F.when(
                F.struct(F.col("du").alias("d"), F.col("u").alias("i"))
                < F.struct(F.col("dv").alias("d"), F.col("v").alias("i")),
                F.struct(
                    F.col("u").alias("a"), F.col("v").alias("b"), F.col("dv").alias("db")
                ),
            )
            .otherwise(
                F.struct(
                    F.col("v").alias("a"), F.col("u").alias("b"), F.col("du").alias("db")
                )
            )
            .alias("__e")
        )
        .select(
            F.col("__e.a").alias("a"), F.col("__e.b").alias("b"), F.col("__e.db").alias("db")
        )
    )
    # wedges at the small endpoint; order the two spokes by their carried
    # (deg, id) keys so the closing edge is exactly one oriented lookup
    e1 = ek.select(F.col("a"), F.col("b").alias("x"), F.col("db").alias("dx"))
    e2 = ek.select(F.col("a"), F.col("b").alias("y"), F.col("db").alias("dy"))
    wedges = (
        e1.join(e2, "a")
        .filter(
            F.struct(F.col("dx").alias("d"), F.col("x").alias("i"))
            < F.struct(F.col("dy").alias("d"), F.col("y").alias("i"))
        )
        .select("a", "x", "y")
    )
    tri = wedges.join(
        ek.select(F.col("a").alias("x"), F.col("b").alias("y")), ["x", "y"]
    )
    return (
        tri.select(F.col("a").alias("id"))
        .unionAll(tri.select(F.col("x").alias("id")))
        .unionAll(tri.select(F.col("y").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )


def clustering_coefficients(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    triangles: DataFrame | None = None,
) -> DataFrame:
    """Per-node local clustering coefficient over an undirected simple
    graph: ``cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1))`` — the standard
    local-density score (how close each node's neighborhood is to a
    clique), the community-structure companion to the raw triangle
    counts. Returns ``(id, degree, n_triangles, clustering)`` for EVERY
    node (degree < 2 ⇒ clustering 0.0); the coefficient is one float
    division of exact integers rounded to 6 digits, so a SQL oracle
    replays it bit-for-bit.

    ``triangles`` accepts a precomputed :func:`triangle_counts` frame
    (the expensive part — memoize it when both reports run); the rest is
    one degree aggregate and a co-shuffled left equi-join on the node id
    (the triangle side only carries nodes in ≥1 triangle, always ≤ the
    degree side). Edges are canonicalized exactly like
    :func:`triangle_counts`, so both accept raw directed/duplicated
    lists.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("id"))
        .unionAll(e.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    if triangles is None:
        triangles = triangle_counts(e, src="u", dst="v")
    d = F.col("degree").cast("double")
    return (
        deg.join(triangles, "id", "left")
        .select(
            "id",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("bigint").alias(
                "n_triangles"
            ),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    2.0
                    * F.coalesce(F.col("n_triangles"), F.lit(0)).cast("double")
                    / (d * (d - 1.0)),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )


def link_prediction_scores(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_center_degree: int | None = None,
) -> DataFrame:
    """Link prediction over an undirected simple graph: for every
    NON-adjacent pair ``(id_a, id_b)`` sharing ≥1 neighbor, the two
    classic common-neighbor scores —

    - Jaccard (Liben-Nowell & Kleinberg 2003):
      ``|N(a)∩N(b)| / |N(a)∪N(b)|``, emitted as integer micropoints
      ``jaccard_micro = (inter·10⁶) div (deg_a + deg_b − inter)``;
    - Resource Allocation (Zhou, Lü & Zhang 2009):
      ``Σ_{w∈N(a)∩N(b)} 1/deg(w)``, emitted as
      ``ra_nano = Σ (10⁹ div deg(w))`` — per-term integer floor, so the
      sum is exact int64 and a SQL oracle replays it bit-for-bit.

    Returns ``(id_a, id_b, n_common, jaccard_micro, ra_nano)`` with
    ``id_a < id_b``. The reference surfaces metadata-overlap node
    similarity (src/gui/frontend.rs:536-562) for *adjacent* pairs; this
    is the structural counterpart for the pairs the graph does NOT yet
    join — the "which edge forms next" curation view.

    Shape: one wedge enumeration at the common neighbor (adjacency
    joined once to the degree frame so each wedge carries its center's
    degree — no re-join on the wedge-sized stream), one partial-agg
    ``groupBy(id_a, id_b)`` computing BOTH scores in a single pass, a
    left-anti equi-join dropping existing edges, and two narrow degree
    joins (auto-broadcast at small |V|, AQE-shuffled above). Nothing is
    all-pairs. Unlike triangle counting, common-neighbor enumeration
    cannot be degree-oriented away — the wedge count is inherently
    ``Σ C(deg(w), 2)`` — so ``max_center_degree`` is the scale guard: a
    hub above the cap stops serving as a *center* (the standard
    production approximation — a 10⁶-degree hub certifies ~nothing at
    1/deg weight anyway, and its quadratic wedge list would dominate
    the job). ``None`` (default) = exact, the oracle path.

    Input edges may be directed/duplicated/self-looped; canonicalized
    exactly like :func:`triangle_counts`.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("id"))
        .unionAll(e.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    adj = e.select(F.col("u").alias("w"), F.col("v").alias("n")).unionAll(
        e.select(F.col("v").alias("w"), F.col("u").alias("n"))
    )
    adjd = adj.join(deg.select(F.col("id").alias("w"), F.col("d").alias("dw")), "w")
    if max_center_degree is not None:
        adjd = adjd.filter(F.col("dw") <= max_center_degree)
    a1 = adjd.select("w", F.col("n").alias("id_a"), "dw")
    a2 = adjd.select("w", F.col("n").alias("id_b"))
    pairs = (
        a1.join(a2, "w")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum(F.expr("1000000000L div dw")).cast("bigint").alias("ra_nano"),
        )
    )
    cand = pairs.join(
        e,
        (pairs["id_a"] == e["u"]) & (pairs["id_b"] == e["v"]),
        "left_anti",
    )
    return (
        cand.join(deg.select(F.col("id").alias("id_a"), F.col("d").alias("__da")), "id_a")
        .join(deg.select(F.col("id").alias("id_b"), F.col("d").alias("__db")), "id_b")
        .select(
            "id_a",
            "id_b",
            "n_common",
            F.expr("(n_common * 1000000L) div (__da + __db - n_common)")
            .cast("bigint")
            .alias("jaccard_micro"),
            "ra_nano",
        )
    )


def degree_assortativity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002, "Assortative
    mixing in networks") over an undirected simple graph — the
    one-number answer to "do hubs attach to hubs?" (r > 0) or "to
    leaves?" (r < 0) that sits next to clustering/modularity in any
    topology report. With every edge counted in BOTH orientations
    (M = 2m terms; tail degree x, head degree y — the symmetric
    doubling makes the x and y marginals identical, the standard
    undirected convention), Pearson's r collapses to::

        r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²)

    where per canonical edge ``Σxy += 2·du·dv``, ``Σx += du + dv``,
    ``Σx² += du² + dv²`` — all exact integers accumulated in
    DECIMAL(38,0) (per-edge products pass int64 once degrees pass
    ~2³¹·√m, same 100 TB accumulator rule as modularity), then ONE
    double division rounded to 6. Returns a single row
    ``(n_edges, assortativity)``; a degree-regular graph (denominator
    0: every degree equal) reports 0.0 by convention.

    Scale shape: canonicalize + one degree aggregate + two narrow
    degree equi-joins (the triangle_counts prologue) into ONE
    partial-agg global aggregate — no window, no driver-side state
    beyond the 1-row result. Input may be directed/duplicated/looped;
    canonicalized exactly like :func:`triangle_counts`.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("id"))
        .unionAll(e.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    d38 = "decimal(38,0)"
    ed = e.join(
        deg.select(F.col("id").alias("u"), F.col("d").alias("du")), "u"
    ).join(deg.select(F.col("id").alias("v"), F.col("d").alias("dv")), "v")
    agg = ed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.sum((F.col("du") + F.col("dv")).cast(d38)).alias("__sx"),
        F.sum(
            F.lit(2).cast(d38) * F.col("du").cast(d38) * F.col("dv").cast(d38)
        ).alias("__sxy"),
        F.sum(
            F.col("du").cast(d38) * F.col("du").cast(d38)
            + F.col("dv").cast(d38) * F.col("dv").cast(d38)
        ).alias("__sxx"),
    )
    m2 = (F.lit(2).cast(d38) * F.col("n_edges").cast(d38))
    num = m2 * F.col("__sxy") - F.col("__sx") * F.col("__sx")
    den = m2 * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    return agg.select(
        "n_edges",
        F.when(den == F.lit(0).cast(d38), F.lit(0.0))
        .otherwise(F.round(num.cast("double") / den.cast("double"), 6))
        .alias("assortativity"),
    )


def avg_neighbor_degree(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Average-neighbor-degree curve k_nn(k) (Pastor-Satorras, Vázquez
    & Vespignani 2001) over an undirected simple graph — the
    per-degree view behind :func:`degree_assortativity`'s one-number
    summary: for each degree class k, the mean degree of the neighbors
    of degree-k nodes. A falling curve = disassortative (hubs attach
    to leaves), flat = uncorrelated, rising = assortative. Returns one
    row per occupied degree, ``(degree, n_nodes,
    sum_neighbor_degrees, knn)``.

    Exactness: every node in degree class k has exactly k neighbors,
    so the class mean collapses to all-integer sums::

        k_nn(k) = (Σ_i Σ_{j∈N(i)} d_j) / (k · n_k)

    — one double division per output row, rounded to 6 (never a
    per-node float mean averaged again). Sums accumulate in
    DECIMAL(38,0) (hub classes at 10⁹-node scale push Σd past int64 —
    the same 100 TB accumulator rule as assortativity/modularity).

    Scale shape: canonicalize, one degree aggregate, one neighbor
    equi-join carrying the degree, then two partial-agg groupBys
    (node, then degree) — no window, no driver state; output is
    |distinct degrees| rows (≤ max degree, tiny at any scale). Input
    may be directed/duplicated/looped; canonicalized exactly like
    :func:`triangle_counts`.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    both = e.select(F.col("u").alias("id"), F.col("v").alias("nb")).unionAll(
        e.select(F.col("v").alias("id"), F.col("u").alias("nb"))
    )
    deg = both.groupBy("id").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    d38 = "decimal(38,0)"
    per_node = (
        both.join(deg.select(F.col("id").alias("nb"), F.col("d").alias("dn")), "nb")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("__k"),
            F.sum(F.col("dn").cast(d38)).alias("__s"),
        )
    )
    return (
        per_node.groupBy(F.col("__k").alias("degree"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("__s").alias("__ss"),
        )
        .select(
            "degree",
            "n_nodes",
            F.col("__ss").cast("bigint").alias("sum_neighbor_degrees"),
            F.round(
                F.col("__ss").cast("double")
                / (F.col("degree") * F.col("n_nodes")).cast("double"),
                6,
            ).alias("knn"),
        )
    )


def _edge_idmap(edges_df: DataFrame, src: str, dst: str) -> DataFrame:
    """``(id, n)`` for every endpoint of a plain ``(src, dst)`` edge list:
    the distinct ids and their xxhash64 surrogates. The surrogates hash
    the STRING form so int and string id columns get the same treatment;
    ``id`` keeps the original type for the join back."""
    return (
        edges_df.select(F.col(src).alias("id"))
        .unionAll(edges_df.select(F.col(dst).alias("id")))
        .distinct()
        .select("id", F.xxhash64(F.col("id").cast("string")).alias("n"))
    )


def bfs_distances(
    edges_df: DataFrame,
    source=None,
    max_depth: int = 12,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Single-source BFS shortest-path distances over an undirected
    simple graph given as a plain ``(src, dst)`` edge list: returns
    ``(id, distance)`` for every node within ``max_depth`` hops of
    ``source`` (the source itself at distance 0). ``source=None`` picks
    the smallest node id — a deterministic default for demo/oracle use.

    This is the level-synchronous frontier BFS every distributed graph
    engine runs (Pregel's canonical example): per level, one equi-join
    of the (pre-partitioned, checkpointed) symmetric adjacency with the
    current frontier, a distinct, and an anti-join against the visited
    set. Total work is O(|E| · levels-touched) worst case but each edge
    is effectively expanded once per endpoint; the frontier is
    broadcast-hinted while it fits (:data:`~graph_loom_spark.graph.BROADCAST_ROWS_MAX`) so the
    big adjacency side never re-shuffles — at 100 TB the adjacency is
    partitioned once and every level is a broadcast probe into it.
    The per-level ``count()`` doubles as the termination check and the
    loop driver; lineage is checkpointed per level (visited/frontier
    are data-sized, never driver-side).

    Semantics: shortest distance is unique, so the result is
    deterministic and (bounded-depth) expressible as a recursive-CTE
    SQL oracle. Walks vs paths make no difference to min-distance.
    """
    with scratch(edges_df.sparkSession) as s:
        # materialize the input edge list once: idmap, the symmetric
        # adjacency, and the default-source min each scan it, and an
        # upstream edge CONSTRUCTION (e.g. a co-occurrence self-join) would
        # otherwise re-execute per derivation
        edges_df = s.pin(edges_df.select(src, dst))
        sc_ = F.col(src).cast("string")
        dc_ = F.col(dst).cast("string")
        idmap = s.pin(_edge_idmap(edges_df, src, dst))
        e0 = edges_df.select(F.xxhash64(sc_).alias("a"), F.xxhash64(dc_).alias("b")).filter(
            F.col("a") != F.col("b")
        )
        adj = s.pin(
            e0.select(F.col("a").alias("u"), F.col("b").alias("v"))
            .unionAll(e0.select(F.col("b").alias("u"), F.col("a").alias("v")))
            .distinct()
            .repartition("u")
        )
        if source is None:
            source = edges_df.select(
                F.least(F.col(src), F.col(dst)).alias("i")
            ).agg(F.min("i")).collect()[0][0]
            if source is None:  # empty edge list — nothing to traverse
                raise ValueError("bfs_distances: empty edge list, no default source")
        src_h = (
            idmap.filter(F.col("id") == source).select("n").limit(1)
        )
        if src_h.count() == 0:
            # an absent source would otherwise return a silently-empty frame
            # (and diverge from a SQL oracle that seeds the CTE with the id)
            raise ValueError(f"bfs_distances: source {source!r} not in the edge list")
        visited = s.pin(src_h.select("n", F.lit(0).cast("int").alias("d")))
        frontier = visited.select("n")
        n_frontier = frontier.count()
        n_visited = n_frontier
        depth = 0
        while n_frontier > 0 and depth < max_depth:
            depth += 1
            bcast = broadcast_if_small(n_frontier)
            # the visited set is bounded by |V|; while it fits the same
            # broadcast budget, hint it so the dedup anti-join is map-side
            # too — otherwise every level pays an O(|visited|) shuffle that
            # grows toward O(|V|) at the deep levels (AQE can't see the
            # size of a union of checkpoints). Past the budget both sides
            # fall back to the co-shuffled anti-join.
            vcast = broadcast_if_small(n_visited)
            new = s.pin(
                adj.join(bcast(frontier.select(F.col("n").alias("u"))), "u")
                .select(F.col("v").alias("n"))
                .distinct()
                .join(vcast(visited.select("n")), "n", "left_anti")
                .select("n", F.lit(depth).cast("int").alias("d"))
            )
            n_frontier = new.count()
            if n_frontier == 0:
                break
            # visited stays a plain union of the per-level CHECKPOINTED
            # frontiers — leaves are materialized, so lineage depth is just
            # the level count and no extra job is paid per level re-pinning
            # the union itself
            visited = visited.unionAll(new)
            n_visited += n_frontier
            frontier = new.select("n")
        return s.keep(
            visited.join(idmap, "n")
            .select("id", F.col("d").cast("bigint").alias("distance"))
        )


# Fixed-point grids: pagerank and PPR ranks are longs in units of 1e-12,
# HITS scores in units of 1e-9 (the SQL oracles replay both grids).
_RANK_SCALE = 10**12
_HITS_SCALE = 10**9


@contextmanager
def _surrogate_ids(graph: PropertyGraph):
    """The prologue of the rank ops (:func:`_rank_iteration`,
    :func:`hits`): pin the ``(id, iid)`` xxhash64 surrogate map, count
    |V| and |E|, and widen the shuffle to :func:`partitions_for` of
    |V|+|E| BEFORE any pinned edge frame is built, so the partitioning
    baked into those frames matches the data. Yields ``(s, idmap,
    n_nodes, edges_h)``: the op's scratch scope, the pinned map, |V| and
    the lazy surrogate edge list ``(u, v)``.

    r14-opt (the connected_components lever, VERDICT r13 ask #1): at
    sf0.1 these ops were fixed-cost-bound — the 8-core bench BEAT the
    32-core one — because each of the ~3 jobs per iteration scheduled
    session-partition-count near-empty tasks.
    """
    spark = graph.nodes.sparkSession
    with scratch(spark) as s:
        idmap = s.pin(graph.nodes.select("id", F.xxhash64("id").alias("iid")))
        n_nodes = idmap.count()
        with shuffle_partitions(spark, partitions_for(n_nodes + graph.edges.count())):
            edges_h = graph.edges.select(F.xxhash64("src").alias("u"), F.xxhash64("dst").alias("v"))
            yield s, idmap, n_nodes, edges_h


def _rank_iteration(
    graph: PropertyGraph, iters: int, damping: float,
    seeds: DataFrame | None = None, pre_aggregate_edges: bool = False,
) -> DataFrame:
    """The power iteration behind :func:`pagerank` (``seeds=None``: every
    node teleports) and :func:`personalized_pagerank` (the teleport and
    the dangling mass go to the ``seeds`` node set only); returns
    ``(id, rank)``. With T the teleport set (all N nodes, or the seeds)::

        r ← (1−d)·1[v∈T]/|T| + d·(Σ_{u→v} r_u/outdeg_u + 1[v∈T]·dm/|T|)

    **Fixed-point integer arithmetic**: ranks are longs in units of
    1e-12, per-edge contributions are integer divisions, and damping is
    applied as the rational ``round(damping·100)/100``. Integer sums
    are associative, so the result is bit-identical across engines,
    partitionings, AQE decisions, and reruns — the determinism a 100 TB
    nightly job needs for diffable outputs (float PageRank changes in
    the 15th digit whenever the reduction order moves), and what lets
    an ANSI-SQL oracle replay the algorithm exactly. Each node drops at
    most ``outdeg·1e-12`` of mass per round to floor division — far
    below any ranking-relevant difference. The returned ``rank`` is the
    exact double ``r·1e-12`` (r < 2^53).

    Scale shape: the per-iteration work is one equi-join of the rank
    frame with the (pre-partitioned, persisted) out-degree-annotated
    edge list plus one partial-aggregable groupBy on dst — both on
    8-byte xxhash64 surrogates; the dangling mass is a 1-row aggregate
    broadcast into the update expression, so a seeded iteration costs
    what a uniform one does. Lineage is checkpointed per round.
    """
    dn = int(round(damping * 100))  # damping at 2-decimal precision
    with _surrogate_ids(graph) as (s, idmap, n_nodes, edges_h):
        # the rank frame is 16 bytes/node: hinted as a broadcast on the
        # contrib join against the big pinned edge frame while it fits
        # (same lever and threshold as weighted_label_propagation)
        bcast = broadcast_if_small(n_nodes)
        if seeds is None:
            n_tele = n_nodes
        else:
            seed_nodes = graph.nodes.join(seeds.select("id"), "id", "left_semi")
            src = s.pin(seed_nodes.select(F.xxhash64("id").alias("nid")))
            n_tele = src.count()
            if n_tele == 0:
                raise ValueError("personalized_pagerank: empty source set")
        # r13-opt: on a MULTIGRAPH (the web host graph: corpus-sized link
        # records over a small host×host pair set) collapsing parallel
        # edges to (u, v, multiplicity) BEFORE the loop means the one
        # corpus-sized pass is the partial-agg groupBy and every iteration
        # joins only the distinct pair set. Bit-exact: each parallel edge
        # contributes the identical integer ``r div od``, so k of them sum
        # to ``k * (r div od)``, and od = Σ multiplicities is the same
        # count. Opt-in because on a simple graph (the tpch projection:
        # 100% unique pairs) the extra aggregation buys nothing.
        if pre_aggregate_edges:
            # checkpoint the collapsed pair set: outdeg below and the
            # ed build would otherwise each re-run the corpus-sized
            # multiplicity groupBy (r14-opt, guide §1.2)
            ew = s.pin(edges_h.groupBy("u", "v").agg(F.count(F.lit(1)).alias("__k")))
            outdeg = ew.groupBy("u").agg(F.sum("__k").alias("od"))
            contrib_c = F.expr("__k * (r div od)").alias("c")
        else:
            ew = edges_h
            outdeg = edges_h.groupBy("u").agg(F.count(F.lit(1)).alias("od"))
            contrib_c = F.expr("r div od").alias("c")
        # r14-opt: checkpoint the out-degree frame (≤ |V| slim rows) —
        # it feeds THREE setup consumers (the ed join, the ed dangling
        # flag probe, the ranks flag probe), which each re-executed the
        # |E|-row degree aggregate when it was left lazy
        outdeg = s.pin(outdeg)
        # per-node static flags: __d (dangling: no out-edges) and, seeded,
        # __s (seed); the uniform start rank rides the same frame, so it
        # is the first rank frame, while the seeded one derives it below
        stat = idmap.select(F.col("iid").alias("nid"))
        if seeds is None:
            flags, head = ["__d"], ["r"]
            stat = stat.select("nid", F.lit(_RANK_SCALE // n_nodes).cast("long").alias("r"))
        else:
            flags, head = ["__s", "__d"], [F.coalesce("__s", F.lit(0)).alias("__s")]
            stat = stat.join(bcast(src.withColumn("__s", F.lit(1))), "nid", "left")
        stat = s.pin(
            stat.join(
                bcast(outdeg.select(F.col("u").alias("nid"), F.lit(0).alias("__o"))), "nid", "left"
            ).select("nid", *head, F.coalesce("__o", F.lit(1)).alias("__d"))
        )
        # persist (NOT localCheckpoint — that drops outputPartitioning)
        # partitioned by the CONTRIBUTION-AGG key v: the rank side of the
        # per-iteration join is broadcast, so join-key partitioning buys
        # nothing, while HashPartitioning(v) lets every iteration's
        # groupBy(v) reuse the layout — zero exchanges per contrib pass
        # (same lever as weighted_label_propagation's weights frame).
        # The destination's static flags are functionally dependent on v,
        # so they ride the pinned frame (one size-gated join at build
        # time) instead of a per-iteration |V|-row broadcast join against
        # the aggregated contribs (r13-opt, the LPA cstr lever; r14-opt
        # added the dangling flag): each iteration's dangling-mass
        # aggregate then scans the previous rank checkpoint directly.
        ed = ew.join(outdeg, "u")
        if seeds is None:
            ranks = stat
            vflags = outdeg.select(F.col("u").alias("v"), F.lit(0).alias("__dv0"))
            ed = (
                ed.join(bcast(vflags), "v", "left")
                .withColumn("__dv", F.coalesce(F.col("__dv0"), F.lit(1)))
                .drop("__dv0")
            )
        else:
            start = (F.col("__s") * F.lit(_RANK_SCALE // n_tele)).cast("long").alias("r")
            ranks = s.pin(stat.select("nid", start, "__d"))
            vflags = stat.select(
                F.col("nid").alias("v"), F.col("__s").alias("__sv"), F.col("__d").alias("__dv")
            )
            ed = ed.join(bcast(vflags), "v")
        ed = s.persist(ed.repartition(F.col("v")))
        # Nodes with NO in-edges never receive contributions, so their
        # update is the closed form every iteration. Computing that static
        # set ONCE (distinct v reuses the persisted edge frame's
        # v-partitioning — exchange-free) lets each iteration build the
        # next rank frame as contrib ∪ noin instead of left-joining the
        # full previous frame against a |V|-row broadcast of contrib —
        # one fewer |V|-row broadcast build and one fewer |V|-row join
        # scan per iteration (same measured lever as the LPA round
        # restructure: 8 LPA rounds 15.0 s → 12.5 s at sf0.1).
        has_in = bcast(ed.select(F.col("v").alias("nid")).distinct())
        noin = s.pin(stat.select("nid", *flags).join(has_in, "nid", "left_anti"))
        # the teleport and dangling terms reach only the seeds (__s = 1)
        tele = "" if seeds is None else "__s * "
        base = ((100 - dn) * _RANK_SCALE) // (100 * n_tele)
        update_expr = F.expr(
            f"{tele}cast({base} as bigint) + "
            f"({dn} * (coalesce(__in, cast(0 as bigint)) + {tele}(__dm div {n_tele})))"
            " div 100"
        ).alias("r")
        for _ in range(iters):
            contrib = (
                ed.join(bcast(ranks.select(F.col("nid").alias("u"), "r")), "u")
                .select(F.col("v").alias("nid"), contrib_c, *[f + "v" for f in flags])
                .groupBy("nid")
                # first() is safe: the flags are functionally dependent on nid
                .agg(F.sum("c").alias("__in"), *[F.first(f + "v").alias(f) for f in flags])
            )
            # dangling mass folded into the plan as a broadcast 1-row
            # aggregate (same pattern as the layout COM broadcast) — a
            # driver-side collect here cost an extra action + job per
            # iteration for a single long; the __d flag riding the rank
            # frame makes it join-free (r14-opt).
            dmass_df = ranks.agg(
                F.coalesce(F.sum(F.when(F.col("__d") == 1, F.col("r"))), F.lit(0).cast("long"))
                .alias("__dm")
            )
            ranks = s.pin(
                contrib.crossJoin(F.broadcast(dmass_df))
                .select("nid", update_expr, "__d")
                .unionByName(
                    noin.withColumn("__in", F.lit(None).cast("long"))
                    .crossJoin(F.broadcast(dmass_df))
                    .select("nid", update_expr, "__d")
                )
            )
        return s.keep(
            ranks.join(idmap.select(F.col("iid").alias("nid"), "id"), "nid")
            .select("id", (F.col("r").cast("double") / F.lit(float(_RANK_SCALE))).alias("rank"))
        )


def pagerank(
    graph: PropertyGraph, iters: int = 5, damping: float = 0.85, pre_aggregate_edges: bool = False
) -> DataFrame:
    """Directed PageRank, fixed ``iters`` power iterations: returns
    ``(id, rank)`` with ranks summing to ~1.

    r ← (1−d)/N + d·(Σ_{u→v} r_u/outdeg_u + dangling_mass/N), the
    standard formulation with dangling-node mass redistributed
    uniformly — computed in fixed-point integer arithmetic on a 1e-12
    grid, bit-identical across engines and reruns. The arithmetic and
    the scale shape are :func:`_rank_iteration`'s.

    ``pre_aggregate_edges=True`` collapses parallel edges to
    multiplicities before the loop (bit-exact; pays off on a multigraph
    such as a web host graph).
    """
    return _rank_iteration(graph, iters, damping, pre_aggregate_edges=pre_aggregate_edges)


def personalized_pagerank(
    graph: PropertyGraph, sources: DataFrame, iters: int = 5, damping: float = 0.85
) -> DataFrame:
    """Personalized PageRank: random walks restart into the ``sources``
    node set (one ``id`` column) instead of uniformly — the
    influence-from-a-seed-set rank (recommendation / similar-entity
    queries). Returns ``(id, rank)``; mass concentrates on nodes
    reachable from the seeds.

    r ← (1−d)·1[v∈S]/|S| + d·(Σ_{u→v} r_u/outdeg_u + 1[v∈S]·dm/|S|)
    — both the teleport and the dangling redistribution go to the seed
    set (the standard PPR formulation). The fixed-point arithmetic and
    the scale shape are :func:`_rank_iteration`'s; with every node as a
    seed the ranks equal :func:`pagerank`'s bit for bit. Raises
    ``ValueError`` when no source id is a node.
    """
    return _rank_iteration(graph, iters, damping, seeds=sources)


def hits(graph: PropertyGraph, iters: int = 3) -> DataFrame:
    """HITS hubs & authorities (Kleinberg, JACM 1999), fixed ``iters``
    mutual-reinforcement iterations: returns ``(id, hub, authority)``.

    Fixed-point integer arithmetic with L∞ (max) normalization on a
    ``S = 1e9`` grid — per iteration, from ``h₀ = S`` everywhere::

        a_raw(v) = Σ_{u→v} h(u);   a = a_raw div max(1, amax div S)
        h_raw(u) = Σ_{u→v} a(v);   h = h_raw div max(1, hmax div S)

    The truncating integer normalizer keeps every score an int64
    (values stay ≤ ~2·S, sums need in-degree·2·S < 2⁶³ — on the 1e-9
    grid that holds to ~10⁹-degree hubs) and, unlike the
    textbook L2 norm, is exactly replayable by any engine: integer sums
    are order-independent, so results are bit-identical across
    partitionings/AQE/reruns and an ANSI-SQL oracle replays every
    iteration. Normalization choice does not affect the ranking HITS
    converges to — only the (arbitrary) scale of the scores.

    Scale shape (same levers as :func:`_rank_iteration`): the edge list is
    hashed to 8-byte surrogates and pinned TWICE — persisted partitioned
    on ``v`` for the authority pass and on ``u`` for the hub pass — so
    with the score frames broadcast (size-gated, co-shuffle fallback
    past :data:`~graph_loom_spark.graph.BROADCAST_ROWS_MAX`) both
    per-iteration aggregations reuse their layout: zero exchanges per pass. Each normalizer is a 1-row
    aggregate broadcast into the update projection (never a driver
    collect); lineage is checkpointed per iteration; string ids join
    back once at the end.
    """
    with _surrogate_ids(graph) as (s, idmap, n_nodes, edges_h):
        ed_v = s.persist(edges_h.repartition(F.col("v")))
        ed_u = s.persist(edges_h.repartition(F.col("u")))
        bcast = broadcast_if_small(n_nodes)
        h = s.pin(
            idmap.select(F.col("iid").alias("nid"), F.lit(_HITS_SCALE).cast("long").alias("r"))
        )
        a = None

        def _norm_pass(ed, score, join_key, group_key):
            # r14-opt: checkpoint the RAW sums, not the normalized frame.
            # The normalizer ``mx`` is an aggregate OVER ``raw``, so with
            # the checkpoint on the normalized side the join+groupBy
            # subtree executed TWICE per pass — once building the mx
            # broadcast, once for the checkpoint materialization (the
            # plans are not identical subtrees, so ReuseExchange cannot
            # dedupe them). Pinning raw makes mx and the normalized
            # projection two cheap scans of the same in-memory frame;
            # the projection stays lazy (its only consumer per pass is
            # the next pass's broadcast build / the final result join).
            raw = s.pin(
                ed.join(bcast(score.select(F.col("nid").alias(join_key), "r")), join_key)
                .groupBy(group_key)
                .agg(F.sum("r").alias("s"))
            )
            # integer `div`, not `/`: past 2^53 the double quotient can
            # truncate to a different normalizer than the oracle's `//`
            mx = raw.agg(
                F.expr(f"greatest(coalesce(max(s), 0L) div {_HITS_SCALE}L, 1L)").alias("__mx")
            )
            return raw.crossJoin(F.broadcast(mx)).select(
                F.col(group_key).alias("nid"), F.expr("s div __mx").alias("r")
            )

        for _ in range(iters):
            # authority pass: contributions flow along u→v, grouped on v
            a = _norm_pass(ed_v, h, "u", "v")
            # hub pass: contributions flow back v→u, grouped on u
            h = _norm_pass(ed_u, a, "v", "u")
        scale = F.lit(float(_HITS_SCALE))
        return s.keep(
            idmap.join(h.select(F.col("nid").alias("iid"), F.col("r").alias("__h")), "iid", "left")
            .join(a.select(F.col("nid").alias("iid"), F.col("r").alias("__a")), "iid", "left")
            .select(
                "id",
                (F.coalesce("__h", F.lit(0)).cast("double") / scale).alias("hub"),
                (F.coalesce("__a", F.lit(0)).cast("double") / scale).alias("authority"),
            )
        )


def weighted_sssp(
    edges_df: DataFrame,
    source=None,
    rounds: int = 8,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
    weight_mod: int = 9,
) -> DataFrame:
    """Bounded-hop weighted single-source shortest paths: ``rounds``
    synchronous Bellman-Ford relaxations over an undirected ``(src,
    dst[, weight])`` edge list — returns ``(id, dist)`` for every node
    whose ≤``rounds``-edge cheapest path from ``source`` exists
    (``source`` itself at 0; ``source=None`` picks the smallest node
    id, the same deterministic default as :func:`bfs_distances`).

    ``weight_col=None`` derives a deterministic, engine-independent
    integer weight ``1 + (md5-lane(u|v) % weight_mod)`` from the
    canonical (min,max) endpoint pair — both orientations of an edge
    get the SAME weight, and a SQL oracle re-derives it bit-for-bit
    (weights are exact int64, min is exact, so every round replays).

    Scale shape (the :func:`_rank_iteration` levers): the symmetric weighted
    adjacency is built once, persisted partitioned on the join key
    ``u`` so every relaxation's equi-join probes a stationary layout;
    the delta frontier joins broadcast while the symmetric adjacency
    stays under :data:`~graph_loom_spark.graph.BROADCAST_ROWS_MAX` rows
    (2·|E| — an edge-count gate; the frontier actually broadcast is
    bounded above by it, same proxy the other iterative ops use),
    co-shuffled beyond it; each round is ONE partial-aggregable ``groupBy(n).min``
    over |dist| + |candidates| rows; lineage checkpoints per round and
    an empty-delta probe EVERY round exits as soon as no distance
    improves. Unlike Dijkstra
    (a sequential priority queue), synchronous relaxation is the
    distributed formulation — ``rounds`` caps work exactly like
    Pregel-style SSSP supersteps.
    """
    cols = [src, dst] + ([weight_col] if weight_col is not None else [])
    with scratch(edges_df.sparkSession) as s:
        ed = s.pin(edges_df.select(*cols))
        if weight_col is None:
            lo, hi = f"cast(least({src}, {dst}) as string)", f"cast(greatest({src}, {dst}) as string)"
            w = F.expr(md5_lane(f"concat_ws('|', {lo}, {hi})", mod=weight_mod)) + F.lit(1)
        else:
            w = F.col(weight_col).cast("long")
        half = ed.select(F.col(src).alias("u"), F.col(dst).alias("v"), w.alias("w"))
        adj = s.persist(
            half.unionByName(
                half.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
            ).repartition(F.col("u"))
        )
        if source is None:
            source = ed.select(F.least(F.min(src), F.min(dst)).alias("s")).collect()[0][
                "s"
            ]
        # broadcast gate on the (already materialized) symmetric edge count:
        # |dist| ≤ |nodes| ≤ |adj| rows, so this bounds every broadcast below
        # without paying a distinct-count pass over the adjacency
        bcast = broadcast_if_small(adj.count())
        dist = s.pin(
            local_frame(
                adj.sparkSession, [(source, 0)], f"n {'string' if isinstance(source, str) else 'long'}, d long"
            )
        )
        # Delta relaxation (the standard distributed-SSSP refinement): only
        # nodes whose distance IMPROVED last round can improve a neighbor
        # this round, so the per-round join probes the adjacency with the
        # delta frontier, not the full distance frame — identical results
        # (re-relaxing settled nodes re-yields candidates that lose the
        # min), and per-round work decays with the frontier instead of
        # staying O(|E|) for all `rounds` (measured at the 10× 20M-edge
        # graph: 122.8 s full-frame → delta frontier cuts the tail rounds
        # to frontier-sized joins). Empty delta == fixpoint == early exit.
        delta = dist
        for it in range(rounds):
            cand = adj.join(bcast(delta.select(F.col("n").alias("u"), "d")), "u").select(
                F.col("v").alias("n"), (F.col("d") + F.col("w")).alias("d")
            )
            best = cand.groupBy("n").agg(F.min("d").alias("d"))
            # r14-opt: fold the delta detection INTO the min aggregate — a
            # source flag rides the union, so one partial-agg groupBy yields
            # BOTH the new minimum and the node's previous distance (min over
            # the dist side, unique per n). Before, each round paid a second
            # checkpoint + a broadcast(dist) build + a |dist|-row join just
            # to compare new vs old; now delta is a lazy filter over the one
            # checkpointed frame (its two consumers — the next round's
            # broadcast build and the isEmpty probe — are cheap scans).
            # Bit-identical: integer mins, and __old is exactly dist's d.
            nxt = s.pin(
                dist.withColumn("__o", F.lit(1))
                .unionByName(best.withColumn("__o", F.lit(0)))
                .groupBy("n")
                .agg(
                    F.min("d").alias("d"),
                    F.min(F.when(F.col("__o") == 1, F.col("d"))).alias("__old"),
                )
            )
            delta = nxt.filter(
                F.col("__old").isNull() | (F.col("d") < F.col("__old"))
            ).select("n", "d")
            dist = nxt.select("n", "d")
            if delta.isEmpty():
                break
        return s.keep(dist.select(F.col("n").alias("id"), F.col("d").alias("dist")))


def kcore(
    edges_df: DataFrame, k: int = 2, max_iter: int = 100,
    src: str = "src", dst: str = "dst",
) -> DataFrame:
    """k-core membership by iterative peeling over a plain ``(src, dst)``
    edge list (composable with
    :func:`~graph_loom_spark.ops.dedup.co_occurrence_edges` — pass
    ``graph.edges`` for a property graph): repeatedly delete nodes of
    degree < ``k`` (in the simple undirected graph — parallel edges
    collapsed, self-loops dropped) until none remain; returns the
    surviving ``(id, core_degree)`` rows, where ``core_degree`` is the
    node's degree inside the k-core.

    The peeling loop runs on 8-byte xxhash64 surrogates of the string
    form of the ids (same lever as :func:`connected_components`); each
    round is one degree aggregate + one semi-join of the shrinking edge
    set against surviving nodes, checkpointed so lineage stays flat, and
    the edge set only ever shrinks — total work is a small multiple of
    the input. Convergence is detected by the survivor count reaching a
    fixpoint (the count is needed to size the next round's shuffles
    anyway). Deterministic: peeling is order-independent (the k-core is
    unique).
    """
    sc = F.col(src).cast("string")
    dc = F.col(dst).cast("string")
    with scratch(edges_df.sparkSession) as s:
        idmap0 = s.pin(_edge_idmap(edges_df, src, dst))
        e = (
            edges_df.select(
                F.xxhash64(sc).alias("a"), F.xxhash64(dc).alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
            .distinct()
        )
        edges = s.pin(e)
        # Peel by ANTI-joining the REMOVED set, not semi-joining the keep
        # set: after round 1 the removed frame is the small side (the few
        # nodes that just dropped below k), so both per-round prunes run as
        # broadcast anti-joins that preserve the edge frame's partitioning —
        # no shuffle of the (large) surviving edge set per round. The keep
        # formulation shuffled the whole edge set twice per round; measured
        # on the 20M-edge 10× probe graph: 96.8 s → see SCALE.md. Size-gated:
        # a huge first-round removal falls back to the shuffled anti-join.
        for _ in range(max_iter):
            deg = (
                edges.select(F.col("u").alias("n"))
                .unionAll(edges.select(F.col("v").alias("n")))
                .groupBy("n")
                .agg(F.count(F.lit(1)).alias("d"))
            )
            removed = deg.filter(F.col("d") < k).select("n")
            n_removed = removed.count()
            if n_removed == 0:
                break
            rm = broadcast_if_small(n_removed)
            edges = s.pin(
                edges.join(rm(removed.select(F.col("n").alias("u"))), "u", "left_anti")
                .join(rm(removed.select(F.col("n").alias("v"))), "v", "left_anti")
            )
        core_deg = (
            edges.select(F.col("u").alias("n"))
            .unionAll(edges.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("core_degree"))
            .filter(F.col("core_degree") >= k)
        )
        return s.keep(
            core_deg.join(idmap0, "n")
            .select("id", F.col("core_degree").cast("bigint").alias("core_degree"))
        )
