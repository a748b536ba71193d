"""Scaling probe for the iterative graph algorithms: run components /
PageRank / LPA / triangles / BFS on the sf0.1 property-graph projection
(786k nodes, 2.0M directed edges) and on a derived 10× replica
(7.9M nodes, 20M edges — TEN disjoint copies with prefixed ids), and
report wall-clock scaling factors.

The 10× graph crosses ``graph.BROADCAST_ROWS_MAX`` (5M), so the big run
exercises the CLUSTER-SCALE fallback paths — co-shuffled joins instead
of broadcast rank/community frames — i.e. exactly the plan shape a
1000-executor job on a 100 TB corpus would run. A near-linear factor
here is the evidence that the broadcast hints are an optimization, not
a correctness or scalability crutch.

Usage: PYTHONPATH=. python scripts/scale_probe_graph.py [ops...]
Writes the derived graph under /tmp/spark_graft_scale_graph/.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from graph_loom_spark.session import get_spark
from graph_loom_spark.io.tpch_graph import build_graph
from graph_loom_spark.graph import PropertyGraph
from graph_loom_spark import analytics

SF1 = "/root/testdata/sf0.1"
DERIVED = "/tmp/spark_graft_scale_graph"
COPIES = 10


def _derive(spark) -> None:
    g = build_graph(spark, SF1, cache=False)
    copies = spark.range(COPIES).select(F.col("id").alias("__c"))
    tag = F.concat(F.lit("c"), F.col("__c").cast("string"), F.lit(":"))
    (
        g.nodes.crossJoin(copies)
        .select(
            F.concat(tag, F.col("id")).alias("id"),
            "label",
            "properties",
        )
        .write.mode("overwrite")
        .parquet(f"{DERIVED}/nodes.parquet")
    )
    (
        g.edges.crossJoin(copies)
        .select(
            F.concat(tag, F.col("src")).alias("src"),
            F.concat(tag, F.col("dst")).alias("dst"),
            *[c for c in g.edges.columns if c not in ("src", "dst")],
        )
        .write.mode("overwrite")
        .parquet(f"{DERIVED}/edges.parquet")
    )


def main() -> None:
    spark = get_spark(app_name="scale-probe-graph")
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(f"{DERIVED}/nodes.parquet"):
        print("deriving 10x graph ...", flush=True)
        _derive(spark)

    g1 = build_graph(spark, SF1, cache=False)
    g10 = PropertyGraph(
        spark,
        nodes=spark.read.parquet(f"{DERIVED}/nodes.parquet"),
        edges=spark.read.parquet(f"{DERIVED}/edges.parquet"),
    )

    OPS = {
        "components": lambda g: analytics.connected_components(g).count(),
        "pagerank": lambda g: analytics.pagerank(g).count(),
        "lpa": lambda g: analytics.weighted_label_propagation(g).count(),
        "hits": lambda g: analytics.hits(g).count(),
        "triangles": lambda g: analytics.triangle_counts(
            g.edges.select("src", "dst")
        ).count(),
        "clustering": lambda g: analytics.clustering_coefficients(
            g.edges.select("src", "dst")
        ).count(),
        "bfs": lambda g: analytics.bfs_distances(
            g.edges.select("src", "dst")
        ).count(),
        "sssp": lambda g: analytics.weighted_sssp(
            g.edges.select("src", "dst")
        ).count(),
        "kcore": lambda g: analytics.kcore(
            g.edges.select("src", "dst"), k=3
        ).count(),
        "ppr": lambda g: analytics.personalized_pagerank(
            g, g.nodes.select("id").orderBy("id").limit(16)
        ).count(),
    }
    # r10: link prediction + assortativity run on the co-purchase
    # PROJECTION (the entry's graph), not the FK property graph — the
    # FK graph's nation/region mega-hubs are exactly what the wedge
    # enumeration must never see uncapped. 10× = ten disjoint id-offset
    # copies, so wedge count grows exactly 10× (linearity check).
    cooc_path = f"{DERIVED}/cooc_edges.parquet"
    if not os.path.exists(cooc_path):
        from graph_loom_spark.ops.dedup import co_occurrence_edges

        li = spark.read.parquet(f"{SF1}/lineitem.parquet").filter(
            F.col("l_orderkey") % 4 == 0
        )
        e1c = co_occurrence_edges(li, "l_orderkey", "l_partkey")
        off = int(e1c.agg(F.max(F.greatest("src", "dst"))).first()[0]) + 1
        copies = spark.range(COPIES).select(F.col("id").alias("__c"))
        (
            e1c.crossJoin(copies)
            .select(
                (F.col("src") + F.col("__c") * off).alias("src"),
                (F.col("dst") + F.col("__c") * off).alias("dst"),
            )
            .write.mode("overwrite")
            .parquet(cooc_path)
        )
        e1c.write.mode("overwrite").parquet(f"{DERIVED}/cooc_edges_1x.parquet")
    ec1 = spark.read.parquet(f"{DERIVED}/cooc_edges_1x.parquet").localCheckpoint(
        eager=True
    )
    ec10 = spark.read.parquet(cooc_path).localCheckpoint(eager=True)
    EDGE_OPS = {
        "link_pred": lambda e: analytics.link_prediction_scores(e).count(),
        "assortativity": lambda e: analytics.degree_assortativity(e).count(),
        # r11: force the knn column (count alone would prune the OLS-
        # style aggregate expressions)
        "knn_degree": lambda e: analytics.avg_neighbor_degree(e)
        .agg(F.sum("knn"))
        .collect(),
    }

    only = sys.argv[1:]
    scales = [("sf0.1", g1), ("sf0.1x10", g10)]
    print(f"{'op':12s} " + " ".join(f"{t:>10s}" for t, _ in scales) + "   x(1->10)")

    def _run(name, fn, pairs):
        row = []
        for tag, arg in pairs:
            t0 = time.time()
            try:
                fn(arg)
                row.append(time.time() - t0)
            except Exception as ex:
                print(f"{name}: FAIL at {tag}: {str(ex)[:120]}", flush=True)
                row.append(float("nan"))
                break
        if len(row) == len(pairs):
            factor = row[1] / row[0] if row[0] else float("nan")
            print(
                f"{name:12s} " + " ".join(f"{v:9.2f}s" for v in row) + f"   {factor:6.1f}x",
                flush=True,
            )

    for name, fn in OPS.items():
        if only and name not in only:
            continue
        _run(name, fn, scales)
    for name, fn in EDGE_OPS.items():
        if only and name not in only:
            continue
        _run(name, fn, [("sf0.1", ec1), ("sf0.1x10", ec10)])
    spark.stop()


if __name__ == "__main__":
    main()
