"""Turn a finished :class:`workloads.Run` into the benchmark's metrics.

End-to-end metrics (reported with ``--trace 0``) have one definition on
every workload, because the result line of every workload names all of
them. ``sweep_s`` is the median wall time of a timed pass. Per-class
latency is not among them: only ``serve_mixed`` has statement classes,
and a run has 16 reads and 8 writes, too few for a steady tail.

Per-layer metrics (``--trace 1``) are self times and counters per timed
operation, 0 where a layer is idle on the workload.

The summary file of each run adds what varies by workload: the error
rate, p50 and tail latency per statement class with the tail's
percentile and sample count, and the median time of each operation kind.
"""

from __future__ import annotations

import json
import os
import statistics

from spark_probe import COUNTERS

E2E = {
    "setup_s": "s",
    "sweep_s": "s",
    "retained_heap_mb": "MiB",
}
TAIL_BEYOND = 10  # a tail percentile needs this many samples above it

_ALGO_LAYER = {
    f"analytics.{a}.{m}": u
    for a in ("pagerank", "components")
    for m, u in (("build_s", "s"), ("force_s", "s"), ("pinned_rdds_delta", "count"))
}
PER_LAYER = {
    "serve.http_ms": "ms",
    "serve.broker_wait_ms": "ms",
    "serve.read_p50_ms": "ms",
    "serve.write_p50_ms": "ms",
    "interface.execute_ms": "ms",
    "interface.collect_ms": "ms",
    "interface.rows": "count",
    "parser.parse_ms": "ms",
    "compiler.build_ms": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.run_ms": "ms",
    "spark.cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_read_mb": "MiB",
    "spark.shuffle_write_mb": "MiB",
    "spark.spill_mb": "MiB",
    "graph.node_partitions": "count",
    "graph.edge_partitions": "count",
    "graph.jobs_per_write": "count",
    "graph.checkpoints": "count",
    "result.dto_ms": "ms",
    "tpch_graph.build_s": "s",
    **_ALGO_LAYER,
    "entry.memo_hit_ratio": "ratio",
    "entry.build_s": "s",
    "entry.force_s": "s",
    "driver.py_cpu_s": "s",
    "driver.jvm_cpu_s": "s",
    "trace.overhead_ms": "ms",
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> dict | None:
    """The highest percentile with at least :data:`TAIL_BEYOND` samples
    above it: ``{"pct", "value", "n"}``, or ``None`` when there are too
    few samples for it to lie above the median."""
    n = len(xs)
    if n < 2 * TAIL_BEYOND:
        return None
    k = n - TAIL_BEYOND  # nearest rank: exactly TAIL_BEYOND samples lie above it
    return {"pct": 100.0 * k / n, "value": sorted(xs)[k - 1], "n": n}


def end_to_end(run, setup_s: float, heap_mb: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "sweep_s": statistics.median(run.passes),
        "retained_heap_mb": heap_mb,
    }


def by_workload(run, failed: int, attempted: int) -> dict:
    """What the result line cannot carry: the error rate, latency per
    statement class (p50 and tail) and the median time per kind."""
    out: dict = {"error_rate": failed / attempted, "classes": {}, "kinds": {}}
    for cls in sorted({o["cls"] for o in run.ops}):
        ms = [o["s"] * 1000 for o in run.ops if o["cls"] == cls]
        out["classes"][cls] = {"p50_ms": statistics.median(ms), "tail_ms": tail(ms), "n": len(ms)}
    for kind in dict.fromkeys(o["kind"] for o in run.ops):
        out["kinds"][kind] = {"median_s": statistics.median(o["s"] for o in run.ops if o["kind"] == kind)}
    return out


def per_layer(run) -> dict[str, float]:
    n = len(run.ops)
    tr = run.tracer
    self_s = tr.self_times()
    out = dict.fromkeys(PER_LAYER, 0.0)

    def per_op_ms(span: str) -> float:
        return 1000 * self_s.get(span, 0.0) / n

    for metric, span in (
        ("serve.http_ms", "client"),
        ("serve.broker_wait_ms", "serve.handle_query"),
        ("interface.execute_ms", "interface.execute"),
        ("interface.collect_ms", "interface.collect"),
        ("parser.parse_ms", "parser.parse"),
        ("compiler.build_ms", "compiler.build"),
        ("result.dto_ms", "result.dto"),
    ):
        out[metric] = per_op_ms(span)
    if any(sp["name"] == "client" for sp in tr.spans):  # a served workload
        for cls in ("read", "write"):
            out[f"serve.{cls}_p50_ms"] = _median(o["s"] * 1000 for o in run.ops if o["cls"] == cls)

    collects = [sp for sp in tr.spans if sp["name"] == "interface.collect" and "end" in sp]
    out["interface.rows"] = sum(sp.get("rows", 0) for sp in collects) / n
    phases = [sp for sp in collects if "analysis" in sp] + run.layer.get("catalyst", [])
    for p in ("analysis", "optimization", "planning"):
        out[f"catalyst.{p}_ms"] = sum(ph[p] for ph in phases) / n

    groups = [o["gid"] for o in run.ops if "gid" in o]
    counters = dict(zip(groups, run.probe.counters(groups)))
    for c in COUNTERS:
        out[f"spark.{c}"] = _mean(counters[g][c] for g in groups)
    writes = [o for o in run.ops if o["cls"] == "write" and "gid" in o]
    out["graph.jobs_per_write"] = _mean(counters[o["gid"]]["jobs"] for o in writes)
    out["graph.node_partitions"] = _mean(run.layer.get("graph.node_partitions", []))
    out["graph.edge_partitions"] = _mean(run.layer.get("graph.edge_partitions", []))
    out["graph.checkpoints"] = float(len(tr.totals("graph.checkpoint")))
    out["tpch_graph.build_s"] = _median(run.layer.get("tpch_graph.build_s", []))

    for a in ("pagerank", "components"):
        out[f"analytics.{a}.build_s"] = _mean(tr.totals(f"analytics.{a}.build"))
        out[f"analytics.{a}.force_s"] = _mean(tr.totals(f"analytics.{a}.force"))
        out[f"analytics.{a}.pinned_rdds_delta"] = _mean(run.layer.get(f"analytics.{a}.pinned_rdds_delta", []))
    hits = [o["hit"] for o in run.ops if "hit" in o]
    out["entry.memo_hit_ratio"] = _mean(hits)
    out["entry.build_s"] = _mean(tr.totals("entry.build"))
    out["entry.force_s"] = _mean(tr.totals("entry.force"))
    out["driver.py_cpu_s"] = run.cpu_s / n
    out["driver.jvm_cpu_s"] = sum(run.pass_jvm_cpu) / n
    out["trace.overhead_ms"] = 1000 * tr.overhead_s / n
    return out


def result(run, setup_s: float) -> dict:
    """The result line; also keeps both metric sets and the per-workload
    figures on ``run`` for the summary file."""
    heap_mb = run.probe.retained_heap_mb()
    run.e2e = end_to_end(run, setup_s, heap_mb)
    run.layers = per_layer(run) if run.traced else {}
    return result_line(run)


def result_line(run) -> dict:
    values, units = (run.layers, PER_LAYER) if run.traced else (run.e2e, E2E)
    ops = run.warm_ops + run.ops
    failed = sum(not o["ok"] for o in ops) + run.checks_failed
    attempted = len(ops) + run.checks
    run.detail = by_workload(run, failed, attempted)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }


def write_summary(run, result: dict, stem: str) -> None:
    """``<stem>.json``: the result, both metric sets, the per-workload
    figures and every timed operation. A traced run also writes
    ``<stem>.spans.json`` and, when the untraced run of the same workload
    and seed left its summary, the tracing overhead per end-to-end
    metric (traced - untraced)."""
    summary = {
        "result": result,
        "end_to_end": run.e2e,
        "per_layer": run.layers,
        **run.detail,
        "phases_s": run.phases,
        "passes_s": run.passes,
        "passes_jvm_cpu_s": run.pass_jvm_cpu,
        "ops": [{k: v for k, v in o.items() if k != "gid"} for o in run.ops],
        "warm_ops": run.warm_ops,
    }
    if run.traced:
        run.tracer.dump(stem + ".spans.json")
        untraced = stem[: -len("trace1")] + "trace0.json"
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]
            summary["trace_overhead"] = {k: run.e2e[k] - base[k] for k in E2E if k in base}
    with open(stem + ".json", "w") as f:
        json.dump(summary, f, indent=1)
