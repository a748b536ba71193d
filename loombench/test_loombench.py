"""Self-tests of the benchmark; no Spark session is started.

    python3 -m pytest loombench -q

- the seeded generators are deterministic and the seed changes values,
  not sizes;
- a result line names every metric of ``BENCHMARK.json`` with its unit;
- a planted wrong answer is counted as failed and raises the error rate.
"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402
from model import ServeModel  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(trace: bool = False) -> workloads.Run:
    return workloads.Run(SimpleNamespace(sparkContext=None), seed=1, passes=1, trace=trace, work_dir="")


def _served(run: workloads.Run, script: list[dict]) -> list[tuple]:
    """What a correct server replies to ``script``, each reply timed."""
    nodes, edges = gen.social_graph(run.seed)
    model = ServeModel(nodes, edges)
    replies = []
    for i, st in enumerate(script):
        rec = run.op(st["kind"], st["cls"])
        rec["s"] = 0.1 + i / 1000
        replies.append((200, model.apply(st)))
    run.passes.append(sum(o["s"] for o in run.ops))
    return replies


def test_generators_are_deterministic():
    assert gen.social_graph(5) == gen.social_graph(5)
    assert gen.serve_script(5, 3) == gen.serve_script(5, 3)
    assert gen.fingerprint(gen.tables(5)) == gen.fingerprint(gen.tables(5))
    assert gen.fingerprint(gen.tables(5)) != gen.fingerprint(gen.tables(6))
    assert gen.serve_script(5, 3) != gen.serve_script(6, 3)
    # a longer script starts with the shorter one, so a run's statements
    # do not depend on its length
    assert gen.serve_script(5, 4)[: 3 * len(gen.CYCLE)] == gen.serve_script(5, 3)
    a, b = gen.tables(5), gen.tables(6)
    assert {k: t.num_rows for k, t in a.items() if k != "lineitem"} == {
        k: t.num_rows for k, t in b.items() if k != "lineitem"
    }


def test_result_names_every_metric_with_its_unit():
    spec = _spec()
    run = _run()
    _served(run, gen.serve_script(1, 1))
    run.e2e = metrics.end_to_end(run, setup_s=1.5, heap_mb=80.0)
    got = metrics.result_line(run)["metrics"]
    assert {k: v["unit"] for k, v in got.items()} == {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert all(v["value"] > 0 for v in got.values())

    run = _run(trace=True)
    run.probe.counters = lambda groups: [dict.fromkeys(metrics.COUNTERS, 1.0) for _ in groups]
    _served(run, gen.serve_script(1, 1))
    run.e2e = metrics.end_to_end(run, setup_s=1.5, heap_mb=80.0)
    run.layers = metrics.per_layer(run)
    got = metrics.result_line(run)["metrics"]
    assert {k: v["unit"] for k, v in got.items()} == {m["name"]: m["unit"] for m in spec["per_layer"]}


def test_planted_wrong_answer_raises_error_rate():
    nodes, edges = gen.social_graph(1)
    script = gen.serve_script(1, 1)

    run = _run()
    replies = _served(run, script)
    workloads.score_replies(run, nodes, edges, script, replies)
    run.e2e = metrics.end_to_end(run, setup_s=1.5, heap_mb=80.0)
    line = metrics.result_line(run)
    assert line["correct"] and line["failed"] == 0 and run.detail["error_rate"] == 0

    run = _run()
    replies = _served(run, script)
    status, dto = replies[0]
    replies[0] = (status, {**dto, "rows": dto["rows"] + [{"kind": "info", "id": "", "info": "planted"}]})
    workloads.score_replies(run, nodes, edges, script, replies)
    run.e2e = metrics.end_to_end(run, setup_s=1.5, heap_mb=80.0)
    line = metrics.result_line(run)
    assert not line["correct"] and line["failed"] == 1
    assert run.detail["error_rate"] == 1 / line["attempted"]


def test_oracle_compare_is_byte_exact():
    cols, rows = ["b", "a"], [(1, 0.5), (2, 0.0)]
    assert oracle.matches(cols, rows, ["a", "b"], [(0.0, 2), (0.5, 1)])
    assert not oracle.matches(cols, rows, ["a", "b"], [(-0.0, 2), (0.5, 1)])  # planted: signed zero
    assert not oracle.matches(cols, rows, ["a", "b"], [(0.5, 1)])


def test_tail_keeps_ten_samples_beyond():
    assert metrics.tail(list(range(19))) is None
    t = metrics.tail([float(x) for x in range(100)])
    assert t == {"pct": 90.0, "value": 89.0, "n": 100}
