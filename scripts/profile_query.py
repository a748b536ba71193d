"""Solo per-query profiler: one session warmed as the bench warms it,
then for each named entry capture ``explain("formatted")`` and time it
as the bench does (its own scratch scope, noop-sink forcing), min of N
runs, resetting the entry's memo before each run so every run pays the
full computation.

Usage:
    python scripts/profile_query.py name1,name2 [--sf DIR] [--runs N]
        [--plans OUTDIR] [--suffix before|after] [--no-reset]

Prints one JSON line per query: {"name", "runs": [sec...], "min"}.
``--no-reset`` times the memo-warm path instead (attribution studies).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

argv = list(sys.argv[1:])


def _opt(flag, default=None):
    if flag in argv:
        i = argv.index(flag)
        v = argv[i + 1]
        del argv[i : i + 2]
        return v
    return default


SF_DIR = _opt("--sf", "/root/testdata/sf0.1")
RUNS = int(_opt("--runs", "2"))
PLANS = _opt("--plans")
SUFFIX = _opt("--suffix", "before")
NO_RESET = "--no-reset" in argv
if NO_RESET:
    argv.remove("--no-reset")
NAMES = argv[0].split(",") if argv else []

from graph_loom_spark.session import get_spark  # noqa: E402

spark = get_spark(app_name="graph-loom-profile")
spark.sparkContext.setLogLevel("ERROR")

import bench  # noqa: E402
import __spark_entry__ as entry  # noqa: E402

bench.warm_session(spark, SF_DIR)

qs = entry.queries()
for name in NAMES:
    fn = qs.get(name)
    if fn is None:
        print(json.dumps({"name": name, "error": "unknown"}))
        continue
    times = []
    for r in range(RUNS):
        if not NO_RESET:
            entry.reset_memo(name)
        built = []

        def build(spark, sf_dir):
            built.append(fn(spark, sf_dir))
            return built[0]

        spark.sparkContext.setJobDescription(f"profile:{name}#{r}")
        times.append(bench.time_entry(spark, build, SF_DIR))
        spark.sparkContext.setJobDescription(None)
        if PLANS and r == 0:
            os.makedirs(PLANS, exist_ok=True)
            plan = spark._jvm.PythonSQLUtils.explainString(
                built[0]._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(PLANS, f"{name}_{SUFFIX}.txt"), "w") as fh:
                fh.write(plan)
    print(
        json.dumps({"name": name, "runs": times, "min": min(times)}),
        flush=True,
    )
