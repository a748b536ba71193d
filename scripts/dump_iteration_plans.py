"""Capture REAL iteration-body plans for checkpoint-terminated queries
(VERDICT r13 ask #3): the returned DataFrame of an iterative operator is
an 8-line ``Scan ExistingRDD`` stub — the per-round plan the optimization
claims are about is only visible on the frames as they are HANDED TO
``Scratch.pin`` (pre-checkpoint), the one pin every op and graph write
goes through. This script wraps ``Scratch.pin`` (and, optionally,
``DataFrame.localCheckpoint``) during one real entry-query run and writes
``explain("formatted")`` of every captured call, labeled by call index,
to one file.

Usage:
    python scripts/dump_iteration_plans.py QUERY_NAME [--sf DIR]
        [--out plans/r14] [--suffix after] [--raw-ckpt]

Output: ``<out>/<name>_ckpt_plans_<suffix>.txt`` — headers
``=== call N (rows of plan: M) ===`` followed by the formatted plan.
Curate the relevant iteration-body section (e.g. the contrib aggregate of
iteration 2) into ``<name>_iterbody_<suffix>.txt`` for the round's
evidence.
"""

from __future__ import annotations

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
OUT = _opt("--out", "plans/r14")
SUFFIX = _opt("--suffix", "after")
RAW_CKPT = "--raw-ckpt" in argv
if RAW_CKPT:
    argv.remove("--raw-ckpt")
NAME = argv[0]

from graph_loom_spark.session import get_spark  # noqa: E402

cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
spark = get_spark(
    app_name="graph-loom-plandump",
    master=f"local[{cpus}]",
    shuffle_partitions=int(cpus) if cpus.isdigit() else None,
)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as entry  # noqa: E402
from graph_loom_spark.graph import Scratch  # noqa: E402

captured: list[str] = []


def _fmt(df) -> str:
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


_orig_pin = Scratch.pin


def _spy_pin(self, df):
    try:
        captured.append(_fmt(df))
    except Exception as e:  # capture must never change the run
        captured.append(f"<capture failed: {e}>")
    return _orig_pin(self, df)


Scratch.pin = _spy_pin

if RAW_CKPT:
    # some operators call df.localCheckpoint(eager=True) directly (memo
    # layer, kmeans result) — wrap that too when asked
    from pyspark.sql import DataFrame

    _orig_lc = DataFrame.localCheckpoint

    def _spy_lc(self, eager=True):
        try:
            captured.append(_fmt(self))
        except Exception as e:
            captured.append(f"<capture failed: {e}>")
        return _orig_lc(self, eager=eager)

    DataFrame.localCheckpoint = _spy_lc

qs = entry.queries()
fn = qs[NAME]
df = fn(spark, SF_DIR)
df.write.format("noop").mode("overwrite").save()

os.makedirs(OUT, exist_ok=True)
path = os.path.join(OUT, f"{NAME}_ckpt_plans_{SUFFIX}.txt")
with open(path, "w") as fh:
    fh.write(
        f"# pre-checkpoint plans captured during one real `{NAME}` run at "
        f"{SF_DIR} — one section per Scratch.pin call, in call "
        "order (setup frames first, then one per iteration/round).\n"
    )
    for i, plan in enumerate(captured):
        fh.write(f"\n=== checkpoint call {i} ({len(plan.splitlines())} plan lines) ===\n")
        fh.write(plan)
        fh.write("\n")
print(f"wrote {path} ({len(captured)} plans)")
