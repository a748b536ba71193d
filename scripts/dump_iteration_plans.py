"""Capture REAL iteration-body plans for checkpoint-terminated queries:
the returned DataFrame of an iterative operator is an 8-line
``Scan ExistingRDD`` stub — the per-round plan the optimization claims
are about is only visible on the frames as they are HANDED TO
``Scratch.pin`` (pre-checkpoint). Every checkpoint in the library and
the entry module goes through it: an op's intermediates, the result it
keeps (``Scratch.keep``/``graph.keep``), the memo values and every graph
write. This script wraps ``Scratch.pin`` during one real entry-query run
and writes ``explain("formatted")`` of every captured call, labeled by
call index, to one file.

Usage:
    python scripts/dump_iteration_plans.py QUERY_NAME [--sf DIR]
        [--out plans/r14] [--suffix after]

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
NAME = argv[0]

from graph_loom_spark.session import get_spark  # noqa: E402

spark = get_spark(app_name="graph-loom-plandump")
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
