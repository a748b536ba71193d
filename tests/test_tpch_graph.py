"""The tpch projection's materialized lineitem-with-seq table lives in one
temp dir per process, removed at interpreter exit."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_lineitem_seq_dir_is_one_per_process_and_removed_at_exit():
    code = (
        "from graph_loom_spark.io import tpch_graph as t\n"
        "d = t._lseq_dir()\n"
        "assert t._lseq_dir() == d\n"
        "open(d + '/marker', 'w').close()\n"
        "print(d)\n"
    )
    env = {**os.environ, "PYTHONPATH": REPO}
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True, check=True
    )
    d = out.stdout.strip().splitlines()[-1]
    assert os.path.basename(d).startswith("gls_liseq_")
    assert not os.path.exists(d)
