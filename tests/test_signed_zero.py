"""Signed-zero class tests (VERDICT r10 asks #1/#2).

The r10 red row (``graph_modularity``) came from DuckDB ``round()``
keeping the IEEE sign of a tiny negative quotient (``-0.0``) while
Spark's BigDecimal-backed ``round()`` yields ``+0.0``.  Python ``==``
equates the two, so the old pre-commit comparator was blind to the
entire class.  These tests pin all three seams:

* the ``oracle_sql()`` normalizer rewrites every ``round(...)`` to
  ``(round(...) + 0.0)`` (paren-balanced, nested-call safe);
* DuckDB really produces ``-0.0`` raw and ``+0.0`` normalized (so the
  runtime sweep ``scripts/check_oracle.py --zeros`` is not vacuous);
* Spark's ``round()`` really produces ``+0.0``;
* the hardened ``check_oracle.py`` comparator now FAILS on a planted
  ``-0.0`` vs ``+0.0`` pair (byte-level float compare).
"""

from __future__ import annotations

import importlib.util
import math
import os
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _entry():
    spec = importlib.util.spec_from_file_location(
        "entry_signed_zero", os.path.join(REPO, "__spark_entry__.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def _checker():
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    saved = sys.argv
    sys.argv = ["check_oracle.py"]  # module parses argv at import
    try:
        spec = importlib.util.spec_from_file_location(
            "check_oracle_mod", os.path.join(REPO, "scripts", "check_oracle.py")
        )
        m = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(m)
    finally:
        sys.argv = saved
    return m


def test_normalizer_wraps_simple_and_nested_rounds():
    m = _entry()
    out = m._normalize_signed_zero("SELECT round(x / y, 6) AS q FROM t")
    assert out == "SELECT (round(x / y, 6) + 0.0) AS q FROM t"
    # nested round inside another call, plus an outer round
    out = m._normalize_signed_zero(
        "SELECT floor(round(cos, 4) * 1e4 + 0.5), round(a - b, 6) FROM t"
    )
    assert out == (
        "SELECT floor((round(cos, 4) + 0.0) * 1e4 + 0.5), "
        "(round(a - b, 6) + 0.0) FROM t"
    )
    # identifiers that merely end in "round" are untouched
    s = "SELECT my_round(x) FROM t"
    assert m._normalize_signed_zero(s) == s


def test_every_oracle_round_is_normalized():
    """By construction oracle_sql() pipes through the normalizer; this
    pins the boundary so a future refactor can't bypass it: every
    round( in every published oracle must sit inside a (round(...) +
    0.0) wrap, i.e. re-deriving from the raw dict must reproduce the
    published strings exactly."""
    m = _entry()
    published = m.oracle_sql()
    rederived = {k: m._normalize_signed_zero(v) for k, v in m._oracle_sql_raw().items()}
    assert published == rederived


def test_duckdb_round_signed_zero_behavior():
    con = duckdb.connect()
    raw = con.execute("SELECT round(-6.9e-10, 6)").fetchone()[0]
    assert raw == 0.0 and math.copysign(1.0, raw) < 0, (
        f"DuckDB round() stopped emitting -0.0 ({raw!r}) — the class may be "
        "dead upstream; re-audit scripts/check_oracle.py --zeros"
    )
    m = _entry()
    fixed = con.execute(
        m._normalize_signed_zero("SELECT round(-6.9e-10, 6)")
    ).fetchone()[0]
    assert fixed == 0.0 and math.copysign(1.0, fixed) > 0


def test_spark_round_never_emits_negative_zero(spark):
    from pyspark.sql import functions as F

    row = (
        spark.range(1)
        .select(
            F.round(F.lit(-6.9e-10), 6).alias("a"),
            F.round(F.lit(-0.0), 6).alias("b"),
        )
        .first()
    )
    assert math.copysign(1.0, row["a"]) > 0
    assert math.copysign(1.0, row["b"]) > 0


def test_comparator_catches_signed_zero_and_is_byte_exact():
    c = _checker()
    assert not c.values_equal(-0.0, 0.0)
    assert c.values_equal(0.0, 0.0)
    assert c.values_equal(-0.0, -0.0)
    assert c.values_equal(float("nan"), float("nan"))  # same-bit NaN: driver-equal
    assert not c.values_equal(1.0, 1.0 + 1e-15)
    assert c.values_equal("x", "x") and not c.values_equal(1, 2)
    assert c.rows_equal((1, 0.0), (1, 0.0))
    assert not c.rows_equal((1, 0.0), (1, -0.0))


@pytest.mark.parametrize(
    "name",
    [
        # the rounded-possibly-negative-quotient family VERDICT r10
        # called out as latent (green only because fixture values
        # weren't tiny) — each published oracle must carry the wrap
        "graph_modularity",
        "graph_assortativity",
        "emb_drift",
        "events_anomaly",
        "docs_moore_lewis",
        "docs_dsir",
        "docs_trigram_lp",
        # (docs_source_drift is fixed-point — no round() to wrap)
    ],
)
def test_latent_family_oracles_carry_the_wrap(name):
    m = _entry()
    sql = m.oracle_sql()[name]
    assert "round(" in sql.lower()
    low = sql.lower()
    i = 0
    while True:
        j = low.find("round(", i)
        if j == -1:
            break
        if low[j - 1].isalnum() or low[j - 1] == "_":
            i = j + 6
            continue
        assert low[j - 1] == "(", f"{name}: unwrapped round( at {j}"
        i = j + 6
