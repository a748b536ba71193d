"""``graph.local_frame``: the one constructor for rows held in Python.

A Python-list ``createDataFrame`` is an RDD that starts a Python worker
on every read; ``local_frame`` ships the rows as one Arrow table, which
Spark keeps as a ``LocalRelation``. A static guard keeps every such
construction in the library inside ``graph.py``."""

from __future__ import annotations

import math
import os
import re
import struct

import pytest
from pyspark.sql import types as T

from graph_loom_spark.graph import NODE_SCHEMA, PropertyGraph, local_frame, local_rows

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _jobs(spark, group: str, action) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_leaf_is_a_local_relation_collected_without_a_job(spark):
    rows = [(f"n{i}", "P", {"k": str(i)}) for i in range(20)]
    df = local_frame(spark, rows, NODE_SCHEMA)
    assert df._jdf.queryExecution().analyzed().nodeName() == "LocalRelation"
    assert local_rows(df) == 20
    got = []
    assert _jobs(spark, "gls-test-local-frame", lambda: got.extend(df.collect())) == 0
    assert [(r["id"], r["label"], r["properties"]) for r in got] == rows


def test_schema_kept_with_its_nullability(spark):
    df = local_frame(spark, [("a", "P", {})], NODE_SCHEMA)
    assert df.schema == NODE_SCHEMA
    assert not any(f.nullable for f in df.schema.fields)
    ddl = local_frame(spark, [(1, None)], "a int, b string")
    assert ddl.schema == T.StructType(
        [T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())]
    )
    assert ddl.collect()[0] == (1, None)


def test_float_arrays_bit_identical_to_the_python_list_path(spark):
    schema = "d array<double>, f array<float>"
    rows = [
        ([-0.0, math.nan, 0.1, 1e308, -math.inf], [-0.0, math.nan, 0.1, 3.4e38]),
        ([], None),
    ]

    def bits(df):
        return [
            (
                [struct.pack("<d", x) for x in r["d"]],
                None if r["f"] is None else [struct.pack("<f", x) for x in r["f"]],
            )
            for r in df.collect()
        ]

    assert bits(local_frame(spark, rows, schema)) == bits(spark.createDataFrame(rows, schema))


def test_empty_rows_and_mistyped_values(spark):
    empty = local_frame(spark, [], NODE_SCHEMA)
    assert empty.schema == NODE_SCHEMA and local_rows(empty) == 0
    with pytest.raises((TypeError, ValueError)):
        local_frame(spark, [(1, "P", {})], NODE_SCHEMA)  # id must be a string
    with pytest.raises((TypeError, ValueError)):
        local_frame(spark, [(None, "P", {})], NODE_SCHEMA)  # id is not nullable


def test_add_nodes_builds_one_local_relation(spark, monkeypatch):
    """50 CREATE rows enter the graph as one ``LocalRelation``, not as a
    union of 50 one-row projections."""
    built = []
    monkeypatch.setattr(PropertyGraph, "add_nodes_df", lambda self, df: built.append(df))
    ids = PropertyGraph.empty(spark).add_nodes([("P", {"i": str(i)}) for i in range(50)])
    assert len(ids) == 50 and len(built) == 1
    plan = built[0]._jdf.queryExecution().analyzed()
    assert plan.nodeName() == "LocalRelation" and local_rows(built[0]) == 50
    assert "Union" not in plan.toString()


def test_no_create_dataframe_outside_graph_module():
    """Rows held on the driver enter a plan through ``graph.py`` alone
    (``local_frame``, ``hold_local``): any other ``createDataFrame(`` in
    the library or the entry module is a second way to do it."""
    call = re.compile(r"\bcreateDataFrame\(")
    paths = [os.path.join(REPO, "__spark_entry__.py")]
    for root, _, files in os.walk(os.path.join(REPO, "graph_loom_spark")):
        paths += [os.path.join(root, f) for f in files if f.endswith(".py")]
    offenders = []
    for path in paths:
        if os.path.relpath(path, REPO) == os.path.join("graph_loom_spark", "graph.py"):
            continue
        with open(path) as fh:
            offenders += [
                f"{os.path.relpath(path, REPO)}:{i}"
                for i, line in enumerate(fh, 1)
                if call.search(line)
            ]
    assert not offenders, f"use graph.local_frame instead: {offenders}"
