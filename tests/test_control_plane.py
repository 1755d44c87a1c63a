"""Pins for the control plane's fixed per-query cost.

* ``local_frame`` — driver-built frames plan as a bare LocalTableScan
  (forcing one runs no job) and carry values bit-for-bit like the
  ``createDataFrame(list)`` path they replace;
* a guard that no engine module builds a frame from a Python list any
  other way;
* streaming state partitions — one wave by default, so stateful stages
  never queue commits behind each other, while stream_dedup still
  drains its four landed files as four micro-batches;
* ``_vec_sql`` — non-finite doubles render as parseable SQL.
"""

from __future__ import annotations

import ast
import math
import os
import struct

import pytest
from pyspark.sql import functions as F

from cs422pp_mapreduce_spark.session import (
    default_parallelism,
    local_frame,
    stream_state_partitions,
)

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "cs422pp_mapreduce_spark",
)


def _bits(v):
    """Hashable exact image of a collected value: doubles by their IEEE
    bits (so NaN == NaN and -0.0 != 0.0), arrays element-wise."""
    if isinstance(v, float):
        return struct.pack("<d", v)
    if isinstance(v, list):
        return tuple(_bits(x) for x in v)
    return v


def _rows_bits(df):
    return [tuple(_bits(x) for x in r) for r in df.collect()]


def _plan_node(df) -> str:
    return df._jdf.queryExecution().executedPlan().getClass().getSimpleName()


SCALARS = [1 / 3, 2.0**-1074, -0.0, float("nan"), float("inf"), 0.1]


def test_local_frame_plans_as_local_table_scan(spark):
    df = local_frame(
        spark, [("a", 1, 0.5), ("b", 2, None)], "s string, k long, x double"
    )
    assert _plan_node(df) == "LocalTableScanExec"
    big = local_frame(spark, [(list(range(16384)),)], "bm: array<long>")
    assert _plan_node(big) == "LocalTableScanExec"


def test_local_frame_bit_identical_to_list_path(spark):
    cases = [
        ([(i, x) for i, x in enumerate(SCALARS)], "i int, x double"),
        ([(SCALARS,), ([],)], "v array<double>"),
        ([(list(range(-8192, 8192)),)], "bm: array<long>"),
        (
            [("O", "open", 2**63 - 1), (None, "finished", -(2**63))],
            "status_key string, status_name string, n long",
        ),
    ]
    for rows, schema in cases:
        new = local_frame(spark, rows, schema)
        old = spark.createDataFrame(rows, schema)
        assert new.schema == old.schema
        assert _rows_bits(new) == _rows_bits(old)
    # the helper does not round-trip through a lossy representation
    (got,) = local_frame(spark, [(SCALARS,)], "v array<double>").collect()
    assert [_bits(x) for x in got["v"]] == [_bits(x) for x in SCALARS]


def test_local_frame_empty_rows_keep_schema(spark):
    schema = (
        "win_start timestamp, event_type string, n_events long, sum_value double"
    )
    new = local_frame(spark, [], schema)
    old = spark.createDataFrame([], schema)
    assert new.schema == old.schema
    assert new.count() == 0
    assert _plan_node(new) == "LocalTableScanExec"


def test_local_frame_rejects_ragged_rows(spark):
    with pytest.raises(ValueError):
        local_frame(spark, [(1, 2), (3,)], "a long, b long")
    with pytest.raises(ValueError):
        local_frame(spark, [(1, 2, 3)], "a long, b long")


# createDataFrame sites whose input is an RDD, not driver-side rows.
RDD_SITES = {
    ("operators/mr.py", "to_df"),
    ("operators/wordcount.py", "wordcount_rdd"),
}


class _CreateDataFrameCalls(ast.NodeVisitor):
    """Collects (innermost enclosing function, line) of every
    ``.createDataFrame(...)`` call in a module."""

    def __init__(self) -> None:
        self.stack: list[str] = ["<module>"]
        self.calls: list[tuple[str, int]] = []

    def visit_FunctionDef(self, node) -> None:
        self.stack.append(node.name)
        self.generic_visit(node)
        self.stack.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Call(self, node) -> None:
        if isinstance(node.func, ast.Attribute) and node.func.attr == "createDataFrame":
            self.calls.append((self.stack[-1], node.lineno))
        self.generic_visit(node)


def test_driver_rows_only_become_frames_through_local_frame():
    """Every engine call of ``createDataFrame`` outside ``local_frame``
    must be one of the RDD-input sites; a Python-list call would plan
    as an RDD scan and pay a job on every force."""
    sites = []
    for root, _dirs, files in os.walk(PKG):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            with open(path) as f:
                calls = _CreateDataFrameCalls()
                calls.visit(ast.parse(f.read(), path))
            sites += [(rel, fn, line) for fn, line in calls.calls]
    offenders = [
        s for s in sites if s[1] != "local_frame" and s[:2] not in RDD_SITES
    ]
    assert offenders == []
    assert {s[:2] for s in sites} >= RDD_SITES | {("session.py", "local_frame")}


def test_stream_state_partitions_one_wave(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_STREAM_PARTS", raising=False)
    assert 1 <= stream_state_partitions() <= default_parallelism()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    assert stream_state_partitions() == 2
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "64")
    assert stream_state_partitions() == 8
    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTS", "12")
    assert stream_state_partitions() == 12


def test_stream_dedup_drains_four_batches_in_one_wave(spark, sf_dir, monkeypatch):
    """The contract row still exercises cross-batch dedup state (two
    files, each re-delivered two batches later = four micro-batches),
    and each stateful stage runs no more tasks than there are cores."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from cs422pp_mapreduce_spark.streaming.dedup import q_stream_dedup

    monkeypatch.delenv("SPARK_GRAFT_STREAM_PARTS", raising=False)
    started = []
    start = DataStreamWriter.start

    def recording_start(self, *args, **kwargs):
        q = start(self, *args, **kwargs)
        started.append(q)
        return q

    monkeypatch.setattr(DataStreamWriter, "start", recording_start)
    assert q_stream_dedup(spark, sf_dir).count() > 0
    (q,) = started
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) == 4
    parts = {
        op["numShufflePartitions"] for p in batches for op in p["stateOperators"]
    }
    assert parts == {stream_state_partitions()}
    assert stream_state_partitions() <= default_parallelism()


def test_vec_sql_non_finite_parses_to_lit_values(spark):
    from cs422pp_mapreduce_spark.operators.similarity import _vec_sql

    vals = [float("nan"), float("inf"), float("-inf"), -0.0, 1 / 3, 2.0**-1074]
    (got,) = spark.range(1).select(
        F.expr(_vec_sql(vals)).alias("a"),
        F.array(*[F.lit(x) for x in vals]).alias("b"),
    ).collect()
    assert [_bits(x) for x in got["a"]] == [_bits(x) for x in got["b"]]
    assert [_bits(x) for x in got["a"]] == [_bits(x) for x in vals]
    assert math.isnan(got["a"][0])
