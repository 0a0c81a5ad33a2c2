"""Merge-apply I/U/D matrix (SURVEY §2.4 J3) + schema evolution unit tests."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from transcript_cdc import schemas
from transcript_cdc.operators.merge import merge_apply


def _snap(spark, rows):
    return spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "lsn long, op string, conv_id string, turn_idx int, text string"
    )


def _apply(spark, snap_rows, batch_rows, **kw):
    out = merge_apply(_snap(spark, snap_rows), _batch(spark, batch_rows), **kw)
    return {(r.conv_id, r.turn_idx): r.text for r in out.collect()}


def test_insert_into_empty(spark):
    assert _apply(spark, [], [(1, "I", "c1", 0, "a")]) == {("c1", 0): "a"}


def test_update_matched(spark):
    assert _apply(spark, [("c1", 0, "old")], [(2, "U", "c1", 0, "new")]) == {
        ("c1", 0): "new"
    }


def test_update_unmatched_is_upsert(spark):
    # CDC streams routinely deliver U for rows the snapshot never saw
    assert _apply(spark, [], [(2, "U", "c1", 0, "new")]) == {("c1", 0): "new"}


def test_delete_matched_and_absent(spark):
    out = _apply(
        spark,
        [("c1", 0, "a"), ("c1", 1, "b")],
        [(2, "D", "c1", 0, None), (3, "D", "c9", 9, None)],  # absent delete = no-op
    )
    assert out == {("c1", 1): "b"}


def test_untouched_rows_survive(spark):
    out = _apply(
        spark, [("c1", 0, "keep"), ("c2", 0, "x")], [(2, "U", "c2", 0, "y")]
    )
    assert out == {("c1", 0): "keep", ("c2", 0): "y"}


def test_broadcast_same_result(spark):
    snap = [("c1", 0, "a"), ("c2", 0, "b")]
    batch = [(1, "U", "c1", 0, "a2"), (2, "I", "c3", 0, "c")]
    assert _apply(spark, snap, batch, broadcast_batch=True) == _apply(
        spark, snap, batch, broadcast_batch=False
    )


def test_nonbroadcast_merge_keeps_narrow_anti_join(spark):
    """The large-batch merge keeps the anti-join shape on purpose: the join
    right side is the batch's KEY COLUMNS ONLY (narrow sort), which an
    interleaved A/B measured ~7% faster with half the sort spill vs a
    single-window merge that shuffles both sides' full payloads."""
    snap = _snap(spark, [("c1", 0, "a"), ("c2", 0, "b")])
    batch = _batch(spark, [(1, "U", "c1", 0, "a2"), (2, "D", "c2", 0, None)])
    out = merge_apply(snap, batch, broadcast_batch=False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, plan
    assert {(r.conv_id, r.turn_idx, r.text) for r in out.collect()} == {
        ("c1", 0, "a2")
    }


def test_merge_evolved_batch_column(spark):
    snap = _snap(spark, [("c1", 0, "a")])
    batch = spark.createDataFrame(
        [(5, "U", "c2", 0, "b", "m-alpha")],
        "lsn long, op string, conv_id string, turn_idx int, text string, model string",
    )
    rows = {
        (r.conv_id, r.turn_idx): (r.text, r.model)
        for r in merge_apply(snap, batch).collect()
    }
    assert rows == {("c1", 0): ("a", None), ("c2", 0): ("b", "m-alpha")}


def test_additive_diff_rejects_type_conflict():
    t = T.StructType([T.StructField("x", T.StringType())])
    b = T.StructType([T.StructField("x", T.IntegerType())])
    with pytest.raises(ValueError, match="type conflict"):
        schemas.additive_diff(t, b)


def test_evolve_appends_nullable():
    t = T.StructType([T.StructField("a", T.StringType(), False)])
    b = T.StructType(
        [T.StructField("a", T.StringType()), T.StructField("b", T.IntegerType())]
    )
    out = schemas.evolve(t, b)
    assert [f.name for f in out.fields] == ["a", "b"]
    assert out["b"].nullable
