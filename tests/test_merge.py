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


def test_hash_prefilter_same_result(spark):
    snap = [(f"c{i}", j, f"t{i}.{j}") for i in range(40) for j in range(3)]
    batch = (
        [(100 + i, "U", f"c{i}", 0, f"new{i}") for i in range(0, 40, 3)]
        + [(200 + i, "D", f"c{i}", 1, None) for i in range(0, 40, 5)]
        + [(300, "I", "cx", 7, "ins")]
    )
    base = _apply(spark, snap, batch)
    assert _apply(spark, snap, batch, hash_prefilter=True) == base


def test_hash_prefilter_empty_batch_keeps_snapshot(spark):
    """An empty batch broadcasts an empty hash array: every probe misses
    and the whole snapshot survives on the zero-shuffle branch."""
    snap = [(f"c{i}", 0, "keep") for i in range(5)]
    out = _apply(spark, snap, [], hash_prefilter=True)
    assert out == {(f"c{i}", 0): "keep" for i in range(5)}


def test_hash_prefilter_exact_under_forced_collisions(spark):
    """survivors_anti_join is exact for ANY hash: collisions only enlarge
    the candidate set that pays the exact anti-join. pmod(hash, 2) makes
    ~half the untouched snapshot collide into the batch's hash set — the
    result must not change by one row."""
    from pyspark.sql import functions as F

    snap = [(f"c{i}", j, f"t{i}.{j}") for i in range(60) for j in range(2)]
    batch = [(100 + i, "U", f"c{i}", 0, f"new{i}") for i in range(0, 60, 4)]
    base = _apply(spark, snap, batch)
    weak = F.pmod(F.xxhash64(F.col("conv_id"), F.col("turn_idx")), F.lit(2))
    assert (
        _apply(spark, snap, batch, hash_prefilter=True, prefilter_hash=weak)
        == base
    )


def _final_plan(df) -> str:
    """The executed plan after a collect; under AQE, the final plan only
    (exchange reuse is decided while the query stages run)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return plan.toString()


def test_hash_prefilter_plan_probes_jvm_side(spark):
    """The middle regime's plan: the batch key hashes are grouped into
    top-bit hash buckets (one collect_set row per bucket, ~8 bytes/key —
    a broadcast relation with one row PER KEY OOM'd 6 GiB executors at
    5.5M keys) and broadcast; each snapshot row probes its bucket with
    array_contains, a Catalyst expression, so no Python worker runs.
    The split consumes the probed snapshot TWICE (kept_direct +
    candidates), a deliberate double scan (persisting the full snapshot
    payload costs more than the second column-pruned scan; the regime's
    1.57-1.59x A/B receipts were measured with it). Over this uncached
    batch both branches reuse ONE bucket broadcast (a persisted batch
    defeats AQE's reuse, see survivors_anti_join). The only join left is
    the candidate sliver vs the narrow key set."""
    snap = _snap(spark, [(f"c{i}", 0, "x") for i in range(8)])
    batch = _batch(spark, [(1, "U", "c1", 0, "y"), (2, "I", "c9", 0, "z")])
    plan = _final_plan(merge_apply(snap, batch, hash_prefilter=True, n_keys=2))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    assert plan.count("array_contains(__kh_set") == 2, plan  # one per branch
    lines = plan.splitlines()
    bucket_bc = [ln for ln in lines if "BroadcastExchange" in ln and "bigint" in ln]
    assert len(bucket_bc) == 2, plan
    assert sum("ReusedExchange" in ln for ln in bucket_bc) == 1, plan
    assert "LeftAnti" in plan, plan  # the exact sliver anti join
    # the full snapshot payload is never sort-merge-exchanged: at most
    # the candidate sliver joins the narrow key set
    assert plan.count("SortMergeJoin") <= 1, plan


def test_hash_prefilter_construction_runs_no_job(spark):
    """The bucket build is part of the write plan: constructing the merge
    launches no Spark job (no eager collect, no manual broadcast)."""
    sc = spark.sparkContext
    snap = _snap(spark, [(f"c{i}", 0, "x") for i in range(8)])
    batch = _batch(spark, [(1, "U", "c1", 0, "y")]).persist()
    batch.count()
    group = "hash-prefilter-construct"
    sc.setJobGroup(group, "hash-prefilter construction job-count probe")
    try:
        out = merge_apply(snap, batch, hash_prefilter=True, n_keys=1)
        out.schema  # analysis included
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    try:
        rows = {(r.conv_id, r.text) for r in out.collect()}
        assert ("c1", "y") in rows and ("c1", "x") not in rows and len(rows) == 8
    finally:
        batch.unpersist()


@pytest.mark.parametrize("n_keys", [1, 4096, 1 << 30])
def test_hash_prefilter_sign_edges(spark, n_keys):
    """Bucket ids are the arithmetic-shifted top bits of a signed long, so
    Long.MinValue, -1, 0 and Long.MaxValue land in the extreme and middle
    buckets. c0's rows (all in the batch) and c1's rows (same hashes, one
    in the batch) hit; c2's rows hash one bit off the edges, in the same
    buckets, and miss. The result, duplicates included, equals the plain
    anti-join — for 1 bit, a mid width and a wide bucket id."""
    from pyspark.sql import functions as F

    from transcript_cdc.operators.merge import hash_bucket_bits

    assert 1 <= hash_bucket_bits(n_keys) < 64
    edges = [-(1 << 63), -1, 0, (1 << 63) - 1]
    edge = F.element_at(
        F.array(*[F.lit(v).cast("long") for v in edges]), F.col("turn_idx") + 1
    )
    forced = F.when(F.col("conv_id") == "c2", edge.bitwiseXOR(F.lit(1))).otherwise(edge)
    snap = _snap(spark, [(f"c{i}", t, f"old{i}.{t}") for i in range(3) for t in range(4)])
    batch = _batch(
        spark, [(10 + t, "U", "c0", t, f"new{t}") for t in range(4)] + [(20, "D", "c1", 2, None)]
    )

    def rows(**kw):
        return sorted(tuple(r) for r in merge_apply(snap, batch, **kw).collect())

    base = rows()
    assert len(base) == 11 and ("c0", 3, "new3") in base
    assert rows(hash_prefilter=True, n_keys=n_keys, prefilter_hash=forced) == base


@pytest.mark.parametrize("col", ["__kh", "__kh_bucket", "__kh_set"])
def test_hash_prefilter_rejects_internal_column_clash(spark, col):
    snap = _snap(spark, [("c1", 0, "a")]).withColumnRenamed("text", col)
    batch = _batch(spark, [(1, "U", "c1", 0, "b")])
    with pytest.raises(ValueError, match=col):
        merge_apply(snap, batch, hash_prefilter=True)
