"""Unit tests for LWW dedup (SURVEY §2.4 J2) and union-dedup (J1)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from transcript_cdc.operators.dedup import lww_dedup, union_dedup
from transcript_cdc.plans.ingest import CdcIngestJob, IngestConfig


def _changes(spark, rows):
    return spark.createDataFrame(
        rows, "lsn long, op string, conv_id string, turn_idx int, text string"
    )


def test_lww_keeps_highest_lsn(spark):
    df = _changes(
        spark,
        [
            (1, "I", "c1", 0, "v1"),
            (5, "U", "c1", 0, "v5"),
            (3, "U", "c1", 0, "v3"),
            (2, "I", "c1", 1, "w2"),
        ],
    )
    out = {(r.conv_id, r.turn_idx): (r.lsn, r.text) for r in lww_dedup(df).collect()}
    assert out == {("c1", 0): (5, "v5"), ("c1", 1): (2, "w2")}


def test_lww_keeps_last_op_not_last_values(spark):
    # delete-then-update vs update-then-delete must differ (SURVEY §7 hard #3)
    df = _changes(
        spark,
        [
            (1, "I", "c1", 0, "a"),
            (2, "D", "c1", 0, None),
            (3, "U", "c1", 0, "b"),  # re-insert after delete -> survives as U
            (4, "I", "c2", 0, "x"),
            (5, "D", "c2", 0, None),  # last op is D -> survives as D
        ],
    )
    out = {(r.conv_id, r.turn_idx): r.op for r in lww_dedup(df).collect()}
    assert out == {("c1", 0): "U", ("c2", 0): "D"}


def test_lww_order_robust_to_input_order(spark):
    rows = [
        (i, "U" if i else "I", f"c{i % 3}", i % 5, f"t{i}") for i in range(200)
    ]
    a = lww_dedup(_changes(spark, rows))
    b = lww_dedup(_changes(spark, list(reversed(rows))).repartition(7))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_lww_broadcast_strategy_equivalent(spark):
    """The broadcast strategy (winner max-lsn set from a column-pruned
    scan, semi-joined back as a broadcast — the high-churn CDC ingest
    path) must produce value-identical output to the window strategy on
    unique-lsn input, including surviving delete ops and null payload
    fields."""
    rows = [
        (
            i,
            ["I", "U", "D"][i % 3],
            f"c{i % 7}",
            i % 4,
            None if i % 5 == 0 else f"t{i}",
        )
        for i in range(500)
    ]
    df = _changes(spark, rows).repartition(8)
    a = lww_dedup(df, strategy="window")
    b = lww_dedup(df, strategy="broadcast")
    assert a.columns == b.columns
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def _dedup_aggregate(spark, tmp_path):
    lww_dedup(_changes(spark, [(1, "I", "c1", 0, "a")]), strategy="aggregate")


def _cow_clustered(spark, tmp_path):
    CdcIngestJob(
        spark,
        str(tmp_path / "feed"),
        str(tmp_path / "table"),
        IngestConfig(storage="cow", dedup_strategy="clustered"),
    )


@pytest.mark.parametrize(
    "build,name",
    [(_dedup_aggregate, "aggregate"), (_cow_clustered, "clustered")],
    ids=["lww_dedup-aggregate", "cow-clustered"],
)
def test_unknown_dedup_strategy_raises(spark, tmp_path, build, name):
    """A strategy the engine does not implement must raise instead of
    silently running another plan: lww_dedup rejects any unknown name
    (e.g. the removed "aggregate"), and a COW job rejects the MOR-only
    "clustered" before it creates the table."""
    with pytest.raises(ValueError, match=name):
        build(spark, tmp_path)
    assert not (tmp_path / "table").exists()


def test_lww_broadcast_plan_never_shuffles_payload(spark):
    """The broadcast strategy's contract: the full-payload batch side
    reaches the semi join with NO exchange — only the column-pruned
    winner aggregate shuffles (narrow rows), then broadcasts back. Pin
    the plan: a BroadcastHashJoin LeftSemi whose streamed side has no
    hash-partition exchange above the scan."""
    df = _changes(spark, [(1, "I", "c1", 0, "a"), (2, "U", "c1", 0, "b")])
    plan = (
        lww_dedup(df, strategy="broadcast")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    # exactly one hash-partition exchange (the winner groupBy); the
    # payload side must contribute none
    import re

    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "row_number" not in plan


def test_union_dedup_keeps_max_score(spark):
    a = spark.createDataFrame([(1, 0.5), (2, 0.9)], "id long, score double")
    b = spark.createDataFrame([(1, 0.8), (3, 0.1)], "id long, score double")
    out = {
        r.id: r.score
        for r in union_dedup(a, b, ["id"], "score", tiebreak=F.col("id")).collect()
    }
    assert out == {1: 0.8, 2: 0.9, 3: 0.1}


def test_lww_clustered_strategy_equivalent(spark):
    """lww_dedup_clustered (window over the write clustering, keep-last
    via lead) must produce value-identical output to the key window on a
    skewed, out-of-order feed with deletes — including when the cluster
    is (bucket, salt) with the salt derived from the full key."""
    import random

    from transcript_cdc.operators.dedup import lww_dedup_clustered

    rng = random.Random(7)
    rows = []
    for lsn in range(3000):
        conv = f"c{int(rng.paretovariate(1.2)) % 37}"
        rows.append(
            (
                lsn,
                rng.choice(["I", "U", "U", "U", "D"]),
                conv,
                rng.randrange(6),
                f"text {lsn} {conv}",
            )
        )
    rng.shuffle(rows)
    df = _changes(spark, rows).withColumn(
        "__bucket", F.pmod(F.xxhash64("conv_id"), F.lit(8)).cast("int")
    )
    want = sorted(map(tuple, lww_dedup(df, strategy="window").collect()))

    got = sorted(
        map(
            tuple,
            lww_dedup_clustered(
                df.repartition(4, "__bucket"), cluster_cols=["__bucket"]
            ).collect(),
        )
    )
    assert got == want

    # salted clustering: salt key is a function of the FULL key, so key
    # groups stay co-located and LWW stays exact
    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(3))
    )
    got2 = sorted(
        map(
            tuple,
            lww_dedup_clustered(
                salted.repartition(4, "__bucket", "__salt"),
                cluster_cols=["__bucket", "__salt"],
            )
            .drop("__salt")
            .collect(),
        )
    )
    assert got2 == want


def test_lww_clustered_single_exchange_serves_dedup_and_write_sort(spark):
    """The clustered strategy's contract: dedup rides the sink's
    clustering exchange — the whole dedup+write-layout pipeline plans
    exactly ONE exchange, and the window adds no sort beyond the
    (cluster, key, lsn) sort the writer needs (plan shape pinned)."""
    import re

    from transcript_cdc.operators.dedup import lww_dedup_clustered

    df = _changes(
        spark, [(1, "I", "c1", 0, "a"), (2, "U", "c1", 0, "b")]
    ).withColumn("__bucket", F.pmod(F.xxhash64("conv_id"), F.lit(8)).cast("int"))
    out = lww_dedup_clustered(
        df.repartition(4, "__bucket"), cluster_cols=["__bucket"]
    ).sortWithinPartitions("__bucket", "conv_id", "turn_idx", "lsn")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    # one sort total: the window's required (cluster, key, lsn) ordering
    # IS the write layout, so the trailing sortWithinPartitions is elided
    assert len(re.findall(r"\bSort \[", plan)) == 1, plan
    assert "row_number" not in plan
