"""Point reads run in the driver and return what the Spark path returns.

``read_conversation`` reads its manifest-pruned files with pyarrow (for
merge-on-read, folds them LWW in the driver) and hands Spark an Arrow
table, so collecting it launches no Spark job. These tests build one COW,
one streaming and one MOR table from the same three-batch feed:

- batch 0 has no ``tokens`` column, batch 1 adds it as int32 (an additive
  column mid-feed) and batch 2 widens it to int64 with values past int32;
- updates, deletes and timestamps across the 2024-03-10 US DST switch;

and pin, per table kind, that for every key plus an absent one the driver
read equals the Spark path (``read_snapshot`` + filter for COW and
streaming, tombstone rows included; ``read_resolved`` + filter for MOR),
schema included, with 0 jobs per collect:

- on the final state, under the UTC and the America/Los_Angeles session
  time zone;
- after ``rollback`` to batch 1 and after ``rebucket(7)``;
- and that above ``DEFAULT_MAX_FOLD_BYTES`` of pruned input the read falls
  back to Spark (≥1 job) with the same rows.
"""

from __future__ import annotations

import shutil
from collections import defaultdict
from contextlib import contextmanager

import pandas as pd
import pytest
from pyspark.sql import types as T

from transcript_cdc import schemas
from transcript_cdc.plans.ingest import CdcIngestJob, IngestConfig
from transcript_cdc.sources import lake

BIG = 5_000_000_000  # > int32
T0 = pd.Timestamp("2024-03-10 08:00:00")  # 00:00 PST; DST starts 10:00 UTC
COLS = [f.name for f in schemas.CHANGE_SCHEMA.fields]
KINDS = ["cow", "stream", "mor"]
ABSENT = "conv-absent"


def _batches() -> list[tuple[pd.DataFrame, T.StructType]]:
    def ts(lsn):
        return T0 + pd.Timedelta(minutes=7 * lsn)

    b0 = [
        (lsn, "I", f"conv-{c:03d}", t, "user", f"t {c} {t}", None, ts(lsn))
        for lsn, (c, t) in enumerate((c, t) for c in range(20) for t in range(3))
    ]
    b1 = [
        (60 + c, "U", f"conv-{c:03d}", 1, "assistant", f"u {c}", "calc", ts(60 + c), c + 1)
        for c in range(10)
    ]
    b1 += [
        (70 + c, "I", f"conv-{c:03d}", 0, "user", f"n {c}", None, ts(70 + c), 1)
        for c in range(20, 25)
    ]
    b1 += [(80, "D", "conv-010", 0, None, None, None, ts(80), None)]
    b2 = [
        (90 + c, "U", f"conv-{c:03d}", 2, "user", f"w {c}", None, ts(90 + c), BIG + c)
        for c in range(5)
    ]
    b2 += [
        (100, "D", "conv-011", 2, None, None, None, ts(100), None),
        (101, "I", "conv-025", 0, "user", "late", None, ts(101), BIG),
    ]
    out = []
    for rows, tokens in [(b0, None), (b1, T.IntegerType()), (b2, T.LongType())]:
        cols = COLS + (["tokens"] if tokens else [])
        fields = list(schemas.CHANGE_SCHEMA.fields)
        if tokens:
            fields.append(T.StructField("tokens", tokens, True))
        out.append((pd.DataFrame(rows, columns=cols), T.StructType(fields)))
    return out


def _build(spark, kind: str, base) -> lake.ParquetSnapshotTable:
    batches = _batches()
    if kind == "stream":
        from transcript_cdc.streaming import StreamConfig, StreamingIngest

        ingest = StreamingIngest(
            spark, str(base / "feed"), str(base / "table"), str(base / "ckpt"),
            StreamConfig(n_buckets=4),
        )
        for epoch, (pdf, schema) in enumerate(batches):
            ingest.apply_batch(spark.createDataFrame(pdf, schema=schema), epoch)
        return ingest.table
    feed = base / "feed"
    feed.mkdir()
    cfg = IngestConfig(n_buckets=4, epoch_events=1000, write_partitions=2, storage=kind)
    for i, (pdf, _) in enumerate(batches):
        dtypes = {"turn_idx": "int32", "tool": "string"}
        if "tokens" in pdf:
            dtypes["tokens"] = "Int32" if i == 1 else "Int64"
        pdf.astype(dtypes).to_parquet(
            feed / f"part-{i:03d}.parquet", index=False, coerce_timestamps="us"
        )
        job = CdcIngestJob(spark, str(feed), str(base / "table"), cfg)
        job.run()
    return job.table


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    out = {}
    for kind in KINDS:
        t = _build(spark, kind, tmp_path_factory.mktemp(f"driver_read_{kind}"))
        assert len(t.committed_epochs()) == 3
        out[kind] = t
    return out


@contextmanager
def _job_group(sc, name: str):
    """Count the Spark jobs launched inside the block (this thread)."""
    sc.setJobGroup(name, "driver point-read job-count probe")
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(name))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _spark_rows(spark, t) -> tuple[T.StructType, dict]:
    """The Spark path for every key at once: full read, grouped by key."""
    df = t.read_resolved(spark) if isinstance(t, lake.MergeOnReadTable) else t.read_snapshot(spark)
    by_key = defaultdict(list)
    for r in df.collect():
        by_key[r["conv_id"]].append(tuple(r))
    return df.schema, by_key


def _assert_driver_reads_match(spark, t, tag: str) -> None:
    schema, want = _spark_rows(spark, t)
    keys = sorted(want) + [ABSENT]
    sc = spark.sparkContext
    with _job_group(sc, f"driver-read-{tag}") as jobs:
        for conv in keys:
            df = t.read_conversation(spark, conv)
            assert df.schema == schema, (tag, conv)
            got = sorted(tuple(r) for r in df.collect())
            assert got == sorted(want.get(conv, [])), (tag, conv)
        assert jobs() == 0, tag


def _fresh_copy(t, dst):
    shutil.copytree(t.root, dst)
    return type(t)(str(dst))


@pytest.mark.parametrize("kind", KINDS)
def test_driver_read_matches_spark_path(spark, tables, kind, tmp_path):
    t = _fresh_copy(tables[kind], tmp_path / "t")
    fields = {f.name: f.dataType for f in t.current_schema().fields}
    assert fields["tokens"] == T.LongType()
    _, rows = _spark_rows(spark, t)
    assert ("conv-010" in rows) and ("conv-025" in rows)
    _assert_driver_reads_match(spark, t, f"{kind}-final")

    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        _assert_driver_reads_match(spark, t, f"{kind}-la")
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)

    t.rollback(t.committed_epochs()[1])
    fields = {f.name: f.dataType for f in t.current_schema().fields}
    assert fields["tokens"] == T.IntegerType()
    _assert_driver_reads_match(spark, t, f"{kind}-rollback")

    assert t.rebucket(spark, 7)["committed"] and t.n_buckets == 7
    _assert_driver_reads_match(spark, t, f"{kind}-rebucket")


@pytest.mark.parametrize("kind", KINDS)
def test_point_read_over_byte_bound_falls_back_to_spark(spark, tables, kind, monkeypatch):
    t = tables[kind]
    keys = ["conv-000", "conv-010", "conv-025"]
    driver = {c: sorted(tuple(r) for r in t.read_conversation(spark, c).collect()) for c in keys}
    monkeypatch.setattr(lake, "DEFAULT_MAX_FOLD_BYTES", 0)
    sc = spark.sparkContext
    for c in keys:
        with _job_group(sc, f"fallback-{kind}-{c}") as jobs:
            got = sorted(tuple(r) for r in t.read_conversation(spark, c).collect())
            assert jobs() >= 1, (kind, c)
        assert got == driver[c] and got, (kind, c)
