"""Point reads route to their bucket in the driver.

``ParquetSnapshotTable.bucket_of`` computes ``pmod(xxhash64(key), N)`` with
the pure-Python ``py_xxhash64`` twin instead of a 1-row Spark job. The
writer still buckets with Spark's ``xxhash64`` (``bucket_expr``), so these
tests pin:

- ``py_xxhash64`` equals ``F.xxhash64`` and ``bucket_of`` equals
  ``bucket_expr`` on every key of a set that covers each XXH64 code path
  (empty, 1-3 bytes, 4-7, 8-31, 32+, non-ASCII, emoji) for several N;
- ``bucket_of`` launches no Spark job, and neither does collecting a COW
  point read (the driver reads the pruned files into a LocalRelation);
- after ``rebucket(new_n)`` every key routes to the bucket that holds its
  rows, and point reads return the oracle's rows.
"""

from __future__ import annotations

import random
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from transcript_cdc import schemas
from transcript_cdc.datagen import StreamSpec, generate_events, replay_oracle, write_change_feed
from transcript_cdc.functions.portable import py_xxhash64
from transcript_cdc.plans.ingest import CdcIngestJob, IngestConfig
from transcript_cdc.sources.lake import ParquetSnapshotTable, bucket_expr

N_BUCKETS = [1, 7, 8, 16, 37]

SPEC = StreamSpec(
    n_conversations=40, avg_turns=4, update_ratio=0.4, delete_ratio=0.1,
    seed=17, events_per_file=100,
)


def _keys() -> list[str]:
    """≥5k keys of UTF-8 length 0..~400 bytes drawn from ASCII, accented,
    CJK and emoji code points (1-4 bytes each), so stripes, the 8/4/1-byte
    tails and multi-byte characters straddling lanes are all exercised."""
    rng = random.Random(4)
    pools = ["abcxyz019-_ ", "éüßñ", "漢字会話", "🙂🚀👩‍💻"]
    keys = ["", "a", "ab", "abc", "abcd", "conv-000001", "é", "🙂", "x" * 32, "x" * 33]
    while len(keys) < 5200:
        n = rng.randrange(0, 40) if rng.random() < 0.8 else rng.randrange(40, 100)
        alpha = "".join(rng.sample(pools, rng.randrange(1, 5)))
        keys.append("".join(rng.choice(alpha) for _ in range(n)))
    return keys


@contextmanager
def _job_group(sc, name: str):
    """Count the Spark jobs launched inside the block (this thread)."""
    sc.setJobGroup(name, "bucket routing job-count probe")
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(name))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_py_xxhash64_and_bucket_of_match_spark(spark, tmp_path):
    keys = _keys()
    lens = [len(k.encode("utf-8")) for k in keys]
    for lo, hi in [(0, 0), (1, 3), (4, 7), (8, 31), (32, 10**6)]:
        assert any(lo <= n <= hi for n in lens), (lo, hi)
    assert any(not k.isascii() for k in keys) and any("🙂" in k for k in keys)

    df = spark.createDataFrame([(i, k) for i, k in enumerate(keys)], "i int, conv_id string")
    cols = [F.xxhash64("conv_id").alias("h")] + [
        bucket_expr(n).alias(f"b{n}") for n in N_BUCKETS
    ]
    rows = df.select("i", *cols).collect()
    assert len(rows) == len(keys)
    tables = {
        n: ParquetSnapshotTable.create(str(tmp_path / f"t{n}"), schemas.TRANSCRIPT_SCHEMA, n_buckets=n)
        for n in N_BUCKETS
    }
    bad = []
    for r in rows:
        k = keys[r["i"]]
        if py_xxhash64(k) != r["h"]:
            bad.append(("hash", k))
        bad.extend(("bucket", n, k) for n, t in tables.items() if t.bucket_of(k) != r[f"b{n}"])
    assert not bad, bad[:5]


@pytest.fixture(scope="module")
def feed(tmp_path_factory):
    d = tmp_path_factory.mktemp("routing_feed")
    write_change_feed(SPEC, str(d))
    oracle = replay_oracle(generate_events(SPEC), normalize=True)
    return {"dir": str(d), "oracle": oracle}


def _conv_rows(df):
    return sorted((r["conv_id"], r["turn_idx"], r["text"]) for r in df.collect())


def _oracle_rows(oracle, conv):
    o = oracle[oracle["conv_id"] == conv]
    return sorted(zip(o["conv_id"], o["turn_idx"].astype(int), o["text"]))


def test_point_read_job_count_and_rebucket_routing(spark, feed, tmp_path):
    job = CdcIngestJob(
        spark, feed["dir"], str(tmp_path / "t"),
        IngestConfig(n_buckets=4, epoch_events=200, storage="cow"),
    )
    job.run()
    t = job.table
    oracle = feed["oracle"]
    conv = oracle["conv_id"].iloc[0]
    sc = spark.sparkContext

    with _job_group(sc, "routing-bucket-of") as jobs:
        for c in oracle["conv_id"].unique():
            t.bucket_of(c)
        assert jobs() == 0
    with _job_group(sc, "routing-point-read") as jobs:
        got = t.read_conversation(spark, conv).select("conv_id", "turn_idx", "text")
        assert _conv_rows(got) == _oracle_rows(oracle, conv)
        assert jobs() == 0

    res = t.rebucket(spark, 7)
    assert res["committed"] and t.n_buckets == 7
    # every key routes to the bucket whose files hold its rows
    for b in range(7):
        for r in t.read_snapshot(spark, buckets=[b]).select("conv_id").distinct().collect():
            assert t.bucket_of(r["conv_id"]) == b, (r["conv_id"], b)
    for c in oracle["conv_id"].unique()[:10]:
        got = t.read_conversation(spark, c).select("conv_id", "turn_idx", "text")
        assert _conv_rows(got) == _oracle_rows(oracle, c), c
