"""Type-widening schema evolution (Iceberg rules: int→long, float→double).

A long-lived CDC feed doesn't just add columns — producers widen them
(token counts outgrow int32, scores move to double). The engine follows
Iceberg's safe-evolution contract:

- unit: can_widen/evolve/additive_diff accept widening in either
  direction, reject narrowing rewrites and type REPLACEMENTS;
- e2e (both storage modes): a feed whose `tokens` column is int32 before
  the widening point and int64 after (with values beyond int32 range)
  replays correctly when the wide segments arrive MID-REPLAY — the table
  schema widens at that epoch, already-written narrow files stay readable
  (Spark parquet upcast / Arrow fold cast), and the final state's values
  round-trip exactly;
- a LATER-narrower batch (int32 again after the table went long) upcasts
  at align time and leaves the table schema long.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pandas as pd
import pytest
from pyspark.sql import types as T

from transcript_cdc import schemas
from transcript_cdc.plans.ingest import CdcIngestJob, IngestConfig

BIG = 5_000_000_000  # > int32
TS = pd.Timestamp("2024-01-01")
COLS = ["lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts", "tokens"]


# ---------- unit: the evolution algebra ----------

def test_can_widen_chain():
    assert schemas.can_widen(T.IntegerType(), T.LongType())
    assert schemas.can_widen(T.ShortType(), T.LongType())
    assert schemas.can_widen(T.FloatType(), T.DoubleType())
    assert not schemas.can_widen(T.LongType(), T.IntegerType())
    assert not schemas.can_widen(T.IntegerType(), T.DoubleType())
    assert not schemas.can_widen(T.StringType(), T.LongType())


def _st(**cols):
    return T.StructType([T.StructField(k, v, True) for k, v in cols.items()])


def test_evolve_widens_and_appends():
    table = _st(a=T.IntegerType(), b=T.StringType())
    batch = _st(a=T.LongType(), c=T.DoubleType())
    out = schemas.evolve(table, batch)
    assert [(f.name, f.dataType) for f in out.fields] == [
        ("a", T.LongType()), ("b", T.StringType()), ("c", T.DoubleType()),
    ]
    # narrower batch never narrows the table
    out2 = schemas.evolve(_st(a=T.LongType()), _st(a=T.IntegerType()))
    assert out2.fields[0].dataType == T.LongType()


def test_evolve_rejects_type_replacement():
    with pytest.raises(ValueError, match="type conflict"):
        schemas.evolve(_st(a=T.IntegerType()), _st(a=T.StringType()))


def test_align_types_casts_only_mismatches(spark):
    df = spark.createDataFrame([(1, 2.0, "x")], "a int, b double, c string")
    out = schemas.align_types(df, _st(a=T.LongType(), b=T.DoubleType()))
    got = {f.name: f.dataType for f in out.schema.fields}
    assert got == {"a": T.LongType(), "b": T.DoubleType(), "c": T.StringType()}
    assert schemas.align_types(df, df.schema) is df  # no-op fast path


def test_feed_footer_unify_widens_but_rejects_lossy():
    import pyarrow as pa

    from transcript_cdc.sources.changes import _unify_widening

    a = pa.schema([("k", pa.int16()), ("v", pa.float32())])
    b = pa.schema([("k", pa.int64()), ("v", pa.float64()), ("extra", pa.string())])
    out = _unify_widening([a, b])
    assert out.field("k").type == pa.int64()
    assert out.field("v").type == pa.float64()
    assert out.field("extra").type == pa.string()
    # pyarrow's permissive promotion would coerce int64+float64 → double
    # (lossy above 2^53); the engine must refuse instead
    with pytest.raises(ValueError, match="only safe numeric widening"):
        _unify_widening(
            [pa.schema([("x", pa.int64())]), pa.schema([("x", pa.float64())])]
        )
    with pytest.raises(ValueError):
        _unify_widening(
            [pa.schema([("x", pa.string())]), pa.schema([("x", pa.int32())])]
        )


# ---------- e2e: mid-replay widening through both storage engines ----------

def _write(path, name, rows, tokens_dtype):
    df = pd.DataFrame(rows, columns=COLS).astype(
        {"turn_idx": "int32", "tool": "string", "tokens": tokens_dtype}
    )
    df.to_parquet(os.path.join(path, name), index=False, coerce_timestamps="us")


@pytest.fixture(scope="module")
def widen_feed(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("widen") / "feed")
    os.makedirs(d)
    rows = [
        (i, "I", f"conv-{i % 20:03d}", i // 20, "user", f"t {i}", None, TS, i + 1)
        for i in range(100)
    ]
    _write(d, "part-000.parquet", rows, "int32")
    # wide phase: updates of existing keys with tokens beyond int32 range
    rows2 = [
        (100 + i, "U", f"conv-{i % 20:03d}", i // 20, "user", f"w {i}", None, TS, BIG + i)
        for i in range(100)
    ]
    late = str(tmp_path_factory.mktemp("widen_late") / "part-001.parquet")
    os.makedirs(os.path.dirname(late), exist_ok=True)
    _write(os.path.dirname(late), os.path.basename(late), rows2, "int64")
    return {"dir": d, "late_file": late}


@pytest.mark.parametrize("storage", ["cow", "mor"])
def test_mid_replay_widening(spark, widen_feed, storage, tmp_path):
    feed = str(tmp_path / "feed")
    shutil.copytree(widen_feed["dir"], feed)
    root = tempfile.mkdtemp(prefix=f"widen_{storage}_")
    cfg = IngestConfig(n_buckets=4, epoch_events=100, write_partitions=2, storage=storage)

    job = CdcIngestJob(spark, feed, root, cfg)
    job.run()  # epoch 0: narrow segments only
    tok0 = next(
        f.dataType for f in job.table.current_schema().fields if f.name == "tokens"
    )
    assert tok0 == T.IntegerType()

    # the wide segment arrives mid-stream; resume from the ledger
    shutil.copy(widen_feed["late_file"], os.path.join(feed, "part-001.parquet"))
    job2 = CdcIngestJob(spark, feed, root, cfg)
    job2.run()
    tok1 = next(
        f.dataType for f in job2.table.current_schema().fields if f.name == "tokens"
    )
    assert tok1 == T.LongType(), "table schema must widen at the wide epoch"

    final = (
        job2.final_state()
        .select("conv_id", "turn_idx", "tokens")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    assert len(final) == 100
    # every key was updated in the wide phase: exact int64 round-trip
    assert final["tokens"].min() >= BIG
    want = sorted(BIG + i for i in range(100))
    assert sorted(int(x) for x in final["tokens"]) == want


def test_narrower_batch_after_widening_upcasts(spark, widen_feed, tmp_path):
    feed = str(tmp_path / "feed")
    shutil.copytree(widen_feed["dir"], feed)
    shutil.copy(widen_feed["late_file"], os.path.join(feed, "part-001.parquet"))
    # third, narrow-again segment: int32 tokens after the table went long
    rows3 = [
        (200 + i, "U", f"conv-{i:03d}", 0, "user", f"n3 {i}", None, TS, 7 + i)
        for i in range(5)
    ]
    df = pd.DataFrame(rows3, columns=COLS).astype(
        {"turn_idx": "int32", "tool": "string", "tokens": "int32"}
    )
    df.to_parquet(os.path.join(feed, "part-002.parquet"), index=False, coerce_timestamps="us")

    root = tempfile.mkdtemp(prefix="widen_n_")
    cfg = IngestConfig(n_buckets=4, epoch_events=100, write_partitions=2, storage="mor")
    job = CdcIngestJob(spark, feed, root, cfg)
    job.run()
    tok = next(
        f.dataType for f in job.table.current_schema().fields if f.name == "tokens"
    )
    assert tok == T.LongType()
    final = job.final_state().filter("turn_idx = 0 and conv_id < 'conv-005'")
    got = {r["conv_id"]: int(r["tokens"]) for r in final.collect()}
    assert got == {f"conv-{i:03d}": 7 + i for i in range(5)}


def test_stream_widening_int_long_int(spark, tmp_path):
    """The same int → long → int sequence through StreamingIngest.apply_batch:
    the streaming micro-batch runs the shared COW core, which casts both
    merge sides to the evolved schema, so the table widens at the long
    batch, stays long after the narrower one, and every value (beyond
    int32 included) round-trips."""
    from transcript_cdc.datagen import replay_oracle
    from transcript_cdc.streaming import StreamConfig, StreamingIngest

    def frame(rows, tokens_type):
        schema = T.StructType(
            list(schemas.CHANGE_SCHEMA.fields)
            + [T.StructField("tokens", tokens_type, True)]
        )
        return pd.DataFrame(rows, columns=COLS), schema

    narrow = [
        (i, "I", f"conv-{i % 20:03d}", i // 20, "user", f"t {i}", None, TS, i + 1)
        for i in range(100)
    ]
    wide = [
        (100 + i, "U", f"conv-{i % 20:03d}", i // 20, "user", f"w {i}", None, TS, BIG + i)
        for i in range(100)
    ] + [(200, "D", "conv-000", 0, None, None, None, TS, None)]
    narrow_again = [
        (300 + i, "U", f"conv-{i:03d}", 1, "user", f"n {i}", None, TS, 7 + i)
        for i in range(5)
    ]
    ingest = StreamingIngest(
        spark, str(tmp_path / "feed"), str(tmp_path / "table"),
        str(tmp_path / "ckpt"), StreamConfig(n_buckets=4),
    )
    events = []
    for epoch, (rows, ty) in enumerate(
        [(narrow, T.IntegerType()), (wide, T.LongType()), (narrow_again, T.IntegerType())]
    ):
        pdf, schema = frame(rows, ty)
        events.append(pdf)
        ingest.apply_batch(spark.createDataFrame(pdf, schema=schema), epoch)
        tok = next(
            f.dataType
            for f in ingest.table.current_schema().fields
            if f.name == "tokens"
        )
        assert tok == (T.IntegerType() if epoch == 0 else T.LongType()), epoch

    cols = ["conv_id", "turn_idx", "text", "tokens"]
    got = sorted(
        (r["conv_id"], r["turn_idx"], r["text"], int(r["tokens"]))
        for r in ingest.final_state().select(*cols).collect()
    )
    oracle = replay_oracle(pd.concat(events, ignore_index=True))
    want = sorted(
        (r.conv_id, int(r.turn_idx), r.text, int(r.tokens))
        for r in oracle[cols].itertuples(index=False)
    )
    assert got == want and len(got) == 99
