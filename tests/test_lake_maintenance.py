"""Lake-table maintenance semantics (round-1 advice items).

- MOR manifests are per-epoch deltas: each append manifest lists only the
  files its epoch added (no O(epochs²) cumulative re-listing), and the
  read-time fold reconstructs the full state.
- expire() garbage-collects files unreachable from kept snapshots, in both
  storage modes, without disturbing the current state; expired time-travel
  epochs refuse to read instead of returning partial data.
- Streaming exactly-once guard is bound to the checkpoint identity: a fresh
  checkpoint over a populated table fails fast, and an epoch committed by a
  different checkpoint refuses to skip.
"""

from __future__ import annotations

import glob
import json
import os

import pytest

from transcript_cdc import schemas
from transcript_cdc.datagen import StreamSpec, generate_events, replay_oracle, write_change_feed
from transcript_cdc.plans.ingest import CdcIngestJob, IngestConfig
from transcript_cdc.streaming import StreamConfig, StreamingIngest

SPEC = StreamSpec(
    n_conversations=60, avg_turns=5, update_ratio=0.5, delete_ratio=0.1,
    zipf_s=1.2, out_of_order_fraction=0.2, seed=31, events_per_file=200,
)


@pytest.fixture(scope="module")
def feed(tmp_path_factory):
    d = tmp_path_factory.mktemp("maint_feed")
    write_change_feed(SPEC, str(d))
    oracle = replay_oracle(generate_events(SPEC), normalize=True)
    return {"dir": str(d), "oracle": oracle}


def _sorted_state(df):
    return (
        df.toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )


def _data_files(root):
    return set(glob.glob(os.path.join(root, "data", "**", "*.parquet"), recursive=True))


def test_mor_manifests_are_per_epoch_deltas(spark, feed, tmp_path):
    root = str(tmp_path / "t")
    job = CdcIngestJob(
        spark, feed["dir"], root,
        IngestConfig(n_buckets=4, epoch_events=150, storage="mor"),
    )
    job.run()
    epochs = job.table.committed_epochs()
    assert len(epochs) >= 3
    all_files = []
    for e in epochs:
        m = job.table.read_manifest(e)
        assert m["append"] is True
        listed = [f for files in m["buckets"].values() for f in files]
        # per-epoch manifests list only their own epoch's files
        assert all(f"epoch={e:010d}" in f for f in listed)
        all_files.extend(listed)
    # no file listed twice across manifests, and the fold sees all of them
    assert len(all_files) == len(set(all_files))
    state, _ = job.table._current_state()
    folded = [f for files in state.values() for f in files]
    assert sorted(folded) == sorted(all_files)
    # final state still matches the oracle
    eng = _sorted_state(job.final_state())
    assert eng["text"].tolist() == feed["oracle"]["text"].tolist()


def test_expire_after_compaction_removes_superseded_deltas(spark, feed, tmp_path):
    root = str(tmp_path / "t")
    job = CdcIngestJob(
        spark, feed["dir"], root,
        IngestConfig(n_buckets=4, epoch_events=150, storage="mor"),
    )
    job.run()
    job.table.compact(spark)
    before = _data_files(root)
    eng_before = _sorted_state(job.final_state())

    res = job.table.expire()
    after = _data_files(root)
    assert res["removed_files"] > 0
    assert after < before  # strictly fewer files on disk
    # current state unchanged, still oracle-equal
    eng_after = _sorted_state(job.final_state())
    assert eng_after["text"].tolist() == eng_before["text"].tolist()
    assert eng_after["text"].tolist() == feed["oracle"]["text"].tolist()
    # expired time travel refuses; the kept (latest) epoch still reads
    last = job.table.committed_epochs()[-1]
    assert job.table.read_snapshot(spark, as_of_epoch=last).count() > 0
    with pytest.raises(ValueError, match="expire"):
        job.table.read_snapshot(spark, as_of_epoch=0)


def test_selective_compaction_targets_fragmented_buckets(spark, feed, tmp_path):
    """compact(min_files=K) rewrites ONLY buckets whose delta chain exceeds
    K files (Iceberg binpack-style targeted maintenance): untouched buckets
    keep their exact file lists, the resolved state is preserved, and a
    re-run with nothing fragmented is a skip — recurring compaction cost
    tracks fragmentation, not table size."""
    from pyspark.sql import functions as F

    from transcript_cdc.sources.lake import BUCKET_COL, bucket_expr

    root = str(tmp_path / "t")
    job = CdcIngestJob(
        spark, feed["dir"], root,
        IngestConfig(n_buckets=4, epoch_events=150, storage="mor"),
    )
    job.run()
    t = job.table
    t.compact(spark)  # full: every bucket folds to a fresh 1-file base

    # Fragment exactly ONE bucket: append a 1-row update delta for a single
    # conversation (commit_epoch append=True is the unit under test's input
    # shape — the ingest loop writes the same thing).
    conv = feed["oracle"]["conv_id"].iloc[0]
    b = t.bucket_of(conv)
    last = t.last_committed()
    delta = (
        t.read_resolved(spark, buckets=[b], with_version_cols=True)
        .filter(F.col("conv_id") == conv).orderBy("turn_idx").limit(1)
        .withColumn("lsn", F.col("lsn") + F.lit(10_000_000))
        .withColumn("text", F.lit("fragmented"))
        .withColumn("op", F.lit("U"))
        .withColumn(BUCKET_COL, bucket_expr(t.n_buckets, t.meta["bucket_by"]))
    )
    t.commit_epoch(
        int(last["epoch"]) + 1, delta, [b],
        int(last["lsn_hi"]), int(last["lsn_hi"]) + 1,
        t.current_schema(), {}, append=True,
    )
    state_before, _ = t._current_state()
    assert len(state_before[str(b)]) > 1
    rows_before = t.read_resolved(spark).count()

    res = t.compact(spark, min_files=1)
    assert res["buckets_compacted"] == 1
    state_after, _ = t._current_state()
    # only the fragmented bucket was rewritten; every other bucket's file
    # list is byte-identical (no O(table) rewrite)
    assert len(state_after[str(b)]) == 1
    for ob, files in state_before.items():
        if ob != str(b):
            assert state_after[ob] == files
    # resolved state preserved: same rows, and the update won
    assert t.read_resolved(spark).count() == rows_before
    got = (
        t.read_conversation(spark, conv).orderBy("turn_idx").first()["text"]
    )
    assert got == "fragmented"
    # nothing fragmented anymore → skip, not a full rewrite
    assert t.compact(spark, min_files=1)["skipped"] == "no-fragmented-buckets"


def test_expire_on_cow_removes_old_generations(spark, feed, tmp_path):
    root = str(tmp_path / "t")
    job = CdcIngestJob(
        spark, feed["dir"], root,
        IngestConfig(n_buckets=4, epoch_events=150, storage="cow"),
    )
    job.run()
    assert len(job.table.committed_epochs()) >= 3
    before = _data_files(root)
    res = job.table.expire()
    assert res["removed_files"] > 0
    assert _data_files(root) < before
    eng = _sorted_state(job.final_state())
    assert eng["text"].tolist() == feed["oracle"]["text"].tolist()


def test_expire_on_compact_config_wires_through(spark, feed, tmp_path):
    root = str(tmp_path / "t")
    job = CdcIngestJob(
        spark, feed["dir"], root,
        IngestConfig(
            n_buckets=4, epoch_events=150, storage="mor",
            compact_every=2, expire_on_compact=True,
        ),
    )
    job.run()
    # every file on disk is referenced by the current fold (GC ran)
    state, _ = job.table._current_state()
    referenced = {
        os.path.join(root, f) for files in state.values() for f in files
    }
    assert _data_files(root) <= referenced | set()
    eng = _sorted_state(job.final_state())
    assert eng["text"].tolist() == feed["oracle"]["text"].tolist()


def _fabricate_checkpoint(path: str, qid: str):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "metadata"), "w") as f:
        json.dump({"id": qid}, f)


def test_fresh_checkpoint_over_populated_table_fails_fast(spark, feed, tmp_path):
    table, ckpt1 = str(tmp_path / "table"), str(tmp_path / "ckpt1")
    ingest = StreamingIngest(
        spark, feed["dir"], table, ckpt1, StreamConfig(n_buckets=4)
    )
    ingest.run_available()
    assert ingest.table.committed_epochs()
    # same checkpoint: fine (restart path)
    StreamingIngest(spark, feed["dir"], table, ckpt1, StreamConfig(n_buckets=4))
    # fresh checkpoint whose batch ids would restart at 0: refuse
    with pytest.raises(ValueError, match="fresh"):
        StreamingIngest(
            spark, feed["dir"], table, str(tmp_path / "ckpt2"),
            StreamConfig(n_buckets=4),
        )


def test_epoch_from_other_checkpoint_refuses_to_skip(spark, feed, tmp_path):
    events = generate_events(SPEC).iloc[:200]
    batch_df = spark.createDataFrame(events, schema=schemas.CHANGE_SCHEMA_EVOLVED)

    table = str(tmp_path / "table")
    ckpt_a, ckpt_b = str(tmp_path / "a"), str(tmp_path / "b")
    _fabricate_checkpoint(ckpt_a, "query-a")
    _fabricate_checkpoint(ckpt_b, "query-b")

    ia = StreamingIngest(spark, feed["dir"], table, ckpt_a, StreamConfig(n_buckets=4))
    assert ia.apply_batch(batch_df, 0).get("keys", 0) > 0
    # same checkpoint re-delivery: idempotent skip
    assert ia.apply_batch(batch_df, 0)["skipped"] == "already-committed"
    # different checkpoint colliding on epoch 0: hard error, never a skip
    ib = StreamingIngest(spark, feed["dir"], table, ckpt_b, StreamConfig(n_buckets=4))
    with pytest.raises(RuntimeError, match="different writer"):
        ib.apply_batch(batch_df, 0)


@pytest.mark.parametrize("storage", ["cow", "mor"])
def test_rollback_restores_snapshot_and_replay_converges(spark, feed, tmp_path, storage):
    """Point-in-time recovery: rollback drops the newer commits and their
    files, restores exactly the as-of state, and a plain run() re-plays the
    discarded WAL range back to the same oracle-equal final state."""
    root = str(tmp_path / f"rb_{storage}")
    cfg = IngestConfig(n_buckets=4, epoch_events=150, storage=storage)
    job = CdcIngestJob(spark, feed["dir"], root, cfg)
    job.run()
    t = job.table
    epochs = t.committed_epochs()
    assert len(epochs) >= 3
    k = epochs[1]
    want = _sorted_state(job.final_state(as_of_epoch=k))
    files_before = _data_files(root)

    res = t.rollback(k)
    assert res["epochs_dropped"] == [e for e in epochs if e > k]
    assert t.committed_epochs() == epochs[: epochs.index(k) + 1]
    # restored head state == the old as-of snapshot; newer files GC'd
    got = _sorted_state(CdcIngestJob(spark, feed["dir"], root, cfg).final_state())
    assert got["text"].tolist() == want["text"].tolist()
    assert len(got) == len(want)
    assert _data_files(root) < files_before

    # replay the discarded range: same final state as the oracle
    job2 = CdcIngestJob(spark, feed["dir"], root, cfg)
    job2.run()
    final = _sorted_state(job2.final_state())
    orc = feed["oracle"]
    assert final["text"].tolist() == orc["text"].tolist()
    assert final["conv_id"].tolist() == orc["conv_id"].tolist()

    with pytest.raises(ValueError, match="not a committed"):
        t.rollback(10_000)


def test_rollback_refuses_expired_horizon(spark, feed, tmp_path):
    root = str(tmp_path / "rb_exp")
    job = CdcIngestJob(
        spark, feed["dir"], root,
        IngestConfig(n_buckets=4, epoch_events=150, storage="mor"),
    )
    job.run()
    t = job.table
    epochs = t.committed_epochs()
    t.expire(keep_from_epoch=epochs[-1])
    with pytest.raises(ValueError, match="expired"):
        t.rollback(epochs[0])


def test_concurrent_same_epoch_commit_single_winner(spark, tmp_path):
    """Optimistic concurrency at the commit point: two writers racing the
    same epoch (entry guard bypassed to simulate the TOCTOU window) end
    with exactly ONE winning manifest, and the loser's attempt files never
    shadow the winner's — manifests are created with link(2)-if-absent and
    every attempt writes a unique data dir."""
    from unittest import mock

    from pyspark.sql.types import StructType

    from transcript_cdc.sources.lake import BUCKET_COL, MergeOnReadTable, bucket_expr

    ddl = "conv_id string, turn_idx long, text string, lsn long, op string"
    t = MergeOnReadTable.create(
        str(tmp_path / "race"), StructType.fromDDL(ddl), n_buckets=2
    )

    def delta(txt):
        return spark.createDataFrame(
            [("c1", 0, txt, 1, "U")], StructType.fromDDL(ddl)
        ).withColumn(BUCKET_COL, bucket_expr(2, "conv_id"))

    with mock.patch.object(type(t), "is_committed", return_value=False):
        assert t.commit_epoch(
            0, delta("winner"), [0, 1], -1, 1,
            StructType.fromDDL(ddl), append=True,
        )
        assert not t.commit_epoch(  # raced loser: CAS create fails
            0, delta("loser"), [0, 1], -1, 1,
            StructType.fromDDL(ddl), append=True,
        )
    rows = t.read_resolved(spark).collect()
    assert [r["text"] for r in rows] == ["winner"]
    # every file the winning manifest references still exists
    m = t.read_manifest(0)
    for files in m["buckets"].values():
        for f in files:
            assert os.path.exists(os.path.join(t.root, f))


@pytest.mark.parametrize("storage", ["cow", "mor"])
def test_rebucket_partition_evolution(spark, feed, tmp_path, storage):
    """rebucket() rewrites the table into a new bucket layout in one
    replace_all commit: state is preserved row-for-row, subsequent reads
    (incl. bucket-pruned point reads) and ingest use the new bucket
    function, and pre-rebucket snapshots are expired (time travel and
    rollback across the boundary refuse)."""
    root = str(tmp_path / f"rbk_{storage}")
    cfg = IngestConfig(n_buckets=3, epoch_events=150, storage=storage)
    job = CdcIngestJob(spark, feed["dir"], root, cfg)
    job.run()
    t = job.table
    before = _sorted_state(job.final_state())
    pre_epochs = t.committed_epochs()

    res = t.rebucket(spark, 8)
    assert res["committed"] and t.n_buckets == 8
    assert t.read_manifest(res["epoch"])["replace_all"]
    # fresh handle (no cached meta): same layout + identical state
    t2 = type(t)(root)
    assert t2.n_buckets == 8
    job2 = CdcIngestJob(spark, feed["dir"], root, cfg)
    after = _sorted_state(job2.final_state())
    assert after["text"].tolist() == before["text"].tolist()
    assert after["conv_id"].tolist() == before["conv_id"].tolist()
    # bucket-pruned point read under the new hash
    conv = before["conv_id"].iloc[0]
    got = job2.table.read_conversation(spark, conv)
    assert got.count() == int((before["conv_id"] == conv).sum())
    # old-layout snapshots are gone: time travel + rollback refuse
    with pytest.raises(ValueError, match="expire"):
        t2.read_snapshot(spark, as_of_epoch=pre_epochs[0]).count()
    with pytest.raises(ValueError, match="expired"):
        t2.rollback(pre_epochs[0])
    # layout is manifest-decided: every data file lives under the
    # rebucket epoch's manifest with bucket ids 0..7
    state, _ = t2._current_state()
    assert set(state) <= {str(i) for i in range(8)}


def test_rebucket_crash_window_is_manifest_decided(spark, feed, tmp_path):
    """If a re-bucket dies between manifest commit and metadata finalize,
    the committed manifest decides the layout; if it dies BEFORE the
    commit, the stale pending marker must not flip the layout when a
    normal epoch later claims that id."""
    import json as _json

    root = str(tmp_path / "rbk_crash")
    job = CdcIngestJob(
        spark, feed["dir"], root,
        IngestConfig(n_buckets=3, epoch_events=150, storage="mor"),
    )
    job.run()
    t = job.table
    last = t.committed_epochs()[-1]

    # marker pointing at an UNcommitted epoch: layout unchanged
    meta_path = os.path.join(t.commits_dir, "table.json")
    meta = dict(t.meta)
    meta["pending_rebucket"] = {"epoch": last + 1, "n_buckets": 11}
    with open(meta_path, "w") as f:
        _json.dump(meta, f)
    t._meta = None
    assert t.n_buckets == 3
    # a NORMAL commit claiming that epoch id retires the stale marker
    from pyspark.sql import functions as F

    from transcript_cdc.sources.lake import BUCKET_COL, bucket_expr

    delta = (
        t.read_resolved(spark, with_version_cols=True).limit(1)
        .withColumn("lsn", F.col("lsn") + 1_000_000)
        .withColumn(BUCKET_COL, bucket_expr(3, "conv_id"))
    )
    assert t.commit_epoch(
        last + 1, delta, [0, 1, 2], 0, 1, t.current_schema(), append=True
    )
    t._meta = None
    assert "pending_rebucket" not in t.meta and t.n_buckets == 3

    # marker + committed replace_all manifest, metadata never finalized:
    # the manifest decides (n_buckets flips on a fresh handle)
    t.rebucket(spark, 6)
    meta = dict(t.meta)
    meta["n_buckets"] = 3  # simulate dying before finalize
    meta["pending_rebucket"] = {
        "epoch": t.committed_epochs()[-1], "n_buckets": 6,
    }
    with open(meta_path, "w") as f:
        _json.dump(meta, f)
    t2 = type(t)(root)
    assert t2.n_buckets == 6
