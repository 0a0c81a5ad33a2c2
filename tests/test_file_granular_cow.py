"""File-granular copy-on-write (round-1 verdict item 5).

The round-1 COW path rewrote every touched bucket IN FULL each epoch —
O(table) per epoch once hash bucketing spreads any batch over all buckets.
Now the merge consults per-file key-range stats (parquet footers recorded
in the manifests) and rewrites only files that can contain a batch key;
writes are range-clustered on (bucket, conv_id) so files cover tight key
intervals. These tests pin the contract:

- an epoch touching FEW conversations rewrites a strict subset of files
  and carries the rest forward (kept > 0, rewritten ≪ live files);
- the resulting state is byte-equal to the dict oracle / full-rewrite mode;
- oversized batches and file_granular_cow=False fall back to whole-bucket
  rewrites with identical results;
- fragmented buckets self-compact past max_files_per_bucket.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from transcript_cdc.plans.ingest import CdcIngestJob, IngestConfig, pick_dedup_strategy

N_CONVS = 200
TURNS = 4
HOT_CONVS = ["conv-0042", "conv-0107", "conv-0188"]


def _mk_feed(path: str):
    """Phase 1 (file 0): insert 200 conversations × 4 turns.
    Phase 2 (file 1): update 3 conversations only."""
    rows = []
    lsn = 0
    ts = pd.Timestamp("2024-01-01")
    for c in range(N_CONVS):
        for t in range(TURNS):
            rows.append((lsn, "I", f"conv-{c:04d}", t, "user", f"text {c} {t}", None, ts))
            lsn += 1
    phase1 = pd.DataFrame(
        rows, columns=["lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    rows2 = []
    for c in HOT_CONVS:
        for t in range(TURNS):
            rows2.append((lsn, "U", c, t, "user", f"updated {c} {t}", None, ts))
            lsn += 1
    phase2 = pd.DataFrame(rows2, columns=phase1.columns)
    phase1 = phase1.astype({"turn_idx": "int32", "tool": "string"})
    phase2 = phase2.astype({"turn_idx": "int32", "tool": "string"})
    os.makedirs(path)
    phase1.to_parquet(os.path.join(path, f"part-0-{len(phase1) - 1}.parquet"), index=False, coerce_timestamps="us")
    phase2.to_parquet(os.path.join(path, f"part-{len(phase1)}-{lsn - 1}.parquet"), index=False, coerce_timestamps="us")
    return len(phase1), len(rows2)


def _final(job):
    return (
        job.final_state()
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def feed(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fg") / "feed")
    n1, n2 = _mk_feed(d)
    return {"dir": d, "n1": n1, "n2": n2}


def test_narrow_epoch_rewrites_strict_subset(spark, feed):
    import tempfile

    root = tempfile.mkdtemp(prefix="fg_cow_")
    job = CdcIngestJob(
        spark, feed["dir"], root,
        IngestConfig(n_buckets=8, epoch_events=feed["n1"], write_partitions=16),
    )
    job.run()
    epochs = job.table.committed_epochs()
    assert len(epochs) == 2  # insert epoch + narrow update epoch

    m0, m1 = (job.table.read_manifest(e) for e in epochs)
    live_after_0 = sum(len(v) for v in m0["buckets"].values())
    rewritten = m1["metrics"]["files_rewritten"]
    kept = m1["metrics"]["files_kept"]
    assert kept > 0, "no files carried forward — pruning did nothing"
    assert rewritten <= len(HOT_CONVS), (
        f"3-conversation epoch rewrote {rewritten} files"
    )
    # hot + kept exactly covers the files of the buckets this epoch touched
    touched_files = sum(len(m0["buckets"][b]) for b in m1["buckets"])
    assert rewritten + kept == touched_files
    assert kept + rewritten < live_after_0  # untouched buckets not involved
    # kept entries point at epoch-0 files; new files live under epoch 1
    kept_paths = [
        f
        for files in m1["buckets"].values()
        for f in files
        if f"epoch={epochs[0]:010d}" in f
    ]
    assert len(kept_paths) == kept

    # correctness: updates applied, untouched rows intact
    state = _final(job)
    assert len(state) == N_CONVS * TURNS
    for c in HOT_CONVS:
        texts = state[state.conv_id == c]["text"].tolist()
        assert all(t.startswith("updated") for t in texts)
    untouched = state[~state.conv_id.isin(HOT_CONVS)]["text"]
    assert all(t.startswith("text") for t in untouched)


def test_pruned_equals_full_rewrite(spark, feed, tmp_path):
    cfg_on = IngestConfig(n_buckets=8, epoch_events=feed["n1"], write_partitions=8)
    cfg_off = IngestConfig(
        n_buckets=8, epoch_events=feed["n1"], write_partitions=8,
        file_granular_cow=False,
    )
    j_on = CdcIngestJob(spark, feed["dir"], str(tmp_path / "on"), cfg_on)
    j_on.run()
    j_off = CdcIngestJob(spark, feed["dir"], str(tmp_path / "off"), cfg_off)
    j_off.run()
    pd.testing.assert_frame_equal(_final(j_on), _final(j_off))
    # the fallback really did whole-bucket rewrites
    m1 = j_off.table.read_manifest(j_off.table.committed_epochs()[-1])
    assert m1["metrics"]["files_kept"] == 0


def test_mispredict_after_backfill_recovers_pruning(spark, feed, tmp_path):
    """The first incremental epoch after an over-cap backfill must NOT
    degenerate to a full-table rewrite. The lagged gate predicts over-cap
    (the backfill manifest's key count), so the epoch enters the observe
    path — but the observation proves the batch IS collectable, and the
    recovery aggregate (control='observe-collect') restores file-granular
    pruning. Before the fix this scenario rewrote every touched bucket in
    full: O(table) for one stale prediction."""
    cfg = IngestConfig(
        n_buckets=8, epoch_events=feed["n1"], write_partitions=16,
        file_prune_max_keys=50,  # backfill (800 rows) is over-cap
    )
    job = CdcIngestJob(spark, feed["dir"], str(tmp_path / "t"), cfg)
    job.run()
    epochs = job.table.committed_epochs()
    assert len(epochs) == 2
    m1 = job.table.read_manifest(epochs[-1])["metrics"]
    assert m1["control"] == "observe-collect"
    assert m1["files_kept"] > 0, "mispredicted epoch full-rewrote the table"
    assert m1["files_rewritten"] <= len(HOT_CONVS)
    state = _final(job)
    assert len(state) == N_CONVS * TURNS
    for c in HOT_CONVS:
        texts = state[state.conv_id == c]["text"].tolist()
        assert all(t.startswith("updated") for t in texts)


def test_oversized_batch_falls_back(spark, feed, tmp_path):
    cfg = IngestConfig(
        n_buckets=8, epoch_events=feed["n1"], write_partitions=8,
        file_prune_max_keys=2,  # force the too-many-keys fallback
    )
    job = CdcIngestJob(spark, feed["dir"], str(tmp_path / "t"), cfg)
    job.run()
    m1 = job.table.read_manifest(job.table.committed_epochs()[-1])
    assert m1["metrics"]["files_kept"] == 0
    state = _final(job)
    assert len(state) == N_CONVS * TURNS


def test_auto_dedup_strategy_gates_on_churn(spark, feed, tmp_path):
    """cfg.dedup_strategy='auto' must pick the shuffle-free broadcast LWW
    plan only when the LAGGED key count predicts both a broadcastable
    winner set (keys*2 <= broadcast_max_rows) and real churn collapse
    (keys*4 <= epoch_events); everything else — including the first epoch,
    which has no lag signal — falls back to the window plan. A/B-measured:
    broadcast on a low-churn (mostly-insert) feed is ~2x SLOWER than the
    window (the winner set ~= the batch, so the build's driver
    collect+rebroadcast buys nothing), while high-churn feeds measure
    2.4x faster — the gate must encode the win condition, not just a
    key-set bound."""
    job = CdcIngestJob(
        spark, feed["dir"], str(tmp_path / "t"),
        IngestConfig(n_buckets=4, epoch_events=feed["n1"], write_partitions=4),
    )
    job.run()
    ms = [
        job.table.read_manifest(e)["metrics"]
        for e in job.table.committed_epochs()
    ]
    # this feed is low-churn (~1 event/key): every epoch must choose the
    # window plan — the first for lack of a lag signal, the rest because
    # the lagged key count shows no collapse (the fused clustered COW was
    # A/B-rejected as a default even at churn ~1: CHANGES_r4.md #19)
    assert all(m["dedup"] == "window" for m in ms)

    # lag gate arithmetic (no Spark work): both bounds must hold
    job.cfg.epoch_events = 10_000_000
    job.table.last_committed = lambda: {"metrics": {"keys": 500_000}}
    assert pick_dedup_strategy(job.cfg, job.table) == "broadcast"  # churn 20x, keys < cap
    job.table.last_committed = lambda: {"metrics": {"keys": 3_000_000}}
    assert pick_dedup_strategy(job.cfg, job.table) == "window"  # winner set over cap
    job.cfg.epoch_events = 1_000_000
    job.table.last_committed = lambda: {"metrics": {"keys": 800_000}}
    assert pick_dedup_strategy(job.cfg, job.table) == "window"  # churn ~1.25: no collapse
    job.table.last_committed = lambda: {"metrics": {"keys": 250_000}}
    assert pick_dedup_strategy(job.cfg, job.table) == "broadcast"  # churn 4x, keys < cap
    job.table.last_committed = lambda: None  # fresh table: no lag signal
    assert pick_dedup_strategy(job.cfg, job.table) == "window"
    job.cfg.dedup_strategy = "broadcast"  # explicit override wins
    assert pick_dedup_strategy(job.cfg, job.table) == "broadcast"
    job.cfg.dedup_strategy = "window"
    job.cfg.epoch_events = 100
    assert pick_dedup_strategy(job.cfg, job.table) == "window"


def test_forced_broadcast_dedup_ingest_matches_window(spark, feed, tmp_path):
    """End-to-end: an ingest run forced onto the broadcast LWW plan must
    converge to the exact same final table state as the window plan (lsn
    uniqueness makes the strategies value-identical — this pins it through
    the full epoch loop, manifests included)."""
    base = IngestConfig(
        n_buckets=4, epoch_events=feed["n1"], write_partitions=4
    )
    jw = CdcIngestJob(spark, feed["dir"], str(tmp_path / "w"), base)
    jw.run()
    jb = CdcIngestJob(
        spark, feed["dir"], str(tmp_path / "b"),
        IngestConfig(
            n_buckets=4, epoch_events=feed["n1"], write_partitions=4,
            dedup_strategy="broadcast",
        ),
    )
    jb.run()
    mb = [
        jb.table.read_manifest(e)["metrics"]
        for e in jb.table.committed_epochs()
    ]
    assert all(m["dedup"] == "broadcast" for m in mb)
    sw, sb = _final(jw), _final(jb)
    pd.testing.assert_frame_equal(sw, sb)


def test_fragmented_bucket_self_compacts(spark, tmp_path):
    """Many tiny epochs fragment buckets; once a bucket passes
    max_files_per_bucket the next epoch rewrites it whole, so file counts
    stay bounded instead of growing one file per epoch forever."""
    rows = []
    ts = pd.Timestamp("2024-01-01")
    for lsn in range(120):
        rows.append((lsn, "I", f"conv-{lsn:04d}", 0, "user", f"t {lsn}", None, ts))
    df = pd.DataFrame(
        rows, columns=["lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    df = df.astype({"turn_idx": "int32", "tool": "string"})
    feed_dir = str(tmp_path / "feed")
    os.makedirs(feed_dir)
    df.to_parquet(os.path.join(feed_dir, "part-0-119.parquet"), index=False, coerce_timestamps="us")

    job = CdcIngestJob(
        spark, str(tmp_path / "feed"), str(tmp_path / "t"),
        IngestConfig(
            n_buckets=1, epoch_events=10, write_partitions=2,
            max_files_per_bucket=6,
        ),
    )
    job.run()  # 12 epochs × up to 2 files each into ONE bucket
    state, _ = job.table._current_state()
    n_files = sum(len(v) for v in state.values())
    assert n_files <= 6 + 2, f"bucket never self-compacted: {n_files} files"
    assert job.final_state().count() == 120
