"""End-to-end replay oracle tests (SURVEY §5.2-3, the north_star criterion).

Deterministically generate a change stream; replay through the engine in
several configurations (single epoch, chunked epochs, kill-and-resume,
double-apply); assert per-turn text equality against the single-threaded
dict-replay oracle under stable (conv_id, turn_idx) ordering.
"""

from __future__ import annotations

import glob
import json
import os

import pandas as pd
import pytest

from transcript_cdc.datagen import StreamSpec, generate_events, replay_oracle, write_change_feed
from transcript_cdc.plans.ingest import CdcIngestJob, IngestConfig


SPEC = StreamSpec(
    n_conversations=120,
    avg_turns=6,
    update_ratio=0.5,
    delete_ratio=0.12,
    absent_delete_ratio=0.03,
    zipf_s=1.3,
    out_of_order_fraction=0.3,
    evolution_at=0.55,
    seed=7,
    events_per_file=500,
)


@pytest.fixture(scope="module")
def feed(tmp_path_factory):
    d = tmp_path_factory.mktemp("feed")
    spec = SPEC
    info = write_change_feed(spec, str(d))
    oracle = replay_oracle(generate_events(spec), normalize=True)
    return {"dir": str(d), "info": info, "oracle": oracle}


def _engine_state(job: CdcIngestJob) -> pd.DataFrame:
    pdf = job.final_state().toPandas()
    return pdf.sort_values(["conv_id", "turn_idx"], kind="stable").reset_index(
        drop=True
    )


def _assert_equal(engine: pd.DataFrame, oracle: pd.DataFrame):
    assert len(engine) == len(oracle), (len(engine), len(oracle))
    for col in ["conv_id", "turn_idx", "role", "text", "tool", "model"]:
        e = engine[col].where(engine[col].notna(), None).tolist()
        o = oracle[col].where(oracle[col].notna(), None).tolist()
        assert e == o, f"mismatch in column {col}"
    e_tok = [None if pd.isna(x) else int(x) for x in engine["tokens"]]
    o_tok = [None if pd.isna(x) else int(x) for x in oracle["tokens"]]
    assert e_tok == o_tok
    assert engine["ts"].tolist() == oracle["ts"].tolist()


def test_single_epoch_replay_matches_oracle(spark, feed, tmp_path):
    job = CdcIngestJob(
        spark,
        feed["dir"],
        str(tmp_path / "table"),
        IngestConfig(n_buckets=8, epoch_events=10**9),
    )
    results = job.run()
    assert len(results) == 1 and results[0]["committed"]
    _assert_equal(_engine_state(job), feed["oracle"])


def test_chunked_epochs_match_oracle(spark, feed, tmp_path):
    job = CdcIngestJob(
        spark,
        feed["dir"],
        str(tmp_path / "table"),
        IngestConfig(n_buckets=8, epoch_events=250),
    )
    results = job.run()
    assert len(results) > 3
    _assert_equal(_engine_state(job), feed["oracle"])
    # schema evolved mid-stream: model/tokens present in final schema
    names = [f.name for f in job.table.current_schema().fields]
    assert "model" in names and "tokens" in names


def test_cow_overcap_observe_control_matches_oracle(spark, feed, tmp_path):
    """Deployment-shaped COW epochs (key set over the prune-collect cap and
    the broadcast cap) must route the control pass through the
    observe+count regime — no per-bucket aggregate, SMJ merge — and still
    replay to exactly the oracle state, resumably."""
    root = str(tmp_path / "table")
    cfg = IngestConfig(
        n_buckets=2,
        epoch_events=400,
        # zeroed caps force the over-cap regime (and the SMJ merge) from
        # the first epoch that has any lagged signal
        file_prune_max_keys=0,
        broadcast_max_rows=0,
        merge_hash_prefilter_max_keys=0,
    )
    job = CdcIngestJob(spark, feed["dir"], root, cfg)
    results = job.run()
    assert len(results) > 2
    # every epoch of this config takes the observe-count control (epoch 0
    # because the table has no live files yet, later epochs because the
    # lagged key count exceeds the zeroed cap)
    for r in results:
        m = job.table.read_manifest(r["epoch"])["metrics"]
        assert m["control"] == "observe-count"
        assert m["merge_anti"] == "smj"
        assert m["keys"] == r["keys"] > 0
    assert results[1]["touched_buckets"] == 2
    _assert_equal(_engine_state(job), feed["oracle"])
    # re-apply of an observe-control epoch is still a no-op (exactly-once)
    r = job.run_epoch(results[1]["epoch"], 399, 799)
    assert r.get("skipped") == "already-committed"
    # and a fresh process resumes cleanly past those commits
    job2 = CdcIngestJob(spark, feed["dir"], root, cfg)
    assert job2.run() == []
    _assert_equal(_engine_state(job2), feed["oracle"])


def test_cow_hash_prefilter_merge_matches_oracle(spark, feed, tmp_path):
    """The MIDDLE survivor regime (operators/merge.survivors_anti_join):
    key count over the string-key broadcast cap but under the hash cap →
    broadcast the distinct key-hash longs, route provably-untouched
    snapshot rows around the join, exact sliver anti-join for hash hits.
    Forced here by zeroing broadcast_max_rows while leaving the hash cap
    at its default; every epoch must record merge_anti="hash" and the
    replay must still hit the oracle exactly, resumably."""
    root = str(tmp_path / "table")
    cfg = IngestConfig(n_buckets=8, epoch_events=400, broadcast_max_rows=0)
    job = CdcIngestJob(spark, feed["dir"], root, cfg)
    results = job.run()
    assert len(results) > 2
    for r in results:
        m = job.table.read_manifest(r["epoch"])["metrics"]
        assert m["merge_anti"] == "hash"
    _assert_equal(_engine_state(job), feed["oracle"])
    # fresh process resumes cleanly past hash-regime commits
    job2 = CdcIngestJob(spark, feed["dir"], root, cfg)
    assert job2.run() == []
    _assert_equal(_engine_state(job2), feed["oracle"])


def test_kill_and_resume(spark, feed, tmp_path):
    root = str(tmp_path / "table")
    cfg = IngestConfig(n_buckets=8, epoch_events=400)
    job1 = CdcIngestJob(spark, feed["dir"], root, cfg)
    job1.run(max_epochs=2)  # "crash" after 2 epochs
    job2 = CdcIngestJob(spark, feed["dir"], root, cfg)  # fresh process
    epoch0, lsn0 = job2.resume_point()
    assert epoch0 == 2 and lsn0 == 799
    job2.run()
    _assert_equal(_engine_state(job2), feed["oracle"])


def test_reapply_epoch_is_noop(spark, feed, tmp_path):
    root = str(tmp_path / "table")
    cfg = IngestConfig(n_buckets=8, epoch_events=1500)
    job = CdcIngestJob(spark, feed["dir"], root, cfg)
    job.run()
    before = {
        os.path.basename(p): os.path.getmtime(p)
        for p in glob.glob(os.path.join(root, "_commits", "epoch=*.json"))
    }
    # blind re-run of epoch 0 (at-least-once retry) must be a no-op
    r = job.run_epoch(0, -1, 1499)
    assert r.get("skipped") == "already-committed"
    after = {
        os.path.basename(p): os.path.getmtime(p)
        for p in glob.glob(os.path.join(root, "_commits", "epoch=*.json"))
    }
    assert before == after
    _assert_equal(_engine_state(job), feed["oracle"])


def test_manifests_carry_lineage(spark, feed, tmp_path):
    root = str(tmp_path / "table")
    job = CdcIngestJob(
        spark, feed["dir"], root, IngestConfig(n_buckets=8, epoch_events=1200)
    )
    job.run()
    manifests = sorted(glob.glob(os.path.join(root, "_commits", "epoch=*.json")))
    assert manifests
    m = json.load(open(manifests[0]))
    assert {"epoch", "lsn_lo", "lsn_hi", "schema", "buckets", "metrics"} <= set(m)
    assert m["metrics"]["keys"] > 0
    # per-epoch wall decomposes from the manifest alone (BENCH/BASELINE.md
    # round-4 sched_gap decomposition relies on these)
    assert m["metrics"]["write_seconds"] >= 0
    assert m["metrics"]["commit_stats_seconds"] >= 0
    assert isinstance(m["buckets"], dict) and len(m["buckets"]) > 0
    # lsn ranges tile the feed without overlap
    ranges = [
        (json.load(open(p))["lsn_lo"], json.load(open(p))["lsn_hi"])
        for p in manifests
    ]
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert b_lo == a_hi


# ---------------- merge-on-read storage mode ----------------


def test_mor_chunked_replay_matches_oracle(spark, feed, tmp_path):
    job = CdcIngestJob(
        spark,
        feed["dir"],
        str(tmp_path / "table"),
        IngestConfig(n_buckets=8, epoch_events=250, storage="mor"),
    )
    results = job.run()
    assert len(results) > 3
    _assert_equal(_engine_state(job), feed["oracle"])
    # delta chains really accumulate (append commits, no rewrite): the
    # manifests are per-epoch deltas, so accumulation shows in the FOLDED
    # state, while each individual manifest stays O(epoch)-sized
    state, _ = job.table._current_state()
    assert any(len(files) > 1 for files in state.values())
    for e in job.table.committed_epochs():
        m = job.table.read_manifest(e)
        assert m["append"] is True
        for files in m["buckets"].values():
            assert all(f"epoch={e:010d}" in f for f in files)


def test_mor_autocompact_and_resume(spark, feed, tmp_path):
    root = str(tmp_path / "table")
    cfg = IngestConfig(
        n_buckets=8, epoch_events=400, storage="mor", compact_every=2
    )
    job1 = CdcIngestJob(spark, feed["dir"], root, cfg)
    job1.run(max_epochs=2)  # 2 ingest epochs + 1 compaction commit
    job2 = CdcIngestJob(spark, feed["dir"], root, cfg)  # fresh process
    epoch0, lsn0 = job2.resume_point()
    assert lsn0 == 799  # compaction advanced the epoch id, not the cursor
    assert epoch0 == 3
    job2.run()
    _assert_equal(_engine_state(job2), feed["oracle"])
    # post-compaction: compacted buckets fold to a single base file list
    manifests = sorted(
        glob.glob(os.path.join(root, "_commits", "epoch=*.json"))
    )
    modes = [
        json.load(open(p))["metrics"].get("mode") for p in manifests
    ]
    assert "compaction" in modes


def test_mor_compact_preserves_state(spark, feed, tmp_path):
    root = str(tmp_path / "table")
    job = CdcIngestJob(
        spark,
        feed["dir"],
        root,
        IngestConfig(n_buckets=8, epoch_events=500, storage="mor"),
    )
    job.run()
    before = _engine_state(job)
    r = job.table.compact(spark, write_partitions=4)
    assert r["committed"]
    after = _engine_state(job)
    pd.testing.assert_frame_equal(before, after)
    # compaction bounded read amplification: every bucket now has one chain
    m = job.table.last_committed()
    assert all(len(files) <= 2 for files in m["buckets"].values())


def test_mor_cow_mode_mismatch_rejected(spark, feed, tmp_path):
    root = str(tmp_path / "table")
    CdcIngestJob(
        spark, feed["dir"], root, IngestConfig(n_buckets=8, storage="mor")
    )
    with pytest.raises(ValueError, match="storage"):
        CdcIngestJob(
            spark, feed["dir"], root, IngestConfig(n_buckets=8, storage="cow")
        )


def test_crash_mid_epoch_recovers(spark, feed, tmp_path):
    """Crash between data write and manifest commit: orphan data files are
    invisible (manifest-as-commit-point), the reader serves the prior
    snapshot, and run() redoes exactly the lost epoch."""
    root = str(tmp_path / "table")
    cfg = IngestConfig(n_buckets=8, epoch_events=600)
    job = CdcIngestJob(spark, feed["dir"], root, cfg)
    job.run()
    manifests = sorted(glob.glob(os.path.join(root, "_commits", "epoch=*.json")))
    assert len(manifests) >= 3
    last = json.load(open(manifests[-1]))
    os.unlink(manifests[-1])  # simulate crash before the atomic rename

    job2 = CdcIngestJob(spark, feed["dir"], root, cfg)
    epoch0, lsn0 = job2.resume_point()
    assert epoch0 == last["epoch"] and lsn0 == last["lsn_lo"]
    # reader sees the prior committed state only (no partial epoch)
    prior_oracle_rows = job2.final_state().count()
    results = job2.run()
    assert results[0]["epoch"] == last["epoch"]
    assert job2.final_state().count() >= prior_oracle_rows
    _assert_equal(_engine_state(job2), feed["oracle"])


def test_hot_key_stream_salted_and_correct(spark, tmp_path):
    """Extreme hot conversation (Zipf s=2.5), MOR mode — the path whose
    write uses salted_repartition (the COW write range-partitions; its
    sampler spreads hot buckets).

    Default config runs ZERO probe jobs: each epoch's salt is derived from
    the PREVIOUS epoch's manifest bucket_rows (lagged signal, skew.lagged_salt).
    The opt-in probe still records exact per-key heavy hitters. Either way
    the final state must equal the oracle (salting never touches LWW)."""
    from transcript_cdc.operators.skew import choose_salt, lagged_salt

    spec = StreamSpec(
        n_conversations=40, avg_turns=8, update_ratio=2.0, delete_ratio=0.05,
        zipf_s=2.5, out_of_order_fraction=0.2, seed=31, events_per_file=400,
    )
    d = str(tmp_path / "hotfeed")
    write_change_feed(spec, d)
    oracle = replay_oracle(generate_events(spec), normalize=True)

    # Default: lagged salt, no probe job.
    job = CdcIngestJob(
        spark, d, str(tmp_path / "table"),
        IngestConfig(n_buckets=8, epoch_events=300, storage="mor"),
    )
    job.run()
    epochs = job.table.committed_epochs()
    assert len(epochs) >= 3
    for e in epochs:
        m = job.table.read_manifest(e)
        assert m["metrics"]["salt_source"] == "lagged"
        # the salt decision is reproducible from the previous manifest
        prev = job.table.read_manifest(e - 1) if e > 0 else None
        assert m["metrics"]["salt"] == lagged_salt(prev)
    # the lagged signal itself (per-bucket rows from footer stats) is there
    assert any(
        job.table.read_manifest(e)["metrics"]["bucket_rows"] for e in epochs
    )
    _assert_equal(_engine_state(job), oracle)

    # Opt-in probe: exact per-key heavy hitters recorded in the manifest.
    # Probe runs POST-dedup (write-side skew is what salting spreads), so
    # per-conv counts are bounded by turns-per-conv, not raw update traffic.
    job2 = CdcIngestJob(
        spark, d, str(tmp_path / "table2"),
        IngestConfig(
            n_buckets=8, epoch_events=10**9, storage="mor",
            probe_heavy_hitters=True,
        ),
    )
    job2.run()
    m2 = job2.table.last_committed()
    hh = m2["metrics"]["heavy_hitters"]
    assert hh and all(n <= spec.max_turns for _, n in hh)
    assert m2["metrics"]["salt_source"] == "probe"
    _assert_equal(_engine_state(job2), oracle)

    # The decision logic itself (rows_per_task floor keeps tiny tests at 1,
    # so force both salt choosers directly).
    assert choose_salt([("c", 2_000_000)]) == 4
    assert choose_salt([("c", 100)]) == 1
    assert lagged_salt({"metrics": {"bucket_rows": {"3": 2_000_000, "1": 9}}}) == 4
    assert lagged_salt(None) == 1


def test_time_travel_reconstructs_each_epoch(spark, feed, tmp_path):
    """read_snapshot(as_of_epoch=k) must equal an oracle replay truncated at
    that epoch's lsn_hi — full history reconstruction from manifests."""
    root = str(tmp_path / "table")
    job = CdcIngestJob(
        spark, feed["dir"], root, IngestConfig(n_buckets=8, epoch_events=300)
    )
    job.run()
    epochs = job.table.committed_epochs()
    assert len(epochs) >= 3
    events = generate_events(SPEC)
    for k in epochs[::2]:
        m = job.table.read_manifest(k)
        truncated = replay_oracle(events[events["lsn"] <= m["lsn_hi"]], normalize=True)
        got = (
            job.table.read_snapshot(spark, as_of_epoch=k)
            .toPandas()
            .sort_values(["conv_id", "turn_idx"], kind="stable")
            .reset_index(drop=True)
        )
        assert len(got) == len(truncated), f"epoch {k}"
        assert got["text"].tolist() == truncated["text"].tolist(), f"epoch {k}"


def test_point_read_prunes_to_one_bucket(spark, feed, tmp_path):
    """read_conversation must route to exactly one bucket's files and
    return the oracle's rows for that conversation (cow and mor)."""
    oracle = feed["oracle"]
    conv = oracle["conv_id"].iloc[0]
    want = oracle[oracle["conv_id"] == conv]

    for storage in ["cow", "mor"]:
        job = CdcIngestJob(
            spark, feed["dir"], str(tmp_path / f"t_{storage}"),
            IngestConfig(n_buckets=8, epoch_events=10**9, storage=storage),
        )
        job.run()
        got = (
            job.table.read_conversation(spark, conv)
            .toPandas()
            .sort_values("turn_idx")
            .reset_index(drop=True)
        )
        assert got["text"].tolist() == want["text"].tolist(), storage
        # pruning really happened: the plan reads only the conv's bucket
        b = job.table.bucket_of(conv)
        state, _ = job.table._current_state()
        all_files = {f for fl in state.values() for f in fl}
        bucket_files = set(state.get(str(b), []))
        assert bucket_files and bucket_files < all_files


def test_mor_auto_picks_clustered_and_matches_forced_window(spark, feed, tmp_path):
    """MOR's auto dedup default is the single-exchange clustered window
    (the dedup rides the write-clustering shuffle). Every epoch manifest
    must record it, and the final state must be byte-equal to a replay
    forced onto the classic two-exchange window plan — including across
    this feed's mid-stream schema evolution, deletes and 30% out-of-order
    events."""
    jc = CdcIngestJob(
        spark, feed["dir"], str(tmp_path / "c"),
        IngestConfig(n_buckets=8, epoch_events=400, storage="mor"),
    )
    jc.run()
    ms = [jc.table.read_manifest(e)["metrics"] for e in jc.table.committed_epochs()]
    assert ms and all(m["dedup"] == "clustered" for m in ms)
    _assert_equal(_engine_state(jc), feed["oracle"])

    jw = CdcIngestJob(
        spark, feed["dir"], str(tmp_path / "w"),
        IngestConfig(
            n_buckets=8, epoch_events=400, storage="mor",
            dedup_strategy="window",
        ),
    )
    jw.run()
    mw = [jw.table.read_manifest(e)["metrics"] for e in jw.table.committed_epochs()]
    assert mw and all(m["dedup"] == "window" for m in mw)
    pd.testing.assert_frame_equal(_engine_state(jc), _engine_state(jw))


def test_mor_pipelined_max_epochs_zero_is_noop(spark, feed, tmp_path):
    """Serial-loop parity at the budget edge: run(max_epochs=0) must do
    NOTHING in the pipelined loop too. (Regression: the pipelined loop
    planned+wrote+committed epoch 0 unconditionally — its in-loop guard
    only gated planning the NEXT epoch — so a caller whose remaining-epoch
    budget reached 0 silently ingested one extra epoch.)"""
    root = str(tmp_path / "table")
    cfg = IngestConfig(n_buckets=8, epoch_events=300, storage="mor")
    assert cfg.pipeline_epochs
    job = CdcIngestJob(spark, feed["dir"], root, cfg)
    before = job.resume_point()
    assert job.run(max_epochs=0) == []
    assert job.resume_point() == before
    assert glob.glob(os.path.join(root, "_commits", "epoch=*.json")) == []


def test_mor_pipelined_kill_resume_and_matches_serial(spark, feed, tmp_path):
    """Pipelined MOR loop (cfg.pipeline_epochs — the default): same final
    state as the serial loop and the oracle; a kill after 2 epochs resumes
    exactly (manifests commit strictly in epoch order on the driver
    thread, so the ledger never has gaps even though data-file writes
    overlap the next epoch's planning)."""
    root_p = str(tmp_path / "pipelined")
    cfg_p = IngestConfig(n_buckets=8, epoch_events=300, storage="mor")
    assert cfg_p.pipeline_epochs  # pinned default
    job = CdcIngestJob(spark, feed["dir"], root_p, cfg_p)
    r1 = job.run(max_epochs=2)  # "crash" mid-replay
    assert [r["epoch"] for r in r1] == [0, 1]
    assert all(r["committed"] for r in r1)
    job2 = CdcIngestJob(spark, feed["dir"], root_p, cfg_p)
    assert job2.resume_point()[0] == 2
    r2 = job2.run()
    assert all(r["committed"] for r in r2)
    _assert_equal(_engine_state(job2), feed["oracle"])
    # serial twin on a fresh root: identical epoch sequence, same state
    root_s = str(tmp_path / "serial")
    cfg_s = IngestConfig(
        n_buckets=8, epoch_events=300, storage="mor", pipeline_epochs=False
    )
    job_s = CdcIngestJob(spark, feed["dir"], root_s, cfg_s)
    rs = job_s.run()
    assert [r["epoch"] for r in rs] == [r["epoch"] for r in r1 + r2]
    _assert_equal(_engine_state(job_s), feed["oracle"])


def test_mor_pipelined_epoch_seconds_sum_to_wall(spark, feed, tmp_path):
    """Pipelined per-epoch `seconds` are commit-to-commit deltas: they
    must sum to ≈ the loop's wall, never above it. (Regression: epoch
    k+1's plan-time t0 was stamped while epoch k's write still ran, so
    `now - t0` double-counted the overlap — summed epoch seconds exceeded
    wall and bench.py's sustained figure, derived from per-epoch seconds,
    UNDERSTATED throughput on exactly the runs pipelining speeds up.)"""
    import time as _time

    cfg = IngestConfig(n_buckets=8, epoch_events=250, storage="mor")
    assert cfg.pipeline_epochs
    job = CdcIngestJob(spark, feed["dir"], str(tmp_path / "t"), cfg)
    t0 = _time.time()
    res = job.run()
    wall = _time.time() - t0
    assert len(res) >= 3  # needs ≥2 overlapped epochs to catch the bug
    assert all(r["seconds"] > 0 for r in res)
    # strictly-ordered commits ⇒ deltas can't exceed wall (tiny epsilon
    # for the pre-loop resume_point/feed-max reads outside t_prev)
    assert sum(r["seconds"] for r in res) <= wall + 0.05
    _assert_equal(_engine_state(job), feed["oracle"])


def test_mor_pipelined_commit_reevolves_schema(spark, feed, tmp_path):
    """The pipelined commit's schema guard: epoch 1 is PLANNED before
    epoch 0 (which introduces column 'extra') commits — committing epoch
    1's plan-time schema verbatim would REGRESS the table schema. The
    guard re-evolves against the current schema at commit time; epoch 1's
    delta files simply lack the column and the fold null-fills them."""
    import time as _t

    from pyspark.sql import functions as F

    root = str(tmp_path / "table")
    job = CdcIngestJob(
        spark,
        feed["dir"],
        root,
        IngestConfig(n_buckets=4, epoch_events=10, storage="mor"),
    )
    ddl = (
        "lsn long, op string, conv_id string, turn_idx int, role string, "
        "text string, tool string, ts timestamp"
    )
    raw0 = spark.createDataFrame(
        [(1, "I", "c1", 0, "user", "hello", None, None)], ddl
    ).withColumn("extra", F.lit("x"))
    raw1 = spark.createDataFrame(
        [(2, "I", "c2", 0, "user", "world", None, None)], ddl
    )
    # plan epoch 1 BEFORE epoch 0 commits (the pipelined interleaving)
    p1 = job._plan_epoch_mor(1, 1, 2, raw1, _t.time())
    r0 = job._run_epoch_mor(0, 0, 1, raw0, _t.time())
    assert r0["committed"]
    assert "extra" in [f.name for f in job.table.current_schema().fields]
    pre = job._write_planned(p1)
    res = job._commit_planned_mor(p1, pre_written=pre)
    assert res["committed"]
    assert "extra" in [f.name for f in job.table.current_schema().fields]
    pdf = (
        job.final_state()
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    assert pdf["text"].tolist() == ["hello", "world"]
    extra = pdf["extra"].where(pdf["extra"].notna(), None).tolist()
    assert extra == ["x", None]
