"""Physical plan-shape regression tests (round-1 verdict item 7).

The §4 pushdown/plan story must be enforceable, not hand-captured prose:
- top-k plans as TakeOrderedAndProject (distributed heap, never full sort);
- the WAL range scan pushes lsn bounds into the parquet scan;
- dimension joins broadcast the small side (no shuffle of the fact side);
- the bucket-pruned COW point read is a driver-built LocalTableScan (no
  scan, no exchange) over exactly the manifest-pruned files;
- the MOR resolved read (bucket-local fold) has NO parquet FileScan and
  NO data exchange — its only exchange moves the ≤n_buckets file-list rows;
- the declarative window fold and the bucket-local fold agree row-for-row.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from pyspark.sql import functions as F

from transcript_cdc.datagen import StreamSpec, write_change_feed
from transcript_cdc.plans.ingest import CdcIngestJob, IngestConfig
from transcript_cdc.sources import lake
from transcript_cdc.sources.changes import ChangeFeed

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01")


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def mor_job(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("plans")
    spec = StreamSpec(n_conversations=120, avg_turns=4, update_ratio=0.4,
                      delete_ratio=0.1, seed=5, events_per_file=300)
    feed = str(base / "feed")
    write_change_feed(spec, feed)
    job = CdcIngestJob(
        spark, feed, str(base / "mor"),
        IngestConfig(n_buckets=8, epoch_events=400, storage="mor"),
    )
    job.run()
    return job


@pytest.fixture(scope="module")
def cow_job(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("plans_cow")
    spec = StreamSpec(n_conversations=120, avg_turns=4, update_ratio=0.4,
                      delete_ratio=0.1, seed=5, events_per_file=300)
    feed = str(base / "feed")
    write_change_feed(spec, feed)
    # "window" pinned: the auto gate could otherwise pick "broadcast"
    job = CdcIngestJob(
        spark, feed, str(base / "cow"),
        IngestConfig(n_buckets=8, epoch_events=400, storage="cow",
                     dedup_strategy="window"),
    )
    # Keep each epoch's plan as it is at commit time, while the epoch's
    # batch is still persisted (afterwards the plan would recompute it).
    commit = job.table.commit_epoch

    def commit_and_capture(epoch, new_state, *args, **kwargs):
        job.live_plan = plan_of(job._last_epoch_plan)
        return commit(epoch, new_state, *args, **kwargs)

    job.table.commit_epoch = commit_and_capture
    job.run()
    return job


def test_topk_plans_as_take_ordered(spark):
    ev = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    df = ev.orderBy(F.col("value").desc(), F.col("event_id")).limit(20)
    p = plan_of(df)
    assert "TakeOrderedAndProject" in p
    assert "Exchange" not in p  # distributed heap + driver merge, no shuffle


def test_wal_range_scan_pushes_lsn_filter(spark, mor_job):
    feed = ChangeFeed(spark, mor_job.feed.path)
    df = feed.read_range(100, 500)
    p = plan_of(df)
    assert "PushedFilters" in p
    assert "GreaterThan(lsn,100)" in p and "LessThanOrEqual(lsn,500)" in p


def test_wal_range_scan_opens_only_overlapping_segments(spark, tmp_path):
    """An epoch slice scans only the segments whose lsn range overlaps it
    (per-file footer min/max), under the whole feed's merged schema, and
    returns exactly the whole-feed filter's rows — on a feed whose rows
    are shuffled inside each file and whose later files add columns."""
    import pyarrow.parquet as pq

    spec = StreamSpec(
        n_conversations=60, seed=13, events_per_file=150,
        out_of_order_fraction=0.5, evolution_at=0.5,
    )
    info = write_change_feed(spec, str(tmp_path / "feed"))
    assert len(info["files"]) >= 4
    evo = info["evolution_lsn"]
    lsns = {f: pq.read_table(f, columns=["lsn"])["lsn"].to_pylist() for f in info["files"]}
    feed = ChangeFeed(spark, str(tmp_path / "feed"))
    whole = feed.read()
    for lo, hi in [(-1, 99), (evo - 80, evo + 80), (evo, info["n_events"] - 1), (149, 150)]:
        df = feed.read_range(lo, hi)
        want = {f for f, ls in lsns.items() if any(lo < v <= hi for v in ls)}
        assert {os.path.basename(p) for p in df.inputFiles()} == {
            os.path.basename(f) for f in want
        }, (lo, hi)
        assert df.schema == whole.schema
        expect = whole.filter((F.col("lsn") > lo) & (F.col("lsn") <= hi))
        assert sorted(df.collect()) == sorted(expect.collect()), (lo, hi)
    assert feed.max_lsn() == info["n_events"] - 1


def test_dim_join_broadcasts_small_side(spark):
    orders = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    nation = spark.read.parquet(os.path.join(SF_DIR, "nation.parquet"))
    cust = spark.read.parquet(os.path.join(SF_DIR, "customer.parquet"))
    df = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name").agg(F.sum("o_totalprice").alias("rev"))
    )
    p = plan_of(df)
    assert p.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in p


def test_bucket_pruned_point_read_has_no_exchange(spark, cow_job, monkeypatch):
    t = cow_job.table
    conv = cow_job.final_state().select("conv_id").first()["conv_id"]
    opened = []
    read = lake._read_conformed

    def spy(path, target, predicate=None):
        opened.append(path)
        return read(path, target, predicate)

    monkeypatch.setattr(lake, "_read_conformed", spy)
    df = t.read_conversation(spark, conv)
    p = plan_of(df)
    # the driver read the rows: a local relation, no scan and no exchange
    assert "LocalTableScan" in p
    assert "Exchange" not in p and "FileScan" not in p
    # layered pruning: the driver opened exactly the manifest-pruned file
    # set (files_for_key: bucket routing + per-file min/max key stats),
    # which is contained in the target bucket's manifested files
    state, _ = t._current_state()
    b = t.bucket_of(conv)
    assert set(opened) == {
        os.path.join(t.root, f) for f in t.files_for_key(conv, b)
    }
    assert set(opened) <= {os.path.join(t.root, f) for f in state[str(b)]}


def test_mor_resolved_read_has_no_data_exchange(spark, mor_job):
    df = mor_job.table.read_resolved(spark)  # bucket-local fold (default)
    p = plan_of(df)
    assert "FileScan parquet" not in p  # data moves inside the fold tasks
    # the only exchange is the tiny (bucket, files) control relation
    assert p.count("Exchange") == 1
    assert "MapInArrow" in p or "PythonMapInArrow" in p


def test_local_fold_matches_window_fold(spark, mor_job):
    t = mor_job.table
    local = (
        t.read_resolved(spark, local_fold=True)
        .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    window = (
        t.read_resolved(spark, local_fold=False)
        .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    window = window[local.columns]
    pd.testing.assert_frame_equal(
        local.astype(str), window.astype(str), check_dtype=False
    )


def test_local_fold_respects_bucket_pruning_and_time_travel(spark, mor_job):
    t = mor_job.table
    conv = t.read_resolved(spark).select("conv_id").first()["conv_id"]
    b = t.bucket_of(conv)
    pruned = t.read_resolved(spark, buckets=[b])
    full = t.read_resolved(spark)
    assert (
        pruned.filter(F.col("conv_id") == conv).count()
        == full.filter(F.col("conv_id") == conv).count()
    )
    # time travel through the local fold: earlier epochs have <= rows
    epochs = t.committed_epochs()
    n_first = t.read_resolved(spark, as_of_epoch=epochs[0]).count()
    n_last = t.read_resolved(spark, as_of_epoch=epochs[-1]).count()
    assert 0 < n_first <= n_last


def test_changelog_read_has_no_data_exchange(spark, mor_job):
    """read_changes shares the resolved read's contract: classification
    happens inside per-bucket Arrow tasks; the only exchange moves the
    ≤n_buckets (bucket, range_files, base_files) control rows."""
    t = mor_job.table
    epochs = t.committed_epochs()
    df = t.read_changes(spark, from_epoch=epochs[0], to_epoch=epochs[-1])
    p = plan_of(df)
    assert "FileScan parquet" not in p
    assert p.count("Exchange") == 1
    assert "MapInArrow" in p or "PythonMapInArrow" in p


def test_hybrid_search_scans_once_with_window_group_limit(spark):
    """The fused hybrid plan: ONE parquet scan of documents feeding both
    retriever branches (posexplode of the two scores), per-branch top-k as
    WindowGroupLimit (partial limit before the exchange) — never a second
    full table read per retriever."""
    from transcript_cdc.plans.search import hybrid_search

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    df = hybrid_search(
        docs, "alpha beta", id_cols=["doc_id"], text_col="text",
        filters=[F.col("n_chars") > 50], top_k_final=20,
        per_retriever_k=25, hash_fn="md5",
    )
    p = plan_of(df)
    assert p.count("FileScan parquet") == 1
    assert "WindowGroupLimit" in p


def test_minhash_pairs_plan_has_no_join(spark):
    """LSH candidate pairs come from one grouped shuffle + in-bucket
    combination — the signature pipeline is evaluated once (no self-join
    recomputing it per side, no cartesian product anywhere)."""
    from transcript_cdc.functions.dedup_text import minhash_near_dup_pairs

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    df = minhash_near_dup_pairs(
        docs, "text", "doc_id", shingle_n=3, k=16, bands=4,
        jaccard_threshold=0.5, hash_fn="md5",
    )
    p = plan_of(df)
    assert p.count("FileScan parquet") == 1
    assert "Join" not in p and "CartesianProduct" not in p


def test_hybrid_search_tolerates_existing_score_column(spark):
    """A caller re-ranking an already-scored snapshot must not hit an
    ambiguous-reference error: hybrid_search replaces any pre-existing
    score/__branch columns like the old withColumn formulation did."""
    from transcript_cdc.plans.search import hybrid_search

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    pre_scored = docs.withColumn("score", F.lit(0.5))
    df = hybrid_search(
        pre_scored, "alpha beta", id_cols=["doc_id"], text_col="text",
        top_k_final=5, per_retriever_k=10, hash_fn="md5",
    )
    rows = df.select("doc_id", "score").collect()
    assert len(rows) == 5


def test_resolved_read_column_projection(spark, mor_job):
    """read_resolved(columns=...) must equal the full read's projection
    row-for-row — including over schema-evolved chains where older files
    lack evolved columns — and reject unknown columns. The point is the
    fold-side parquet pruning (mapInArrow is opaque to Catalyst, so the
    projection is threaded into the Arrow reads explicitly)."""
    t = mor_job.table
    cols = ["conv_id", "turn_idx", "text"]
    narrow = sorted(map(tuple, t.read_resolved(spark, columns=cols).collect()))
    full = sorted(
        map(tuple, t.read_resolved(spark).select(*cols).collect())
    )
    assert narrow == full and len(narrow) > 0

    # the caller's REQUESTED order wins, not table-schema order — the COW
    # path (df.select) and the non-local fold already honor it, so the
    # local fold must agree or final_state(columns=...) would return
    # storage-mode-dependent column orders
    reordered = ["text", "conv_id", "turn_idx"]
    assert t.read_resolved(spark, columns=reordered).columns == reordered
    assert (
        t.read_resolved(spark, columns=reordered, local_fold=False).columns
        == reordered
    )

    # projecting an EVOLVED column: older files lack it entirely, so the
    # pruned read must intersect with each file's own schema and null-pad
    evolved = [f.name for f in t.current_schema().fields
               if f.name in ("model", "tokens")]
    assert evolved, "fixture feed should carry mid-stream schema evolution"
    cols2 = ["conv_id", "turn_idx", evolved[0]]
    narrow2 = sorted(map(tuple, t.read_resolved(spark, columns=cols2).collect()))
    full2 = sorted(map(tuple, t.read_resolved(spark).select(*cols2).collect()))
    assert narrow2 == full2

    with pytest.raises(ValueError, match="unknown columns"):
        t.read_resolved(spark, columns=["conv_id", "nope"]).collect()


def test_mor_epoch_plan_single_full_payload_exchange(spark, mor_job):
    """The whole MOR epoch write plan (scan → clustered LWW dedup →
    normalize → observe → sort → sink) must contain exactly ONE exchange:
    the write-clustering repartition the dedup window piggybacks on
    (operators/dedup.lww_dedup_clustered — round-4 single-exchange epoch).
    mor_job has already replayed, so _last_epoch_plan is its final
    epoch's pre-write DataFrame."""
    import re

    plan = (
        mor_job._last_epoch_plan._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"Exchange", plan)) == 1, plan
    assert "lead(" in plan and "row_number" not in plan, plan
    assert "EvalPython" not in plan, plan  # the normalizer runs in the JVM


def _outside_cache(plan: str) -> str:
    """``plan`` minus every InMemoryRelation subtree (the persisted batch's
    own plan, which the tree string repeats under each scan of the cache).
    Split on "\n" only: literals in the plan (the normalizer's U+0085) are
    line breaks to ``str.splitlines``."""
    out, cut = [], None
    for line in plan.split("\n"):
        depth = len(line) - len(line.lstrip(" :+-"))
        if cut is not None and depth > cut:
            continue
        cut = depth if "InMemoryRelation" in line else None
        out.append(line)
    return "\n".join(out)


def _snapshot_exchanges(outer: str) -> list[str]:
    """The exchanges above the hot-snapshot scan — the one FileScan
    outside the persisted batch — walking the tree string's ancestor
    chain by indentation."""
    lines = outer.split("\n")
    depth = lambda line: len(line) - len(line.lstrip(" :+-"))
    scans = [i for i, line in enumerate(lines) if "FileScan" in line]
    assert len(scans) == 1, outer
    i = scans[0]
    d, out = depth(lines[i]), []
    for line in reversed(lines[:i]):
        if depth(line) < d:
            d = depth(line)
            if "Exchange" in line:
                out.append(line.strip(" :+-"))
    return out


def _assert_one_exchange_per_epoch(plan: str) -> None:
    """The routed-merge invariants: the snapshot payload crosses ONE
    exchange, the write's range routing; nothing reshuffles on the merge
    key outside the persisted batch; and the union feeds the write with
    no exchange above it."""
    import re

    outer = _outside_cache(plan)
    ex = _snapshot_exchanges(outer)
    assert len(ex) == 1 and ex[0].startswith("Exchange hashpartitioning(__range_tok"), ex
    assert not re.search(r"hashpartitioning\(conv_id#\d+, turn_idx#\d+", outer), plan
    above_union = outer.split("Union")[0]
    assert "Union" in outer and "Exchange" not in above_union, plan


def test_cow_epoch_plan_default_shape(spark, cow_job):
    """The default COW epoch (window dedup, broadcast survivor anti join,
    routed merge), as planned for its write while the batch is persisted.
    The batch's dedup exchange on (conv_id, turn_idx) runs once, inside
    the cache that both merge branches scan (anti-join keys and upserts).
    Outside it, two exchanges, both the stats-routed hash on __range_tok
    — never the sampled RangePartitioner: the snapshot (the optimizer
    pushes the broadcast anti join below it) and the upserts. The batch
    keys are broadcast straight from the cache: a broadcast join keeps
    the streamed snapshot's partitioning, so routing them would only add
    an exchange."""
    import re

    plan = cow_job.live_plan
    m = cow_job.table.last_committed()["metrics"]
    assert (m["dedup"], m["merge_anti"]) == ("window", "broadcast"), m
    outer = _outside_cache(plan)
    assert len(re.findall(r"Exchange hashpartitioning\(__range_tok", outer)) == 2, plan
    assert len(re.findall(r"Exchange hashpartitioning", outer)) == 2, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "BroadcastExchange" in outer and "LeftAnti" in outer, plan
    assert outer.count("InMemoryTableScan") == 2, plan
    assert "EvalPython" not in plan, plan  # the normalizer runs in the JVM
    _assert_one_exchange_per_epoch(plan)
    # exactly one dedup exchange: the tree string repeats it (per cache
    # scan, initial and final AQE plan), always with the same attributes,
    # where a batch recomputed per branch would show two attribute sets
    dedup = re.findall(r"Exchange hashpartitioning\(conv_id#\d+, turn_idx#\d+", plan)
    assert len(set(dedup)) == 1, plan


def test_cow_epoch_plan_forced_smj_shape(spark, tmp_path):
    """The same epoch with the broadcast hint capped out (caps 1) and no
    size-based broadcast: Spark plans a sort-merge anti join, which
    needs no exchange of its own — both sides arrive hash-partitioned on
    the range token, a prefix of its (token, key) join keys."""
    spec = StreamSpec(n_conversations=120, avg_turns=4, update_ratio=0.4,
                      delete_ratio=0.1, seed=5, events_per_file=300)
    feed = str(tmp_path / "feed")
    write_change_feed(spec, feed)
    job = CdcIngestJob(
        spark, feed, str(tmp_path / "cow"),
        IngestConfig(n_buckets=8, epoch_events=400, dedup_strategy="window",
                     broadcast_max_rows=1),
    )
    commit = job.table.commit_epoch

    def commit_and_capture(epoch, new_state, *args, **kwargs):
        job.live_plan = plan_of(job._last_epoch_plan)
        return commit(epoch, new_state, *args, **kwargs)

    job.table.commit_epoch = commit_and_capture
    key = "spark.sql.autoBroadcastJoinThreshold"
    prior = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        job.run()
    finally:
        spark.conf.set(key, prior)
    m = job.table.last_committed()["metrics"]
    assert (m["control"], m["merge_anti"]) == ("groupby-collect", "copartitioned"), m
    plan = job.live_plan
    outer = _outside_cache(plan)
    assert "SortMergeJoin" in outer and "LeftAnti" in outer, plan
    assert "BroadcastExchange" not in outer, plan
    _assert_one_exchange_per_epoch(plan)


@pytest.fixture(scope="module")
def stream_job(spark, tmp_path_factory):
    """A streaming ingest driven through apply_batch: micro-batch 0 loads
    1200 events, micro-batch 1 (300 events) is a steady-state batch
    against written files. Micro-batch 1's write (commit_epoch) runs
    under its own job group; its plan is kept as planned at commit time."""
    from transcript_cdc.streaming import StreamConfig, StreamingIngest

    base = tmp_path_factory.mktemp("plans_stream")
    spec = StreamSpec(n_conversations=300, avg_turns=4, update_ratio=0.4,
                      delete_ratio=0.1, seed=5, events_per_file=300)
    feed = str(base / "feed")
    write_change_feed(spec, feed)
    si = StreamingIngest(spark, feed, str(base / "stream"), str(base / "ckpt"),
                         StreamConfig(n_buckets=4))
    changes = ChangeFeed(spark, feed)
    si.apply_batch(changes.read_range(-1, 1199), 0)

    sc = spark.sparkContext
    group = f"plans-stream-write-{id(si)}"
    commit = si.table.commit_epoch

    def commit_in_group(epoch, new_state, *args, **kwargs):
        si.live_plan = plan_of(new_state)
        sc.setJobGroup(group, "stream write job-count probe")
        try:
            return commit(epoch, new_state, *args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    si.table.commit_epoch = commit_in_group
    si.apply_batch(changes.read_range(1199, 1499), 1)
    si.write_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return si


def test_stream_micro_batch_plan_shape(stream_job):
    """A steady-state streaming micro-batch writes through the shared COW
    core: control pass with key lists, window dedup, and the routed
    versioned merge — the snapshot and the batch each cross ONE exchange
    on __range_tok, which the max-lsn window over their union reuses;
    never the sampled RangePartitioner (whose sampling pass would
    evaluate the versioned merge a second time)."""
    import re

    plan = stream_job.live_plan
    m = stream_job.table.last_committed()["metrics"]
    assert (m["mode"], m["control"], m["dedup"]) == (
        "streaming", "groupby-collect", "window"), m
    assert len(re.findall(r"Exchange hashpartitioning\(__range_tok", plan)) == 2, plan
    assert "rangepartitioning" not in plan, plan
    assert "Window" in plan and "Union" in plan, plan
    assert "EvalPython" not in plan, plan  # the normalizer runs in the JVM
    _assert_one_exchange_per_epoch(plan)


def test_stream_micro_batch_launches_no_sampling_job(stream_job):
    """Job-group probe over the steady-state micro-batch's write: AQE runs
    each exchange of the write plan as one job and the write itself as one
    more, so any job beyond that is a range partitioner's sampling job."""
    import re

    exchanges = re.findall(r"Exchange \w+partitioning",
                           _outside_cache(stream_job.live_plan))
    sampling_jobs = stream_job.write_jobs - (len(exchanges) + 1)
    assert sampling_jobs == 0, (stream_job.write_jobs, exchanges)
