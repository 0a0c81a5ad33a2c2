"""CdcIngestJob — the epoch loop (SURVEY.md §3.1 Spark restatement).

One spark-submit job replaces the reference's EventBridge→Lambda→Glue→S3→
Lambda→Batch→OpenSearch chain (ETL/etl/etl_stack.py, trigger lambdas,
batch_ecs containers): read committed-offset ledger → scan the WAL slice →
Arrow-normalize text → within-batch LWW dedup → bucket + salt → MERGE
against the touched snapshot buckets → atomically commit data + manifest.

Per-epoch dataflow (shuffles annotated). MOR epochs run ONE full-payload
shuffle: the default ``clustered`` LWW strategy windows over the write
clustering (bucket[, salt]) so the dedup and the sink repartition are the
same exchange (operators/dedup.lww_dedup_clustered). COW epochs run the
copy-on-write core ``CowEpoch``, which StreamingIngest.apply_batch shares:

  changes(lsn∈(lo,hi])     parquet scan, lsn range pushed down (streaming:
                           one foreachBatch micro-batch)
    → lww_dedup            SHUFFLE 1: hash(conv_id,turn_idx) window
    → normalize_text       Arrow, narrow, winners only
    → __bucket = pmod(xxhash64(conv_id), N), persisted; control pass
    ⨝ snapshot(HOT FILES of touched buckets), both sides cast to the evolved
                           schema. Hot files = the manifest's per-file
                           key-range stats ∩ this batch's key set
                           (plan_cow_merge); untouched files carry forward
                           unread. Batch: survivor anti join, by key count
                           ≤ broadcast_max_rows → broadcast; ≤
                           merge_hash_prefilter_max_keys → broadcast the
                           bucketed key hashes (built inside the write
                           query), only hash hits pay the exact SMJ;
                           beyond → SMJ. Streaming: the versioned merge, one
                           max-lsn window over snapshot ∪ batch.
    → range-cluster on (bucket, conv_id)   SHUFFLE 2, split points from the
                           hot files' footer stats + the batch key lists, so
                           each file covers a tight key interval and the
                           NEXT epoch's pruning stays selective (mor:
                           salted repartition by bucket)
    → write data/epoch=K/ + manifest commit (+ footer key stats)

At 10^10 events the loop is bounded per-epoch: cost scales with
|epoch slice| + |files containing batch keys|, never with |full table|,
|touched buckets| or |full feed| (no collect of data — MOR epochs run ONE
Spark job, the observed write; COW epochs add a single bounded control
pass: while the key set is collectable, ≤n_buckets count rows + the capped
distinct-key lists that drive file pruning; past the cap, an Observation
riding the cache materialization + one count() scalar — SURVEY.md §7
hard #5).
"""

from __future__ import annotations

import time
from collections.abc import Sequence
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from transcript_cdc import schemas
from transcript_cdc.functions.normalize import normalize_text, normalize_text_sql
from transcript_cdc.operators.dedup import lww_dedup, lww_dedup_clustered
from transcript_cdc.operators.merge import (
    merge_apply,
    merge_apply_versioned,
    # Unused here; the benchmark tracer (perfbench/spans.py) patches this
    # module binding by name, so it stays until the tracer drops it.
    survivors_anti_join,  # noqa: F401
)
from transcript_cdc.plans.control import JobControl, job_group
from transcript_cdc.operators.rangewrite import (
    assign_range_partition,
    plan_range_bounds,
)
from transcript_cdc.operators.skew import (
    choose_salt,
    heavy_hitter_probe,
    lagged_salt,
    salted_repartition,
)
from transcript_cdc.sources.changes import ChangeFeed
from transcript_cdc.sources.lake import (
    BUCKET_COL,
    MergeOnReadTable,
    ParquetSnapshotTable,
    bucket_expr,
    empty_df,
)


@dataclass
class IngestConfig:
    n_buckets: int = 16
    epoch_events: int = 1_000_000  # LSN window per epoch (micro-batch size)
    normalize: bool = True
    arrow_normalizer: bool = True  # False → pure-SQL normalizer (no NFC)
    broadcast_max_rows: int = 2_000_000
    # Middle survivor regime for the COW merge (operators/merge.py
    # survivors_anti_join): when the epoch's key count exceeds
    # broadcast_max_rows (full string keys won't fit executor memory —
    # a raised string cap OOM-looped 6 GiB executors, CHANGES_r4.md #20)
    # but stays under this bound, broadcast the xxhash64(key) longs as
    # top-bit hash buckets (one collect_set row per 16-32 hashes, ~8
    # bytes/key plus a small per-bucket row, against the ~100+ bytes/key
    # of the OOM-rejected one-row-per-key relation) and let an
    # array_contains probe route provably-untouched snapshot rows around
    # the sort-merge anti join; only the hash hits pay the exact SMJ.
    # Size against that broadcast's executor and driver headroom when
    # raising it. Past this bound the ladder falls to full SMJ.
    merge_hash_prefilter_max_keys: int = 16_000_000
    # True → exact in-epoch heavy-hitter probe (one extra Spark job per
    # epoch, per-key counts in the manifest). Default: salt from the
    # previous manifest's bucket_rows (lagged_salt) — zero extra jobs.
    probe_heavy_hitters: bool = False
    write_partitions: int | None = None  # None → spark.sql.shuffle.partitions
    # "cow": per-epoch MERGE + touched-bucket rewrite (read-optimized).
    # "mor": per-epoch delta append + LWW fold at read (write-optimized —
    #        the Iceberg-v2 upsert shape for high-update feeds).
    storage: str = "cow"
    # Pipelined MOR epoch loop (round-5, verdict #4): run epoch k's write
    # action on a worker thread while the driver PLANS epoch k+1 (batch
    # construction + forced Catalyst analysis) and commits k's manifest —
    # the 0.55-0.65 s/epoch driver-serial gap (planning + submission +
    # commit bookkeeping) overlaps the previous epoch's stages instead of
    # serializing between them. Exactly-once is untouched: data lands in
    # invisible attempt dirs, manifests commit strictly in epoch order on
    # the driver thread, and a crash mid-pipeline orphans at most one
    # uncommitted attempt dir (reclaimed by expire, replayed on resume).
    # Lag signals (salt, dedup strategy) read the last COMMITTED manifest,
    # so the predictor runs at lag-2 instead of lag-1 — a heuristics-only
    # change (mispredicts cost one suboptimal epoch, never a wrong
    # result). Applies to run() with storage="mor" and compact_every=0
    # (interleaved compaction commits need the serial ledger walk).
    pipeline_epochs: bool = True
    compact_every: int = 0  # mor only: auto-compact every K epochs (0 = never)
    # mor only: auto-compaction rewrites ONLY buckets whose delta chain
    # exceeds this many files (Iceberg binpack-style targeted maintenance);
    # 0 = full compaction of every non-empty bucket.
    compact_min_files: int = 0
    expire_on_compact: bool = False  # GC superseded files after each compaction
    # File-granular COW (Iceberg-style metadata pruning of the MERGE write
    # side): rewrite only the files whose key range intersects the batch.
    file_granular_cow: bool = True
    # Collect the batch's distinct keys for pruning only when bounded;
    # larger batches fall back to whole-bucket rewrite (a 10^10-scale epoch
    # of 1M events has ~1e5 distinct conversations — well under this).
    file_prune_max_keys: int = 200_000
    # Self-compaction bound: a bucket fragmented past this many files is
    # rewritten in full, so partial rewrites can't grow file counts forever.
    max_files_per_bucket: int = 64
    # LWW dedup strategy (operators/dedup.py): "auto" picks "broadcast"
    # (winner max-lsn set built from a column-pruned scan + broadcast semi
    # join — the full-payload batch is never shuffled) only when the lagged
    # key count predicts BOTH a broadcastable winner set (≤ half of
    # broadcast_max_rows) and real churn collapse (keys ≤ epoch_events/4):
    # on a low-churn feed the winner set ≈ the batch itself, so the build's
    # driver collect+rebroadcast costs more than the payload shuffle it
    # avoids (measured 2x slower at churn ~1.15; 2.4x faster at high
    # churn). Otherwise MOR epochs default to "clustered" — the dedup
    # window runs over the write clustering (bucket[, salt]) so dedup and
    # sink share ONE exchange (operators/dedup.lww_dedup_clustered;
    # measured 1.3-1.4x per-epoch on the cross-JVM topology) — and COW
    # epochs to "window". "window"/"broadcast" force one strategy for
    # either storage; "clustered" is MOR-only.
    dedup_strategy: str = "auto"
    extra: dict = field(default_factory=dict)


def pick_dedup_strategy(cfg: IngestConfig, table: ParquetSnapshotTable) -> str:
    """Pick the LWW dedup plan for this epoch (cfg.dedup_strategy).

    "auto" chooses "broadcast" — the full-payload batch is never
    shuffled; only |distinct keys| narrow rows move — when the lagged
    key count (previous epoch's post-dedup key count, same
    lagged-predictor shape as the salt and the control-path gate; CDC
    epoch key counts are stable under a fixed LSN window) predicts
    both bounds of the win condition:

    - broadcastable: keys*2 ≤ broadcast_max_rows (the winner set is
      collected to the driver and rebroadcast — that round trip must
      stay small in absolute terms);
    - high churn: keys*4 ≤ epoch_events. The broadcast plan's payoff
      is the payload shuffle it avoids; at churn ~1 (mostly-insert
      feeds) the winner set ≈ the batch, so the build pass + driver
      round trip is pure overhead (A/B-measured 2x slower), while at
      churn ≥~4 the avoided exchange dominates (measured 2.4x faster
      on a high-churn 16M-event feed).

    No lag signal (first epoch) → "window", the safe default. A
    mispredict costs one suboptimal epoch, never a wrong result — lsn
    uniqueness makes all strategies value-identical."""
    if cfg.dedup_strategy != "auto":
        return cfg.dedup_strategy
    last_keys = _lagged_keys(table)
    if 0 < last_keys * 2 <= cfg.broadcast_max_rows and last_keys * 4 <= cfg.epoch_events:
        return "broadcast"
    # MOR's default: the single-exchange clustered window (the dedup
    # rides the write-clustering shuffle — measured 1.3-1.4x faster per
    # epoch on the cross-JVM topology and value-identical). COW keeps the
    # key window: its merge survivors would have to ride a deferred
    # window too (the fused COW epoch, A/B-rejected at 0.85-0.91x,
    # CHANGES_r4.md #19).
    return "clustered" if cfg.storage == "mor" else "window"


def _lagged_keys(table: ParquetSnapshotTable) -> int:
    """The last committed epoch's post-dedup key count (0 before any)."""
    metrics = (table.last_committed() or {}).get("metrics") or {}
    return int(metrics.get("keys") or 0)


class CowEpoch:
    """The copy-on-write epoch core, shared by CdcIngestJob and
    StreamingIngest.apply_batch. ``versioned`` picks the merge:
    merge_apply with its survivor ladder (batch: every event of the epoch
    is newer than the table) or merge_apply_versioned (streaming: lsn/op
    live in the table and the max lsn wins per key)."""

    def __init__(self, spark: SparkSession, table: ParquetSnapshotTable,
                 cfg: IngestConfig, versioned: bool = False):
        self.spark, self.table, self.cfg = spark, table, cfg
        self.versioned = versioned

    @contextmanager
    def plan(self, raw: DataFrame, epoch: int):
        """LWW dedup → normalize → bucket, persisted; then the bounded
        control pass (_control), the merge against only the hot files of
        the touched buckets (_merge) and the stats-routed range write
        (_write). Yields the planned epoch: ``ctl`` (keys, deletes,
        touched buckets; lsn_lo/lsn_hi when versioned) and, unless the
        batch is empty (``new_state`` None), ``new_state``, ``schema``,
        ``kept`` and the manifest ``metrics``. The caller commits inside
        the block, while the batch is still persisted. Two Spark jobs: the
        control pass + the merge write."""
        cfg, table = self.cfg, self.table
        strategy = pick_dedup_strategy(cfg, table)
        # Dedup runs FIRST: the winner is chosen by lsn, never by text, so
        # normalizing only the surviving rows is equivalent and sends
        # fewer rows through the Arrow python workers.
        batch = lww_dedup(raw, schemas.KEY_COLS, schemas.LSN_COL, strategy)
        if cfg.normalize and "text" in batch.columns:
            norm = normalize_text("text") if cfg.arrow_normalizer else normalize_text_sql("text")
            batch = batch.withColumn("text", norm)
        batch = batch.withColumn(
            BUCKET_COL, bucket_expr(table.n_buckets, table.meta["bucket_by"])
        )
        # Lagged size gate (as for the salt): when the previous epoch's key
        # count says the key lists would be discarded, the control metrics
        # ride the cache materialization as an Observation instead.
        # Under-predict pays one epoch of capped transfer; _control
        # recovers an over-predict.
        obs = None
        if not (
            cfg.file_granular_cow
            and _lagged_keys(table) <= cfg.file_prune_max_keys
            and table.has_live_files()
        ):
            obs = Observation(f"epoch-{epoch}-control")
            batch = batch.observe(
                obs, *self._counts(), F.collect_set(F.col(BUCKET_COL)).alias("buckets")
            )
        batch = batch.persist()
        try:
            ctl = self._control(batch, obs)
            if ctl["keys"] == 0:
                yield {"ctl": ctl, "new_state": None}
                return
            hot, kept = table.plan_cow_merge(
                ctl["touched"], ctl["keys_by_bucket"], cfg.max_files_per_bucket
            )
            merged, new_schema, merge_anti = self._merge(batch, hot, ctl["keys"])
            yield {
                "ctl": ctl,
                "new_state": self._write(merged, hot, ctl["keys_by_bucket"]),
                "schema": new_schema,
                "kept": kept,
                "metrics": {
                    "storage": "cow",
                    "keys": ctl["keys"],
                    "deletes_in_batch": ctl["deletes"],
                    "files_rewritten": len(hot),
                    "files_kept": sum(len(v) for v in kept.values()),
                    "control": ctl["control"],
                    "merge_anti": merge_anti,
                    "dedup": strategy,
                },
            }
        finally:
            batch.unpersist()

    def _counts(self) -> list:
        """The control pass's batch counts. A versioned (streaming)
        micro-batch is not an LSN window, so its lsn range is counted too."""
        aggs = [
            F.count(F.lit(1)).alias("keys"),
            F.sum((F.col(schemas.OP_COL) == "D").cast("long")).alias("deletes"),
        ]
        if self.versioned:
            aggs += [
                F.min(schemas.LSN_COL).alias("lsn_lo"),
                F.max(schemas.LSN_COL).alias("lsn_hi"),
            ]
        return aggs

    def _control(self, batch: DataFrame, obs: Observation | None) -> dict:
        """The epoch's one bounded control pass over the persisted batch:
        key/delete counts, touched buckets and — while collectable — the
        per-bucket sorted key lists that drive file pruning.

        - ``groupby-collect`` (``obs`` is None): a groupBy(bucket) collect
          of ≤ n_buckets rows, each key list capped at
          ``file_prune_max_keys``+1 elements so an oversized bucket
          degrades to whole-bucket rewrite instead of unbounded driver
          transfer.
        - ``observe-count``: the counts ride the cache materialization as
          the Observation ``obs`` — one count() scalar round trip, no
          per-bucket aggregate (profiled: the groupBy+collect leg cost
          ~14s per 8M-event epoch at 4 executors).
        - ``observe-collect``: the observation proved the key set
          collectable although the lagged count said otherwise (the first
          incremental epoch after a large backfill). Without the key lists
          plan_cow_merge would rewrite every touched bucket in full, so
          one aggregate over the cached batch buys the pruning back."""
        lim = self.cfg.file_prune_max_keys
        key_list = F.slice(
            F.sort_array(F.collect_set(F.col(self.table.meta["bucket_by"]))),
            1,
            lim + 1,
        ).alias("key_list")
        if obs is None:
            rows = batch.groupBy(BUCKET_COL).agg(*self._counts(), key_list).collect()
            ctl = {
                "keys": sum(int(r["keys"]) for r in rows),
                "deletes": sum(int(r["deletes"] or 0) for r in rows),
                "touched": [int(r[BUCKET_COL]) for r in rows],
                "control": "groupby-collect",
            }
            if self.versioned and rows:
                ctl["lsn_lo"] = min(int(r["lsn_lo"]) for r in rows)
                ctl["lsn_hi"] = max(int(r["lsn_hi"]) for r in rows)
        else:
            batch.count()  # one pass: materialize cache + fire observe
            om = obs.get
            ctl = {
                "keys": int(om.get("keys") or 0),
                "deletes": int(om.get("deletes") or 0),
                "touched": sorted(int(b) for b in (om.get("buckets") or [])),
                "control": "observe-count",
            }
            if self.versioned:
                ctl["lsn_lo"], ctl["lsn_hi"] = om.get("lsn_lo"), om.get("lsn_hi")
            rows = None
            if (
                self.cfg.file_granular_cow
                and 0 < ctl["keys"] <= lim
                and self.table.has_live_files()
            ):
                rows = batch.groupBy(BUCKET_COL).agg(key_list).collect()
                ctl["control"] = "observe-collect"
        # A missing bucket entry means "unknown" → plan_cow_merge rewrites
        # that whole bucket; buckets whose key set overflowed the slice cap
        # are simply left out.
        ctl["keys_by_bucket"] = (
            {
                str(int(r[BUCKET_COL])): list(r["key_list"])
                for r in rows
                if r["key_list"] is not None and len(r["key_list"]) <= lim
            }
            if rows is not None and ctl["keys"] <= lim
            else None
        )
        return ctl

    def _merge(self, batch: DataFrame, hot: list, n_keys: int) -> tuple:
        """Schema evolution, then the merge of the batch into the hot
        files. Returns (merged, new_schema, merge_anti): the survivor rung,
        None for the versioned merge."""
        # Schema evolution: union-by-name the batch's payload columns
        # into the table schema (additive only).
        new_schema = schemas.evolve(
            self.table.current_schema(),
            batch.drop(schemas.LSN_COL, schemas.OP_COL, BUCKET_COL).schema,
        )
        # Type-widening evolution: both merge sides are cast to the
        # evolved schema EXPLICITLY (the rewritten files carry the wide
        # type; untouched narrow files upcast at read under the wide
        # table schema) — the union must never rely on implicit coercion.
        snapshot = schemas.align_types(
            self.table.read_files(self.spark, hot), new_schema
        )
        batch_al = schemas.align_types(batch.drop(BUCKET_COL), new_schema)
        if self.versioned:
            merged = merge_apply_versioned(snapshot, batch_al, key_cols=schemas.KEY_COLS)
            return merged, new_schema, None
        # The survivor ladder (operators/merge.survivors_anti_join), by the
        # epoch's exact key count: broadcast → hash prefilter → SMJ.
        if n_keys <= self.cfg.broadcast_max_rows:
            merge_anti = "broadcast"
        elif n_keys <= self.cfg.merge_hash_prefilter_max_keys:
            merge_anti = "hash"
        else:
            merge_anti = "smj"
        merged = merge_apply(
            snapshot,
            batch_al,
            key_cols=schemas.KEY_COLS,
            broadcast_batch=merge_anti == "broadcast",
            hash_prefilter=merge_anti == "hash",
            n_keys=n_keys,
        )
        return merged, new_schema, merge_anti

    def _write(
        self, merged: DataFrame, hot: list, keys_by_bucket: dict | None
    ) -> DataFrame:
        """The range-clustered write plan. The bucket is re-derived from
        conv_id (deterministic), then the write is RANGE-clustered on
        (bucket, key): each output file covers a tight key interval, which
        is exactly what makes the next epoch's file pruning selective.

        Range clustering WITHOUT repartitionByRange: its RangePartitioner
        samples the child plan, which here is the merge itself — the hot
        set would be scanned and merged TWICE per epoch (measured: the
        sampling job costs about as much as the exchange map stage), plus
        one extra driver-serial job, and the sample is seeded by the RDD
        id, so the layout would depend on how many RDDs the application
        built before. The epoch already knows the key distribution — hot
        files' footer stats + the control pass's batch key lists — so
        split points are computed driver-side and each row is routed to
        its range's exact reducer (operators/rangewrite.py). Deterministic
        output placement, merge evaluated exactly once."""
        key_col = self.table.meta["bucket_by"]
        new_state = merged.withColumn(
            BUCKET_COL, bucket_expr(self.table.n_buckets, key_col)
        )
        n_parts = self.cfg.write_partitions or int(
            self.spark.conf.get("spark.sql.shuffle.partitions")
        )
        atoms = self.table.write_atoms(hot)
        if keys_by_bucket is not None:
            atoms += [
                (int(b), k, 1.0) for b, ks in keys_by_bucket.items() for k in ks
            ]
        if atoms:
            bounds = plan_range_bounds(atoms, n_parts)
            new_state = assign_range_partition(
                new_state, bounds, n_parts, BUCKET_COL, key_col
            )
        else:
            # No stats at all (the table's first epoch: no files, and the
            # control pass collected no key lists): fall back to sampled
            # range partitioning — correctness identical, just pays the
            # sampling pass this once.
            new_state = new_state.repartitionByRange(
                n_parts, F.col(BUCKET_COL), F.col(key_col)
            )
        return new_state.sortWithinPartitions(BUCKET_COL, key_col)


class CdcIngestJob:
    """Replay a change feed into a ParquetSnapshotTable, epoch by epoch."""

    def __init__(
        self,
        spark: SparkSession,
        changes_path: str,
        table_root: str,
        config: IngestConfig | None = None,
    ):
        self.spark = spark
        self.cfg = config or IngestConfig()
        strategies = {"auto", "window", "broadcast"}
        if self.cfg.storage == "mor":
            strategies.add("clustered")
        if self.cfg.dedup_strategy not in strategies:
            raise ValueError(
                f"dedup_strategy={self.cfg.dedup_strategy!r} is not one of "
                f"{sorted(strategies)} for storage={self.cfg.storage!r}"
            )
        self.feed = ChangeFeed(spark, changes_path)
        cls = MergeOnReadTable if self.cfg.storage == "mor" else ParquetSnapshotTable
        self.table = cls(table_root)
        if not self.table.exists():
            schema = (
                schemas.VERSIONED_TRANSCRIPT_SCHEMA
                if self.cfg.storage == "mor"
                else schemas.TRANSCRIPT_SCHEMA
            )
            cls.create(
                table_root,
                schema,
                n_buckets=self.cfg.n_buckets,
                key_cols=schemas.KEY_COLS,
            )
        elif self.table.meta.get("storage", "cow") != self.cfg.storage:
            raise ValueError(
                f"table at {table_root} has storage="
                f"{self.table.meta.get('storage', 'cow')!r}, config wants "
                f"{self.cfg.storage!r}"
            )
        self.control = JobControl(table_root)

    # ---------- resume ----------

    def resume_point(self) -> tuple[int, int]:
        """(next_epoch, last_committed_lsn). Reference analogue:
        trigger_01_glue.py:23-30 reading metadata.json."""
        last = self.table.last_committed()
        if last is None:
            return 0, -1
        return int(last["epoch"]) + 1, int(last["lsn_hi"])

    # ---------- the epoch ----------

    def run_epoch(self, epoch: int, lsn_lo_excl: int, lsn_hi_incl: int) -> dict:
        """Process one LSN window; returns the commit metrics dict.

        Idempotent: if the epoch is already committed this is a no-op
        (exactly-once re-run guard — the upgrade over the reference's
        at-least-once retry loops, pipeline.py:74-90)."""
        if self.table.is_committed(epoch):
            return {"epoch": epoch, "skipped": "already-committed"}
        t0 = time.time()
        raw = self.feed.read_range(lsn_lo_excl, lsn_hi_incl)
        if self.cfg.storage == "mor":
            return self._run_epoch_mor(epoch, lsn_lo_excl, lsn_hi_incl, raw, t0)
        return self._run_epoch_cow(epoch, lsn_lo_excl, lsn_hi_incl, raw, t0)

    def _run_epoch_mor(
        self, epoch: int, lsn_lo: int, lsn_hi: int, raw: DataFrame, t0: float
    ) -> dict:
        planned = self._plan_epoch_mor(epoch, lsn_lo, lsn_hi, raw, t0)
        return self._commit_planned_mor(planned)

    def _plan_epoch_mor(
        self, epoch: int, lsn_lo: int, lsn_hi: int, raw: DataFrame, t0: float
    ) -> dict:
        """Merge-on-read epoch: the dedup'd batch IS the delta (lsn/op kept,
        deletes as tombstones). No snapshot read, no merge join, no rewrite —
        write cost is O(batch) regardless of table size; readers fold LWW.

        ONE Spark action per epoch — the observed write (AQE materializes
        it as ~3 query-stage jobs; steady-state driver gap before the
        first of them measured 0.55-0.65 s from Spark event logs; the
        pipelined loop's receipt is bench/pipelined_gap_r5.json, and
        ``perfbench/run.py --workload mor_merge --trace 1`` reports the gap
        as ``ingest.driver_gap_s``). Round 1 ran three
        driver-serial control jobs before it (persist materialization,
        per-bucket count collect, heavy-hitter probe; measured ~0.1-1s of
        un-parallelizable wall each). All three are folded away:
        - epoch metrics and the touched-bucket list ride the write job as a
          pyspark ``Observation`` (computed as a side effect of the same
          pass that writes — commit_epoch reads them after the action);
        - the salt comes from the PREVIOUS manifest's per-bucket row counts
          (operators/skew.lagged_salt) — zero extra jobs;
        - with a single action there is nothing to persist.

        And ONE full-payload exchange inside that action (round 4): the
        default ``clustered`` LWW strategy runs the dedup window OVER the
        write clustering (bucket[, salt]) instead of over the key, so the
        sink's repartition and the dedup shuffle are the same exchange
        (operators/dedup.lww_dedup_clustered; plan pinned in
        tests/test_plans.py). ``window``/``broadcast`` keep the classic
        dedup-then-repartition shape.
        """
        strategy = pick_dedup_strategy(self.cfg, self.table)
        new_schema = schemas.evolve(self.table.current_schema(), raw.schema)
        # Type-widening evolution (int→long, float→double): delta files are
        # written at the table's (possibly widened) types so a chain never
        # mixes widths within one epoch; older narrow files upcast at fold.
        aligned = schemas.align_types(raw, new_schema)
        bucketed = aligned.withColumn(
            BUCKET_COL, bucket_expr(self.table.n_buckets, self.table.meta["bucket_by"])
        )
        if self.cfg.probe_heavy_hitters:
            # Legacy opt-in: an exact in-epoch probe (one extra job) whose
            # per-key counts land in the manifest for skew diagnostics.
            # Probes POST-dedup rows (write-side skew is what the salt
            # spreads), over its own window-dedup view — the probe is its
            # own Spark job either way, and the write plan below stays
            # strategy-chosen.
            hh = heavy_hitter_probe(
                lww_dedup(bucketed, schemas.KEY_COLS, schemas.LSN_COL),
                "conv_id",
            )
            salt, salt_source = choose_salt(hh), "probe"
        else:
            hh = []
            salt, salt_source = lagged_salt(self.table.last_committed()), "lagged"
        norm = None
        if self.cfg.normalize and "text" in raw.columns:
            norm = (
                normalize_text("text")
                if self.cfg.arrow_normalizer
                else normalize_text_sql("text")
            )
        if strategy == "clustered":
            # Single-exchange epoch: repartition on the write clustering,
            # then the window piggybacks on that exchange (its required
            # distribution is satisfied — no second shuffle). The salt key
            # is a function of the FULL key, so key groups stay co-located
            # and LWW is exact for any salt (§7.2: salting never coarsens
            # the dedup key). Normalization runs on winners only, after the
            # filter — same row count as the classic dedup-first order.
            batch = salted_repartition(
                bucketed,
                [BUCKET_COL],
                salt,
                num_partitions=self.cfg.write_partitions,
            )
            cluster_cols = [BUCKET_COL] if salt <= 1 else [BUCKET_COL, "__salt"]
            if salt > 1:
                # Re-derive the same salt key the repartition used so the
                # window can cluster on it (deterministic in the key).
                batch = batch.withColumn(
                    "__salt",
                    F.pmod(
                        F.xxhash64(*[F.col(c) for c in ("conv_id", "turn_idx")]),
                        F.lit(salt),
                    ),
                )
            batch = lww_dedup_clustered(
                batch, schemas.KEY_COLS, schemas.LSN_COL, cluster_cols
            )
            if salt > 1:
                batch = batch.drop("__salt")
            if norm is not None:
                batch = batch.withColumn("text", norm)
        else:
            batch = lww_dedup(
                bucketed, schemas.KEY_COLS, schemas.LSN_COL, strategy
            )
            if norm is not None:
                batch = batch.withColumn("text", norm)
            # Spread hot buckets with a salt derived from the full key —
            # salting the write shuffle only, never the dedup window (§7.2).
            batch = salted_repartition(
                batch, [BUCKET_COL], salt, num_partitions=self.cfg.write_partitions
            )
        obs = Observation(f"epoch-{epoch}")
        observed = batch.observe(
            obs,
            F.count(F.lit(1)).alias("keys"),
            F.sum((F.col(schemas.OP_COL) == "D").cast("long")).alias("deletes"),
            F.collect_set(F.col(BUCKET_COL)).alias("buckets"),
        )
        # Key-sort within write tasks (no extra shuffle): every delta file
        # lands (key..., lsn)-sorted like the compacted bases, so the
        # ranged MOR fold's per-key-range reads prune row groups instead
        # of rescanning the chain, and files_for_key point-read stats stay
        # tight. Leading BUCKET_COL keeps the dynamic-partition writer's
        # required ordering satisfied (no second sort in the plan). In the
        # clustered path rows already stream in this order; the explicit
        # sort re-sorts sorted runs (the Arrow normalizer hides plan-visible
        # ordering, so the writer would otherwise add its own bucket-only,
        # stability-unspecified sort).
        new_state = observed.sortWithinPartitions(
            BUCKET_COL, *self.table.key_cols, schemas.LSN_COL
        )
        self._last_epoch_plan = new_state  # plan-shape introspection (tests)
        metrics = {
            "storage": "mor",
            "heavy_hitters": hh[:5],
            "salt": salt,
            "salt_source": salt_source,
            "dedup": strategy,
            "duration_prepare_s": round(time.time() - t0, 3),
        }
        return {
            "epoch": epoch,
            "lsn_lo": lsn_lo,
            "lsn_hi": lsn_hi,
            "new_state": new_state,
            "obs": obs,
            "metrics": metrics,
            "schema": new_schema,
            "salt": salt,
            "t0": t0,
        }

    def _write_planned(self, planned: dict):
        """Worker-thread half of the pipelined epoch: run the write action
        into an invisible attempt dir (lake.write_epoch_data). Job-group is
        re-pinned here because Spark local properties are PER PYTHON
        THREAD — without it, control.cancel_inflight() could not kill a
        pipelined epoch's jobs (T5)."""
        sc = self.spark.sparkContext
        sc.setJobGroup(
            job_group(self.table.root),
            f"cdc-ingest {self.table.root}",
            interruptOnCancel=True,
        )
        return self.table.write_epoch_data(planned["epoch"], planned["new_state"])

    def _commit_planned_mor(self, planned: dict, pre_written=None) -> dict:
        """Commit a planned MOR epoch. ``pre_written`` is the worker
        thread's (epoch_dir, write_seconds) in pipelined mode — the commit
        then re-evolves the manifest schema against the CURRENT table
        schema: epoch k+1 was planned before epoch k committed, so if k
        evolved the schema, committing k+1's plan-time schema verbatim
        would REGRESS the table schema (k+1's delta files simply lack the
        new columns / carry the narrower width — exactly the case the MOR
        fold already upcasts and null-fills per file)."""
        schema = planned["schema"]
        if pre_written is not None:
            schema = schemas.evolve(self.table.current_schema(), schema)
        committed = self.table.commit_epoch(
            planned["epoch"],
            planned["new_state"],
            None,  # touched buckets read from the observation post-write
            planned["lsn_lo"],
            planned["lsn_hi"],
            schema,
            planned["metrics"],
            append=True,
            observation=planned["obs"],
            pre_written=pre_written,
        )
        om = planned["obs"].get if committed else {}
        return {
            "epoch": planned["epoch"],
            "keys": int(om.get("keys") or 0),
            "touched_buckets": len(om.get("buckets") or []),
            "salt": planned["salt"],
            "committed": committed,
            "seconds": round(time.time() - planned["t0"], 3),
        }

    def _run_epoch_cow(
        self, epoch: int, lsn_lo: int, lsn_hi: int, raw: DataFrame, t0: float
    ) -> dict:
        """Copy-on-write epoch: the shared core (CowEpoch) plans it; an
        empty batch still commits, so the ledger advances past its LSNs."""
        with CowEpoch(self.spark, self.table, self.cfg).plan(raw, epoch) as ep:
            ctl = ep["ctl"]
            if ep["new_state"] is None:
                self.table.commit_epoch(
                    epoch,
                    empty_df(self.spark, self._state_schema()),
                    [],
                    lsn_lo,
                    lsn_hi,
                    self.table.current_schema(),
                    {"events_in": 0, "keys": 0},
                )
                return {"epoch": epoch, "keys": 0}
            self._last_epoch_plan = ep["new_state"]  # plan-shape introspection
            committed = self.table.commit_epoch(
                epoch,
                ep["new_state"],
                ctl["touched"],
                lsn_lo,
                lsn_hi,
                ep["schema"],
                {**ep["metrics"], "duration_prepare_s": round(time.time() - t0, 3)},
                kept_files=ep["kept"],
            )
            return {
                "epoch": epoch,
                "keys": ctl["keys"],
                "touched_buckets": len(ctl["touched"]),
                "committed": committed,
                "seconds": round(time.time() - t0, 3),
            }

    def _state_schema(self):
        from pyspark.sql import types as T

        s = self.table.current_schema()
        return T.StructType(
            list(s.fields) + [T.StructField(BUCKET_COL, T.IntegerType())]
        )

    # ---------- the loop ----------

    def run(self, max_epochs: int | None = None, up_to_lsn: int | None = None) -> list[dict]:
        """Resume from the ledger and replay forward in epoch_events windows.

        Epoch ids are re-read from the ledger every iteration (not counted
        locally) so interleaved commits — e.g. auto-compaction, which takes
        an epoch id of its own — can never collide with an ingest epoch.

        Control protocol (T5, plans/control.py): the table's control file
        is polled at every epoch boundary — a ``stop`` request drains the
        loop after the in-flight epoch commits; a ``min_engine_version``
        pin newer than this code raises UpgradeRequired (restart on
        current code resumes from the ledger). All Spark jobs run under a
        table-derived job group so cancel_inflight() can hard-kill the
        epoch mid-flight (recovered by the crash-mid-epoch path)."""
        self.control.check_version()
        sc = self.spark.sparkContext
        sc.setJobGroup(
            job_group(self.table.root),
            f"cdc-ingest {self.table.root}",
            interruptOnCancel=True,
        )
        results = []
        feed_max = self.feed.max_lsn() if up_to_lsn is None else up_to_lsn
        if (
            self.cfg.storage == "mor"
            and self.cfg.pipeline_epochs
            and not self.cfg.compact_every
        ):
            return self._run_pipelined_mor(max_epochs, feed_max)
        while True:
            if max_epochs is not None and len(results) >= max_epochs:
                break
            if self.control.should_stop():
                break
            epoch, lsn_hi = self.resume_point()
            if lsn_hi >= feed_max:
                break
            nxt = min(lsn_hi + self.cfg.epoch_events, feed_max)
            results.append(self.run_epoch(epoch, lsn_hi, nxt))
            if (
                self.cfg.storage == "mor"
                and self.cfg.compact_every
                and len(results) % self.cfg.compact_every == 0
            ):
                self.table.compact(
                    self.spark,
                    write_partitions=self.cfg.write_partitions,
                    min_files=self.cfg.compact_min_files,
                )
                if self.cfg.expire_on_compact:
                    # The compaction epoch replaced every bucket, so all
                    # older delta/base generations are now unreferenced.
                    self.table.expire()
        return results

    def _run_pipelined_mor(self, max_epochs: int | None, feed_max: int) -> list[dict]:
        """The pipelined MOR epoch loop (cfg.pipeline_epochs).

        Software pipeline, depth 1, three overlapped lanes per epoch k:

          worker thread : write k's data files (the Spark action)
          driver, during: PLAN k+1 — read_range → dedup/salt/normalize plan
                          → forced Catalyst analysis (the analyzed plan is
                          what the write command wraps, so the write's own
                          planning step starts from a warm tree)
          driver, after : submit k+1's write, THEN commit k's manifest —
                          the manifest/footer-stat bookkeeping overlaps
                          k+1's in-worker command planning and first stages

        Commit ORDER stays strictly sequential (manifest k before manifest
        k+1, both on the driver thread), which is what resume_point() and
        the exactly-once guarantees key on; only data-file writes overlap.
        Epoch ids and LSN windows advance locally instead of re-reading the
        ledger (safe: this path excludes interleaved compaction commits —
        cfg.compact_every forces the serial loop). A stop request drains
        exactly the in-flight epoch: the next epoch is never PLANNED once
        should_stop() is observed."""
        results: list[dict] = []
        if max_epochs is not None and max_epochs <= 0:
            # Serial-loop parity: run(max_epochs=0) is a no-op, not one
            # epoch (the in-loop guard only gates planning the NEXT one).
            return results
        epoch, lsn_hi = self.resume_point()
        if lsn_hi >= feed_max or self.control.should_stop():
            return results
        from concurrent.futures import ThreadPoolExecutor

        pool = ThreadPoolExecutor(max_workers=1, thread_name_prefix="cdc-write")
        try:
            # Epoch walls are attributed commit-to-commit: epoch k+1's
            # plan-time t0 is stamped WHILE epoch k's write is still
            # running, so `now - t0` would double-count the overlap
            # (summing above the loop's wall and understating the
            # sustained figure bench.py derives from per-epoch seconds).
            # Deltas between successive commit completions sum exactly to
            # the loop wall — the honest cadence of a pipelined loop.
            t_prev = time.time()
            nxt = min(lsn_hi + self.cfg.epoch_events, feed_max)
            planned = self._plan_epoch_mor(
                epoch, lsn_hi, nxt, self.feed.read_range(lsn_hi, nxt), time.time()
            )
            fut = pool.submit(self._write_planned, planned)
            while True:
                nplanned = None
                if (
                    (max_epochs is None or len(results) + 1 < max_epochs)
                    and planned["lsn_hi"] < feed_max
                    and not self.control.should_stop()
                ):
                    lo2 = planned["lsn_hi"]
                    hi2 = min(lo2 + self.cfg.epoch_events, feed_max)
                    nplanned = self._plan_epoch_mor(
                        planned["epoch"] + 1,
                        lo2,
                        hi2,
                        self.feed.read_range(lo2, hi2),
                        time.time(),
                    )
                    # Pre-pay analysis while epoch k's stages run (.schema
                    # forces it); the write command wraps the analyzed plan.
                    nplanned["new_state"].schema
                pre = fut.result()
                nfut = (
                    pool.submit(self._write_planned, nplanned)
                    if nplanned is not None
                    else None
                )
                res = self._commit_planned_mor(planned, pre_written=pre)
                now = time.time()
                res["seconds"] = round(now - t_prev, 3)
                t_prev = now
                results.append(res)
                if nplanned is None:
                    break
                planned, fut = nplanned, nfut
        finally:
            pool.shutdown(wait=True)
        return results

    # ---------- reads ----------

    def final_state(
        self, as_of_epoch: int | None = None, columns: Sequence[str] | None = None
    ) -> DataFrame:
        """Current (or as-of-epoch) resolved table state. ``columns``
        projects the read: on mor it is threaded into the Arrow fold's
        parquet reads (mapInArrow is opaque to Catalyst); on cow a plain
        select suffices — Catalyst prunes the scan."""
        if self.cfg.storage == "mor":
            return self.table.read_resolved(
                self.spark, as_of_epoch=as_of_epoch, columns=columns
            )
        df = self.table.read_snapshot(self.spark, as_of_epoch=as_of_epoch)
        return df if columns is None else df.select(*columns)
