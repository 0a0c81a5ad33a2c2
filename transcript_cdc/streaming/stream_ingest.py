"""Structured Streaming ingest — the continuous tail of the WAL directory.

Streaming restatement of the reference's event-driven path (S3 OBJECT_CREATED
→ Lambda → one Batch container per file, reference ETL/etl/etl_stack.py:213-219,
ETL/lambda/trigger_03_batch_job.py:10-54): here the file-arrival trigger is the
Structured Streaming file source discovering new WAL segments, and the
per-arrival unit of work is ``foreachBatch(batch_df, epoch_id)``.

Each micro-batch runs the same copy-on-write epoch core as the batch job
(plans/ingest.CowEpoch): LWW dedup → normalize → bucket, the bounded control
pass, the merge against only the hot files of the touched buckets with both
sides aligned to the evolved schema, and the stats-routed range write. What
differs is the merge flavour: micro-batches are file-granular and NOT
guaranteed lsn-contiguous, so the table stores ``lsn`` + ``op`` per row and
the merge is the LSN-versioned LWW (operators/merge.merge_apply_versioned): a
re-delivered or out-of-order event can never regress a newer row, and deletes
persist as tombstones that straggler events older than the delete still lose
to. The commit's lsn range is the micro-batch's own, taken from the control
pass.

Exactly-once composition (SURVEY.md §2.5 T2/T4/T6):
- the streaming **checkpointLocation** offset log tracks which WAL files each
  epoch consumed (the built-in upgrade of the reference's metadata.json
  cursor, ETL/glue/arxiv_feed.py:31-34);
- on restart, Spark re-delivers the last uncommitted epoch with the SAME
  epoch_id → ``ParquetSnapshotTable.is_committed(epoch)`` makes the re-apply
  a no-op (idempotent sink), provided the committed manifest carries this
  query's checkpoint id.

At scale this is the deployment mode for a live binlog: the batch job
(CdcIngestJob) is the backfill/replay tool over the same table format.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from transcript_cdc import schemas
from transcript_cdc.plans.control import JobControl
from transcript_cdc.plans.ingest import CowEpoch, IngestConfig
from transcript_cdc.sources.lake import ParquetSnapshotTable


class DrainRequested(RuntimeError):
    """Raised inside foreachBatch when the table's control file requests a
    stop (T5). Nothing from the in-flight micro-batch has committed, so the
    checkpoint re-delivers it with the same epoch_id after restart — the
    drain is exactly-once-safe by construction."""

# Table schema in streaming mode: payload + the version/op columns that make
# out-of-order merge resolvable (tombstones included). Canonical definition
# lives in schemas.py (shared with merge-on-read storage).
VERSIONED_TRANSCRIPT_SCHEMA = schemas.VERSIONED_TRANSCRIPT_SCHEMA


@dataclass
class StreamConfig:
    """The streaming query's settings. The COW epoch core it shares with
    the batch job runs with IngestConfig's defaults for everything else."""

    n_buckets: int = 16
    max_files_per_trigger: int = 8
    normalize: bool = True


class StreamingIngest:
    """readStream(WAL dir) → foreachBatch(versioned MERGE) → lake table."""

    def __init__(
        self,
        spark: SparkSession,
        changes_path: str,
        table_root: str,
        checkpoint_dir: str,
        config: StreamConfig | None = None,
        feed_schema: T.StructType | None = None,
    ):
        self.spark = spark
        self.changes_path = changes_path
        self.checkpoint_dir = checkpoint_dir
        self.cfg = config or StreamConfig()
        # Streaming file sources need the schema up front; use the evolved
        # superset — segments written before the evolution point simply yield
        # nulls for the late columns (additive evolution at read time).
        self.feed_schema = feed_schema or schemas.CHANGE_SCHEMA_EVOLVED
        self.table = ParquetSnapshotTable(table_root)
        if not self.table.exists():
            base = T.StructType(
                list(VERSIONED_TRANSCRIPT_SCHEMA.fields)
                + [
                    f
                    for f in self.feed_schema.fields
                    if f.name
                    not in {x.name for x in VERSIONED_TRANSCRIPT_SCHEMA.fields}
                    and f.name not in ("lsn", "op")
                ]
            )
            ParquetSnapshotTable.create(
                table_root, base, n_buckets=self.cfg.n_buckets,
                key_cols=schemas.KEY_COLS,
            )
        else:
            # foreachBatch epoch_ids are only meaningful RELATIVE TO ONE
            # checkpoint: a fresh checkpoint restarts them at 0, and the
            # is_committed() guard would then silently skip micro-batches of
            # NEW data against a previously-populated table. Fail fast here;
            # the per-commit checkpoint-id validation in apply_batch is the
            # second layer.
            if self.table.committed_epochs() and self._checkpoint_id() is None:
                raise ValueError(
                    f"table {table_root} already has committed epochs but "
                    f"checkpoint {checkpoint_dir} is fresh — its batch ids "
                    "would restart at 0 and collide with the ledger, which "
                    "silently drops new data. Resume with the original "
                    "checkpoint, or start against a fresh table root (use "
                    "CdcIngestJob for batch backfill into an existing table)."
                )
        self.control = JobControl(table_root)

    def _checkpoint_id(self) -> str | None:
        """The streaming query id Spark pins inside the checkpoint dir —
        the identity that makes foreachBatch epoch_ids comparable."""
        p = os.path.join(self.checkpoint_dir, "metadata")
        if not os.path.exists(p):
            return None
        try:
            with open(p) as f:
                return json.load(f).get("id")
        except (OSError, ValueError):
            return None

    # ---------- the per-epoch apply (foreachBatch target) ----------

    def apply_batch(self, batch_df: DataFrame, epoch_id: int) -> dict:
        """Idempotent versioned merge of one micro-batch.

        Public so tests (and backfill tools) can drive it directly; the
        streaming query calls it via foreachBatch."""
        # T5 drain/upgrade gate at the micro-batch boundary (plans/control):
        # checked BEFORE any work, so a stop can never orphan a half-applied
        # batch — the commit point hasn't been reached.
        self.control.check_version()
        if self.control.should_stop():
            raise DrainRequested(
                f"control file for {self.table.root} requests stop"
            )
        ckpt_id = self._checkpoint_id()
        if self.table.is_committed(epoch_id):
            # Under a checkpoint, skipping is safe ONLY if the committed
            # manifest came from THIS checkpoint (a Spark re-delivery after
            # restart): an epoch id minted by a different checkpoint — or by
            # the batch job — is a collision, and skipping would silently
            # drop this batch's data. Without a checkpoint (direct drive /
            # backfill tooling) the caller owns epoch numbering and the
            # classic idempotent-skip applies.
            prior = self.table.read_manifest(epoch_id)
            prior_ckpt = (prior.get("metrics") or {}).get("checkpoint_id")
            if ckpt_id is not None and prior_ckpt != ckpt_id:
                raise RuntimeError(
                    f"epoch {int(epoch_id)} was committed by a different "
                    f"writer (checkpoint {prior_ckpt!r}, this query "
                    f"{ckpt_id!r}); refusing to skip — restart from the "
                    "original checkpoint or a fresh table root."
                )
            return {"epoch": int(epoch_id), "skipped": "already-committed"}
        t0 = time.time()
        # The window dedup is pinned: "auto" keys its gate on the batch
        # job's LSN window size, which a file-sized micro-batch lacks.
        cfg = IngestConfig(normalize=self.cfg.normalize, dedup_strategy="window")
        core = CowEpoch(self.spark, self.table, cfg, versioned=True)
        with core.plan(batch_df, epoch_id) as ep:
            ctl = ep["ctl"]
            if ep["new_state"] is None:
                return {"epoch": int(epoch_id), "keys": 0, "skipped": "empty"}
            metrics = {
                **ep["metrics"],
                "mode": "streaming",
                "checkpoint_id": ckpt_id,
                "duration_prepare_s": round(time.time() - t0, 3),
            }
            self.table.commit_epoch(
                epoch_id,
                ep["new_state"],
                ctl["touched"],
                int(ctl["lsn_lo"]),
                int(ctl["lsn_hi"]),
                ep["schema"],
                metrics,
                kept_files=ep["kept"],
            )
            return {
                "epoch": int(epoch_id),
                "keys": ctl["keys"],
                "touched_buckets": len(ctl["touched"]),
                "files_rewritten": metrics["files_rewritten"],
            }

    # ---------- the query ----------

    def start(self, available_now: bool = True, processing_time: str | None = None):
        """Start the streaming query. availableNow drains the current backlog
        then stops (the reference's scheduled-catch-up mode, T1); a
        processingTime trigger is the continuous-tail mode (T2)."""
        stream = (
            self.spark.readStream.schema(self.feed_schema)
            .option("maxFilesPerTrigger", str(self.cfg.max_files_per_trigger))
            .parquet(self.changes_path)
        )
        writer = (
            stream.writeStream.foreachBatch(
                lambda df, eid: self.apply_batch(df, eid)
            )
            .option("checkpointLocation", self.checkpoint_dir)
            .outputMode("update")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_time:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()

    def run_available(self) -> bool:
        """Drain the backlog and return (blocking availableNow run).

        Returns True if the backlog fully drained, False if a control-file
        stop ended the run early (T5 graceful drain — the interrupted
        micro-batch never committed; resuming with the same checkpoint
        re-delivers it). Any other failure propagates."""
        q = self.start(available_now=True)
        try:
            q.awaitTermination()
            return True
        except Exception as e:  # StreamingQueryException wraps foreachBatch
            if "DrainRequested" in str(e):
                return False
            raise

    # ---------- reads ----------

    def final_state(self, with_version_cols: bool = False) -> DataFrame:
        """Live rows (tombstones filtered); version columns dropped unless
        requested."""
        df = self.table.read_snapshot(self.spark).filter(F.col("op") != "D")
        if not with_version_cols:
            df = df.drop("lsn", "op")
        return df
