"""Fingerprint the ingest epoch's physical plans and committed bytes.

Replays one small generated feed through every COW regime pair — survivor
anti-join (broadcast hint | copartitioned, which with size-based broadcast
off plans a sort-merge join) x control pass (groupby-collect |
observe-count | observe-collect) — through the default MOR epoch and through
two streaming micro-batches (``StreamingIngest.apply_batch``, the versioned
merge), then prints one JSON object per regime: the epoch's executed plan
(captured at commit time; expression and plan ids and the work dir
stripped), the manifest regime labels, and a digest of the committed data
files: per file its byte size and decoded rows, sorted, names ignored
(attempt dirs and part files carry random ids, and parquet-mr lists a
column's encodings in hash order, so raw file bytes differ between
identical runs).

Refactors of the epoch loop that must not change any plan are checked by
running this on both checkouts and diffing the output:

    python3 scripts/epoch_plans.py --work /tmp/epoch_plans > after.jsonl

Runs at local[2] in about a minute on a 4-vCPU host.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from transcript_cdc.datagen import StreamSpec, write_change_feed  # noqa: E402
from transcript_cdc.plans.ingest import CdcIngestJob, IngestConfig  # noqa: E402
from transcript_cdc.session import get_spark  # noqa: E402
from transcript_cdc.sources import lake  # noqa: E402
from transcript_cdc.sources.changes import ChangeFeed  # noqa: E402
from transcript_cdc.streaming import StreamConfig, StreamingIngest  # noqa: E402

# (survivor regime, config) — the broadcast hint capped out by its key cap.
ANTI = {
    "broadcast": {},
    "copartitioned": {"broadcast_max_rows": 1},
}
# (control pass, file_prune_max_keys for the timed epoch). Epoch 0 loads
# 1200 events; the timed epoch 1 carries 300, so a cap of 250 sits between
# the lagged and the actual key count and forces observe-collect.
CONTROL = {"groupby-collect": 200_000, "observe-count": 1, "observe-collect": 250}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", required=True, help="scratch dir (emptied)")
    args = ap.parse_args()
    work = os.path.abspath(args.work)
    shutil.rmtree(work, ignore_errors=True)
    spec = StreamSpec(n_conversations=300, avg_turns=4, update_ratio=0.4,
                      delete_ratio=0.1, seed=5, events_per_file=300)
    write_change_feed(spec, f"{work}/feed")
    # No size-based broadcast: at this scale Spark would broadcast the
    # batch keys in every regime, hiding the sort-merge plan.
    spark = get_spark(
        "epoch-plans",
        master="local[2]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.autoBroadcastJoinThreshold": "-1"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # MergeOnReadTable inherits commit_epoch, so one patch sees both modes.
    captured: dict = {}
    orig = lake.ParquetSnapshotTable.commit_epoch

    def commit(self, epoch, new_state, *args, **kwargs):
        plan = new_state._jdf.queryExecution().executedPlan().toString()
        plan = re.sub(r"#\d+|plan_id=\d+", "", plan)
        plan = re.sub(r"(epoch=\d+)-\w+", r"\1-<attempt>", plan)
        captured[epoch] = plan.replace(work, "<work>")
        return orig(self, epoch, new_state, *args, **kwargs)

    lake.ParquetSnapshotTable.commit_epoch = commit

    def emit(name: str, root: str, table) -> None:
        m = table.last_committed()
        digests = sorted(
            hashlib.sha256(
                f"{os.path.getsize(f)} {pq.read_table(f).to_pydict()}".encode()
            ).hexdigest()
            for f in glob.glob(f"{root}/data/epoch=*/**/*.parquet", recursive=True)
        )
        print(json.dumps({
            "regime": name,
            "labels": {k: m["metrics"].get(k)
                       for k in ("control", "merge_anti", "dedup", "keys")},
            "files": hashlib.sha256("".join(digests).encode()).hexdigest(),
            "plan": captured[m["epoch"]],
        }), flush=True)

    def replay(name: str, cfg: IngestConfig, cap: int | None = None) -> None:
        root = f"{work}/{name}"
        job = CdcIngestJob(spark, f"{work}/feed", root, cfg)
        job.cfg.epoch_events = 1200
        job.run(max_epochs=1)
        job.cfg.epoch_events = 300
        if cap is not None:
            job.cfg.file_prune_max_keys = cap
        job.run(max_epochs=1)
        emit(name, root, job.table)

    def replay_stream(name: str) -> None:
        """The same two LSN windows as the batch replays, applied as
        micro-batches 0 and 1; the second is a steady-state micro-batch."""
        root = f"{work}/{name}"
        si = StreamingIngest(spark, f"{work}/feed", root, f"{work}/{name}-ckpt",
                             StreamConfig(n_buckets=4))
        feed = ChangeFeed(spark, f"{work}/feed")
        si.apply_batch(feed.read_range(-1, 1199), 0)
        si.apply_batch(feed.read_range(1199, 1499), 1)
        emit(name, root, si.table)

    for anti, anti_kw in ANTI.items():
        for control, cap in CONTROL.items():
            replay(f"cow-{anti}-{control}",
                   IngestConfig(n_buckets=4, **anti_kw), cap)
    replay("mor", IngestConfig(n_buckets=4, storage="mor"))
    replay_stream("stream")
    spark.stop()


if __name__ == "__main__":
    main()
