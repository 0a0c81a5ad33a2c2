"""MERGE-style upsert apply (SURVEY.md §2.4 J3 / §2.1 S6).

The reference delegates insert-or-replace to OpenSearch's OVERWRITE policy
(ETL/batch_ecs/source/pipeline.py:51-54). Spark core has no MERGE INTO
without a table format, so we implement the matched/not-matched resolution
as a planned DataFrame program. Given a key-unique batch (post LWW dedup):

    new_state = (snapshot LEFT ANTI JOIN batch ON key)   -- untouched rows
                UNION BY NAME
                (batch WHERE op != 'D')                  -- upserted rows

This is equivalent to the textbook FULL OUTER + CASE resolution
(batch wins when matched; 'D' drops; snapshot-only rows kept) but strictly
better physically: Spark cannot broadcast either side of a full-outer join
(HintErrorLogger: "build right for full outer join" is unsupported), while
LEFT ANTI supports a broadcast build of the (small, post-dedup) batch side.

The COW epoch (plans/ingest.CowEpoch) calls these operators on inputs that
are already routed to the write's key ranges: the snapshot and the upserts
carry the range token ``__range_tok`` (operators/rangewrite.py). Without
the broadcast hint the batch keys are routed too and the join runs on
(token, key); the token is a function of the key, so the result is
unchanged, while the join inherits the write's exchange. With the hint the
keys are broadcast unrouted and the join runs on the key (a broadcast join
keeps the snapshot's partitioning). Either way the snapshot payload crosses
ONE shuffle per epoch:

  snapshot(hot files) → SHUFFLE on __range_tok ─┐
  batch keys          → broadcast, or SHUFFLE  ─┴ anti join (BHJ, or SMJ
                        on __range_tok                    co-partitioned)
  batch upserts       → SHUFFLE on __range_tok ──── ∪
                                                    → sort within, write

The anti-join shape is kept deliberately for the SMJ too: its join RIGHT
side is the batch's KEY COLUMNS ONLY, so the merge sorts a narrow relation
plus the snapshot — an interleaved same-host A/B against the alternative
single-window plan (row_number over snapshot ∪ batch, which sorts both
sides' FULL payloads) measured the window variant ~7% slower at 4
executors with 2x the sort spill (9.3 GB vs 4.4 GB on 8M-event epochs).
The cost of the anti-join shape is that `batch` appears twice in the plan
(keys branch + upserts branch), so the epoch loop persists the batch.

Schema evolution falls out of unionByName(allowMissingColumns=True):
snapshot-only rows get nulls for batch-introduced columns and vice versa.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def survivors_anti_join(
    snapshot: DataFrame,
    batch: DataFrame,
    key_cols: Sequence[str],
    *,
    broadcast_keys: bool = False,
) -> DataFrame:
    """Snapshot rows whose key is NOT in the batch's key set (the merge's
    survivor side). ``batch`` needs only the key columns and may carry
    duplicate keys (duplicates never change anti-join semantics).

    ``broadcast_keys`` hints a broadcast of the batch keys — the caller
    sets it while the key count fits the broadcast row cap (string keys
    are wide: a raised string-key cap at ~5.5M keys OOM-looped 6 GiB
    executors, CHANGES_r4.md #20). Without the hint Spark picks the join
    by size: a broadcast under ``autoBroadcastJoinThreshold``, else a
    sort-merge join, which needs no exchange of its own when both sides
    are hash-partitioned on a prefix of ``key_cols`` (the range token,
    with ``spark.sql.requireAllClusterKeysForCoPartition=false``).
    """
    batch_keys = batch.select(*key_cols)
    if broadcast_keys:
        batch_keys = F.broadcast(batch_keys)
    return snapshot.join(batch_keys, on=list(key_cols), how="left_anti")


def apply_upserts(
    survivors: DataFrame,
    batch: DataFrame,
    op_col: str = "op",
    drop_cols: Sequence[str] = ("lsn",),
) -> DataFrame:
    """The merge's union: ``survivors`` plus the batch's non-delete rows,
    op and ``drop_cols`` dropped, aligned to the evolved schema by name
    (survivors gain nulls for new columns, upserts for table columns
    absent from this batch)."""
    upserts = batch.filter(F.col(op_col) != F.lit("D")).drop(
        op_col, *[c for c in drop_cols if c in batch.columns]
    )
    return survivors.unionByName(upserts, allowMissingColumns=True)


def merge_apply(
    snapshot: DataFrame,
    batch: DataFrame,
    key_cols: Sequence[str] = ("conv_id", "turn_idx"),
    op_col: str = "op",
    broadcast_batch: bool | None = None,
    drop_cols: Sequence[str] = ("lsn",),
) -> DataFrame:
    """Apply a LWW-dedup'd change batch to a snapshot; return the new state.

    `batch` must be key-unique (run operators.dedup.lww_dedup first) and
    carry op + payload columns; `snapshot` carries key + payload columns.
    Result schema is the union-by-name of both payload schemas; op/lsn and
    any `drop_cols` are dropped. Deterministic: result content depends only
    on the two inputs, never on partitioning.
    """
    survivors = survivors_anti_join(
        snapshot, batch, key_cols, broadcast_keys=bool(broadcast_batch)
    )
    return apply_upserts(survivors, batch, op_col, drop_cols)


def merge_apply_versioned(
    snapshot: DataFrame,
    batch: DataFrame,
    key_cols: Sequence[str] = ("conv_id", "turn_idx"),
    op_col: str = "op",
    lsn_col: str = "lsn",
) -> DataFrame:
    """LSN-versioned merge: correct even when batches arrive out of order.

    Unlike :func:`merge_apply` (which assumes the batch's LSNs all exceed the
    snapshot's — true for the sequential epoch loop), this variant stores
    ``lsn`` and ``op`` IN the table and resolves matched keys by max lsn, so
    a re-delivered or out-of-order micro-batch can never regress a newer row.
    Deletes are retained as tombstones ('D' rows with null payload) so a
    straggler event older than the delete still loses; readers filter
    ``op != 'D'`` (see streaming.stream_ingest / lake read path).

    Shape: union-by-name + one window over the composite key — the same
    single-shuffle LWW shape as the within-batch dedup, now spanning
    snapshot(touched buckets) ∪ batch. In the COW epoch both inputs arrive
    routed by the write's range token and ``key_cols`` leads with it, so
    the window reuses that exchange (as MOR's lww_dedup_clustered reuses
    the write clustering) and the snapshot is shuffled once. Ties on lsn
    (idempotent re-apply of an already-merged event) break toward the
    stored snapshot row, which is identical in content.
    """
    key_cols = list(key_cols)
    # Stored rows keep their original op, so source must be tagged
    # explicitly; snapshot wins lsn ties (identical content either way).
    unioned = snapshot.withColumn("__src", F.lit(0)).unionByName(
        batch.withColumn("__src", F.lit(1)), allowMissingColumns=True
    )
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(lsn_col).desc(), F.col("__src").asc()
    )
    winners = (
        unioned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )
    # Tombstones keep key + lsn + op only; payload nulled for hygiene.
    payload = [c for c in winners.columns if c not in key_cols + [op_col, lsn_col]]
    exprs = (
        [F.col(c) for c in key_cols]
        + [F.col(lsn_col), F.col(op_col)]
        + [
            F.when(F.col(op_col) == "D", F.lit(None)).otherwise(F.col(c)).alias(c)
            for c in payload
        ]
    )
    return winners.select(*exprs)
