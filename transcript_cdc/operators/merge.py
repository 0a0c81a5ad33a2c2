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
LEFT ANTI supports a broadcast build of the (small, post-dedup) batch side —
so the big snapshot side is scanned once with ZERO shuffle.

When the batch is too large to broadcast, a MIDDLE regime broadcasts the
batch's distinct xxhash64(key) longs and routes provably-untouched snapshot
rows around the join entirely (survivors_anti_join below); only past that
does the plan fall back to a sort-merge anti join on the composite key,
which AQE skew-splits if needed.
The anti-join shape is kept deliberately for this regime too: its join
RIGHT side is the batch's KEY COLUMNS ONLY, so the merge sorts a narrow
relation plus the snapshot — an interleaved same-host A/B against the
alternative single-window plan (row_number over snapshot ∪ batch, which
shuffles and sorts both sides' FULL payloads through one exchange) measured
the window variant ~7% slower at 4 executors with 2x the sort spill
(9.3 GB vs 4.4 GB on 8M-event epochs). The cost of the anti-join shape is
that `batch` appears twice in the plan (keys branch + upserts branch), so
the epoch loop persists the batch; plans/ingest.py keeps the control
round-trip on that persisted batch to a single count() in the large-epoch
regime.

Schema evolution falls out of unionByName(allowMissingColumns=True):
snapshot-only rows get nulls for batch-introduced columns and vice versa.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


HASH_COL = "__kh"

# Hash-prefilter broadcasts created by survivors_anti_join, strongest-ref
# tracked so the epoch loop can release executor copies deterministically
# once the epoch's write is committed (ADVICE r4: relying on GC-driven
# ContextCleaner leaves up to ~128 MB/epoch resident for a nondeterministic
# time over a long replay). Broadcast.unpersist() only drops EXECUTOR
# copies — the driver value survives, so a still-lazy plan that probes the
# filter later simply re-fetches; releasing early is always safe.
_LIVE_PREFILTER_BROADCASTS: list = []


def release_prefilter_broadcasts() -> None:
    """Unpersist every prefilter broadcast created since the last call.

    The epoch loop (plans/ingest.py) calls this after the epoch's write is
    committed — the plan is fully materialized by then, so the executor
    copies are dead weight. Direct callers of survivors_anti_join get the
    same cleanup lazily: the next build drains earlier entries (their plans
    re-fetch from the driver if re-executed)."""
    while _LIVE_PREFILTER_BROADCASTS:
        bc = _LIVE_PREFILTER_BROADCASTS.pop()
        try:
            bc.unpersist()
        except Exception:
            pass  # SparkContext already stopped — nothing to release


def survivors_anti_join(
    snapshot: DataFrame,
    batch: DataFrame,
    key_cols: Sequence[str],
    *,
    broadcast_keys: bool = False,
    hash_prefilter: bool = False,
    prefilter_hash=None,
) -> DataFrame:
    """Snapshot rows whose key is NOT in the batch's key set (the merge's
    survivor side). ``batch`` needs only the key columns and may carry
    duplicate keys (duplicates never change anti-join semantics).

    Three physical regimes, picked by the caller from the epoch's key
    count (plans/ingest.py):

    - ``broadcast_keys``: broadcast anti-join on the full key columns —
      the snapshot side is never shuffled. Right while the key set fits
      the broadcast row cap (string keys are wide: a raised string-key
      cap at ~5.5M keys OOM-looped 6 GiB executors, CHANGES_r4.md #20).
    - ``hash_prefilter``: the middle regime (too many keys to broadcast
      as strings, far too few to justify shuffling the whole snapshot
      payload through a sort-merge join). The batch's DISTINCT
      ``xxhash64(key)`` longs are collected Arrow-side and shipped as a
      SORTED numpy int64 array over ``sc.broadcast`` — exactly 8
      bytes/key on each executor. (The obvious JVM alternative, a
      broadcast hash JOIN on the hash column, was built first and
      OOM-killed 6 GiB executors at 5.5M keys: LongHashedRelation's
      sparse map + torrent blocks cost ~100+ bytes/key on top of the
      merge's own buffers — `LongToUnsafeRowMap.readLongArray` heap
      OOM, executor relaunch loop.) Each snapshot row probes the array
      with a vectorized ``np.searchsorted`` in an Arrow-batched pandas
      UDF — the one place Python touches the hot path, one int64 column
      per row, O(log n) per probe. Rows whose key-hash misses the set
      are PROVABLY not in the batch and are kept with ZERO shuffle;
      only the hash hits (true hot keys + rare 64-bit collisions) pay
      the exact sort-merge anti-join, so the SMJ exchanges a candidate
      sliver instead of the full snapshot. Exact for ANY hash function:
      a collision only enlarges the candidate set, never the survivor
      result — ``prefilter_hash`` exists so tests can force heavy
      collisions and prove it. NOTE: building the set runs one eager
      (narrow, longs-only) Spark job at plan-construction time; the
      epoch loop calls this on its already-persisted batch.
    - neither: plain anti-join — Catalyst picks SMJ, exchanging +
      sorting the full snapshot payload. The fallback once even 8
      bytes/key would not fit driver/executor memory.
    """
    key_cols = list(key_cols)
    batch_keys = batch.select(*key_cols)
    if broadcast_keys:
        return snapshot.join(F.broadcast(batch_keys), on=key_cols, how="left_anti")
    if not hash_prefilter:
        return snapshot.join(batch_keys, on=key_cols, how="left_anti")

    h = (
        prefilter_hash
        if prefilter_hash is not None
        else F.xxhash64(*[F.col(c) for c in key_cols])
    )
    if HASH_COL in snapshot.columns:
        # withColumn would silently overwrite the caller's column and
        # corrupt the survivor split (and asserts vanish under python -O).
        raise ValueError(
            f"snapshot already has a {HASH_COL!r} column — rename it "
            "before the hash-prefilter merge"
        )
    release_prefilter_broadcasts()  # drain any prior epoch's filter
    hashes = (
        batch.select(h.alias(HASH_COL)).distinct().toArrow()[HASH_COL]
    ).to_numpy(zero_copy_only=False)
    sorted_hashes = np.sort(hashes.astype(np.int64, copy=False))
    bc = snapshot.sparkSession.sparkContext.broadcast(sorted_hashes)

    @F.pandas_udf("boolean")
    def _in_key_set(kh: pd.Series) -> pd.Series:
        a = bc.value
        v = kh.to_numpy()
        if len(a) == 0:
            return pd.Series(np.zeros(len(v), dtype=bool))
        idx = np.minimum(np.searchsorted(a, v), len(a) - 1)
        return pd.Series(a[idx] == v)

    _LIVE_PREFILTER_BROADCASTS.append(bc)
    # The split below consumes snap_h TWICE (kept_direct + candidates), so
    # the snapshot scan and the one-int64-column probe UDF each run twice
    # in the physical plan (two ArrowEvalPython nodes — pinned in
    # tests/test_merge.py). Deliberate: persisting the full snapshot
    # payload to dedupe the branches costs more memory than the second
    # column-pruned scan + probe costs time (the probe is ~0.6 µs/row),
    # and the A/B receipts for this regime (1.57-1.59x at 8M-event epochs,
    # bench/ab_result_hash_prefilter.json) were measured WITH the double
    # scan. Correctness is unaffected — both probes are deterministic.
    snap_h = snapshot.withColumn(HASH_COL, _in_key_set(h))
    kept_direct = snap_h.filter(~F.col(HASH_COL)).drop(HASH_COL)
    candidates = snap_h.filter(F.col(HASH_COL)).drop(HASH_COL)
    survivors_c = candidates.join(batch_keys, on=key_cols, how="left_anti")
    return kept_direct.unionByName(survivors_c)


def merge_apply(
    snapshot: DataFrame,
    batch: DataFrame,
    key_cols: Sequence[str] = ("conv_id", "turn_idx"),
    op_col: str = "op",
    broadcast_batch: bool | None = None,
    drop_cols: Sequence[str] = ("lsn",),
    hash_prefilter: bool = False,
    prefilter_hash=None,
) -> DataFrame:
    """Apply a LWW-dedup'd change batch to a snapshot; return the new state.

    `batch` must be key-unique (run operators.dedup.lww_dedup first) and
    carry op + payload columns; `snapshot` carries key + payload columns.
    Result schema is the union-by-name of both payload schemas; op/lsn and
    any `drop_cols` are dropped. Deterministic: result content depends only
    on the two inputs, never on partitioning. ``hash_prefilter`` selects
    the middle survivor regime — see :func:`survivors_anti_join`.
    """
    key_cols = list(key_cols)
    survivors = survivors_anti_join(
        snapshot,
        batch,
        key_cols,
        broadcast_keys=bool(broadcast_batch),
        hash_prefilter=hash_prefilter,
        prefilter_hash=prefilter_hash,
    )
    upserts = batch.filter(F.col(op_col) != F.lit("D")).drop(
        op_col, *[c for c in drop_cols if c in batch.columns]
    )

    # Align to the evolved schema: survivors gain nulls for new columns,
    # upserts gain nulls for table columns absent from this batch.
    return survivors.unionByName(upserts, allowMissingColumns=True)


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
    snapshot(touched buckets) ∪ batch. Ties on lsn (idempotent re-apply of
    an already-merged event) break toward the stored snapshot row, which is
    identical in content.
    """
    key_cols = list(key_cols)
    # Stored rows keep their original op, so source must be tagged
    # explicitly; snapshot wins lsn ties (identical content either way).
    unioned = snapshot.withColumn("__src", F.lit(0)).unionByName(
        batch.withColumn("__src", F.lit(1)), allowMissingColumns=True
    )
    from pyspark.sql import Window

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
