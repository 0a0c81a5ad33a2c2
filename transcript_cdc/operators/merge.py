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
batch's xxhash64(key) longs grouped into top-bit hash buckets and routes
provably-untouched snapshot rows around the join entirely
(survivors_anti_join below); only past that does the plan fall back to a
sort-merge anti join on the composite key, which AQE skew-splits if needed.
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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Internal columns of the hash-prefilter probe; a snapshot carrying any of
# them is rejected (see survivors_anti_join).
HASH_COL = "__kh"
HASH_BUCKET_COL = "__kh_bucket"
HASH_SET_COL = "__kh_set"
PREFILTER_COLS = (HASH_COL, HASH_BUCKET_COL, HASH_SET_COL)


def hash_bucket_bits(n_keys: int) -> int:
    """Top-bit count ``b`` of the prefilter's hash buckets: 2^b buckets of
    16-32 key hashes each for an ``n_keys`` batch (at least 1 bit — a
    long shift by 64 is a shift by 0 in the JVM)."""
    return max(1, (max(n_keys, 1) // 32).bit_length())


def survivors_anti_join(
    snapshot: DataFrame,
    batch: DataFrame,
    key_cols: Sequence[str],
    *,
    broadcast_keys: bool = False,
    hash_prefilter: bool = False,
    n_keys: int | None = None,
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
      payload through a sort-merge join). The batch's ``xxhash64(key)``
      longs, grouped by their top ``b`` bits into ``collect_set`` arrays
      (one row per bucket, ~16-32 hashes each, ``b`` from the exact key
      count ``n_keys``; None sizes for 2^19 keys), are broadcast — ~8
      bytes/key plus a small per-bucket row, where a broadcast relation
      with one row PER KEY OOM-killed 6 GiB executors at 5.5M keys
      (~100+ bytes/key, CHANGES_r4.md #20). Each snapshot row joins its
      bucket and tests ``array_contains``: a Catalyst expression run by
      codegen, no Python worker. Hash misses are PROVABLY not in the
      batch and are kept with ZERO shuffle; only the hits (true hot keys
      + rare 64-bit collisions) pay the exact sort-merge anti-join. Exact
      for ANY hash: a collision only enlarges the candidate set, never
      the survivor result — ``prefilter_hash`` lets tests force heavy
      collisions to prove it. The build is part of the returned plan, so
      constructing it runs no Spark job, and Spark's broadcast lifecycle
      releases it, as for the broadcast rung's relation.
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
    clash = [c for c in PREFILTER_COLS if c in snapshot.columns]
    if clash:
        # withColumn/join would silently overwrite or duplicate the
        # caller's column and corrupt the survivor split (and asserts
        # vanish under python -O).
        raise ValueError(
            f"snapshot already has {clash!r} — rename before the "
            "hash-prefilter merge"
        )
    # Arithmetic shift: bucket ids are the signed top b bits, in
    # [-2^(b-1), 2^(b-1)) — a dense range for the broadcast relation.
    shift = 64 - hash_bucket_bits(1 << 19 if n_keys is None else n_keys)
    hash_sets = (
        batch.select(h.alias(HASH_COL))
        .groupBy(F.shiftright(HASH_COL, shift).alias(HASH_BUCKET_COL))
        .agg(F.collect_set(HASH_COL).alias(HASH_SET_COL))
    )
    # The split consumes the probed snapshot TWICE (kept_direct +
    # candidates): two column-pruned scans. Deliberate: persisting the full
    # snapshot payload costs more memory than the second scan costs time,
    # and the regime's A/B receipts (1.57-1.59x at 8M-event epochs,
    # bench/ab_result_hash_prefilter.json) were measured WITH it. Both
    # branches reuse one bucket broadcast when ``batch`` is uncached
    # (pinned in tests/test_merge.py); over a cached batch AQE does not
    # reuse it (the second branch's InMemoryRelation gets new attribute
    # ids), so each branch builds its own small copy. A miss has no bucket
    # row (null set) or no equal hash in it.
    probed = (
        snapshot.withColumn(HASH_COL, h)
        .withColumn(HASH_BUCKET_COL, F.shiftright(HASH_COL, shift))
        .join(F.broadcast(hash_sets), on=HASH_BUCKET_COL, how="left")
    )
    hit = F.coalesce(F.array_contains(HASH_SET_COL, F.col(HASH_COL)), F.lit(False))
    kept_direct = probed.filter(~hit).drop(*PREFILTER_COLS)
    candidates = probed.filter(hit).drop(*PREFILTER_COLS)
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
    n_keys: int | None = None,
    prefilter_hash=None,
) -> DataFrame:
    """Apply a LWW-dedup'd change batch to a snapshot; return the new state.

    `batch` must be key-unique (run operators.dedup.lww_dedup first) and
    carry op + payload columns; `snapshot` carries key + payload columns.
    Result schema is the union-by-name of both payload schemas; op/lsn and
    any `drop_cols` are dropped. Deterministic: result content depends only
    on the two inputs, never on partitioning. ``hash_prefilter`` selects
    the middle survivor regime, sized by the batch's key count ``n_keys``
    — see :func:`survivors_anti_join`.
    """
    key_cols = list(key_cols)
    survivors = survivors_anti_join(
        snapshot,
        batch,
        key_cols,
        broadcast_keys=bool(broadcast_batch),
        hash_prefilter=hash_prefilter,
        n_keys=n_keys,
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
