"""Hot-key skew handling (SURVEY.md §4 item 3).

Hot conversations (Zipf-skewed conv_id) skew any shuffle that hashes on
conv_id alone — notably the bucket-partitioned snapshot write. The dedup
window and merge join are keyed on the full (conv_id, turn_idx) composite,
which is already fine-grained, so salting applies only to the write-side
repartition: we spread each bucket's rows across `salt` shuffle partitions
with pmod(hash(conv_id, turn_idx), salt). Salting NEVER touches the dedup
window key — that would break LWW (SURVEY.md §7 'What's hard' #2).

AQE skew-join splitting (spark.sql.adaptive.skewJoin.enabled, on by default
in session.py) is the built-in backstop for the merge join itself.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def choose_salt(heavy_hitters: list[tuple[str, int]], rows_per_task: int = 500_000) -> int:
    """Salt factor so the hottest key spreads to ~rows_per_task per task."""
    if not heavy_hitters:
        return 1
    hottest = heavy_hitters[0][1]
    return max(1, min(64, -(-hottest // rows_per_task)))


def lagged_salt(manifest: dict | None, rows_per_task: int = 500_000) -> int:
    """Salt factor from the PREVIOUS epoch's manifest ``bucket_rows``.

    The write-shuffle partitions on the bucket column, so the skew that
    matters is rows-per-bucket — which the previous commit already recorded
    for free from its parquet footer stats. Using the lagged signal makes
    the salt decision ZERO extra Spark jobs (vs. the in-epoch probe's full
    pass over the batch): skew in a CDC feed is a property of the key
    distribution, which moves slowly epoch-to-epoch, so last epoch's
    per-bucket load is an accurate predictor of this epoch's. Epoch 0 (no
    prior manifest) conservatively gets salt=1 — one possibly-skewed epoch,
    then the signal exists forever after.
    """
    counts = ((manifest or {}).get("metrics") or {}).get("bucket_rows") or {}
    if not counts:
        return 1
    hot = max(counts.items(), key=lambda kv: int(kv[1]))
    return choose_salt([(hot[0], int(hot[1]))], rows_per_task)


def salted_repartition(
    df: DataFrame,
    partition_cols: Sequence[str],
    salt: int,
    num_partitions: int | None = None,
    salt_source_cols: Sequence[str] = ("conv_id", "turn_idx"),
) -> DataFrame:
    """Repartition on (partition_cols..., salt_key) to spread hot values.

    salt_key is derived from finer-grained columns (default the full natural
    key) so it is deterministic — re-running an epoch produces identical
    partition contents, keeping the sink idempotent.
    """
    if salt <= 1:
        exprs = [F.col(c) for c in partition_cols]
    else:
        salt_key = F.pmod(
            F.xxhash64(*[F.col(c) for c in salt_source_cols]), F.lit(salt)
        )
        exprs = [F.col(c) for c in partition_cols] + [salt_key]
    if num_partitions is not None:
        return df.repartition(num_partitions, *exprs)
    return df.repartition(*exprs)
