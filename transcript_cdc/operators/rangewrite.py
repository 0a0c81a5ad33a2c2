"""Sampling-free range clustering for the COW write (SURVEY.md §7 hard #5).

``repartitionByRange`` is the natural way to keep every output file on a
tight (bucket, key) interval — but its RangePartitioner runs a SAMPLING
pass that evaluates the full child plan once before the real exchange
evaluates it again. For the COW epoch that child is the merge itself
(hot-file scan + broadcast anti join), so the hot set is read and merged
TWICE per epoch, plus one extra driver-serial job between the control
collect and the write (measured from Spark event logs: the sampling job
costs about as much as the exchange map stage at steady state;
``perfbench/run.py --trace 1`` counts such jobs as ``stream.sample_jobs``).

This module removes the sampling pass: the epoch already KNOWS the key
distribution of everything the merge can emit —

  - the hot files' per-file (rows, min_key, max_key) from the manifest's
    footer stats (``ParquetSnapshotTable.plan_cow_merge``), and
  - the batch's per-bucket sorted distinct keys from the control collect
    (the same lists that drive file pruning).

``plan_range_bounds`` folds those into ≤ n_parts-1 explicit split points
that partition the (bucket, key) VALUE space into roughly row-balanced
ranges. ``assign_range_partition`` then routes each row to its range's
exact reducer with plain codegen-able expressions — no sampling job, no
second evaluation of the merge, deterministic output placement (the OCC /
idempotent-re-commit story needs determinism; a sampled partitioner is
only deterministic per Spark version + sample seed).

Exact placement trick: ``df.repartition(n, col)`` hashes with Murmur3
(seed 42) and sends a row to ``pmod(hash, n)``. We pre-invert that map
driver-side — for each target partition p, pick an int token t_p with
``pmod(murmur3(t_p), n) == p`` (expected n probes total, cached) — and
hash on ``token[range_id]`` instead of the range id itself. Partition id
therefore EQUALS range id: ranges stay contiguous across reducers, so
AQE's partition coalescing (which merges adjacent ids) merges adjacent
key ranges and files stay tight even when coalesced.

Scale notes (the 100-TB plan): bound assignment is O(n_parts) integer/
string comparisons per row inside WholeStageCodegen — no UDF, no HOF; the
bounds ride the plan as literals (a few KB). The win grows with table
size: sampling cost is O(hot set), bounds cost is O(files + batch keys)
driver-side arithmetic on stats already in memory.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import lru_cache

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RANGE_TOK = "__range_tok"


def murmur3_int32(x: int, seed: int = 42) -> int:
    """Spark-compatible Murmur3 x86_32 of a single int (HashPartitioning's
    ``Murmur3Hash`` for IntegerType, seed 42 — verified against ``F.hash``
    in tests/test_rangewrite.py). Returns a signed int32."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    k1 = (x & 0xFFFFFFFF) * c1 & 0xFFFFFFFF
    k1 = ((k1 << 15) | (k1 >> 17)) & 0xFFFFFFFF
    k1 = k1 * c2 & 0xFFFFFFFF
    h1 = (seed ^ k1) & 0xFFFFFFFF
    h1 = ((h1 << 13) | (h1 >> 19)) & 0xFFFFFFFF
    h1 = (h1 * 5 + 0xE6546B64) & 0xFFFFFFFF
    h1 ^= 4  # fmix len=4
    h1 ^= h1 >> 16
    h1 = h1 * 0x85EBCA6B & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = h1 * 0xC2B2AE35 & 0xFFFFFFFF
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


@lru_cache(maxsize=64)
def partition_tokens(n_parts: int) -> tuple[int, ...]:
    """token[p] = smallest non-negative int whose Murmur3 pmod-n is p.
    Expected O(n log n) probes; cached per n."""
    tokens: list[int | None] = [None] * n_parts
    found, t = 0, 0
    while found < n_parts:
        p = ((murmur3_int32(t) % n_parts) + n_parts) % n_parts
        if tokens[p] is None:
            tokens[p] = t
            found += 1
        t += 1
    return tuple(tokens)  # type: ignore[arg-type]


def plan_range_bounds(
    atoms: Sequence[tuple[int, str, float]], n_parts: int
) -> list[tuple[int, str]]:
    """Choose ≤ n_parts-1 split points over (bucket, key) value space.

    ``atoms`` are point-mass estimates of where rows live: one atom per
    hot file at its min_key (weight = its row count) plus one atom per
    batch key (weight 1) — the resolution is file-level for existing data
    and key-level for new data, which is exactly the granularity the
    write needs (a range finer than one file cannot be read selectively
    anyway). Rows beyond the last split point fall into the final range.

    Returns bounds sorted ascending, deduplicated; range i is
    [bounds[i-1], bounds[i]) with bounds[-1] = -inf, bounds[n] = +inf.
    """
    if n_parts < 2 or not atoms:
        return []
    srt = sorted(atoms, key=lambda a: (a[0], a[1]))
    total = sum(a[2] for a in srt)
    if total <= 0:
        return []
    step = total / n_parts
    bounds: list[tuple[int, str]] = []
    acc = 0.0
    nxt = step
    for b, k, w in srt:
        if acc >= nxt and (not bounds or bounds[-1] < (b, k)):
            bounds.append((b, k))
            while nxt <= acc:
                nxt += step
        acc += w
    return bounds


def assign_range_partition(
    df: DataFrame,
    bounds: Sequence[tuple[int, str]],
    n_parts: int,
    bucket_col: str,
    key_col: str,
) -> DataFrame:
    """Shuffle ``df`` so reducer i holds exactly value-range i.

    range_id = #bounds ≤ (bucket, key): a sum of n-1 struct comparisons,
    plain codegen expressions (no HOF, no UDF). The hash input is
    token[range_id] (see module docstring) so partition id == range id.
    NULL keys (none post-dedup, keys are non-null by contract) compare
    false everywhere and land in range 0. With no bounds the token is the
    bucket itself (a plain bucket hash). The output keeps the
    ``RANGE_TOK`` column, so operators keyed on (token, key...) above the
    exchange — the COW merge's anti join, the streaming max-lsn window —
    reuse its partitioning instead of shuffling again; a caller that has
    no such operator drops it.
    """
    n_ranges = len(bounds) + 1
    if n_ranges < 2:
        tok, n = F.col(bucket_col), max(1, n_parts)
    else:
        row = F.struct(F.col(bucket_col), F.col(key_col))
        rng = None
        for b, k in bounds:
            c = (F.struct(F.lit(b), F.lit(k)) <= row).cast("int")
            rng = c if rng is None else rng + c
        tokens = partition_tokens(n_ranges)
        tok, n = F.element_at(F.array(*[F.lit(t) for t in tokens]), rng + 1), n_ranges
    return df.withColumn(RANGE_TOK, tok).repartition(n, F.col(RANGE_TOK))
