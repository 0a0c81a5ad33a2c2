"""ParquetSnapshotTable — hermetic Iceberg-style lake table (SURVEY.md §7).

Semantics matched to Iceberg (and to what the reference gets from OpenSearch
OVERWRITE + its metadata.json cursor, ETL/glue/arxiv_feed.py:31-34,92-96 and
ETL/batch_ecs/source/pipeline.py:51-54), without requiring the Iceberg jar
(absent in this sandbox):

- **Snapshots**: table state is defined ONLY by committed manifests under
  ``_commits/``. Data files not named by a manifest are invisible (orphans
  from crashed writes are harmless) — manifest-as-commit-point.
- **Copy-on-write at bucket granularity**: the table is hash-bucketed on
  conv_id (Iceberg ``bucket(N, conv_id)`` transform, emulated as a
  ``bucket=B`` directory partition). An epoch commit rewrites only the
  buckets its batch touches; untouched buckets inherit their file list from
  the previous snapshot. At 100TB this is the difference between rewriting
  ~(batch_keys/n_buckets · table/n_buckets) and rewriting the whole table.
- **Exactly-once**: a manifest is written via temp-file + atomic rename;
  re-committing an existing epoch is a detected no-op. Combined with
  at-least-once task retries this gives effectively-once — the same
  composition the reference uses (retries + idempotent OVERWRITE,
  ETL/etl/etl_stack.py:88,372), upgraded from at-least-once.
- **Additive schema evolution**: each manifest records the table schema;
  commits may add nullable columns (union-by-name); readers apply the
  latest schema so old files yield nulls for new columns. Type changes are
  rejected (schemas.additive_diff).
- **Time travel**: ``read_snapshot(as_of_epoch=k)`` reconstructs any
  committed state.
- **Per-partition lineage**: manifests carry per-bucket files + row counts,
  dedup drops, heavy hitters, salt factor, durations — the north_star's
  commit manifests for lineage/metrics.

On a real cluster with the Iceberg runtime jar, `IcebergTable` (same
interface) would route to ``MERGE INTO`` / ``ALTER TABLE ADD COLUMN``; this
class is the hermetic default backend.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from transcript_cdc import schemas
from transcript_cdc.functions.portable import py_xxhash64

BUCKET_COL = "__bucket"


class ChangelogRewriteGap(ValueError):
    """A changelog range crossed a rewrite (compaction/COW) commit — a
    rewrite's file diff is reorganization, not logical change, so net
    changes cannot be derived from its manifests (same restriction as
    Iceberg's changelog scan).

    Recourse (the documented catch-up path): either read per-epoch ranges
    that stop before the rewrite and resume from it (``restart_epoch``),
    or — when the consumer's cursor itself predates expired history —
    reseed from the full resolved state (ChangelogTail.reseed emits it as
    inserts) and tail from ``restart_epoch`` onward.
    """

    def __init__(self, rewrite_epoch: int, from_epoch: int):
        self.rewrite_epoch = int(rewrite_epoch)
        self.restart_epoch = int(rewrite_epoch)
        super().__init__(
            f"epoch {rewrite_epoch} is a rewrite (compaction/COW) commit — "
            f"changelog ranges must contain only append commits. Read the "
            f"range ({from_epoch}, {rewrite_epoch - 1}] first if needed, "
            f"then restart from epoch {rewrite_epoch} (or reseed via "
            f"ChangelogTail.reseed if that history is expired)"
        )


# Per-task memory budget for the MOR fold (uncompressed bytes). Chains
# larger than this are folded as a sequence of KEY-RANGE slices (and split
# across shard tasks by the read planner), so peak memory per task is
# O(budget), never O(bucket). None opts out (single concat+sort fold).
DEFAULT_MAX_FOLD_BYTES = 256 << 20


def _plan_key_ranges(files, key_col, max_bytes):
    """Split a delta chain's key space into ~``max_bytes``-sized
    (uncompressed) ranges from the files' row-group footer stats on
    ``key_col``. Returns ``[(lo_exclusive, hi_inclusive)]`` with None as
    ±infinity; ``[(None, None)]`` when the chain fits the budget or stats
    are unavailable.

    Correctness never depends on the cuts: ranges partition the key VALUE
    space, so every key's whole delta chain lands in exactly one range and
    the per-range LWW fold sees all of it. Stats only decide where cuts
    fall; files written key-sorted (deltas are — plans/ingest sorts within
    partitions; compacted bases too) make each range's read row-group-
    prunable, so a range costs O(range) IO, not O(chain). Footer-only
    metadata reads, deterministic — every shard task derives the same list.
    """
    import pyarrow.parquet as _pq

    entries: list[tuple[object, int]] = []  # (row-group max key, bytes)
    total = 0
    for f in files:
        # A read_metadata failure must PROPAGATE (Spark retries the task):
        # every shard task of a chain must derive the IDENTICAL range
        # list, and a transient-IO fallback to [(None, None)] would make
        # shard 0 fold the whole chain (duplicate rows) or shard k>0 fold
        # nothing (row loss). The [(None, None)] fallbacks below are
        # reserved for DETERMINISTIC conditions (missing column/stats,
        # empty files) that all shards agree on.
        md = _pq.read_metadata(f)
        if md.num_row_groups == 0:
            continue
        idx = None
        for i in range(md.row_group(0).num_columns):
            if md.row_group(0).column(i).path_in_schema == key_col:
                idx = i
                break
        if idx is None:
            return [(None, None)]
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            st = g.column(idx).statistics
            if st is None or not st.has_min_max:
                return [(None, None)]
            total += g.total_byte_size
            entries.append((st.max, g.total_byte_size))
    if total <= max_bytes or len(entries) < 2:
        return [(None, None)]
    entries.sort(key=lambda e: e[0])
    cuts: list[object] = []
    acc = 0
    for mx, b in entries:
        acc += b
        if acc > max_bytes and (not cuts or mx > cuts[-1]):
            cuts.append(mx)
            acc = 0
    # a cut at the global max is redundant — the trailing (lo, None)
    # range covers it
    if cuts and cuts[-1] >= entries[-1][0]:
        cuts.pop()
    ranges: list[tuple[object, object]] = []
    lo = None
    for c in cuts:
        ranges.append((lo, c))
        lo = c
    ranges.append((lo, None))
    return ranges


def _read_conformed(path, target, predicate=None):
    """Read one parquet file as a pyarrow.Table with the ``target`` schema.

    The footer is opened once: the dataset fragment keeps the metadata it
    read for the file's schema and scans with it, pruning row groups whose
    footer stats cannot match ``predicate`` (a pyarrow.dataset expression)
    before any data I/O, then filtering rows exactly. Only ``target``'s
    columns are read (intersected with the file's own — older files may
    lack evolved columns); missing columns are null-padded (additive schema
    evolution) and every column is cast to its target type (type widening,
    INT96 nanoseconds to microseconds).
    """
    import pyarrow as _pa
    import pyarrow.dataset as _ds
    import pyarrow.fs as _fs

    frag = _ds.ParquetFileFormat().make_fragment(
        path, filesystem=_fs.LocalFileSystem()
    )
    have = set(frag.physical_schema.names)
    t = frag.to_table(
        columns=[f.name for f in target if f.name in have], filter=predicate
    )
    return _pa.table(
        [
            t[f.name].cast(f.type) if f.name in have
            else _pa.nulls(t.num_rows, f.type)
            for f in target
        ],
        schema=target,
    )


def _arrow_lww_fold(files, target, key_cols, lsn_col, key_filter=None,
                    key_range=None):
    """Pure-Arrow last-writer-wins fold of a delta-file chain (run in fold
    tasks, and in the driver for a point read).

    Reads each file conformed to ``target`` (_read_conformed), concatenates,
    sorts by (key..., lsn) ascending (lsn is globally unique → total order)
    and keeps each key group's LAST row via an adjacent-inequality boundary
    mask. Tombstones are KEPT — the caller decides (resolved read drops
    them; the changelog classifies them). Returns a pyarrow.Table with the
    ``target`` schema.

    Projection pushdown: only ``target``'s columns are read from parquet.
    Callers prune ``target`` to key/version/projected columns
    (read_resolved(columns=...)), so a narrow read of a wide table skips the
    untouched columns' IO entirely — the custom-operator analogue of
    Catalyst's ReadSchema pruning.

    ``key_filter``: optional {key_col: pyarrow array of wanted values} —
    restricts the fold to those keys (sound for LWW: a key's winner
    depends only on that key's rows). The first key column's set is pushed
    into the parquet read as a row-group predicate, so key-sorted files
    (compacted bases are written key-sorted by this very fold) skip
    untouched row groups' IO entirely — the changelog's base-side gate.
    Further columns' sets are applied in memory at the target types.

    ``key_range``: optional (lo_exclusive, hi_inclusive) on the FIRST key
    column (None = unbounded) — the ranged-fold slice (_plan_key_ranges).
    Sound for LWW for the same reason as key_filter; pushed down as a
    row-group and row predicate.
    """
    import pyarrow as _pa
    import pyarrow.compute as _pc
    import pyarrow.dataset as _ds

    expr = None
    if key_filter:
        first = next(iter(key_filter))
        expr = _ds.field(first).isin(key_filter[first])
    if key_range is not None:
        lo, hi = key_range
        if lo is not None:
            e = _ds.field(key_cols[0]) > lo
            expr = e if expr is None else expr & e
        if hi is not None:
            e = _ds.field(key_cols[0]) <= hi
            expr = e if expr is None else expr & e

    tabs = [_read_conformed(f, target, expr) for f in files]
    full = (
        _pa.concat_tables(tabs).combine_chunks()
        if tabs
        else target.empty_table()
    )
    if key_filter and len(key_filter) > 1:
        mask = None
        for c, vals in list(key_filter.items())[1:]:
            m = _pc.is_in(full[c], value_set=vals)
            mask = m if mask is None else _pc.and_(mask, m)
        full = full.filter(mask)
    n = full.num_rows
    if n == 0:
        return full
    full = full.take(
        _pc.sort_indices(
            full, sort_keys=[(c, "ascending") for c in [*key_cols, lsn_col]]
        )
    )
    if n > 1:
        boundary = None
        for c in key_cols:
            col = full[c]
            d = _pc.not_equal(col.slice(0, n - 1), col.slice(1, n))
            boundary = d if boundary is None else _pc.or_(boundary, d)
        if isinstance(boundary, _pa.ChunkedArray):
            boundary = boundary.combine_chunks()
        mask = _pa.chunked_array([boundary, _pa.array([True])])
        full = full.filter(mask)
    return full


def empty_df(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """JVM-only empty relation with the given schema.

    ``spark.createDataFrame([], schema)`` builds a ParallelCollectionRDD
    through the Python pickle path — every stage that touches it spins up
    Python workers just to deserialize nothing (measured ~6s/task on a cold
    pool). ``spark.range(0)`` + typed null projection stays entirely in the
    JVM and folds to an empty LocalRelation.
    """
    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def bucket_expr(n_buckets: int, key_col: str = "conv_id"):
    """Iceberg-style bucket transform: pmod(hash(key), N).

    xxhash64 is Spark-native (JVM, codegen'd) and deterministic across runs
    and cluster sizes — bucket assignment must never depend on partitioning.
    """
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


class ParquetSnapshotTable:
    """A bucket-partitioned, manifest-committed Parquet table."""

    def __init__(self, root: str):
        self.root = root
        self.commits_dir = os.path.join(root, "_commits")
        self.data_dir = os.path.join(root, "data")
        self._meta: dict | None = None
        # parsed-manifest cache, validated by (mtime_ns, size) — manifests
        # are immutable once committed (rollback DELETES them, which the
        # stat catches), so every fold over the chain (_current_state /
        # _fold_stats, 2-3 of which back one point read) parses each
        # epoch's JSON at most once per table object, not once per fold
        self._manifest_cache: dict[int, tuple[tuple[int, int], dict]] = {}

    # ---------- table lifecycle ----------

    @classmethod
    def create(
        cls,
        root: str,
        schema: T.StructType,
        n_buckets: int = 16,
        key_cols: Sequence[str] = ("conv_id", "turn_idx"),
        bucket_by: str = "conv_id",
    ) -> "ParquetSnapshotTable":
        t = cls(root)
        os.makedirs(t.commits_dir, exist_ok=True)
        os.makedirs(t.data_dir, exist_ok=True)
        meta = {
            "n_buckets": n_buckets,
            "key_cols": list(key_cols),
            "bucket_by": bucket_by,
            "created_schema": schema.json(),
        }
        _atomic_write_json(os.path.join(t.commits_dir, "table.json"), meta)
        t._meta = meta
        return t

    @property
    def meta(self) -> dict:
        if self._meta is None:
            with open(os.path.join(self.commits_dir, "table.json")) as f:
                self._meta = json.load(f)
        return self._meta

    @property
    def n_buckets(self) -> int:
        # Crash-consistent layout read: a re-bucket first writes a pending
        # marker, then commits the rewrite manifest, then finalizes the
        # metadata — if we died between the last two steps, the committed
        # manifest (the commit point) decides the layout.
        p = self.meta.get("pending_rebucket")
        if p and self.is_committed(int(p["epoch"])):
            return int(p["n_buckets"])
        return int(self.meta["n_buckets"])

    @property
    def key_cols(self) -> list[str]:
        return list(self.meta["key_cols"])

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.commits_dir, "table.json"))

    # ---------- manifests ----------

    def _manifest_path(self, epoch: int) -> str:
        return os.path.join(self.commits_dir, f"epoch={epoch:010d}.json")

    def committed_epochs(self) -> list[int]:
        if not os.path.isdir(self.commits_dir):
            return []
        out = []
        for name in os.listdir(self.commits_dir):
            if name.startswith("epoch=") and name.endswith(".json"):
                out.append(int(name[len("epoch=") : -len(".json")]))
        return sorted(out)

    def read_manifest(self, epoch: int) -> dict:
        """Parsed manifest for one epoch (cached; treat as immutable)."""
        path = self._manifest_path(epoch)
        st = os.stat(path)
        key = (st.st_mtime_ns, st.st_size)
        hit = self._manifest_cache.get(epoch)
        if hit is not None and hit[0] == key:
            return hit[1]
        with open(path) as f:
            m = json.load(f)
        self._manifest_cache[epoch] = (key, m)
        return m

    def last_committed(self) -> dict | None:
        """Resume point: the highest committed manifest (epoch + lsn_hi).

        The analogue of the reference's metadata.json read at job trigger
        (ETL/lambda/trigger_01_glue.py:23-30)."""
        epochs = self.committed_epochs()
        return self.read_manifest(epochs[-1]) if epochs else None

    def _current_state(self, as_of_epoch: int | None = None) -> tuple[dict, T.StructType]:
        """Fold manifests oldest→newest: per-bucket file lists + latest schema.

        A copy-on-write manifest REPLACES each listed bucket's files; an
        ``append`` manifest (merge-on-read delta commit) lists ONLY the files
        it added, extending the bucket — so MOR manifests stay O(epoch), not
        O(table), and commit does no prior-state fold (round-1 advice:
        cumulative manifests grew O(epochs²) JSON work)."""
        buckets: dict[str, list[str]] = {}
        schema = T.StructType.fromJson(json.loads(self.meta["created_schema"]))
        for epoch in self.committed_epochs():
            if as_of_epoch is not None and epoch > as_of_epoch:
                break
            m = self.read_manifest(epoch)
            if m.get("replace_all"):
                # re-bucket rewrite: the whole table moves to a new bucket
                # id space — nothing from the old layout carries forward.
                # Copy the lists: the manifest dict is cached, and handing
                # its list objects to callers would let a caller mutation
                # silently corrupt the per-table cache.
                buckets = {b: list(files) for b, files in m["buckets"].items()}
            elif m.get("append"):
                for b, files in m["buckets"].items():
                    buckets[b] = buckets.get(b, []) + files
            else:
                for b, files in m["buckets"].items():
                    buckets[b] = list(files)
            if m.get("schema"):
                schema = T.StructType.fromJson(json.loads(m["schema"]))
        return buckets, schema

    def current_schema(self) -> T.StructType:
        return self._current_state()[1]

    def _fold_stats(self, as_of_epoch: int | None = None) -> dict[str, dict]:
        """Per-file key-range stats folded across manifests. Each manifest
        records stats only for the files IT wrote (immutable per path), so
        the fold is a plain dict union."""
        stats: dict[str, dict] = {}
        for epoch in self.committed_epochs():
            if as_of_epoch is not None and epoch > as_of_epoch:
                break
            stats.update(self.read_manifest(epoch).get("file_stats", {}))
        return stats

    # ---------- read ----------

    def read_snapshot(
        self,
        spark: SparkSession,
        buckets: Sequence[int] | None = None,
        as_of_epoch: int | None = None,
        with_bucket_col: bool = False,
    ) -> DataFrame:
        """Read the committed state (optionally only selected buckets /
        time-traveled to an epoch). Only manifested files are read."""
        expired = int(self.meta.get("expired_before", -1))
        if as_of_epoch is not None and as_of_epoch < expired:
            raise ValueError(
                f"cannot time-travel to epoch {as_of_epoch}: files for "
                f"snapshots before epoch {expired} were removed by expire()"
            )
        state, schema = self._current_state(as_of_epoch)
        wanted = None if buckets is None else {str(int(b)) for b in buckets}
        files: list[str] = []
        for b, fl in state.items():
            if wanted is None or b in wanted:
                files.extend(os.path.join(self.root, f) for f in fl)
        if files:
            df = spark.read.schema(schema).parquet(*files)
        else:
            df = empty_df(spark, schema)
        if with_bucket_col:
            df = df.withColumn(
                BUCKET_COL, bucket_expr(self.n_buckets, self.meta["bucket_by"])
            )
        return df

    def bucket_of(self, key_value: str) -> int:
        """Bucket id for one key value, computed in the driver: the
        ``py_xxhash64`` twin matches the writer's ``bucket_expr``
        (``pmod(xxhash64(key), N)``) bit-for-bit, so routing a point read
        launches no Spark job. Python's ``%`` is ``pmod`` for N > 0."""
        return py_xxhash64(key_value) % self.n_buckets

    def files_for_key(
        self, key_value: str, bucket: int, as_of_epoch: int | None = None
    ) -> list[str]:
        """Manifest-level file pruning for a point read: of the bucket's
        live files, keep only those whose [min_key, max_key] range can
        contain ``key_value`` (files without recorded stats are kept —
        correctness over pruning). This is the zone-map skip Iceberg does
        with per-file column bounds: at 10^10 rows a bucket holds many
        epoch files with mostly-disjoint key ranges, and a point read
        should open the one or two that overlap, not the whole bucket."""
        state, _ = self._current_state(as_of_epoch)
        stats = self._fold_stats(as_of_epoch)
        out = []
        for f in state.get(str(int(bucket)), []):
            st = stats.get(f)
            if st is None or st.get("min_key") is None:
                out.append(f)
            elif st["min_key"] <= key_value <= st["max_key"]:
                out.append(f)
        return out

    def read_conversation(self, spark: SparkSession, conv_id: str) -> DataFrame:
        """Point-read one conversation touching ONLY the manifest-pruned
        subset of its bucket's files — the 100TB lookup path. Pruning is
        layered: bucket routing (no I/O outside one bucket), then per-file
        min/max key stats (files_for_key — no I/O outside overlapping
        files), then the conv_id predicate prunes row groups within them.

        The read runs in the driver: pyarrow reads the pruned files
        conformed to the current schema (null-padded added columns, widened
        types) and the result is handed to Spark as an Arrow table, so the
        DataFrame plans a LocalRelation and collecting it launches no Spark
        job. Rows are the same as ``read_snapshot`` filtered to the key
        (tombstone rows of a streaming table included). When the pruned
        files hold more than DEFAULT_MAX_FOLD_BYTES (uncompressed) the read
        falls back to a Spark scan of them, so a driver read stays bounded."""
        import pyarrow as pa
        import pyarrow.dataset as ds
        from pyspark.sql.pandas.types import to_arrow_schema

        b = self.bucket_of(conv_id)
        files = self.files_for_key(conv_id, b)
        key_col = self.meta["bucket_by"]
        if self._files_bytes(files, self._fold_stats()) > DEFAULT_MAX_FOLD_BYTES:
            return self.read_files(spark, files).filter(
                F.col(key_col) == F.lit(conv_id)
            )
        schema = self.current_schema()
        target = to_arrow_schema(schema)
        tabs = [
            _read_conformed(
                os.path.join(self.root, f), target, ds.field(key_col) == conv_id
            )
            for f in files
        ]
        tab = pa.concat_tables(tabs) if tabs else target.empty_table()
        # nullable throughout, as Spark's parquet scan reports the columns
        return spark.createDataFrame(
            tab, schema=T.StructType([T.StructField(f.name, f.dataType) for f in schema])
        )

    def _files_bytes(self, rel_files: Sequence[str], stats: dict) -> int:
        """Uncompressed bytes of manifested files, from the manifests'
        footer stats (``stats`` = _fold_stats). Pre-"bytes" manifests fall
        back to the file size (compressed) — a conservative under-estimate;
        the worker-side ranged fold still bounds memory via its own footer
        reads."""
        tot = 0
        for r in rel_files:
            b = (stats.get(r) or {}).get("bytes")
            if b is None:
                try:
                    b = os.path.getsize(os.path.join(self.root, r))
                except OSError:
                    b = 0
            tot += int(b)
        return tot

    def read_files(
        self, spark: SparkSession, rel_paths: Sequence[str]
    ) -> DataFrame:
        """Read an explicit subset of manifested files with the current
        table schema (the file-granular merge's snapshot side)."""
        schema = self.current_schema()
        if not rel_paths:
            return empty_df(spark, schema)
        return spark.read.schema(schema).parquet(
            *[os.path.join(self.root, p) for p in rel_paths]
        )

    # ---------- file-granular COW planning ----------

    def has_live_files(self, buckets: Sequence[int] | None = None) -> bool:
        """True if any (selected) bucket currently references data files.
        Driver-side manifest fold only — used to skip work (e.g. the
        prune-key collect job) on epochs that merge into empty buckets."""
        state, _ = self._current_state()
        wanted = None if buckets is None else {str(int(b)) for b in buckets}
        return any(
            fl for b, fl in state.items() if wanted is None or b in wanted
        )

    def plan_cow_merge(
        self,
        touched_buckets: Sequence[int],
        batch_keys_by_bucket: dict[str, list] | None,
        max_files_per_bucket: int = 64,
    ) -> tuple[list[str], dict[str, list[str]]]:
        """Split each touched bucket's live files into HOT (contain a batch
        key by min/max-range stats → must be read + rewritten) and KEPT
        (provably untouched → carried into the new manifest as-is).

        This is Iceberg's metadata file pruning applied to the MERGE write
        side: per-epoch rewrite cost drops from O(touched buckets' data) to
        O(files overlapping the batch's keys), which is what keeps COW
        throughput flat as the table grows (round-1 verdict: COW rewrite
        amplification was the #1 scale problem).

        ``batch_keys_by_bucket`` maps bucket id (str) to the SORTED list of
        this batch's distinct key values in that bucket; a ``None`` map (or
        a missing bucket entry) means "unknown — rewrite the whole bucket".
        Buckets whose file count exceeds ``max_files_per_bucket`` are fully
        rewritten too: that self-compacts fragmented buckets, bounding the
        file-count growth that per-epoch partial rewrites would otherwise
        accumulate forever."""
        import bisect

        state, _ = self._current_state()
        stats = self._fold_stats()
        hot: list[str] = []
        kept: dict[str, list[str]] = {}
        for b in touched_buckets:
            bs = str(int(b))
            entries = state.get(bs, [])
            keys = None if batch_keys_by_bucket is None else batch_keys_by_bucket.get(bs)
            if keys is None or len(entries) > max_files_per_bucket:
                hot.extend(entries)
                continue
            for path in entries:
                st = stats.get(path)
                if st is None or st.get("min_key") is None:
                    hot.append(path)  # no stats → must assume it matches
                    continue
                i = bisect.bisect_left(keys, st["min_key"])
                if i < len(keys) and keys[i] <= st["max_key"]:
                    hot.append(path)
                else:
                    kept.setdefault(bs, []).append(path)
        return hot, kept

    def write_atoms(self, rel_paths: Sequence[str]) -> list[tuple[int, str, float]]:
        """(bucket, min_key, rows) per stats-bearing live file — point-mass
        estimates of where existing rows live in (bucket, key) space.
        Feeds operators.rangewrite.plan_range_bounds so the COW write can
        range-cluster WITHOUT a sampling pass (driver-side manifest
        arithmetic only; files lacking footer stats contribute no atom —
        bound quality degrades, routing correctness never depends on it)."""
        state, _ = self._current_state()
        stats = self._fold_stats()
        bucket_of_path = {f: int(b) for b, fl in state.items() for f in fl}
        out: list[tuple[int, str, float]] = []
        for p in rel_paths:
            st = stats.get(p)
            b = bucket_of_path.get(p)
            if st and b is not None and st.get("min_key") is not None:
                out.append((b, st["min_key"], float(st.get("rows") or 1)))
        return out

    # ---------- write / commit ----------

    def is_committed(self, epoch: int) -> bool:
        return os.path.exists(self._manifest_path(epoch))

    def write_epoch_data(self, epoch: int, new_state: DataFrame) -> tuple[str, float]:
        """Run the epoch's write action into a fresh attempt dir; returns
        (epoch_dir, write_seconds). No manifest is written — the data stays
        invisible until :meth:`commit_epoch` publishes it (pass the return
        value as ``pre_written``). Unique attempt dir: concurrent or crashed
        attempts never share paths, so a racing committer cannot clobber the
        files the winning manifest references — the CAS manifest create in
        commit_epoch is the only commit point, and it points at THIS
        attempt's files. Orphaned attempt dirs (crash, or CAS loser) are
        invisible to every reader (manifest-driven) and reclaimed by
        expire()."""
        os.makedirs(self.data_dir, exist_ok=True)
        epoch_dir = tempfile.mkdtemp(
            prefix=f"epoch={epoch:010d}-", dir=self.data_dir
        )
        t0 = time.time()
        (
            new_state.write.mode("overwrite")
            .partitionBy(BUCKET_COL)
            .parquet(epoch_dir)
        )
        return epoch_dir, time.time() - t0

    def commit_epoch(
        self,
        epoch: int,
        new_state: DataFrame,
        touched_buckets: Sequence[int],
        lsn_lo: int,
        lsn_hi: int,
        schema: T.StructType,
        metrics: dict | None = None,
        append: bool = False,
        kept_files: dict[str, list[str]] | None = None,
        observation=None,
        replace_all: bool = False,
        pre_written: tuple[str, float] | None = None,
    ) -> bool:
        """Write the new state of the touched buckets and commit atomically.

        Copy-on-write (``append=False``, default): `new_state` must contain
        exactly the rows that ARE the post-merge state of `touched_buckets`;
        the manifest's file list REPLACES each touched bucket's files.
        With file-granular COW (plan_cow_merge), ``kept_files`` lists the
        provably-untouched files each bucket carries forward — they are
        prepended to the bucket's new file list, and `new_state` holds only
        the merged content of the HOT files.

        Merge-on-read (``append=True``): `new_state` is a DELTA (this
        epoch's key-unique change rows, lsn/op included); the manifest lists
        prior files + the new delta files, and readers resolve LWW at read
        time (MergeOnReadTable) — Iceberg-v2-style row-level upserts without
        rewriting untouched data.

        Returns False (and writes nothing) if the epoch is already
        committed — the exactly-once re-run guard (SURVEY.md §2.1 S8/T4).

        ``observation``: a pyspark Observation attached to the batch plan.
        When given, epoch metrics (keys, deletes) and — if
        ``touched_buckets`` is None — the touched-bucket list are read from
        it AFTER the write: the write job computes them as a side effect,
        so committing an epoch needs NO separate driver round trips.

        ``pre_written``: (epoch_dir, write_seconds) from a prior
        :meth:`write_epoch_data` call — the pipelined epoch loop runs the
        write action on a worker thread while the driver plans the next
        epoch, then commits here without re-writing. The attempt-dir
        design makes the split crash-safe for free: an epoch whose data
        landed but whose manifest never did is invisible to every reader
        and reclaimed by expire().
        """
        if self.is_committed(epoch):
            return False

        if pre_written is not None:
            epoch_dir, write_s = pre_written
        else:
            epoch_dir, write_s = self.write_epoch_data(epoch, new_state)

        if observation is not None:
            om = observation.get  # resolved: the write job just ran the plan
            metrics = {
                **(metrics or {}),
                "keys": int(om.get("keys") or 0),
                "deletes_in_batch": int(om.get("deletes") or 0),
            }
            if touched_buckets is None:
                touched_buckets = sorted(int(b) for b in (om.get("buckets") or []))
        elif touched_buckets is None:
            raise ValueError("touched_buckets required without an observation")

        # Inventory written files per bucket. In COW mode, touched buckets
        # that ended empty (all rows deleted) get [] so they shadow prior
        # files; in append (MOR) mode the manifest lists ONLY added files
        # (the read-time fold extends prior buckets), so an empty delta
        # simply contributes nothing.
        kept_files = kept_files or {}
        bucket_files: dict[str, list[str]] = (
            {}
            if append
            else {str(int(b)): list(kept_files.get(str(int(b)), [])) for b in touched_buckets}
        )
        bucket_counts: dict[str, int] = {}
        file_stats: dict[str, dict] = {}
        t_stats = time.time()
        if os.path.isdir(epoch_dir):
            for entry in os.listdir(epoch_dir):
                if not entry.startswith(f"{BUCKET_COL}="):
                    continue
                b = entry.split("=", 1)[1]
                d = os.path.join(epoch_dir, entry)
                rel = [
                    os.path.relpath(os.path.join(d, f), self.root)
                    for f in sorted(os.listdir(d))
                    if f.endswith(".parquet")
                ]
                bucket_files[b] = bucket_files.get(b, []) + rel
            # Footer reads are per-file metadata I/O on the commit path
            # (driver-serial wall): thread pool instead of a sequential
            # loop — an epoch can easily write hundreds of files. Carried-
            # forward (kept) files already have stats in older manifests.
            new_rel = [
                r
                for b2, fl in bucket_files.items()
                for r in fl
                if r not in set(kept_files.get(b2, []))
            ]
            import concurrent.futures

            key_col = self.meta["bucket_by"]
            with concurrent.futures.ThreadPoolExecutor(
                min(16, max(1, len(new_rel)))
            ) as ex:
                for r, st in zip(
                    new_rel,
                    ex.map(
                        lambda r: _parquet_key_stats(
                            os.path.join(self.root, r), key_col
                        ),
                        new_rel,
                    ),
                ):
                    file_stats[r] = st
            # Per-bucket rows of the files written THIS epoch, free from the
            # footer stats: lineage + the lagged skew signal the next
            # epoch's salt is chosen from (operators/skew.choose_salt).
            for b2, fl in bucket_files.items():
                n = sum(
                    int(file_stats[r]["rows"] or 0)
                    for r in fl
                    if r in file_stats and file_stats[r].get("rows") is not None
                )
                if n:
                    bucket_counts[b2] = n

        # A crashed re-bucket may have left a pending marker for this epoch
        # id; a NORMAL commit claiming that id must retire the marker first,
        # or the marker would falsely activate the new layout (n_buckets
        # treats "pending epoch committed" as the flip signal).
        stale = self.meta.get("pending_rebucket")
        if stale is not None and int(stale["epoch"]) == epoch and not replace_all:
            meta = dict(self.meta)
            meta.pop("pending_rebucket", None)
            _atomic_write_json(os.path.join(self.commits_dir, "table.json"), meta)
            self._meta = meta

        manifest = {
            "epoch": epoch,
            "append": bool(append),
            "replace_all": bool(replace_all),
            "file_stats": file_stats,
            "lsn_lo": lsn_lo,
            "lsn_hi": lsn_hi,
            "schema": schema.json(),
            "buckets": bucket_files,
            "metrics": {
                **(metrics or {}),
                "write_seconds": round(write_s, 3),
                # Driver-serial commit bookkeeping (file inventory + footer
                # stat reads, threaded): recorded so sched_gap decomposes
                # from the manifests alone — epoch wall = prepare + write
                # (Catalyst planning + stages) + stats + manifest I/O.
                "commit_stats_seconds": round(time.time() - t_stats, 3),
                "touched_buckets": len(touched_buckets),
                "bucket_rows": bucket_counts,
            },
            "committed_at": time.time(),
        }
        try:
            _atomic_create_json(self._manifest_path(epoch), manifest)
        except FileExistsError:
            # A racing writer committed this epoch between our entry guard
            # and the swap — optimistic concurrency: exactly one manifest
            # wins; the loser discards its attempt files and reports
            # "already committed", same contract as the sequential guard.
            shutil.rmtree(epoch_dir, ignore_errors=True)
            return False
        return True

    # ---------- maintenance ----------

    def expire(self, keep_from_epoch: int | None = None) -> dict:
        """Iceberg-style snapshot expiry: delete data files reachable only
        from snapshots older than ``keep_from_epoch`` (default: latest).

        Both storage modes accumulate superseded files — COW keeps every
        pre-rewrite bucket generation, MOR keeps compacted-away deltas
        (round-1 advice: disk grows without bound). Kept snapshots
        (``epoch >= keep_from_epoch`` plus the latest) stay byte-identical
        and time-travelable; older ``as_of_epoch`` reads raise. Crash-safe:
        only files referenced by NO kept manifest fold are unlinked, and the
        ``expired_before`` marker is committed before any unlink so a crash
        mid-delete can never leave a readable-but-missing snapshot."""
        epochs = self.committed_epochs()
        if not epochs:
            return {"removed_files": 0, "kept_epochs": []}
        keep_from = epochs[-1] if keep_from_epoch is None else int(keep_from_epoch)
        kept = [e for e in epochs if e >= keep_from] or [epochs[-1]]
        meta = dict(self.meta)
        meta["expired_before"] = keep_from
        _atomic_write_json(os.path.join(self.commits_dir, "table.json"), meta)
        self._meta = meta
        return {"removed_files": self._gc_unreferenced(kept), "kept_epochs": kept}

    def rollback(self, to_epoch: int) -> dict:
        """Point-in-time recovery (Iceberg ``rollback_to_snapshot``):
        discard every commit after ``to_epoch`` and GC the files only
        those commits referenced.

        Manifests are unlinked newest-first, so a crash mid-rollback
        leaves a valid (merely longer) chain — the commit point stays the
        manifest ledger, same as writes. After rollback, ``resume_point``
        reads the restored manifest's ``lsn_hi``, so the next ``run()``
        simply re-plays the discarded WAL range (T3 backfill path) —
        possibly with fixed code, which is the operational point: bad
        deploy → rollback → replay.

        Refuses to roll back past ``expire()``'s horizon (those snapshots'
        files are gone).
        """
        epochs = self.committed_epochs()
        if to_epoch not in epochs:
            raise ValueError(f"epoch {to_epoch} is not a committed snapshot")
        horizon = int(self.meta.get("expired_before", epochs[0]))
        if to_epoch < horizon:
            raise ValueError(
                f"cannot roll back to {to_epoch}: snapshots before "
                f"{horizon} were expired"
            )
        dropped = sorted((e for e in epochs if e > to_epoch), reverse=True)
        for e in dropped:
            os.unlink(self._manifest_path(e))
        removed = self._gc_unreferenced(
            [e for e in epochs if horizon <= e <= to_epoch]
        )
        return {"epochs_dropped": dropped[::-1], "removed_files": removed}

    def _gc_unreferenced(self, live_epochs: Sequence[int]) -> int:
        """Unlink every data file that no snapshot in ``live_epochs``
        references, then prune the emptied directories; returns the count
        unlinked. Callers publish their intent first (expire's marker,
        rollback's manifest drops), so a crash mid-GC leaves only files
        that no readable snapshot needs."""
        referenced: set[str] = set()
        for e in live_epochs:
            state, _ = self._current_state(as_of_epoch=e)
            for files in state.values():
                referenced.update(files)
        removed = 0
        for dirpath, _dirnames, filenames in os.walk(self.data_dir, topdown=False):
            for fn in filenames:
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, self.root)
                if fn.endswith(".parquet") and rel not in referenced:
                    os.unlink(full)
                    removed += 1
            if dirpath != self.data_dir and not os.listdir(dirpath):
                os.rmdir(dirpath)
        return removed

    def rebucket(
        self,
        spark: SparkSession,
        new_n_buckets: int,
        write_partitions: int | None = None,
    ) -> dict:
        """Partition evolution: rewrite the table into a new bucket-count
        layout (Iceberg ``REPLACE PARTITION FIELD`` + rewrite).

        Growing the cluster 4× without re-bucketing caps write parallelism
        at the old bucket count; this makes the layout change an explicit,
        one-shot, manifest-audited O(table) rewrite — after it, every read,
        ingest epoch and compaction uses the new bucket function (the
        ingest loop reads ``table.n_buckets``, not its config).

        Crash-consistent three-step flip: (1) write a ``pending_rebucket``
        marker, (2) commit the ``replace_all`` rewrite manifest — the
        commit point: ``n_buckets`` flips the moment that manifest exists —
        (3) finalize metadata and expire pre-rebucket snapshots (their
        bucket-pruning metadata is meaningless under the new hash, and
        expiry is what makes rolling back across the boundary refuse).
        """
        new_n = int(new_n_buckets)
        last = self.last_committed()
        if last is None:
            meta = dict(self.meta)
            meta["n_buckets"] = new_n
            _atomic_write_json(
                os.path.join(self.commits_dir, "table.json"), meta
            )
            self._meta = meta
            return {"epoch": None, "n_buckets": new_n}

        if self.meta.get("storage") == "mor":
            df = self._read_resolved_local(
                spark, with_version_cols=True, drop_tombstones=True
            )
        else:
            df = self.read_snapshot(spark)
        df = df.withColumn(
            BUCKET_COL, bucket_expr(new_n, self.meta["bucket_by"])
        )
        if write_partitions:
            df = df.repartition(write_partitions, F.col(BUCKET_COL))

        epoch = int(last["epoch"]) + 1
        meta = dict(self.meta)
        meta["pending_rebucket"] = {"epoch": epoch, "n_buckets": new_n}
        _atomic_write_json(os.path.join(self.commits_dir, "table.json"), meta)
        self._meta = meta

        committed = self.commit_epoch(
            epoch,
            df,
            list(range(new_n)),
            int(last["lsn_hi"]),
            int(last["lsn_hi"]),
            self.current_schema(),
            {
                "mode": "rebucket",
                "from_n_buckets": int(meta["n_buckets"]),
                "to_n_buckets": new_n,
            },
            append=False,
            replace_all=True,
        )
        if committed:
            meta = dict(self.meta)
            meta["n_buckets"] = new_n
            meta.pop("pending_rebucket", None)
            _atomic_write_json(
                os.path.join(self.commits_dir, "table.json"), meta
            )
            self._meta = meta
            self.expire(keep_from_epoch=epoch)
        return {"epoch": epoch, "committed": committed, "n_buckets": new_n}


class MergeOnReadTable(ParquetSnapshotTable):
    """Iceberg-v2-style merge-on-read variant of the lake table.

    Ingest appends per-epoch DELTA files (key-unique change rows carrying
    ``lsn`` + ``op``, deletes as tombstones) instead of rewriting touched
    buckets — write cost per epoch is O(batch), never O(table). Readers
    resolve last-writer-wins at scan time: one window over the natural key
    ordered by lsn, tombstones filtered. ``compact()`` folds a bucket's
    delta chain back to one base file set, bounding read amplification —
    the classic high-update-rate CDC trade (write amplification ↔ read
    amplification) made explicit and benchmarkable vs COW.

    The manifest/commit protocol, exactly-once guard, schema evolution and
    time travel are inherited unchanged: a MOR commit is just a manifest
    whose bucket file lists grow instead of being replaced.
    """

    STORAGE = "mor"

    @classmethod
    def create(cls, root, schema, n_buckets=16, key_cols=("conv_id", "turn_idx"), bucket_by="conv_id"):
        t = super().create(root, schema, n_buckets=n_buckets, key_cols=key_cols, bucket_by=bucket_by)
        meta = dict(t.meta)
        meta["storage"] = cls.STORAGE
        _atomic_write_json(os.path.join(t.commits_dir, "table.json"), meta)
        t._meta = meta
        return MergeOnReadTable(root)

    # ---------- resolved reads ----------

    def read_resolved(
        self,
        spark: SparkSession,
        buckets: Sequence[int] | None = None,
        as_of_epoch: int | None = None,
        with_version_cols: bool = False,
        lsn_col: str = "lsn",
        op_col: str = "op",
        local_fold: bool = True,
        columns: Sequence[str] | None = None,
        max_fold_bytes: int | None = DEFAULT_MAX_FOLD_BYTES,
    ) -> DataFrame:
        """Scan delta chains and fold to current state: LWW by lsn per key,
        tombstones dropped. ``columns`` projects the output and (on the
        local-fold path) prunes the worker-side parquet reads to key +
        version + projected columns — mapInArrow is opaque to Catalyst, so
        column pruning must be threaded through explicitly.

        Default (``local_fold=True``): BUCKET-LOCAL fold with zero data
        shuffle — the key is a function of the bucket, so each bucket's
        chain can be merged independently; one task per bucket reads its
        manifested files and folds them in pure Arrow compute (mapInArrow),
        exactly how Iceberg/Delta MOR readers merge per file-group. The
        only exchange in the plan is the ≤n_buckets-row file-list relation
        (round-1 verdict: the window fold's full-table exchange per
        resolved read was the MOR scale-killer).

        ``max_fold_bytes`` bounds a fold task's peak memory: a chain larger
        than the budget (uncompressed, from manifest/footers) is split into
        key-range slices folded sequentially, and oversized buckets fan out
        across shard tasks (parallelism above n_buckets) — see
        _plan_key_ranges. None opts out (whole-chain concat+sort).

        ``local_fold=False`` keeps the declarative single-window fold
        (useful as a cross-check; equality is asserted in tests)."""
        if local_fold:
            return self._read_resolved_local(
                spark, buckets, as_of_epoch, with_version_cols, lsn_col, op_col,
                columns=columns, max_fold_bytes=max_fold_bytes,
            )
        from pyspark.sql import Window

        raw = self.read_snapshot(spark, buckets=buckets, as_of_epoch=as_of_epoch)
        w = Window.partitionBy(*self.key_cols).orderBy(F.col(lsn_col).desc())
        df = (
            raw.withColumn("__rn", F.row_number().over(w))
            .filter((F.col("__rn") == 1) & (F.col(op_col) != "D"))
            .drop("__rn")
        )
        if not with_version_cols:
            df = df.drop(lsn_col, op_col)
        if columns is not None:
            df = df.select(*columns)  # Catalyst prunes the scan itself
        return df

    def _read_resolved_local(
        self,
        spark: SparkSession,
        buckets: Sequence[int] | None = None,
        as_of_epoch: int | None = None,
        with_version_cols: bool = False,
        lsn_col: str = "lsn",
        op_col: str = "op",
        drop_tombstones: bool = True,
        files_override: Sequence[str] | None = None,
        key_values: Sequence | None = None,
        columns: Sequence[str] | None = None,
        max_fold_bytes: int | None = DEFAULT_MAX_FOLD_BYTES,
    ) -> DataFrame:
        """The zero-shuffle fold behind read_resolved (see its docstring).

        ``files_override`` (with a single bucket in ``buckets``) restricts
        the fold to an explicit manifest-pruned file list; ``key_values``
        restricts it to rows whose bucket_by column is in the set (sound
        for LWW — a key's winner depends only on that key's own rows) and
        is pushed into the parquet read as a row-group predicate. Both serve
        read_conversation when its pruned chain is over the driver budget. ``columns`` projects the
        output AND prunes the fold's parquet reads to key + version +
        projected columns (sound: the LWW winner is decided by key+lsn
        alone, never by a dropped payload column)."""
        expired = int(self.meta.get("expired_before", -1))
        if as_of_epoch is not None and as_of_epoch < expired:
            raise ValueError(
                f"cannot time-travel to epoch {as_of_epoch}: files for "
                f"snapshots before epoch {expired} were removed by expire()"
            )
        state, schema = self._current_state(as_of_epoch)
        wanted = None if buckets is None else {str(int(b)) for b in buckets}
        # A point read (files_override/key_values) folds one key's rows,
        # however large its files: skip range planning entirely.
        ranged = max_fold_bytes is not None and files_override is None
        stats = self._fold_stats(as_of_epoch) if ranged else {}

        def _n_shards(rel_files: list[str]) -> int:
            if not ranged:
                return 1
            return max(
                1,
                min(64, -(-self._files_bytes(rel_files, stats) // int(max_fold_bytes))),
            )

        if files_override is not None:
            only = int(list(buckets)[0]) if buckets else 0
            items = (
                [(only, [os.path.join(self.root, f) for f in files_override], 0, 1)]
                if files_override
                else []
            )
        else:
            items = [
                (int(b), [os.path.join(self.root, f) for f in files], shard, n)
                for b, files in state.items()
                if files and (wanted is None or b in wanted)
                for n in (_n_shards(files),)
                for shard in range(n)
            ]
        out_fields = [
            f
            for f in schema.fields
            if with_version_cols or f.name not in (lsn_col, op_col)
        ]
        if columns is not None:
            by_name = {f.name: f for f in out_fields}
            unknown = [c for c in columns if c not in by_name]
            if unknown:
                raise ValueError(f"unknown columns for resolved read: {unknown}")
            # honor the caller's requested order (the COW path selects
            # df.select(*columns) — both storage modes must agree)
            out_fields = [by_name[c] for c in columns]
        out_schema = T.StructType(out_fields)
        if not items:
            return empty_df(spark, out_schema)
        key_cols = self.key_cols
        out_cols = [f.name for f in out_fields]
        # the fold reads only what the output + LWW ordering need: the
        # parquet reads inside _arrow_lww_fold are pruned to this schema
        needed = {*key_cols, lsn_col, op_col, *(f.name for f in out_fields)}
        if key_values is not None:
            needed.add(self.meta["bucket_by"])
        fold_schema = T.StructType([f for f in schema.fields if f.name in needed])
        arrow_schema_json = fold_schema.json()
        gate_col = self.meta["bucket_by"] if key_values is not None else None
        gate_vals = list(key_values) if key_values is not None else None
        fold_budget = int(max_fold_bytes) if ranged else None

        def fold(batches):
            """Pure-Arrow LWW fold (mapInArrow): no pandas round trip —
            Spark's pandas serializer mishandles ArrowDtype-backed columns
            (multi-chunk arrays, tz-naive timestamps) on the return path,
            and Arrow compute is faster anyway (core in _arrow_lww_fold)."""
            import json as _json

            import pyarrow as _pa
            import pyarrow.compute as _pc
            from pyspark.sql.pandas.types import to_arrow_schema
            from pyspark.sql.types import StructType as _St

            target = to_arrow_schema(_St.fromJson(_json.loads(arrow_schema_json)))
            kf = {gate_col: _pa.array(gate_vals)} if gate_col else None
            for rb in batches:
                for files, shard, n in zip(
                    rb.column("files").to_pylist(),
                    rb.column("shard").to_pylist(),
                    rb.column("n_shards").to_pylist(),
                ):
                    # budget-bounded fold: slice the chain's key space into
                    # ~max_fold_bytes ranges; this task folds ranges
                    # shard::n SEQUENTIALLY (peak memory = one range), and
                    # sibling shard tasks take the rest (parallelism above
                    # n_buckets for hot buckets). Deterministic: every
                    # shard derives the same range list from the footers.
                    if fold_budget is not None:
                        ranges = _plan_key_ranges(files, key_cols[0], fold_budget)
                        if n > 1:
                            ranges = ranges[shard::n]
                    else:
                        ranges = [(None, None)]
                    for key_range in ranges:
                        full = _arrow_lww_fold(
                            files, target, key_cols, lsn_col, key_filter=kf,
                            key_range=key_range,
                        )
                        if full.num_rows == 0:
                            continue
                        if drop_tombstones:
                            full = full.filter(
                                _pc.not_equal(full[op_col], _pa.scalar("D"))
                            )
                        for ob in full.select(out_cols).to_batches():
                            if ob.num_rows:
                                yield ob

        files_df = spark.createDataFrame(
            items, "bucket int, files array<string>, shard int, n_shards int"
        ).repartition(max(len(items), 1), F.col("bucket"), F.col("shard"))
        return files_df.mapInArrow(fold, schema=out_schema)

    def read_conversation(self, spark: SparkSession, conv_id: str) -> DataFrame:
        """Point read with the LWW fold applied (live rows), pruned at
        every layer: bucket routing → per-file min/max key stats
        (files_for_key skips delta files whose range can't contain the
        conversation) → a key row-group predicate inside the fold's
        parquet reads. Sound under LWW: a key's winner depends only on
        its own rows, and every file that can contain the key is kept.

        The fold runs in the driver (_arrow_lww_fold over the pruned chain,
        tombstones and ``lsn``/``op`` dropped as in read_resolved) and the
        result is handed to Spark as an Arrow table, so the DataFrame plans
        a LocalRelation and collecting it launches no Spark job. When the
        pruned chain holds more than DEFAULT_MAX_FOLD_BYTES (uncompressed)
        the fold runs as a Spark task instead (_read_resolved_local), so a
        driver read stays bounded."""
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark.sql.pandas.types import to_arrow_schema

        b = self.bucket_of(conv_id)
        files = self.files_for_key(conv_id, b)
        if self._files_bytes(files, self._fold_stats()) > DEFAULT_MAX_FOLD_BYTES:
            return self._read_resolved_local(
                spark, buckets=[b], files_override=files, key_values=[conv_id]
            )
        schema = self.current_schema()
        tab = _arrow_lww_fold(
            [os.path.join(self.root, f) for f in files],
            to_arrow_schema(schema),
            self.key_cols,
            "lsn",
            key_filter={self.meta["bucket_by"]: pa.array([conv_id])},
        )
        out = T.StructType([f for f in schema.fields if f.name not in ("lsn", "op")])
        tab = tab.filter(pc.not_equal(tab["op"], pa.scalar("D")))
        return spark.createDataFrame(tab.select(out.fieldNames()), schema=out)

    # ---------- incremental changelog (CDC tap) ----------

    def read_changes(
        self,
        spark: SparkSession,
        from_epoch: int,
        to_epoch: int | None = None,
        lsn_col: str = "lsn",
        op_col: str = "op",
    ) -> DataFrame:
        """Emit the NET per-key changes between two committed snapshots —
        the Iceberg changelog-scan / Delta CDF equivalent, so downstream
        consumers (index refresh, cache invalidation, replication) can tail
        this table without re-scanning it.

        Semantics: one row per key whose resolved state differs between
        ``as_of_epoch=from_epoch`` and ``as_of_epoch=to_epoch`` (from is
        exclusive, to inclusive — "changes since snapshot from_epoch").
        Columns: ``change_type`` (insert / update / delete), the key
        columns, ``{c}_before`` / ``{c}_after`` images for every value
        column, and the winning ``lsn``. Late (out-of-order) writes that
        lost LWW to pre-existing state emit nothing; a delete of a key that
        never existed emits nothing.

        Scale shape: the epoch range's ADDED delta files are known from the
        manifests — per bucket, one task LWW-folds the range deltas, folds
        the base snapshot restricted to that bucket AND key-gated to the
        keys the range touched (with the key set pushed into the parquet
        read as a row-group predicate — compacted base files are written
        key-sorted, so untouched row groups skip IO), and classifies via
        an Arrow hash join. Zero data shuffle (same contract as
        read_resolved); cost is O(|range deltas| + |base rows of touched
        keys|), never O(table) for an epoch range touching few keys.

        Raises if the range contains a non-append (compaction) commit —
        a rewrite's file diff is reorganization, not logical change; read
        changes across ranges that lie between compactions.
        """
        epochs = self.committed_epochs()
        if to_epoch is None:
            to_epoch = epochs[-1] if epochs else from_epoch
        in_range = [e for e in epochs if from_epoch < e <= to_epoch]
        schema = self._current_state(to_epoch)[1]
        key_cols = self.key_cols
        val_cols = [
            f.name
            for f in schema.fields
            if f.name not in (*key_cols, lsn_col, op_col)
        ]
        out_fields = [T.StructField("change_type", T.StringType())]
        out_fields += [schema[c] for c in key_cols]
        for c in val_cols:
            out_fields.append(
                T.StructField(f"{c}_before", schema[c].dataType)
            )
            out_fields.append(T.StructField(f"{c}_after", schema[c].dataType))
        out_fields.append(T.StructField(lsn_col, schema[lsn_col].dataType))
        out_schema = T.StructType(out_fields)
        if not in_range:
            return empty_df(spark, out_schema)

        rewrites = [
            e for e in in_range if not self.read_manifest(e).get("append")
        ]
        if rewrites:
            # earliest rewrite: the hinted prefix range
            # (from_epoch, rewrites[0]-1] is then append-only on the first
            # try — raising with the LAST rewrite would leave earlier ones
            # inside the hinted range and force iterated exceptions.
            raise ChangelogRewriteGap(rewrites[0], in_range[0] - 1)
        range_files: dict[str, list[str]] = {}
        for e in in_range:
            m = self.read_manifest(e)
            for b, fl in m["buckets"].items():
                range_files[b] = range_files.get(b, []) + fl
        base_state = self._current_state(from_epoch)[0]
        items = [
            (
                int(b),
                [os.path.join(self.root, f) for f in fl],
                [os.path.join(self.root, f) for f in base_state.get(b, [])],
            )
            for b, fl in sorted(range_files.items())
            if fl
        ]
        if not items:
            return empty_df(spark, out_schema)

        schema_json = schema.json()
        out_names = [f.name for f in out_fields]

        def classify(batches):
            import json as _json

            import pyarrow as _pa
            import pyarrow.compute as _pc
            from pyspark.sql.pandas.types import to_arrow_schema
            from pyspark.sql.types import StructType as _St

            target = to_arrow_schema(_St.fromJson(_json.loads(schema_json)))
            for rb in batches:
                pairs = zip(
                    rb.column("range_files").to_pylist(),
                    rb.column("base_files").to_pylist(),
                )
                for rfiles, bfiles in pairs:
                    r = _arrow_lww_fold(rfiles, target, key_cols, lsn_col)
                    if r.num_rows == 0:
                        continue
                    # base side gated to keys the range actually touched:
                    # fold cost tracks |changed keys|, not |bucket base|
                    kf = {c: _pc.unique(r[c]) for c in key_cols}
                    b = _arrow_lww_fold(
                        bfiles, target, key_cols, lsn_col, key_filter=kf
                    )
                    b = b.select([*key_cols, *val_cols, lsn_col, op_col])
                    b = b.rename_columns(
                        [
                            *key_cols,
                            *[f"__b_{c}" for c in val_cols],
                            "__b_lsn",
                            "__b_op",
                        ]
                    )
                    j = r.join(b, keys=list(key_cols), join_type="left outer")
                    lsn_b = j["__b_lsn"]
                    # state changed iff the range winner is newer than (or
                    # replaces) the base — late LWW losers emit nothing
                    changed = _pc.or_kleene(
                        _pc.is_null(lsn_b), _pc.greater(j[lsn_col], lsn_b)
                    )
                    b_live = _pc.and_kleene(
                        _pc.is_valid(lsn_b),
                        _pc.not_equal(
                            _pc.fill_null(j["__b_op"], "D"), _pa.scalar("D")
                        ),
                    )
                    b_live = _pc.fill_null(b_live, False)
                    r_del = _pc.equal(j[op_col], _pa.scalar("D"))
                    emit = _pc.and_(
                        _pc.fill_null(changed, True),
                        _pc.invert(_pc.and_(r_del, _pc.invert(b_live))),
                    )
                    j = j.filter(emit)
                    if j.num_rows == 0:
                        continue
                    # recompute masks on the filtered table (cheaper than
                    # aligning filtered chunked masks)
                    lsn_b = j["__b_lsn"]
                    b_live = _pc.fill_null(
                        _pc.and_kleene(
                            _pc.is_valid(lsn_b),
                            _pc.not_equal(
                                _pc.fill_null(j["__b_op"], "D"),
                                _pa.scalar("D"),
                            ),
                        ),
                        False,
                    )
                    r_del = _pc.equal(j[op_col], _pa.scalar("D"))
                    ctype = _pc.if_else(
                        r_del,
                        _pa.scalar("delete"),
                        _pc.if_else(
                            b_live, _pa.scalar("update"), _pa.scalar("insert")
                        ),
                    )
                    cols = {"change_type": ctype}
                    for c in key_cols:
                        cols[c] = j[c]
                    for c in val_cols:
                        typ = target.field(c).type
                        cols[f"{c}_before"] = _pc.if_else(
                            b_live, j[f"__b_{c}"], _pa.nulls(len(j), typ)
                        )
                        cols[f"{c}_after"] = _pc.if_else(
                            r_del, _pa.nulls(len(j), typ), j[c]
                        )
                    cols[lsn_col] = j[lsn_col]
                    out = _pa.table(
                        {n: cols[n] for n in out_names}
                    )
                    for ob in out.to_batches():
                        if ob.num_rows:
                            yield ob

        files_df = spark.createDataFrame(
            items, "bucket int, range_files array<string>, base_files array<string>"
        ).repartition(max(len(items), 1), F.col("bucket"))
        return files_df.mapInArrow(classify, schema=out_schema)

    # ---------- compaction ----------

    def compact(
        self,
        spark: SparkSession,
        drop_tombstones: bool = True,
        write_partitions: int | None = None,
        min_files: int = 0,
    ) -> dict:
        """Fold fragmented buckets' delta chains into a fresh base (one
        commit). ``min_files`` selects which buckets: only those whose live
        chain exceeds that many files are rewritten (0 = all buckets —
        full compaction). A partial compaction commits a replace-style
        manifest listing ONLY the compacted buckets; untouched buckets keep
        their chains — Iceberg binpack-style targeted maintenance, so
        recurring compaction cost tracks fragmentation, not table size.

        ``drop_tombstones=True`` is safe when ingestion is lsn-windowed
        (the batch epoch loop): no event older than the compaction horizon
        can ever arrive. Streaming/out-of-order feeds should keep
        tombstones (False) so stragglers still lose.
        """
        last = self.last_committed()
        if last is None:
            return {"skipped": "empty-table"}
        state, _ = self._current_state()
        targets = sorted(
            int(b) for b, fl in state.items() if fl and len(fl) > min_files
        )
        if not targets:
            return {"skipped": "no-fragmented-buckets", "min_files": min_files}
        # Bucket-local fold: compaction is embarrassingly parallel per
        # bucket — no global exchange (same path as read_resolved).
        folded = self._read_resolved_local(
            spark,
            buckets=targets,
            with_version_cols=True,
            drop_tombstones=drop_tombstones,
        )
        folded = folded.withColumn(
            BUCKET_COL, bucket_expr(self.n_buckets, self.meta["bucket_by"])
        )
        if write_partitions:
            folded = folded.repartition(write_partitions, F.col(BUCKET_COL))
        epoch = int(last["epoch"]) + 1
        committed = self.commit_epoch(
            epoch,
            folded,
            targets,  # replace-style: only these buckets get a fresh base
            int(last["lsn_hi"]),
            int(last["lsn_hi"]),
            self.current_schema(),
            {
                "mode": "compaction",
                "drop_tombstones": drop_tombstones,
                "min_files": min_files,
                "buckets_compacted": len(targets),
            },
            append=False,
        )
        return {
            "epoch": epoch,
            "committed": committed,
            "buckets_compacted": len(targets),
        }


def _parquet_key_stats(path: str, key_col: str) -> dict:
    """Min/max of `key_col` + row count from the parquet FOOTER (driver-side
    metadata read, no data I/O — the write-side analogue of row-group
    pruning). Parquet writers may truncate long binary stats but keep them
    valid bounds, so pruning built on these is conservative, never wrong."""
    import pyarrow.parquet as pq

    try:
        md = pq.read_metadata(path)
    except Exception:
        return {"min_key": None, "max_key": None, "rows": None, "bytes": None}
    rows = md.num_rows
    # uncompressed bytes: the memory-relevant size the ranged fold plans
    # against (task shard counts); falls back to None if unreadable
    nbytes = sum(
        md.row_group(rg).total_byte_size for rg in range(md.num_row_groups)
    )
    base = {"min_key": None, "max_key": None, "rows": rows, "bytes": nbytes}
    if md.num_row_groups == 0:
        return base
    idx = None
    for i in range(md.row_group(0).num_columns):
        if md.row_group(0).column(i).path_in_schema == key_col:
            idx = i
            break
    if idx is None:
        return base
    mins, maxs = [], []
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            return base
        mins.append(st.min)
        maxs.append(st.max)
    if not mins:
        return base
    return {**base, "min_key": min(mins), "max_key": max(maxs)}


def _atomic_write_json(path: str, obj: dict) -> None:
    """Temp-file + rename: the commit point is the rename (POSIX-atomic).
    Overwrites — used for table metadata updates (expire markers etc.)."""
    d = os.path.dirname(path)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f, indent=1)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def _atomic_create_json(path: str, obj: dict) -> None:
    """Create-if-absent commit: hard-link the temp file into place.
    link(2) fails with EEXIST when the target exists, so of two racers
    committing the same epoch exactly ONE manifest wins — the engine's
    optimistic-concurrency commit point (Iceberg's catalog CAS swap; on S3
    a conditional `If-None-Match: *` PUT). Raises FileExistsError for the
    loser."""
    d = os.path.dirname(path)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f, indent=1)
        os.link(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
