"""Change-feed reader — the WAL/binlog tail (SURVEY.md §2.1 S1/S4/S5).

The reference consumes an OAI-PMH feed page-by-page in cursor order
(ETL/glue/arxiv_feed.py:37-90) and resumes from a metadata.json date cursor
(ETL/lambda/trigger_01_glue.py:23-34). Here the feed is a parquet directory
of WAL segments with an explicit lsn column; resume is `lsn > committed hi`.

Scale notes: an epoch read scans only the WAL segments whose footer lsn
min/max overlaps its range (footers cached per file, read once), so it
opens O(epoch) files even when the feed directory holds the full
10^10-event history; within those segments the lsn range predicate is
pushed to the parquet scan (row-group min/max skipping). The footer-merged
schema lets segments written before a schema-evolution point (missing
columns) coexist with newer ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _unify_widening(schemas_in):
    """Unify parquet footer schemas across evolution points, allowing ONLY
    the engine's safe widenings (int16→int32→int64, float32→float64) for
    same-named columns — pyarrow's ``promote_options="permissive"`` would
    also quietly promote int64+float64 to double, a LOSSY coercion
    (precision loss above 2^53) that schemas.can_widen forbids; conflicts
    outside the chains raise so a mistyped producer fails loudly."""
    import pyarrow as pa

    chains = [
        [pa.int16(), pa.int32(), pa.int64()],
        [pa.float32(), pa.float64()],
    ]
    fields: dict[str, object] = {}
    order: list[str] = []
    for sch in schemas_in:
        for f in sch:
            cur = fields.get(f.name)
            if cur is None:
                fields[f.name] = f
                order.append(f.name)
                continue
            nullable = cur.nullable or f.nullable
            if cur.type == f.type:
                wide = cur.type
            else:
                for chain in chains:
                    if cur.type in chain and f.type in chain:
                        wide = chain[max(chain.index(cur.type), chain.index(f.type))]
                        break
                else:
                    raise ValueError(
                        f"feed segments disagree on column '{f.name}': "
                        f"{cur.type} vs {f.type} — only safe numeric "
                        "widening is allowed across evolution points"
                    )
            fields[f.name] = pa.field(f.name, wide, nullable=nullable)
    return pa.schema([fields[n] for n in order])


class ChangeFeed:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        # incremental footer-merge cache: (merged arrow schema, seen files)
        self._schema_seen: set[str] = set()
        self._schema_arrow = None
        # per-file footer lsn (min, max), read once per segment
        self._lsn_bounds: dict[str, tuple[int, int]] = {}
        # analyzed-DataFrame cache: (frozenset of files, DataFrame). The
        # whole-feed read re-lists the directory and re-creates the file
        # index + analyzed relation every time (driver-serial wall). While
        # the scanned segment set is unchanged the SAME DataFrame (hence
        # the same file index and analyzed plan subtree) is reused.
        self._df_cache: tuple[frozenset, DataFrame] | None = None

    def _files(self) -> list[str]:
        import glob as _glob
        import os as _os

        return _glob.glob(_os.path.join(self.path, "*.parquet")) or _glob.glob(
            _os.path.join(self.path, "**", "*.parquet"), recursive=True
        )

    def _merged_schema(self):
        """Feed schema unified across evolution points, from parquet FOOTERS
        driver-side — ``mergeSchema=true`` schedules a distributed
        schema-inference job over every segment on EVERY read (one such job
        per epoch in the replay loop, profiled at 0.1-1s wall each). The
        footer merge is threaded metadata I/O, and incremental: only
        segments not seen by a previous call are read, so a long-running
        tail pays O(new files) per epoch, not O(feed)."""
        import concurrent.futures

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        files = self._files()
        if not files:
            raise FileNotFoundError(self.path)
        new = sorted(f for f in files if f not in self._schema_seen)
        if new:
            with concurrent.futures.ThreadPoolExecutor(
                min(16, len(new))
            ) as ex:
                fresh = list(ex.map(pq.read_schema, new))
            base = [] if self._schema_arrow is None else [self._schema_arrow]
            # segments may carry a column at different (safely widenable)
            # widths across the evolution point — unify to the widest;
            # anything else raises (see _unify_widening)
            self._schema_arrow = _unify_widening(base + fresh)
            self._schema_seen.update(new)
        return from_arrow_schema(self._schema_arrow)

    def read(self) -> DataFrame:
        """Whole feed, schema-merged across evolution points (additive-only,
        per the engine's evolution contract — schemas.additive_diff)."""
        return self._scan(self._files())

    def _scan(self, files: list[str], whole: bool = True) -> DataFrame:
        """``files`` read under the whole feed's merged schema — the feed
        directory itself when ``whole``, else exactly those segments."""
        files_key = frozenset(files)
        if self._df_cache is not None and self._df_cache[0] == files_key:
            return self._df_cache[1]
        try:
            schema = self._merged_schema()
        except Exception:
            # missing/odd footers → let Spark's distributed merge decide
            return self.spark.read.option("mergeSchema", "true").parquet(self.path)
        # Match Spark's own inference for naive parquet timestamps: arrow
        # maps them to NTZ, but with inferTimestampNTZ disabled Spark reads
        # them as TIMESTAMP_LTZ — the explicit schema must agree with what
        # the session would have inferred, or the batch's ts type would
        # diverge from the lake schema.
        from pyspark.sql import types as T

        infer_ntz = (
            self.spark.conf.get(
                "spark.sql.parquet.inferTimestampNTZ.enabled", "true"
            ).lower()
            == "true"
        )
        if not infer_ntz:
            schema = T.StructType(
                [
                    T.StructField(f.name, T.TimestampType(), f.nullable)
                    if isinstance(f.dataType, T.TimestampNTZType)
                    else f
                    for f in schema.fields
                ]
            )
        paths = [self.path] if whole else sorted(files)
        df = self.spark.read.schema(schema).option("basePath", self.path).parquet(*paths)
        self._df_cache = (files_key, df)
        return df

    def read_range(self, lsn_lo_excl: int, lsn_hi_incl: int) -> DataFrame:
        """One epoch's slice: lsn in (lo, hi]. Scans only the segments
        whose footer lsn range overlaps it (the whole feed if any footer
        lacks lsn stats); the range filter is pushed to that scan."""
        files = self._files()
        bounds = self._footer_bounds(files) or {}
        hit = [f for f, (lo, hi) in bounds.items() if lo <= lsn_hi_incl and hi > lsn_lo_excl]
        df = self._scan(hit, whole=False) if hit else self._scan(files)
        return df.filter(
            (F.col("lsn") > F.lit(lsn_lo_excl)) & (F.col("lsn") <= F.lit(lsn_hi_incl))
        )

    def _footer_bounds(self, files: list[str]) -> dict[str, tuple[int, int]] | None:
        """Every segment's exact lsn (min, max) from its parquet footer —
        metadata only, a thread pool over segments not seen before, no
        Spark job. None if any footer lacks lsn stats (e.g. a writer that
        disabled statistics)."""
        import concurrent.futures

        import pyarrow.parquet as pq

        def footer_bounds(f: str) -> tuple[int, int]:
            md = pq.read_metadata(f)
            col = md.schema.names.index("lsn")  # ValueError if absent
            st = [md.row_group(rg).column(col).statistics for rg in range(md.num_row_groups)]
            if not st or not all(x is not None and x.has_min_max for x in st):
                raise ValueError(f"no lsn stats in {f}")
            return int(min(x.min for x in st)), int(max(x.max for x in st))

        new = [f for f in files if f not in self._lsn_bounds]
        try:
            if new:
                with concurrent.futures.ThreadPoolExecutor(min(16, len(new))) as ex:
                    self._lsn_bounds.update(zip(new, ex.map(footer_bounds, new)))
        except (OSError, ValueError):  # pyarrow errors subclass these
            return None
        return {f: self._lsn_bounds[f] for f in files}

    def max_lsn(self) -> int:
        """Feed high-water mark from parquet footer statistics.

        Driver-serial cost matters here: a Spark `agg(max(lsn))` schedules a
        full scan job (seconds of wall per run that no executor parallelism
        can hide). Parquet footers already carry exact int64 min/max for the
        lsn column, so read ONLY footers (cached per segment). Falls back to
        the Spark aggregate if any footer lacks lsn stats."""
        files = self._files()
        if not files:
            return -1
        bounds = self._footer_bounds(files)
        if bounds is not None:
            return max(hi for _, hi in bounds.values())
        row = self.read().agg(F.max("lsn").alias("m")).collect()[0]
        return -1 if row["m"] is None else int(row["m"])
