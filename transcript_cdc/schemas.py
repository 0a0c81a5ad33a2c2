"""Explicit StructType schemas for the CDC engine (FIXTURES.md §1-2).

The reference's schema is implicit/convention-based (producer writes a meta
dict, Pydantic re-imposes a contract on read — reference
ETL/batch_ecs/source/document.py:51-61, search_server/src/models/document.py:6-15).
Our engine is schema-first: every table has an explicit StructType and
evolution is additive-only, validated at commit time.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Natural key of a transcript turn. Replaces the reference's Haystack
# content-hash doc id (ETL/batch_ecs/source/document.py:64).
KEY_COLS = ["conv_id", "turn_idx"]

# LSN: global total order of the change feed — the analogue of the
# reference's resumptionToken/date cursor (ETL/glue/arxiv_feed.py:75-82).
LSN_COL = "lsn"
OP_COL = "op"

CHANGE_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType(), nullable=False),
        T.StructField("op", T.StringType(), nullable=False),  # 'I' | 'U' | 'D'
        T.StructField("conv_id", T.StringType(), nullable=False),
        T.StructField("turn_idx", T.IntegerType(), nullable=False),
        T.StructField("role", T.StringType(), nullable=True),
        T.StructField("text", T.StringType(), nullable=True),  # null for 'D'
        T.StructField("tool", T.StringType(), nullable=True),
        T.StructField("ts", T.TimestampType(), nullable=True),
    ]
)

# Mid-stream additive columns (schema-evolution fixture, FIXTURES.md §1).
EVOLVED_FIELDS = [
    T.StructField("model", T.StringType(), nullable=True),
    T.StructField("tokens", T.IntegerType(), nullable=True),
]

CHANGE_SCHEMA_EVOLVED = T.StructType(list(CHANGE_SCHEMA.fields) + EVOLVED_FIELDS)

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), nullable=False),
        T.StructField("turn_idx", T.IntegerType(), nullable=False),
        T.StructField("role", T.StringType(), nullable=True),
        T.StructField("text", T.StringType(), nullable=True),
        T.StructField("tool", T.StringType(), nullable=True),
        T.StructField("ts", T.TimestampType(), nullable=True),
    ]
)

# Table schema for versioned storage (merge-on-read lake tables and the
# streaming sink): payload + lsn/op so readers can resolve LWW and deletes
# persist as tombstones.
VERSIONED_TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("lsn", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# Columns carried by the feed but not part of table state.
FEED_ONLY_COLS = [LSN_COL, OP_COL]


# Safe type-widening promotions (Iceberg's evolution rules): the wide type
# represents every value the narrow type can hold, so old files stay
# readable under the widened table schema (Spark's parquet reader and the
# Arrow fold both upcast narrow file columns to the requested wide type).
_WIDEN_CHAINS: list[list[T.DataType]] = [
    [T.ShortType(), T.IntegerType(), T.LongType()],
    [T.FloatType(), T.DoubleType()],
]


def can_widen(narrow: T.DataType, wide: T.DataType) -> bool:
    """True iff `narrow` → `wide` is a lossless promotion."""
    for chain in _WIDEN_CHAINS:
        if narrow in chain and wide in chain:
            return chain.index(narrow) < chain.index(wide)
    return False


def additive_diff(table: T.StructType, batch: T.StructType) -> list[T.StructField]:
    """Columns in `batch` missing from `table` — the additive-evolution delta.

    Same-named columns must have equal types or differ by a safe widening
    (either direction: a wider batch widens the table via `evolve`; a
    narrower batch is upcast at align time). Anything else — a string where
    an int lived, a narrowing rewrite — is rejected, matching Iceberg's
    safe-evolution rules.
    """
    table_by_name = {f.name: f for f in table.fields}
    new_fields: list[T.StructField] = []
    for f in batch.fields:
        existing = table_by_name.get(f.name)
        if existing is None:
            new_fields.append(T.StructField(f.name, f.dataType, nullable=True))
        elif existing.dataType != f.dataType and not (
            can_widen(existing.dataType, f.dataType)
            or can_widen(f.dataType, existing.dataType)
        ):
            raise ValueError(
                f"schema evolution type conflict on column '{f.name}': "
                f"table has {existing.dataType}, batch has {f.dataType}"
            )
    return new_fields


def evolve(table: T.StructType, batch: T.StructType) -> T.StructType:
    """Union-by-name with widening: table schema, with any column the batch
    carries at a (safely) wider type promoted to that type, plus the
    batch's new nullable columns appended."""
    batch_by_name = {f.name: f for f in batch.fields}
    out: list[T.StructField] = []
    for f in table.fields:
        b = batch_by_name.get(f.name)
        if b is not None and can_widen(f.dataType, b.dataType):
            out.append(T.StructField(f.name, b.dataType, f.nullable))
        else:
            out.append(f)
    return T.StructType(out + additive_diff(table, batch))


def align_types(df, schema: T.StructType):
    """Cast any column of `df` whose type differs from `schema` to the
    schema's (wider) type; columns absent from `schema` pass through
    (lsn/op/bucket ride alongside the payload). Explicit casts — the merge
    union and the parquet write must never rely on implicit coercion."""
    from pyspark.sql import functions as F

    want = {f.name: f.dataType for f in schema.fields}
    by_name = {f.name: f.dataType for f in df.schema.fields}
    if all(by_name[c] == want[c] for c in by_name if c in want):
        return df
    return df.select(
        *[
            F.col(c).cast(want[c]).alias(c)
            if c in want and by_name[c] != want[c]
            else F.col(c)
            for c in df.columns
        ]
    )
