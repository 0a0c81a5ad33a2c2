"""Predicate algebra (SURVEY.md §2.3 F1-F6).

Mirror of the reference's get_filters conjunction builder
(search_server/src/utils/filter.py:1-32) and its point/suffix filters
(services/correlations.py:69-78, lambda/trigger_03_batch_job.py:23-29).
All predicates are plain Column expressions, so Catalyst pushes them into
the parquet scan (PushedFilters) — the Spark-native equivalent of the
reference pushing filters into the OpenSearch query body (F7).
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def conjunction(*preds: Column | None) -> Column:
    """AND of the given predicates; empty/None-only → lit(True) (no filter).
    Reference: filter.py:2,29-32 returns None when no conditions."""
    actual = [p for p in preds if p is not None]
    if not actual:
        return F.lit(True)
    return reduce(lambda a, b: a & b, actual)


def range_filter(
    col: str, lo=None, hi=None, lo_inclusive: bool = True, hi_inclusive: bool = True
) -> Column | None:
    """[lo, hi] range predicate (F2/F3: meta.datestamp >= / <= in reference)."""
    preds = []
    if lo is not None:
        preds.append(F.col(col) >= F.lit(lo) if lo_inclusive else F.col(col) > F.lit(lo))
    if hi is not None:
        preds.append(F.col(col) <= F.lit(hi) if hi_inclusive else F.col(col) < F.lit(hi))
    return conjunction(*preds) if preds else None


def in_filter(col: str, values: Sequence) -> Column | None:
    """Membership IN (F4: meta.categories in [...])."""
    if not values:
        return None
    return F.col(col).isin(list(values))


def point_lookup(df: DataFrame, key: dict) -> DataFrame:
    """Point lookup by composite key (F5: bm25-as-point-query top_k=1).
    Equality predicates → partition/row-group prunable."""
    return df.filter(conjunction(*[F.col(k) == F.lit(v) for k, v in key.items()]))
