"""Top-k / rerank (SURVEY.md §2.4 J4-J6).

The reference's retrieval shape: filtered top-k from the store
(services/search.py:27-34), cross-encoder rerank to top_k
(services/ranker.py:16-22). Over-fetch then cut (J7) is ``top_k`` of
``k * 2`` followed by ``rerank``; the self-match override (J8) is one
``F.when`` at the call site.

Physical note: orderBy(desc(score)).limit(k) plans as
TakeOrderedAndProject — a distributed top-k (per-partition heap + driver
merge of k·P candidate rows), NOT a full sort. At 100TB this is the only
acceptable plan for top-k; verified via .explain in tests/test_plans.py.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def top_k(df: DataFrame, score_col: str, k: int, tiebreak: Sequence[str] = ()) -> DataFrame:
    """Distributed top-k by score desc (deterministic with tiebreak cols)."""
    order = [F.col(score_col).desc()] + [F.col(c).asc() for c in tiebreak]
    return df.orderBy(*order).limit(k)


def rerank(
    df: DataFrame, new_score: Column, k: int, score_col: str = "score",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Re-score candidates and keep top-k (J6: TransformersSimilarityRanker).
    The scorer is any Column — deterministic SQL or a vectorized pandas_udf."""
    return top_k(df.withColumn(score_col, new_score), score_col, k, tiebreak)
