"""Hybrid search + correlations pipelines (SURVEY.md §3.2-3.3).

Spark restatement of the reference's two query endpoints:

/search (search_server/src/services/search.py:37-47,72-86):
    text_embedder → embedding_retriever   ⟍
                                            document_joiner → ranker → top_k
    bm25_retriever                        ⟋
Here: two scored scans of the snapshot (deterministic scorers — the
reference's ML models are non-hermetic; the *operators* are scored-scan /
union-dedup / rerank / top-k), fused into one DataFrame plan so Catalyst
pushes the shared filters into both scans.

/correlations (services/correlations.py:60-112): point-lookup the source
row, over-fetch 2k by embedding score, rerank, self-match override.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from transcript_cdc.functions.portable import py_hash_embed
from transcript_cdc.functions.vectors import dot, hash_embed
from transcript_cdc.operators.filters import conjunction, point_lookup
from transcript_cdc.operators.topk import rerank, top_k


def lexical_score(text_col: str, query_terms: Sequence[str]) -> Column:
    """Deterministic lexical scorer: matched-term count / doc token count —
    the BM25-retriever stand-in (tf with length normalization)."""
    words = F.split(F.lower(F.col(text_col)), r"\s+")
    matched = F.size(
        F.filter(words, lambda w: w.isin([t.lower() for t in query_terms]))
    )
    return (matched / F.greatest(F.size(words), F.lit(1))).cast("double")


def bm25_topk(
    docs: DataFrame,
    query_terms: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 25,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Full BM25 (corpus idf, not just tf) — the complete J5 upgrade.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·len/avglen)),
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) — the OpenSearch/Lucene form
    the reference's BM25 retriever uses (services/search.py:31-34).

    Scale shape: tokenize → explode ONLY query-term matches (the explode is
    pre-filtered with array_intersect, so fan-out is |matched terms| per
    doc, not |tokens|) → per-(doc,term) tf aggregate → broadcast join with
    the tiny per-term df table → per-doc score sum → distributed top-k.
    Corpus stats (N, avglen) come from one scalar aggregate, crossJoin'd as
    a 1-row broadcast. Two small shuffles + one scan; no UDFs.
    """
    terms = [t.lower() for t in query_terms]
    terms_arr = F.array(*[F.lit(t) for t in terms])

    toks = docs.select(
        F.col(id_col).alias("id"),
        F.split(F.lower(F.col(text_col)), r"\s+").alias("toks"),
    )
    base = toks.select(
        "id",
        F.size("toks").alias("dl"),
        F.array_intersect("toks", terms_arr).alias("present"),
        F.filter("toks", lambda t: F.array_contains(terms_arr, t)).alias("matched"),
    )

    stats = base.agg(
        F.count(F.lit(1)).alias("N"), F.avg("dl").alias("avgdl")
    )

    tf = base.select(
        "id", "dl", F.explode("matched").alias("term")
    ).groupBy("id", "dl", "term").agg(F.count(F.lit(1)).alias("tf"))

    df_t = (
        base.select(F.explode("present").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )

    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf", F.log(F.lit(1.0) + (F.col("N") - F.col("df") + 0.5) / (F.col("df") + 0.5))
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy("id")
        .agg(F.round(F.sum("term_score"), 6).alias("score"))
    )
    return (
        scored.orderBy(F.col("score").desc(), F.col("id").asc())
        .limit(k)
        .withColumnRenamed("id", id_col)
    )


def embedding_score(
    text_col: str, query_text: str, dim: int = 16, hash_fn: str = "xx64",
    cache=None,
) -> Column:
    """Deterministic semantic scorer: dot of hash-embeddings — the
    SentenceTransformers twin (embedding.py:12-17) made hermetic.

    The query embedding is computed ONCE driver-side and inlined as a
    literal array — Catalyst does not constant-fold higher-order-function
    trees, so embedding the query lazily would re-run hash_embed(query) for
    every scored row. This mirrors the reference embedding the query once
    per request (services/search.py:72-76). The query vector comes from the
    pure-Python twin ``py_hash_embed``, bit-identical to ``hash_embed`` for
    both hashes, so scoring a query launches no Spark job of its own.

    ``cache``: optional operators.cache.LruCache — the J9 get-or-fetch.
    Query embeddings are immutable (pure function of the text), so the key
    needs no snapshot identity; a hit skips re-embedding the query (the
    reference's vector-store LRU, repositories/vector_store.py:33-63)."""

    def fetch():
        return py_hash_embed(query_text, dim, hash_fn)

    if cache is not None:
        qvec = cache.get_or_fetch(("qembed", query_text, dim, hash_fn), fetch)
    else:
        qvec = fetch()
    q = F.array(*[F.lit(float(x)) for x in qvec])
    return dot(hash_embed(F.col(text_col), dim, hash_fn), q).cast("double")


def hybrid_search(
    snapshot: DataFrame,
    query_text: str,
    id_cols: Sequence[str],
    text_col: str = "text",
    filters: Sequence[Column] = (),
    top_k_final: int = 50,
    per_retriever_k: int = 25,
    hash_fn: str = "xx64",
) -> DataFrame:
    """Filtered hybrid top-k: lexical + semantic branches, union-dedup by id
    keeping max score, rerank, cut to top_k_final (config.py:14 top_k=50,
    :57 per-retriever 25).

    Plan shape: ONE scan of the snapshot computes both scores and
    posexplodes them into (branch, score) rows; per-branch top-k is a
    row_number window over branch, which Spark rewrites to WindowGroupLimit
    (per-partition partial limit before the exchange, ≤ 2·k rows shuffled
    per input partition). The naive two-branch formulation scans and
    re-filters the table once per retriever — at 100 TB that's a second
    full table read for zero new information."""
    from pyspark.sql import Window

    base = snapshot.filter(conjunction(*filters))
    terms = query_text.split()

    # built once: each construction embeds the query (a 1-row driver job
    # on the xx64 path); the unresolved Column tree is reusable across
    # the retrieval scan and the rerank blend
    sem_score = embedding_score(text_col, query_text, hash_fn=hash_fn)
    lex_score = lexical_score(text_col, terms)

    # drop any pre-existing score/__branch columns: the old withColumn
    # formulation REPLACED a caller-supplied "score"; select("*", ...)
    # would instead duplicate the name and break resolution downstream
    clean = base.drop("score", "__branch")
    scored = clean.select(
        "*", F.posexplode(F.array(lex_score, sem_score)).alias("__branch", "score")
    )
    order = [F.col("score").desc()] + [F.col(c).asc() for c in id_cols]
    w_branch = Window.partitionBy("__branch").orderBy(*order)
    cand = (
        scored.withColumn("__rn", F.row_number().over(w_branch))
        .filter(F.col("__rn") <= per_retriever_k)
        .drop("__rn")
    )
    # union-dedup by id keeping the max-score row (DocumentJoiner
    # concatenate semantics, same window-LWW shape as union_dedup)
    w_id = Window.partitionBy(*id_cols).orderBy(
        F.col("score").desc(), F.col(id_cols[0])
    )
    merged = (
        cand.withColumn("__rn", F.row_number().over(w_id))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__branch")
    )
    # rerank: blend lexical and semantic (the cross-encoder stand-in) —
    # re-evaluated only over the ≤ 2·per_retriever_k merged candidates
    blended = (lex_score + sem_score) / 2
    return rerank(merged, blended, top_k_final, tiebreak=id_cols)


def correlations(
    snapshot: DataFrame,
    source_key: dict,
    id_cols: Sequence[str],
    text_col: str = "text",
    filters: Sequence[Column] = (),
    k: int = 10,
    hash_fn: str = "xx64",
    cache=None,
    cache_key=None,
) -> DataFrame:
    """More-like-this by key: point-lookup source text, score everything
    against it, over-fetch 2k, rerank to k, self-score override.

    ``cache``/``cache_key``: optional operators.cache.LruCache — the J9
    try-cache-then-point-lookup shape of the reference's correlations
    service (services/correlations.py:64-78,104-107). ``cache_key`` MUST
    capture the snapshot's identity (e.g. the lake table's committed
    epoch): the LRU never invalidates, so a stale key would serve a stale
    source row. A hit skips the point-lookup Spark job entirely."""

    def fetch():
        row = point_lookup(snapshot, source_key).select(text_col).first()
        return None if row is None else (row[0] or "")

    if cache is not None:
        key = ("corr-src", cache_key, tuple(sorted(source_key.items())), text_col)
        src_text = cache.get_or_fetch(key, fetch)
    else:
        src_text = fetch()
    if src_text is None:
        return snapshot.limit(0)
    base = snapshot.filter(conjunction(*filters))
    scored = base.withColumn(
        "score", embedding_score(text_col, src_text, hash_fn=hash_fn, cache=cache)
    )
    cand = top_k(scored, "score", 2 * k, tiebreak=id_cols)
    is_self = conjunction(
        *[F.col(c) == F.lit(v) for c, v in source_key.items() if c in snapshot.columns]
    )
    reranked = rerank(
        cand,
        F.when(is_self, F.lit(1.0)).otherwise(F.col("score")),
        k, tiebreak=id_cols,
    )
    return reranked
