"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an implemented operator from SURVEY.md §2 (or a
training-pipeline engine addition), run over the driver's sf tables, with a
DuckDB ``oracle_sql()`` twin. Column names/aliases match exactly on both
sides (the driver's compare is column-name-sorted value hashing).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from transcript_cdc.functions import text as tx
from transcript_cdc.functions.dedup_text import (
    DEFAULT_MAX_BUCKET_SIZE,
    embedding_near_dup_pairs,
    jaccard_refined_near_dup_pairs,
    minhash_near_dup_pairs,
    simhash,
)
from transcript_cdc.functions.json_fns import parse_props
from transcript_cdc.functions.multimodal import extract_features
from transcript_cdc.functions.normalize import clean_document, normalize_text_sql
from transcript_cdc.functions.records import parse_records, record_xml
from transcript_cdc.functions.vectors import cosine_topk, lsh_candidate_topk, make_planes
from transcript_cdc.operators.dedup import lww_dedup, union_dedup
from transcript_cdc.operators.filters import conjunction, in_filter, point_lookup, range_filter
from transcript_cdc.operators.merge import merge_apply
from transcript_cdc.operators.skew import salted_repartition
from transcript_cdc.operators.sessionize import session_summary
from transcript_cdc.plans.search import bm25_topk, correlations, hybrid_search, lexical_score


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# entry — flagship: CDC replay of the events table as an upsert stream
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001: replay `events` as a CDC upsert stream keyed
    (user_id, event_type) with event_id as the LSN — LWW dedup + MERGE
    against an empty snapshot → final state per key."""
    sf_dir = "/root/testdata/sf0.001"
    events = _t(spark, sf_dir, "events")
    feed = events.select(
        F.col("event_id").alias("lsn"),
        F.lit("U").alias("op"),
        F.col("user_id"),
        F.col("event_type"),
        F.col("ts"),
        F.col("value"),
    )
    from pyspark.sql.types import StructType

    from transcript_cdc.sources.lake import empty_df

    batch = lww_dedup(feed, ["user_id", "event_type"], "lsn")
    empty = empty_df(
        spark,
        StructType.fromDDL("user_id long, event_type string, ts timestamp, value double"),
    )
    return merge_apply(
        empty, batch, key_cols=["user_id", "event_type"], broadcast_batch=True
    )


# --------------------------------------------------------------------------
# queries — one per operator
# --------------------------------------------------------------------------

_EMBED_QUERY = [0.125] * 64  # unit-norm constant query vector
_HH_QUERY = "fast table scan with merge join and window agg"


def q_lww_dedup_events(spark, sf):
    ev = _t(spark, sf, "events").select(
        F.col("event_id").alias("lsn"), "user_id", "event_type", "value"
    )
    out = lww_dedup(ev, ["user_id", "event_type"], "lsn")
    return out.select(
        "user_id", "event_type", F.col("lsn").alias("last_event_id"), "value"
    )


def q_merge_upsert_events(spark, sf):
    ev = _t(spark, sf, "events").select(
        F.col("event_id").alias("lsn"),
        F.lit("U").alias("op"),
        "user_id", "event_type", "value",
    )
    from pyspark.sql.types import StructType

    from transcript_cdc.sources.lake import empty_df

    batch = lww_dedup(ev, ["user_id", "event_type"], "lsn")
    snap = empty_df(
        spark, StructType.fromDDL("user_id long, event_type string, value double")
    )
    return merge_apply(snap, batch, key_cols=["user_id", "event_type"], broadcast_batch=True)


def q_merge_versioned_events(spark, sf):
    """Out-of-order replay through merge_apply_versioned (round-2 verdict
    item 9): the even-lsn half of the feed is applied FIRST, the odd-lsn
    half second — a re-ordered delivery merge_apply would corrupt — and the
    lsn-versioned merge must still converge to the global LWW state, with
    deletes retained as tombstones (null payload). Oracle: one windowed
    LWW over the whole feed."""
    from pyspark.sql.types import StructType

    from transcript_cdc.operators.merge import merge_apply_versioned
    from transcript_cdc.sources.lake import empty_df

    ev = _t(spark, sf, "events").select(
        F.col("event_id").alias("lsn"),
        F.when(F.col("event_id") % 10 == 0, "D").otherwise("U").alias("op"),
        "user_id", "event_type", "value",
    )
    keys = ["user_id", "event_type"]
    newer = lww_dedup(ev.filter(F.col("lsn") % 2 == 0), keys, "lsn")
    older = lww_dedup(ev.filter(F.col("lsn") % 2 == 1), keys, "lsn")
    snap = empty_df(
        spark,
        StructType.fromDDL(
            "user_id long, event_type string, value double, lsn long, op string"
        ),
    )
    state = merge_apply_versioned(snap, newer, key_cols=keys)
    state = merge_apply_versioned(state, older, key_cols=keys)
    return state.select("user_id", "event_type", "lsn", "op", "value")


def q_filter_range_in_events(spark, sf):
    ev = _t(spark, sf, "events")
    pred = conjunction(
        range_filter("ts", "2024-01-03 00:00:00", "2024-01-07 00:00:00"),
        in_filter("event_type", ["click", "view"]),
        F.col("value") > 10.0,
    )
    return ev.filter(pred).select("event_id", "user_id", "event_type", "value")


def q_topk_events(spark, sf):
    ev = _t(spark, sf, "events")
    return (
        ev.orderBy(F.col("value").desc(), F.col("event_id").asc())
        .limit(20)
        .select("event_id", "event_type", "value")
    )


def q_union_dedup_events(spark, sf):
    ev = _t(spark, sf, "events").select("event_id", "event_type", "value")
    a = ev.filter(F.col("event_type") == "click")
    b = ev.filter(F.col("value") > 50.0)
    return union_dedup(a, b, ["event_id"], "value", tiebreak=F.col("event_id"))


def q_point_lookup_lineitem(spark, sf):
    # (1, 3) exists at sf0.001/0.01/0.1 — a point lookup that finds nothing
    # proves nothing about F5 (round-1 verdict).
    li = _t(spark, sf, "lineitem")
    return point_lookup(li, {"l_orderkey": 1, "l_linenumber": 3}).select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_extendedprice"
    )


def q_commit_metrics_lineitem(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))),
                2,
            ).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_join_orders_nation(spark, sf):
    """Revenue by nation: orders ⨝ customer ⨝ nation (dims broadcast)."""
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    nation = _t(spark, sf, "nation")
    return (
        orders.filter(F.col("o_orderstatus") == "F")
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def q_salted_group_count(spark, sf):
    """Two-stage salted aggregation == plain groupBy result (skew guard)."""
    ev = _t(spark, sf, "events")
    salted = salted_repartition(
        ev, ["user_id"], salt=8, salt_source_cols=["event_id"]
    )
    partial = salted.groupBy(
        "user_id", F.pmod(F.col("event_id"), F.lit(8)).alias("__salt")
    ).agg(F.count(F.lit(1)).alias("c"), F.sum("value").alias("v"))
    return partial.groupBy("user_id").agg(
        F.sum("c").alias("n_events"), F.round(F.sum("v"), 4).alias("sum_value")
    )


def q_normalize_documents(spark, sf):
    docs = _t(spark, sf, "documents")
    return docs.select("doc_id", normalize_text_sql("text").alias("norm_text"))


def q_clean_documents(spark, sf):
    """P4 DocumentCleaner completion (round-2 verdict missing #1): empty-
    line removal + repeated header/footer stripping across form-feed pages
    (reference: ETL/batch_ecs/source/pipeline.py:43, Haystack
    DocumentCleaner). Fixture texts are single-line, so the query builds a
    deterministic 2-page document per row — repeated header (2 lines, one
    empty), distinct bodies and page markers, repeated 1-line footer — and
    cleans it; the DuckDB oracle constructs the identical pages."""
    docs = _t(spark, sf, "documents")
    paged = F.concat_ws(
        "\f",
        F.concat_ws(
            "\n", F.lit("CONFIDENTIAL REPORT"), F.lit(""), F.col("text"),
            F.lit("page 1"), F.lit("(c) corp"),
        ),
        F.concat_ws(
            "\n", F.lit("CONFIDENTIAL REPORT"), F.lit(""),
            F.substring(F.col("text"), 1, 60),
            F.lit("page 2"), F.lit("(c) corp"),
        ),
    )
    return docs.select(
        "doc_id",
        clean_document(paged, remove_repeated_header_footer=True).alias("cleaned"),
    )


def q_token_chunks_documents(spark, sf):
    """P5 fan-out parity: 4-token chunk count per doc (token-based because
    fixture texts are unpunctuated single sentences)."""
    docs = _t(spark, sf, "documents")
    n_tokens = F.size(F.split(F.trim("text"), r"\s+"))
    return docs.select(
        "doc_id", F.ceil(n_tokens / F.lit(4)).cast("long").alias("n_chunks")
    )


def q_token_count_documents(spark, sf):
    docs = _t(spark, sf, "documents")
    return docs.select(
        "doc_id",
        tx.whitespace_token_count("text").alias("n_tokens"),
        F.length("text").alias("len_chars"),
    )


def q_quality_documents(spark, sf):
    docs = _t(spark, sf, "documents")
    f = tx.quality_features("text")
    return docs.select(
        "doc_id",
        f["n_words"].alias("n_words"),
        F.round(f["stopword_ratio"], 6).alias("stopword_ratio"),
        F.round(f["mean_word_len"], 6).alias("mean_word_len"),
    )


def q_exact_dedup_documents(spark, sf):
    docs = _t(spark, sf, "documents")
    norm = normalize_text_sql(F.lower(F.col("text")))
    return (
        docs.groupBy(norm.alias("norm_text"))
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_dups"))
        .select("doc_id", "norm_text", "n_dups")
    )


def q_string_projections_documents(spark, sf):
    """One-expression string projections over documents, one column each:
    content concat + trim (P2/P3), word-boundary truncation (P7), job-name
    sanitizing (P8), null-guarded optional field (P9: when/otherwise +
    coalesce, reference document.py:41-46) and stopword language id."""
    docs = _t(spark, sf, "documents")
    guarded = F.when(F.col("n_chars") > 300, F.col("lang")).otherwise(F.lit(None))
    return docs.select(
        "doc_id",
        tx.content_concat(F.col("lang"), F.trim(F.col("text"))).alias("content"),
        tx.truncate_on_word("text", 60).alias("truncated"),
        tx.sanitize_job_name(
            F.concat_ws("/", F.col("source"), F.col("lang"), F.col("doc_id"))
        ).alias("job_name"),
        guarded.alias("lang_if_long"),
        F.coalesce(guarded, F.lit("unknown")).alias("lang_or_unknown"),
        tx.lang_id("text").alias("lang_guess"),
    )


def q_json_props_events(spark, sf):
    ev = _t(spark, sf, "events")
    return ev.select("event_id", parse_props("props").getField("k").alias("k"))


def q_date_arith_orders(spark, sf):
    orders = _t(spark, sf, "orders")
    return orders.select(
        "o_orderkey",
        F.date_add(F.to_date("o_orderdate"), 1).alias("next_day"),
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
    )


def q_daily_counts_events(spark, sf):
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
    )


def q_embed_topk(spark, sf):
    emb = _t(spark, sf, "embeddings")
    out = cosine_topk(emb, "embedding", _EMBED_QUERY, 10, id_col="vec_id")
    return out.select("vec_id", F.round("score", 6).alias("score"))


def q_lexical_topk_documents(spark, sf):
    docs = _t(spark, sf, "documents")
    terms = _HH_QUERY.split()
    return (
        docs.withColumn("score", F.round(lexical_score("text", terms), 6))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(25)
        .select("doc_id", "score")
    )


def q_minhash_near_dup_documents(spark, sf):
    """Near-dup candidate pairs. Portable md5 hashing (functions.portable)
    so the full shingle→minhash→band→bucket-join pipeline is DuckDB-
    verifiable; production default stays xxhash64."""
    docs = _t(spark, sf, "documents")
    return minhash_near_dup_pairs(
        docs, "text", "doc_id", shingle_n=3, k=16, bands=4,
        jaccard_threshold=0.5, hash_fn="md5",
    )


def q_jaccard_near_dup_documents(spark, sf):
    """Two-stage near-dup: LSH candidates at a LOOSE estimated threshold,
    refined by EXACT n-gram Jaccard on the candidate pairs only (the
    false-positive filter minhash estimates need at small K). Portable
    md5 hashing so the whole pipeline is DuckDB-verifiable."""
    docs = _t(spark, sf, "documents")
    return jaccard_refined_near_dup_pairs(
        docs, "text", "doc_id", shingle_n=3, k=16, bands=4,
        est_threshold=0.3, exact_threshold=0.5, hash_fn="md5",
    )


def q_hybrid_search_documents(spark, sf):
    """Hybrid lexical+hash-embedding search (portable hashing → full
    DuckDB oracle for both branches, union-dedup and blended rerank)."""
    docs = _t(spark, sf, "documents")
    return hybrid_search(
        docs, _HH_QUERY, id_cols=["doc_id"], text_col="text",
        filters=[F.col("n_chars") > 50], top_k_final=20, per_retriever_k=25,
        hash_fn="md5",
    ).select("doc_id", F.round("score", 6).alias("score"))


def q_bm25_topk_documents(spark, sf):
    """Full BM25 (corpus idf via stats joins) — J5 complete."""
    docs = _t(spark, sf, "documents")
    return bm25_topk(docs, _HH_QUERY.split(), id_col="doc_id", k=25)


def q_sessionize_events(spark, sf):
    """Gap-based sessionization (60-min inactivity): per-session summary."""
    ev = _t(spark, sf, "events")
    return session_summary(ev, ["user_id"], "ts", gap_minutes=60.0).select(
        "user_id", "session_idx", "n_events", "session_start", "session_end",
        F.round("duration_s", 3).alias("duration_s"),
    )


def q_suffix_filter_documents(spark, sf):
    """F6: suffix routing filter (reference: only .xml objects trigger
    batch jobs, trigger_03_batch_job.py:23-29)."""
    # sources are src0..src19 → suffix "1" matches src1/src11 at every sf
    docs = _t(spark, sf, "documents")
    return docs.filter(F.col("source").endswith("1")).select("doc_id", "source")


def q_fingerprint_documents(spark, sf):
    """Document fingerprinting with an oracle-checkable digest (md5 of the
    normalized text; the engine's internal dedup key uses xxhash64, same
    shape)."""
    docs = _t(spark, sf, "documents")
    return docs.select(
        "doc_id",
        F.md5(normalize_text_sql(F.lower(F.col("text")))).alias("fp"),
    )


def q_quality_score_documents(spark, sf):
    docs = _t(spark, sf, "documents")
    return docs.select(
        "doc_id", F.round(tx.quality_score("text"), 6).alias("quality")
    )


def q_simhash_documents(spark, sf):
    """SimHash signatures (portable md5 hashing → exact DuckDB oracle;
    single-pass vote aggregation)."""
    docs = _t(spark, sf, "documents")
    return docs.select(
        "doc_id", simhash("text", bits=32, hash_fn="md5").alias("sig")
    )


def q_embedding_near_dup(spark, sf):
    """Embedding-cosine near-dup pairs via hyperplane LSH buckets, with a
    generated DuckDB twin (same plane literals, same double math). 4 planes
    / cos≥0.4 so the fixtures' random vectors actually produce pairs (the
    round-1 0.9 threshold matched nothing — a vacuous rows-only pass)."""
    emb = _t(spark, sf, "embeddings")
    planes = make_planes(64, 4)
    return embedding_near_dup_pairs(
        emb, "embedding", "vec_id", planes=planes, cosine_threshold=0.4
    ).select("id_a", "id_b", F.round("cos", 6).alias("cos"))


# Over-cap fixture text: 12 words → shingleable at n=3; every synthetic row
# is byte-identical so all DEFAULT_MAX_BUCKET_SIZE+50 of them share every
# band bucket, pushing those buckets past the cap.
_CAP_COMMON_TEXT = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor"
)
_CAP_N = DEFAULT_MAX_BUCKET_SIZE + 50
_CAP_ID_BASE = 10_000_000


def q_minhash_capped_documents(spark, sf):
    """Over-cap fixture for the too-common-bucket guard (round-3 verdict
    #1): union documents with _CAP_N identical synthetic docs so their
    shared band buckets exceed DEFAULT_MAX_BUCKET_SIZE. The public API is
    called with DEFAULTS — no max_bucket_size argument — so green proves
    the cap is ON at the API boundary and actually fired (uncapped Spark
    would emit ~550k synthetic pairs the capped oracle drops)."""
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    syn = spark.range(_CAP_N).select(
        (F.col("id") + F.lit(_CAP_ID_BASE)).alias("doc_id"),
        F.lit(_CAP_COMMON_TEXT).alias("text"),
    )
    return minhash_near_dup_pairs(
        docs.unionByName(syn), "text", "doc_id", shingle_n=3, k=16, bands=4,
        jaccard_threshold=0.5, hash_fn="md5",
    )


def q_embedding_capped_near_dup(spark, sf):
    """Embedding twin of the over-cap fixture: _CAP_N identical unit-ish
    vectors land in ONE hyperplane bucket (> cap) and must be dropped whole
    by the public API's default guard; pairs among the real embeddings that
    share no over-cap bucket survive on both engines."""
    emb = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    syn = spark.range(_CAP_N).select(
        (F.col("id") + F.lit(_CAP_ID_BASE)).alias("vec_id"),
        F.array_repeat(F.lit(1.0).cast("float"), 64).alias("embedding"),
    )
    planes = make_planes(64, 4)
    return embedding_near_dup_pairs(
        emb.unionByName(syn), "embedding", "vec_id",
        planes=planes, cosine_threshold=0.4,
    ).select("id_a", "id_b", F.round("cos", 6).alias("cos"))


def q_ann_topk_embeddings(spark, sf):
    """LSH-bucketed approximate top-k, with a generated DuckDB twin (same
    plane literals and bucket filter — the approximation itself is
    oracle-checked; recall vs exact is asserted in tests/test_ann.py)."""
    emb = _t(spark, sf, "embeddings")
    planes = make_planes(64, 4)
    out = lsh_candidate_topk(emb, "embedding", _EMBED_QUERY, planes, 10, id_col="vec_id")
    return out.select("vec_id", F.round("score", 6).alias("score"))


def q_ivf_topk_embeddings(spark, sf):
    """IVF coarse-quantizer ANN, nprobe=2, with a generated DuckDB twin
    (same centroid literals, argmax cell assignment and probe list;
    recall + exactness-at-full-probe covered in tests/test_ann.py)."""
    from transcript_cdc.functions.vectors import ivf_topk, make_centroids

    emb = _t(spark, sf, "embeddings")
    cents = make_centroids(64, 8)
    out = ivf_topk(emb, "embedding", _EMBED_QUERY, cents, 10, nprobe=2, id_col="vec_id")
    return out.select("vec_id", F.round("score", 6).alias("score"))


def q_correlations_documents(spark, sf):
    """More-like-this by doc id (portable hash embedding → the source-row
    embed, over-fetch, self-override and final cut all DuckDB-verified)."""
    docs = _t(spark, sf, "documents")
    return correlations(
        docs, {"doc_id": 7}, id_cols=["doc_id"], text_col="text", k=10,
        hash_fn="md5",
    ).select("doc_id", F.round("score", 6).alias("score"))


def q_multimodal_nbytes(spark, sf):
    """Multimodal plumbing: binary payload column → mapInPandas feature
    extraction (Arrow batches, one-time per-task init). Byte counts are
    SQL-checkable; the feature vector itself is covered by unit tests."""
    docs = _t(spark, sf, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )
    return extract_features(media).select("media_id", "kind", "n_bytes")


def q_xml_records_documents(spark, sf):
    """P1 semi-structured record parse (reference document.py:17-68): build
    an OAI-style <harvest> payload per document row (comments/license
    elements conditionally OMITTED — the reference's null-guarded
    optionals), parse it back JVM-side with Spark 4 native from_xml +
    explode fan-out, and emit the 9 extracted fields + the content concat.
    The round-trip construction is what makes an XML parse DuckDB-checkable:
    the oracle computes the same fields straight from the table, so any
    parse/escape/null-guard defect breaks the hash match."""
    docs = _t(spark, sf, "documents")
    d = F.col("doc_id")
    payloads = docs.select(
        "doc_id",
        F.concat(
            F.lit("<harvest>"),
            record_xml(
                {
                    "identifier": F.concat(
                        F.lit("oai:transcripts:"), d.cast("string")
                    ),
                    "datestamp": F.date_format(
                        F.date_add(F.to_date(F.lit("2024-01-01")), (d % 365).cast("int")),
                        "yyyy-MM-dd",
                    ),
                    "title": F.trim(F.substring("text", 1, 40)),
                    "authors": F.concat(F.lit("author-"), (d % 7).cast("string")),
                    "abstract": F.col("text"),
                    "categories": F.col("lang"),
                    "comments": F.when(d % 3 == 0, F.lit(None)).otherwise(
                        F.concat(F.lit("v"), d.cast("string"))
                    ),
                    "license": F.when(d % 5 == 0, F.lit(None)).otherwise(
                        F.concat(F.lit("http://lic/"), (d % 4).cast("string"))
                    ),
                    "submitter": F.col("source"),
                }
            ),
            F.lit("</harvest>"),
        ).alias("payload"),
    )
    return parse_records(payloads, "payload", keep_cols=("doc_id",)).orderBy(
        "doc_id"
    )


def q_window_hourly_events(spark, sf):
    """Tumbling event-time window aggregation (the Structured Streaming
    windowed-agg shape, run on the batch table)."""
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.col("w.start").alias("hour_start"), "event_type", "n", "total_value")
    )


def q_anti_join_customers(spark, sf):
    """Customers with no 'P'-status orders — the merge survivor side (left
    anti join) as a standalone query. (Every customer has ≥1 order in the
    fixtures, so the unfiltered anti join is vacuously empty — the status
    filter yields 7/56/541 rows at sf0.001/0.01/0.1.)"""
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders").filter(F.col("o_orderstatus") == "P")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_nationkey")
    )


def q_top3_per_user_events(spark, sf):
    """Per-group top-k via ranked window (the LWW dedup shape generalized
    to k>1)."""
    from pyspark.sql import Window

    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("user_id", "rk", "event_id", "value")
    )


def q_asof_join_events(spark, sf):
    """As-of (point-in-time) join: each click joined to the newest 'view'
    by the same user at-or-before its timestamp (operators/asof.py — the
    union+window composition; one shuffle, no range explosion). The view
    side is LWW-deduped per (user_id, ts) so equal-timestamp winners are
    deterministic on both engines."""
    from transcript_cdc.operators.asof import asof_join

    ev = _t(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = lww_dedup(
        ev.filter(F.col("event_type") == "view").select(
            "event_id", "user_id", "ts", "value"
        ),
        ["user_id", "ts"],
        "event_id",
    )
    out = asof_join(
        clicks, views, on=["user_id"], left_ts="ts", right_ts="ts",
        right_value_cols=["event_id", "value"], prefix="view_",
    )
    return out.select(
        "event_id", "user_id", "ts", "view_ts", "view_event_id",
        F.round("view_value", 4).alias("view_value"),
    )


_MOR_TABLE_CACHE: dict = {}


def _two_epoch_mor_table(spark, sf):
    """Replay `events` into a merge-on-read lake table in two epochs split
    at mid-LSN (shared by the changelog/IVM queries — built once per sf
    and cached; cleaned up at interpreter exit). Deletes are synthesized
    deterministically (value < 5.0)."""
    import atexit
    import os as _os
    import shutil
    import tempfile

    from pyspark.sql.types import StructType

    from transcript_cdc.sources.lake import BUCKET_COL, MergeOnReadTable, bucket_expr

    if sf in _MOR_TABLE_CACHE:
        return _MOR_TABLE_CACHE[sf]
    ev = _t(spark, sf, "events").select(
        F.col("event_id").alias("lsn"),
        F.when(F.col("value") < 5.0, "D").otherwise("U").alias("op"),
        "user_id", "event_type", "value",
    )
    mid = int(ev.agg(F.floor(F.max("lsn") / 2).cast("long")).first()[0])
    shm = "/dev/shm" if _os.access("/dev/shm", _os.W_OK) else None
    # The returned DataFrame reads this table lazily (the caller collects
    # after we return), so the temp dir must outlive this function.
    root = tempfile.mkdtemp(prefix="changelog_q_", dir=shm)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    n_buckets = 8
    t = MergeOnReadTable.create(
        root,
        StructType.fromDDL(
            "user_id long, event_type string, value double, lsn long, op string"
        ),
        n_buckets=n_buckets,
        key_cols=("user_id", "event_type"),
        bucket_by="user_id",
    )
    windows = [
        (-1, mid, ev.filter(F.col("lsn") <= mid)),
        (mid, 2 * mid + 2, ev.filter(F.col("lsn") > mid)),
    ]
    for epoch, (lo, hi, batch) in enumerate(windows):
        delta = lww_dedup(batch, ["user_id", "event_type"], "lsn").withColumn(
            BUCKET_COL, bucket_expr(n_buckets, "user_id")
        )
        t.commit_epoch(
            epoch, delta, list(range(n_buckets)), lo, hi,
            delta.drop(BUCKET_COL).schema, append=True,
        )
    _MOR_TABLE_CACHE[sf] = t
    return t


def q_changelog_events(spark, sf):
    """Incremental changelog read (CDC tap): emit the net per-key changes
    committed by epoch 1 via MergeOnReadTable.read_changes —
    insert/update/delete classification with before/after images, folded
    bucket-locally with zero data shuffle."""
    t = _two_epoch_mor_table(spark, sf)
    ch = t.read_changes(spark, from_epoch=0, to_epoch=1)
    return ch.select(
        "change_type", "user_id", "event_type",
        F.round("value_before", 4).alias("value_before"),
        F.round("value_after", 4).alias("value_after"),
    )


def q_ivm_agg_events(spark, sf):
    """Incremental view maintenance (operators/ivm.py): a per-event_type
    count/sum view maintained from the epoch-1 changelog — aggregate the
    epoch-0 snapshot once, fold only read_changes deltas, never rescan.
    The oracle recomputes the same view directly from final state, so a
    green row proves incremental == recompute."""
    from transcript_cdc.operators.ivm import maintained_agg

    t = _two_epoch_mor_table(spark, sf)
    view = maintained_agg(
        spark, t,
        {"event_type": lambda col: col("event_type")},
        ["value"], from_epoch=0, to_epoch=1,
    )
    return view.select(
        "event_type", "cnt", F.round("sum_value", 3).alias("sum_value")
    )


def q_windowed_op_counts_events(spark, sf):
    """Streaming windowed-agg operator (streaming/windows.windowed_op_counts,
    round-3 verdict next #6) run on its batch twin: sliding 1h/30min
    event-time windows over an op-classified change stream — each event
    lands in exactly two windows. approx_convs (HLL) is excluded from the
    driver row: DuckDB's HLL sketch differs by construction; that column
    is covered by tests/test_windowed_stream.py."""
    from transcript_cdc.streaming.windows import windowed_op_counts

    ev = _t(spark, sf, "events").select(
        "ts",
        F.when(F.col("event_id") % 10 == 0, "D").otherwise("U").alias("op"),
        F.col("user_id").alias("conv_id"),
    )
    out = windowed_op_counts(ev, window="1 hour", slide="30 minutes")
    return out.select("window_start", "window_end", "op", "n_events")


def q_windowed_reach_events(spark, sf):
    """Exact-reach twin of windowed_op_counts_events (round-4 verdict item
    #5): the per-(window, op) conversation reach as an exact
    count(DISTINCT conv_id) so the reach metric itself gets a DuckDB
    oracle. The streaming tap keeps the HLL sketch (distinct aggregates
    are rejected under a watermark); this batch twin proves the metric's
    value semantics, and tests/test_windowed_stream.py keeps the sketch
    column covered."""
    from transcript_cdc.streaming.windows import windowed_op_counts

    ev = _t(spark, sf, "events").select(
        "ts",
        F.when(F.col("event_id") % 10 == 0, "D").otherwise("U").alias("op"),
        F.col("user_id").alias("conv_id"),
    )
    out = windowed_op_counts(
        ev, window="1 hour", slide="30 minutes", exact_reach=True
    )
    return out.select("window_start", "window_end", "op", "n_events", "n_convs")


def q_reseed_changelog_events(spark, sf):
    """Changelog catch-up across expired history (streaming/changelog_tail
    reseed, round-3 verdict next #6): replay events into a MOR table in two
    epochs, compact (a rewrite commit) and expire pre-compaction history,
    then poll a tail whose cursor predates the horizon with
    auto_reseed=True. The first (and only) tuple must be the CURRENT
    resolved state as insert rows; the oracle recomputes the final LWW
    state directly, so a green row proves reseed == the state a consumer
    that never fell behind would hold."""
    import atexit
    import os as _os
    import shutil
    import tempfile

    from pyspark.sql.types import StructType

    from transcript_cdc.sources.lake import BUCKET_COL, MergeOnReadTable, bucket_expr
    from transcript_cdc.streaming.changelog_tail import ChangelogTail

    ev = _t(spark, sf, "events").select(
        F.col("event_id").alias("lsn"),
        F.when(F.col("value") < 5.0, "D").otherwise("U").alias("op"),
        "user_id", "event_type", "value",
    )
    mid = int(ev.agg(F.floor(F.max("lsn") / 2).cast("long")).first()[0])
    shm = "/dev/shm" if _os.access("/dev/shm", _os.W_OK) else None
    root = tempfile.mkdtemp(prefix="reseed_q_", dir=shm)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    n_buckets = 8
    t = MergeOnReadTable.create(
        root,
        StructType.fromDDL(
            "user_id long, event_type string, value double, lsn long, op string"
        ),
        n_buckets=n_buckets,
        key_cols=("user_id", "event_type"),
        bucket_by="user_id",
    )
    windows = [
        (-1, mid, ev.filter(F.col("lsn") <= mid)),
        (mid, 2 * mid + 2, ev.filter(F.col("lsn") > mid)),
    ]
    for epoch, (lo, hi, batch) in enumerate(windows):
        delta = lww_dedup(batch, ["user_id", "event_type"], "lsn").withColumn(
            BUCKET_COL, bucket_expr(n_buckets, "user_id")
        )
        t.commit_epoch(
            epoch, delta, list(range(n_buckets)), lo, hi,
            delta.drop(BUCKET_COL).schema, append=True,
        )
    t.compact(spark)  # epoch 2: rewrite commit
    t.expire()        # history before the compaction is gone
    tail = ChangelogTail(spark, t, from_epoch=0, auto_reseed=True)
    polled = tail.poll()
    assert len(polled) == 1 and tail.cursor == 2
    seed = polled[0][1]
    return seed.select(
        "change_type", "user_id", "event_type",
        F.col("value_before").cast("double").alias("value_before"),
        F.round("value_after", 4).alias("value_after"),
        "lsn",
    )


def q_rebucket_events(spark, sf):
    """Partition evolution end-to-end (sources/lake.py rebucket): replay
    `events` into a 4-bucket MOR table, rebucket to 16, and emit the
    resolved state read under the NEW layout. The oracle computes the
    final LWW state directly — a green row proves the replace_all rewrite
    preserved every row byte-for-byte. Builds its own table (the shared
    cached one must keep its epochs for the changelog/IVM queries)."""
    import os as _os
    import tempfile

    from pyspark.sql.types import StructType

    from transcript_cdc.sources.lake import BUCKET_COL, MergeOnReadTable, bucket_expr

    ev = _t(spark, sf, "events").select(
        F.col("event_id").alias("lsn"),
        F.when(F.col("value") < 5.0, "D").otherwise("U").alias("op"),
        "user_id", "event_type", "value",
    )
    import atexit
    import shutil

    shm = "/dev/shm" if _os.access("/dev/shm", _os.W_OK) else None
    root = tempfile.mkdtemp(prefix="rebucket_q_", dir=shm)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    t = MergeOnReadTable.create(
        root,
        StructType.fromDDL(
            "user_id long, event_type string, value double, lsn long, op string"
        ),
        n_buckets=4,
        key_cols=("user_id", "event_type"),
        bucket_by="user_id",
    )
    hi = int(ev.agg(F.max("lsn")).first()[0])
    delta = lww_dedup(ev, ["user_id", "event_type"], "lsn").withColumn(
        BUCKET_COL, bucket_expr(4, "user_id")
    )
    t.commit_epoch(
        0, delta, list(range(4)), -1, hi,
        delta.drop(BUCKET_COL).schema, append=True,
    )
    res = t.rebucket(spark, 16)
    assert res["committed"] and t.n_buckets == 16
    return t.read_resolved(spark).select(
        "user_id", "event_type", F.round("value", 4).alias("value")
    )


def q_widen_tokens_events(spark, sf):
    """Type-widening schema evolution through the storage engine
    (schemas.evolve/align_types + the Arrow fold's per-file upcast):
    epoch 0 writes a derived `tokens` column as INT, epoch 1 re-writes
    every key with values beyond int32 range as LONG — the table schema
    widens mid-replay and the resolved read returns exact int64 values.
    The oracle recomputes the same LWW winners directly, so a green row
    proves narrow files stayed readable and no value was truncated."""
    import atexit
    import os as _os
    import shutil
    import tempfile

    from pyspark.sql.types import StructType

    from transcript_cdc import schemas as _sch
    from transcript_cdc.sources.lake import BUCKET_COL, MergeOnReadTable, bucket_expr

    ev = _t(spark, sf, "events").select(
        F.col("event_id").alias("lsn"),
        F.lit("U").alias("op"),
        "user_id",
        "event_type",
    )
    mid = int(ev.agg(F.floor(F.max("lsn") / 2).cast("long")).first()[0])
    narrow = ev.filter(F.col("lsn") <= mid).withColumn(
        "tokens", (F.col("lsn") % 1000).cast("int")
    )
    wide = ev.filter(F.col("lsn") > mid).withColumn(
        "tokens", (F.col("lsn") + F.lit(5_000_000_000)).cast("long")
    )
    shm = "/dev/shm" if _os.access("/dev/shm", _os.W_OK) else None
    root = tempfile.mkdtemp(prefix="widen_q_", dir=shm)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    n_buckets = 4
    t = MergeOnReadTable.create(
        root,
        StructType.fromDDL(
            "user_id long, event_type string, tokens int, lsn long, op string"
        ),
        n_buckets=n_buckets,
        key_cols=("user_id", "event_type"),
        bucket_by="user_id",
    )
    for epoch, (lo, hi, batch) in enumerate(
        [(-1, mid, narrow), (mid, 2 * mid + 2, wide)]
    ):
        new_schema = _sch.evolve(t.current_schema(), batch.schema)
        delta = _sch.align_types(
            lww_dedup(batch, ["user_id", "event_type"], "lsn"), new_schema
        ).withColumn(BUCKET_COL, bucket_expr(n_buckets, "user_id"))
        t.commit_epoch(
            epoch, delta, list(range(n_buckets)), lo, hi, new_schema, append=True
        )
    return t.read_resolved(spark).select("user_id", "event_type", "tokens")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "lww_dedup_events": q_lww_dedup_events,
        "merge_upsert_events": q_merge_upsert_events,
        "merge_versioned_events": q_merge_versioned_events,
        "filter_range_in_events": q_filter_range_in_events,
        "topk_events": q_topk_events,
        "union_dedup_events": q_union_dedup_events,
        "point_lookup_lineitem": q_point_lookup_lineitem,
        "commit_metrics_lineitem": q_commit_metrics_lineitem,
        "join_orders_nation": q_join_orders_nation,
        "salted_group_count": q_salted_group_count,
        "normalize_documents": q_normalize_documents,
        "clean_documents": q_clean_documents,
        "token_chunks_documents": q_token_chunks_documents,
        "token_count_documents": q_token_count_documents,
        "quality_documents": q_quality_documents,
        "exact_dedup_documents": q_exact_dedup_documents,
        "json_props_events": q_json_props_events,
        "date_arith_orders": q_date_arith_orders,
        "daily_counts_events": q_daily_counts_events,
        "embed_topk": q_embed_topk,
        "lexical_topk_documents": q_lexical_topk_documents,
        "minhash_near_dup_documents": q_minhash_near_dup_documents,
        "jaccard_near_dup_documents": q_jaccard_near_dup_documents,
        "hybrid_search_documents": q_hybrid_search_documents,
        "bm25_topk_documents": q_bm25_topk_documents,
        "sessionize_events": q_sessionize_events,
        "suffix_filter_documents": q_suffix_filter_documents,
        "string_projections_documents": q_string_projections_documents,
        "fingerprint_documents": q_fingerprint_documents,
        "quality_score_documents": q_quality_score_documents,
        "simhash_documents": q_simhash_documents,
        "embedding_near_dup": q_embedding_near_dup,
        "minhash_capped_documents": q_minhash_capped_documents,
        "embedding_capped_near_dup": q_embedding_capped_near_dup,
        "ann_topk_embeddings": q_ann_topk_embeddings,
        "ivf_topk_embeddings": q_ivf_topk_embeddings,
        "correlations_documents": q_correlations_documents,
        "multimodal_nbytes": q_multimodal_nbytes,
        "xml_records_documents": q_xml_records_documents,
        "window_hourly_events": q_window_hourly_events,
        "anti_join_customers": q_anti_join_customers,
        "top3_per_user_events": q_top3_per_user_events,
        "asof_join_events": q_asof_join_events,
        "changelog_events": q_changelog_events,
        "windowed_op_counts_events": q_windowed_op_counts_events,
        "windowed_reach_events": q_windowed_reach_events,
        "reseed_changelog_events": q_reseed_changelog_events,
        "ivm_agg_events": q_ivm_agg_events,
        "rebucket_events": q_rebucket_events,
        "widen_tokens_events": q_widen_tokens_events,
    }


def oracle_sql() -> dict[str, str]:
    from transcript_cdc import oracle_twins as ot

    stop = "['the','a','of','and','to','in','is','it','that','for']"
    terms = "[" + ",".join(f"'{t}'" for t in _HH_QUERY.lower().split()) + "]"
    return {
        "lww_dedup_events": """
            SELECT user_id, event_type, event_id AS last_event_id, value
            FROM events
            QUALIFY row_number() OVER (
                PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
        """,
        "merge_upsert_events": """
            SELECT user_id, event_type, value
            FROM events
            QUALIFY row_number() OVER (
                PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
        """,
        "merge_versioned_events": """
            WITH c AS (
                SELECT event_id AS lsn,
                       CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op,
                       user_id, event_type, value
                FROM events
            )
            SELECT user_id, event_type, lsn, op,
                   CASE WHEN op = 'D' THEN NULL ELSE value END AS value
            FROM c
            QUALIFY row_number() OVER (
                PARTITION BY user_id, event_type ORDER BY lsn DESC) = 1
        """,
        "filter_range_in_events": """
            SELECT event_id, user_id, event_type, value FROM events
            WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
              AND ts <= TIMESTAMP '2024-01-07 00:00:00'
              AND event_type IN ('click','view') AND value > 10.0
        """,
        "topk_events": """
            SELECT event_id, event_type, value FROM events
            ORDER BY value DESC, event_id ASC LIMIT 20
        """,
        "union_dedup_events": """
            SELECT event_id, event_type, value FROM (
                SELECT * FROM events WHERE event_type = 'click'
                UNION ALL
                SELECT * FROM events WHERE value > 50.0
            )
            QUALIFY row_number() OVER (
                PARTITION BY event_id ORDER BY value DESC, event_id) = 1
        """,
        "point_lookup_lineitem": """
            SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
            FROM lineitem WHERE l_orderkey = 1 AND l_linenumber = 3
        """,
        "commit_metrics_lineitem": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "join_orders_nation": """
            SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE o_orderstatus = 'F'
            GROUP BY n_name
        """,
        "salted_group_count": """
            SELECT user_id, count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY user_id
        """,
        "normalize_documents": r"""
            SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS norm_text
            FROM documents
        """,
        "token_chunks_documents": r"""
            SELECT doc_id,
                   CAST(ceil(len(string_split_regex(trim(text), '\s+')) / 4.0) AS BIGINT) AS n_chunks
            FROM documents
        """,
        "token_count_documents": r"""
            SELECT doc_id,
                   len(string_split_regex(trim(text), '\s+')) AS n_tokens,
                   length(text) AS len_chars
            FROM documents
        """,
        "quality_documents": rf"""
            SELECT doc_id,
                   len(string_split_regex(trim(text), '\s+')) AS n_words,
                   round(len(list_filter(string_split_regex(trim(text), '\s+'),
                             x -> list_contains({stop}, lower(x))))
                         / greatest(len(string_split_regex(trim(text), '\s+')), 1), 6)
                       AS stopword_ratio,
                   round(length(regexp_replace(text, '\s+', '', 'g'))
                         / greatest(len(string_split_regex(trim(text), '\s+')), 1), 6)
                       AS mean_word_len
            FROM documents
        """,
        "exact_dedup_documents": r"""
            SELECT min(doc_id) AS doc_id,
                   trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm_text,
                   count(*) AS n_dups
            FROM documents
            GROUP BY trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
        """,
        "json_props_events": """
            SELECT event_id, CAST(props->>'k' AS INT) AS k FROM events
        """,
        "date_arith_orders": """
            SELECT o_orderkey,
                   CAST(o_orderdate AS DATE) + INTERVAL 1 DAY AS next_day,
                   strftime(o_orderdate, '%Y-%m') AS order_month
            FROM orders
        """,
        "daily_counts_events": """
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
                   count(*) AS n, round(sum(value), 4) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "embed_topk": """
            SELECT vec_id,
                   round(list_sum(list_transform(embedding,
                         x -> CAST(x AS DOUBLE) * 0.125)), 6) AS score
            FROM embeddings
            ORDER BY score DESC, vec_id ASC LIMIT 10
        """,
        "lexical_topk_documents": rf"""
            SELECT doc_id,
                   round(len(list_filter(string_split_regex(lower(text), '\s+'),
                             x -> list_contains({terms}, x)))
                         / CAST(greatest(len(string_split_regex(lower(text), '\s+')), 1) AS DOUBLE), 6)
                       AS score
            FROM documents
            ORDER BY score DESC, doc_id ASC LIMIT 25
        """,
        "bm25_topk_documents": rf"""
            WITH base AS (
                SELECT doc_id,
                       len(string_split_regex(lower(text), '\s+')) AS dl,
                       list_filter(string_split_regex(lower(text), '\s+'),
                                   x -> list_contains({terms}, x)) AS matched
                FROM documents
            ),
            stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM base),
            tf AS (
                SELECT doc_id, dl, term, count(*) AS tf FROM (
                    SELECT doc_id, dl, unnest(matched) AS term FROM base)
                GROUP BY 1, 2, 3
            ),
            dft AS (
                SELECT term, count(*) AS df FROM (
                    SELECT doc_id, unnest(list_distinct(matched)) AS term FROM base)
                GROUP BY 1
            )
            SELECT doc_id,
                   round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                             * (tf * 2.2)
                             / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6)
                       AS score
            FROM tf JOIN dft USING (term) CROSS JOIN stats
            GROUP BY doc_id
            ORDER BY score DESC, doc_id ASC LIMIT 25
        """,
        "sessionize_events": """
            WITH x AS (
                SELECT user_id, ts,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR epoch(ts) - epoch(lag(ts) OVER w) > 3600
                            THEN 1 ELSE 0 END AS is_new
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            y AS (
                SELECT user_id, ts,
                       CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_idx
                FROM x
            )
            SELECT user_id, session_idx, count(*) AS n_events,
                   min(ts) AS session_start, max(ts) AS session_end,
                   round(epoch(max(ts)) - epoch(min(ts)), 3) AS duration_s
            FROM y GROUP BY 1, 2
        """,
        "suffix_filter_documents": """
            SELECT doc_id, source FROM documents WHERE source LIKE '%1'
        """,
        "string_projections_documents": r"""
            WITH c AS (
                SELECT *,
                       len(list_filter(string_split_regex(lower(text), '\s+'),
                           x -> list_contains(['the','and','of','is','to'], x))) AS c_en,
                       len(list_filter(string_split_regex(lower(text), '\s+'),
                           x -> list_contains(['der','die','und','ist','das'], x))) AS c_de,
                       len(list_filter(string_split_regex(lower(text), '\s+'),
                           x -> list_contains(['le','la','et','est','les'], x))) AS c_fr
                FROM documents
            )
            SELECT doc_id,
                   lang || chr(10) || chr(10) || trim(text) AS content,
                   CASE WHEN length(text) <= 60 THEN text
                        WHEN contains(substring(text, 1, 60), ' ')
                        THEN regexp_extract(substring(text, 1, 60), '^(.*)\s\S*$', 1)
                        ELSE substring(text, 1, 60) END AS truncated,
                   substring(regexp_replace(
                       source || '/' || lang || '/' || doc_id,
                       '[^a-zA-Z0-9\-_]+', '_', 'g'), 1, 128) AS job_name,
                   CASE WHEN n_chars > 300 THEN lang ELSE NULL END AS lang_if_long,
                   coalesce(CASE WHEN n_chars > 300 THEN lang ELSE NULL END,
                            'unknown') AS lang_or_unknown,
                   CASE WHEN greatest(c_en, c_de, c_fr) <= 0 THEN 'unknown'
                        WHEN c_en = greatest(c_en, c_de, c_fr) THEN 'en'
                        WHEN c_de = greatest(c_en, c_de, c_fr) THEN 'de'
                        WHEN c_fr = greatest(c_en, c_de, c_fr) THEN 'fr'
                        ELSE 'unknown' END AS lang_guess
            FROM c
        """,
        "fingerprint_documents": r"""
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
            FROM documents
        """,
        "quality_score_documents": r"""
            WITH f AS (
                SELECT doc_id,
                       length(text) AS n_chars,
                       len(string_split_regex(trim(text), '\s+')) AS n_words,
                       length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))
                           AS n_punct,
                       len(list_filter(string_split_regex(trim(text), '\s+'),
                           x -> list_contains(['the','a','of','and','to','in','is','it','that','for'],
                                              lower(x)))) AS n_stop
                FROM documents
            )
            SELECT doc_id,
                   round((least(n_words / 20.0, 1.0)
                          + (1.0 - least(4.0 * n_punct / greatest(n_chars, 1), 1.0))
                          + least(5.0 * n_stop / greatest(n_words, 1), 1.0)) / 3, 6)
                       AS quality
            FROM f
        """,
        "multimodal_nbytes": """
            SELECT doc_id AS media_id, 'image' AS kind,
                   octet_length(encode(text)) AS n_bytes
            FROM documents
        """,
        "xml_records_documents": """
            SELECT doc_id,
                   'oai:transcripts:' || doc_id AS identifier,
                   strftime(DATE '2024-01-01' + (doc_id % 365)::INT,
                            '%Y-%m-%d') AS datestamp,
                   trim(substr(text, 1, 40)) AS title,
                   'author-' || (doc_id % 7) AS authors,
                   trim(text) AS abstract,
                   lang AS categories,
                   CASE WHEN doc_id % 3 = 0 THEN NULL
                        ELSE 'v' || doc_id END AS comments,
                   CASE WHEN doc_id % 5 = 0 THEN NULL
                        ELSE 'http://lic/' || (doc_id % 4) END AS license,
                   source AS submitter,
                   trim(substr(text, 1, 40)) || chr(10) || chr(10)
                       || trim(text) AS content
            FROM documents
            ORDER BY doc_id
        """,
        "window_hourly_events": """
            SELECT date_trunc('hour', ts) AS hour_start, event_type,
                   count(*) AS n, round(sum(value), 4) AS total_value
            FROM events GROUP BY 1, 2
        """,
        # sliding 1h/30min windows: an event at t belongs to exactly the
        # two 30-min-aligned starts {bucket30(t), bucket30(t) - 30min}
        # (both satisfy s <= t < s + 1h); same alignment as Spark's window
        # origin since both origins are midnight-aligned
        "windowed_op_counts_events": """
            WITH ev AS (
                SELECT ts,
                       CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op
                FROM events
            ),
            w AS (
                SELECT unnest([
                           time_bucket(INTERVAL '30 minutes', ts),
                           time_bucket(INTERVAL '30 minutes', ts)
                               - INTERVAL 30 MINUTE
                       ]) AS window_start,
                       op
                FROM ev
            )
            SELECT window_start,
                   window_start + INTERVAL 60 MINUTE AS window_end,
                   op, count(*) AS n_events
            FROM w GROUP BY 1, 2, 3
        """,
        # exact-reach twin: same two-window unnest, reach as an exact
        # count(DISTINCT conv_id) per (window, op)
        "windowed_reach_events": """
            WITH ev AS (
                SELECT ts,
                       CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op,
                       user_id AS conv_id
                FROM events
            ),
            w AS (
                SELECT unnest([
                           time_bucket(INTERVAL '30 minutes', ts),
                           time_bucket(INTERVAL '30 minutes', ts)
                               - INTERVAL 30 MINUTE
                       ]) AS window_start,
                       op, conv_id
                FROM ev
            )
            SELECT window_start,
                   window_start + INTERVAL 60 MINUTE AS window_end,
                   op, count(*) AS n_events,
                   count(DISTINCT conv_id) AS n_convs
            FROM w GROUP BY 1, 2, 3
        """,
        # reseed == the final LWW state as insert rows (before-images
        # null, winning lsn kept, tombstone-winner keys absent)
        "reseed_changelog_events": """
            WITH ev AS (
                SELECT event_id AS lsn,
                       CASE WHEN value < 5.0 THEN 'D' ELSE 'U' END AS op,
                       user_id, event_type, value
                FROM events
            )
            SELECT 'insert' AS change_type, user_id, event_type,
                   CAST(NULL AS DOUBLE) AS value_before,
                   round(value, 4) AS value_after, lsn
            FROM (
                SELECT e.*, row_number() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY lsn DESC) AS rn
                FROM ev e)
            WHERE rn = 1 AND op <> 'D'
        """,
        "anti_join_customers": """
            SELECT c_custkey, c_name, c_nationkey FROM customer
            WHERE NOT EXISTS (
                SELECT 1 FROM orders
                WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        """,
        "top3_per_user_events": """
            SELECT user_id, rk, event_id, value FROM (
                SELECT user_id, event_id, value,
                       row_number() OVER (
                           PARTITION BY user_id
                           ORDER BY value DESC, event_id ASC) AS rk
                FROM events)
            WHERE rk <= 3
        """,
        "asof_join_events": """
            WITH views AS (
                SELECT user_id, ts, event_id, value FROM (
                    SELECT user_id, ts, event_id, value,
                           row_number() OVER (
                               PARTITION BY user_id, ts
                               ORDER BY event_id DESC) AS rn
                    FROM events WHERE event_type = 'view')
                WHERE rn = 1
            ),
            clicks AS (
                SELECT event_id, user_id, ts FROM events
                WHERE event_type = 'click'
            )
            SELECT c.event_id, c.user_id, c.ts,
                   v.ts AS view_ts, v.event_id AS view_event_id,
                   round(v.value, 4) AS view_value
            FROM clicks c ASOF LEFT JOIN views v
              ON c.user_id = v.user_id AND c.ts >= v.ts
        """,
        "changelog_events": """
            WITH ev AS (
                SELECT event_id AS lsn,
                       CASE WHEN value < 5.0 THEN 'D' ELSE 'U' END AS op,
                       user_id, event_type, value
                FROM events
            ),
            m AS (SELECT CAST(floor(max(lsn) / 2) AS BIGINT) AS mid FROM ev),
            a AS (
                SELECT * FROM (
                    SELECT e.*, row_number() OVER (
                        PARTITION BY user_id, event_type
                        ORDER BY lsn DESC) AS rn
                    FROM ev e, m WHERE lsn <= m.mid)
                WHERE rn = 1
            ),
            r AS (
                SELECT * FROM (
                    SELECT e.*, row_number() OVER (
                        PARTITION BY user_id, event_type
                        ORDER BY lsn DESC) AS rn
                    FROM ev e, m WHERE lsn > m.mid)
                WHERE rn = 1
            )
            SELECT CASE WHEN r.op = 'D' THEN 'delete'
                        WHEN a.user_id IS NOT NULL AND a.op <> 'D'
                             THEN 'update'
                        ELSE 'insert' END AS change_type,
                   r.user_id, r.event_type,
                   round(CASE WHEN a.op <> 'D' THEN a.value END, 4)
                       AS value_before,
                   round(CASE WHEN r.op <> 'D' THEN r.value END, 4)
                       AS value_after
            FROM r LEFT JOIN a USING (user_id, event_type)
            WHERE NOT (r.op = 'D'
                       AND (a.user_id IS NULL OR a.op = 'D'))
        """,
        # IVM: the oracle recomputes the maintained view DIRECTLY from the
        # final LWW state — equality proves the incremental path.
        "ivm_agg_events": """
            WITH ev AS (
                SELECT event_id AS lsn,
                       CASE WHEN value < 5.0 THEN 'D' ELSE 'U' END AS op,
                       user_id, event_type, value
                FROM events
            ),
            final AS (
                SELECT * FROM (
                    SELECT e.*, row_number() OVER (
                        PARTITION BY user_id, event_type
                        ORDER BY lsn DESC) AS rn
                    FROM ev e)
                WHERE rn = 1 AND op <> 'D'
            )
            SELECT event_type, count(*) AS cnt,
                   round(sum(value), 3) AS sum_value
            FROM final GROUP BY event_type
        """,
        # rebucket preserves state exactly: oracle is the plain final
        # LWW state, independent of any bucket layout.
        "rebucket_events": """
            SELECT user_id, event_type, round(value, 4) AS value FROM (
                SELECT e.*, row_number() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY event_id DESC) AS rn
                FROM (SELECT event_id,
                             CASE WHEN value < 5.0 THEN 'D' ELSE 'U' END AS op,
                             user_id, event_type, value
                      FROM events) e)
            WHERE rn = 1 AND op <> 'D'
        """,
        # mid-replay type widening preserves every value exactly: the
        # oracle recomputes the LWW winners with the same narrow/wide
        # tokens derivation (mid = floor(max(event_id)/2), as a scalar
        # subquery so both engines split at the same lsn)
        "widen_tokens_events": """
            SELECT user_id, event_type, tokens FROM (
                SELECT e.*, row_number() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY event_id DESC) AS rn
                FROM (SELECT event_id, user_id, event_type,
                             CASE WHEN event_id <= (
                                     SELECT CAST(floor(max(event_id) / 2) AS BIGINT)
                                     FROM events)
                                  THEN event_id % 1000
                                  ELSE event_id + 5000000000 END AS tokens
                      FROM events) e)
            WHERE rn = 1
        """,
        # Generated twins (transcript_cdc/oracle_twins.py) — same seeded
        # constants and IEEE-ordered float math as the Spark queries:
        "ann_topk_embeddings": ot.ann_topk_sql(
            _EMBED_QUERY, make_planes(64, 4), 10
        ),
        "ivf_topk_embeddings": _ivf_oracle(),
        "embedding_near_dup": ot.embedding_near_dup_sql(
            make_planes(64, 4), 0.4, 64,
            max_bucket_size=DEFAULT_MAX_BUCKET_SIZE,
        ),
        "minhash_near_dup_documents": ot.minhash_pairs_sql(
            shingle_n=3, k=16, bands=4, seed=7, jaccard_threshold=0.5,
            max_bucket_size=DEFAULT_MAX_BUCKET_SIZE,
        ),
        "jaccard_near_dup_documents": ot.jaccard_refined_pairs_sql(
            shingle_n=3, k=16, bands=4, seed=7, est_threshold=0.3,
            exact_threshold=0.5, max_bucket_size=DEFAULT_MAX_BUCKET_SIZE,
        ),
        # Over-cap fixtures: same twins over (documents ∪ synthetic
        # over-cap bucket). The oracle caps at DEFAULT_MAX_BUCKET_SIZE; the
        # Spark queries rely on the PUBLIC API default — a green row means
        # the cap fired identically on both engines (non-vacuous since the
        # synthetic bucket holds _CAP_N > cap members).
        "minhash_capped_documents": ot.minhash_pairs_sql(
            shingle_n=3, k=16, bands=4, seed=7, jaccard_threshold=0.5,
            max_bucket_size=DEFAULT_MAX_BUCKET_SIZE,
            table=(
                "(SELECT doc_id, text FROM documents "
                f"UNION ALL SELECT {_CAP_ID_BASE} + i AS doc_id, "
                f"'{_CAP_COMMON_TEXT}' AS text "
                f"FROM range({_CAP_N}) t(i)) u"
            ),
        ),
        "embedding_capped_near_dup": ot.embedding_near_dup_sql(
            make_planes(64, 4), 0.4, 64,
            max_bucket_size=DEFAULT_MAX_BUCKET_SIZE,
            table=(
                "(SELECT vec_id, embedding FROM embeddings "
                f"UNION ALL SELECT {_CAP_ID_BASE} + i AS vec_id, "
                "list_transform(range(64), j -> CAST(1.0 AS FLOAT)) "
                "AS embedding "
                f"FROM range({_CAP_N}) t(i)) u"
            ),
        ),
        "simhash_documents": ot.simhash_sql(bits=32),
        "clean_documents": ot.clean_document_sql(
            # identical page construction to q_clean_documents (concat_ws
            # skips NULL args on both engines; substr is char-based on both)
            "concat_ws(chr(12), "
            "concat_ws(chr(10), 'CONFIDENTIAL REPORT', '', text, "
            "'page 1', '(c) corp'), "
            "concat_ws(chr(10), 'CONFIDENTIAL REPORT', '', "
            "substr(text, 1, 60), 'page 2', '(c) corp'))"
        ),
        "hybrid_search_documents": ot.hybrid_search_sql(
            _HH_QUERY, k_final=20, per_k=25
        ),
        "correlations_documents": ot.correlations_sql(source_id=7, k=10),
    }


def _ivf_oracle() -> str:
    from transcript_cdc import oracle_twins as ot
    from transcript_cdc.functions.vectors import make_centroids

    return ot.ivf_topk_sql(_EMBED_QUERY, make_centroids(64, 8), 10, nprobe=2)
