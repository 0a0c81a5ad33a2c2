"""Unit tests for the function library: JVM normalizer vs Python oracle,
text ops, vectors, near-dup dedup, multimodal plumbing."""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import functions as F

from transcript_cdc.datagen import normalize_text_py
from transcript_cdc.functions.dedup_text import (
    exact_dedup,
    minhash_near_dup_pairs,
    ngram_jaccard,
    simhash,
)
from transcript_cdc.functions.multimodal import MEDIA_SCHEMA, extract_features
from transcript_cdc.functions.normalize import normalize_text
from transcript_cdc.functions.text import lang_id, quality_score, sentence_chunks, truncate_on_word
from transcript_cdc.functions.vectors import (
    cosine_topk,
    hash_embed,
    lsh_candidate_topk,
    make_planes,
)

MESSY = [
    "  hello\t\tworld  ",
    "a\r\nb\r\nc",
    "étude​ déjà vu",  # NFD + zero-width + NBSP
    "",
    "single",
    " \t ",
    "a  b   c    d",
]


def _normalizer_cases() -> list[str | None]:
    """Every code point assigned in Unicode 14 alone; every combining mark
    after a base and before U+0301; runs of all 29 whitespace code points
    (str.isspace) at the start, middle and end; ZWSP next to whitespace and
    marks; jamo sequences; the empty string and null."""
    assigned = [
        chr(cp) for cp in range(0x110000)
        if not 0xD800 <= cp <= 0xDFFF and unicodedata.category(chr(cp)) != "Cn"
    ]
    marks = [ch for ch in assigned if unicodedata.category(ch).startswith("M")]
    ws = [ch for ch in map(chr, range(0x110000)) if ch.isspace()]
    assert len(ws) == 29
    run = "".join(ws)
    jamo_l = [chr(c) for c in range(0x1100, 0x1113)]
    jamo_v = [chr(c) for c in range(0x1161, 0x1176)]
    jamo_t = [chr(c) for c in range(0x11A8, 0x11C3)]
    return (
        assigned
        + [b + m for b in ("a", "e", "\u3131") for m in marks]
        + [m + "\u0301" for m in marks]
        + ["a" + m + "\u0301" for m in marks]
        + [run, run + "a" + run + "b" + run, run[::-1] + "x y" + run]
        + [f"{w}a{w}{w}b{w}" for w in ws]
        + ["\u200b", " \u200b ", "\u200b\u00a0x", "a\u200b b", "x \u200b\u3000",
           "e\u200b\u0301", "e\u0301\u200b", "\u200b\u0301", "a\u0301\u200b\u0327"]
        + [l + v for l in jamo_l for v in jamo_v]
        + [l + v + t for l in jamo_l[:4] for v in jamo_v for t in jamo_t]
        + ["\uac00" + t for t in jamo_t] + ["\u1100\u1100\u1161\u11a8\u11a8"]
        + MESSY + ["", None]
    )


def test_normalizer_matches_python_oracle(spark):
    cases = _normalizer_cases()
    pdf = pd.DataFrame({
        "id": range(len(cases)),
        "text": cases,
        "want": [normalize_text_py(s) for s in cases],
    })
    df = spark.createDataFrame(pdf, "id long, text string, want string")
    bad = (
        df.select("id", "text", "want", normalize_text("text").alias("got"))
        .filter(~F.col("got").eqNullSafe(F.col("want")))
        .limit(20)
        .collect()
    )
    assert bad == []


def test_normalizer_null_passthrough(spark):
    df = spark.createDataFrame([(1, None)], "id int, text string")
    assert df.select(normalize_text("text").alias("n")).collect()[0].n is None


def test_sentence_chunks_fanout(spark):
    text = "One. Two! Three? Four. Five. Six."
    df = spark.createDataFrame([(1, text)], "doc_id int, text string")
    out = sentence_chunks(df, "text", chunk_sentences=4).orderBy("chunk_idx").collect()
    assert len(out) == 2  # 6 sentences -> chunks of 4 + 2
    assert out[0].chunk == "One. Two! Three? Four."
    assert out[1].chunk == "Five. Six."


def test_truncate_on_word(spark):
    df = spark.createDataFrame(
        [(1, "short"), (2, "a" * 80), (3, "word " * 20)], "id int, text string"
    )
    rows = {r.id: r.t for r in df.select("id", truncate_on_word("text", 10).alias("t")).collect()}
    assert rows[1] == "short"
    assert rows[2] == "a" * 10  # no space -> hard cut
    assert rows[3] == "word word"  # cut on word boundary


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is here"),
            (2, "der hund und die katze ist da"),
            (3, "le chat et la maison est les"),
            (4, "xyzzy plugh"),
        ],
        "id int, text string",
    )
    rows = {r.id: r.lang for r in df.select("id", lang_id("text").alias("lang")).collect()}
    assert rows == {1: "en", 2: "de", 3: "fr", 4: "unknown"}


def test_quality_score_ordering(spark):
    df = spark.createDataFrame(
        [
            (1, "The quick brown fox jumps over the lazy dog and runs to the old barn for a rest in it."),
            (2, "!!! ??? ### $$$ %%%"),
        ],
        "id int, text string",
    )
    rows = {r.id: r.q for r in df.select("id", quality_score("text").alias("q")).collect()}
    assert rows[1] > rows[2]
    assert 0.0 <= rows[2] <= rows[1] <= 1.0


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other")],
        "doc_id long, text string",
    )
    out = exact_dedup(df)
    assert sorted(r.doc_id for r in out.collect()) == [1, 3]


def test_minhash_finds_near_dups_not_distinct(spark):
    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    near = base.replace("today", "tonight")
    other = "completely different words about spark shuffles and parquet row groups here"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    pairs = minhash_near_dup_pairs(df, "text", "doc_id", k=32, bands=8, jaccard_threshold=0.4)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got
    assert all(3 not in p for p in got)


def test_ngram_jaccard_bounds(spark):
    df = spark.createDataFrame([("a b c d e", "a b c d e"), ("a b c d e", "v w x y z")], "x string, y string")
    vals = [r.j for r in df.select(ngram_jaccard("x", "y").alias("j")).collect()]
    assert vals[0] == 1.0 and vals[1] == 0.0


def test_simhash_similar_texts_close(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "parquet shuffle broadcast join skew salt bucket"),
        ],
        "id int, text string",
    )
    rows = {r.id: r.s for r in df.select("id", simhash("text", bits=32).alias("s")).collect()}
    d12 = bin(rows[1] ^ rows[2]).count("1")
    d13 = bin(rows[1] ^ rows[3]).count("1")
    assert d12 < d13


def test_cosine_topk_and_lsh_recall(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((200, 16))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    q = [float(x) for x in vecs[0]]
    exact = cosine_topk(df, "embedding", q, 5)
    ids = [r.vec_id for r in exact.collect()]
    assert ids[0] == 0  # self is nearest
    planes = make_planes(16, 4, seed=5)
    approx = lsh_candidate_topk(df, "embedding", q, planes, 5)
    aids = [r.vec_id for r in approx.collect()]
    assert 0 in aids  # self shares its own bucket by construction


def test_hash_embed_deterministic_and_normalized(spark):
    df = spark.createDataFrame([(1, "spark shuffles parquet")], "id int, text string")
    v1 = df.select(hash_embed("text", 8).alias("v")).collect()[0].v
    v2 = df.select(hash_embed("text", 8).alias("v")).collect()[0].v
    assert v1 == v2
    assert abs(sum(x * x for x in v1) - 1.0) < 1e-6


def test_multimodal_feature_extraction(spark):
    rows = [
        (1, "image", bytearray(b"\x00\x01\x02\x03" * 10), ("image/png", 4, 4, None)),
        (2, "audio", bytearray(b"\xff" * 7), ("audio/wav", None, None, 1000)),
        (3, "image", None, ("image/png", 0, 0, None)),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r.media_id: r for r in extract_features(df).collect()}
    assert out[1].n_bytes == 40 and len(out[1].feature) == 8
    assert abs(sum(out[1].feature) - 1.0) < 1e-6  # histogram normalized
    assert out[2].n_bytes == 7 and out[2].feature[7] == 1.0  # 0xff % 8 == 7
    assert out[3].n_bytes == 0 and out[3].feature == [0.0] * 8


# ---------------- single-pass simhash & portable-hash twins ----------------


def _simhash_round1(col, bits=32):
    """The round-1 multi-pass simhash (one aggregate per bit) — kept here
    as the reference implementation for the single-pass rewrite."""
    from transcript_cdc.functions.expr import bind

    c = F.col(col) if isinstance(col, str) else col
    words = F.split(F.lower(F.trim(c)), r"\s+")

    def body(hashes):
        def bit_votes(i):
            return F.aggregate(
                hashes,
                F.lit(0),
                lambda acc, h: acc
                + F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
            )

        sig = F.lit(0).cast("long")
        for i in range(bits):
            sig = sig.bitwiseOR(
                F.when(bit_votes(i) > 0, F.lit(2**i).cast("long")).otherwise(
                    F.lit(0).cast("long")
                )
            )
        return sig

    return bind(F.transform(words, lambda w: F.xxhash64(w)), body)


def test_simhash_single_pass_matches_round1(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    df = docs.select(
        "doc_id",
        simhash("text", bits=32).alias("new"),
        _simhash_round1("text", bits=32).alias("old"),
    )
    assert df.filter(F.col("new") != F.col("old")).count() == 0


def test_portable_simhash_matches_python_twin(spark):
    import re

    from transcript_cdc.functions.portable import py_hash32

    def py_simhash(text, bits=32):
        toks = re.split(r"\s+", text.strip().lower()) if text.strip() else [""]
        votes = [0] * bits
        for w in toks:
            h = py_hash32(w)
            for i in range(bits):
                votes[i] += 1 if (h >> i) & 1 else -1
        return sum((1 << i) for i in range(bits) if votes[i] > 0)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    rows = docs.select(
        "text", simhash("text", bits=32, hash_fn="md5").alias("sig")
    ).collect()
    for r in rows:
        assert r["sig"] == py_simhash(r["text"]), r["text"][:50]


def test_portable_hash_embed_matches_python_twin(spark):
    from transcript_cdc.functions.portable import py_hash_embed

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    # whitespace edges: F.trim strips only U+0020 and Java's \s is ASCII
    # whitespace only, so tabs/newlines at the ends and NBSP/EM SPACE/U+001C
    # inside must tokenize exactly as Spark does
    edges = [
        "\thello world", "hello world\n", "  hello world  ", " \t a \n ",
        "\t", " ", "", "a\x0bb\fc\rd", "x\u00a0y", "x\u2003y", "x\x1cy",
        "\u3000lead", "ÉTUDE Déjà vu 🙂",
    ]
    texts = docs.select("text").unionByName(spark.createDataFrame([(t,) for t in edges], "text string"))
    for hash_fn in ("md5", "xx64"):
        rows = texts.select("text", hash_embed("text", dim=16, hash_fn=hash_fn).alias("v")).collect()
        assert len(rows) == 50 + len(edges)
        for r in rows:
            assert list(r["v"]) == py_hash_embed(r["text"], 16, hash_fn), (hash_fn, r["text"][:50])


def test_minhash_null_text_rows_never_pair(spark):
    """Null-text rows hash to a null bucket; they must be DROPPED (the old
    inner-join semantics), not collected into one giant null group that
    would pair every unhashable row with every other."""
    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    df = spark.createDataFrame(
        [(1, base), (2, base.replace("today", "tonight")),
         (3, None), (4, None), (5, None)],
        "doc_id long, text string",
    )
    pairs = minhash_near_dup_pairs(
        df, "text", "doc_id", k=32, bands=8, jaccard_threshold=0.0
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got
    assert all(a not in (3, 4, 5) and b not in (3, 4, 5) for a, b in got)


def test_embedding_near_dup_null_vectors_never_pair(spark):
    from transcript_cdc.functions.dedup_text import embedding_near_dup_pairs
    from transcript_cdc.functions.vectors import make_planes

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),
        (3, None),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = embedding_near_dup_pairs(
        df, planes=make_planes(4, 4), cosine_threshold=0.9
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(1, 2)}


def test_minhash_max_bucket_size_drops_stopword_buckets(spark):
    """The corpus-scale guard: buckets hotter than the cap are dropped
    whole (too-common-signature rule), while pairs in small buckets
    survive untouched."""
    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    common = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor"
    rows = [(1, base), (2, base.replace("today", "tonight"))]
    rows += [(100 + i, common) for i in range(30)]  # one mega-bucket
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # default cap (DEFAULT_MAX_BUCKET_SIZE) is far above this bucket; None
    # is the explicit opt-out and must behave identically here
    uncapped = minhash_near_dup_pairs(
        df, "text", "doc_id", k=32, bands=8, jaccard_threshold=0.4,
        max_bucket_size=None,
    )
    got_all = {(r.id_a, r.id_b) for r in uncapped.collect()}
    assert (1, 2) in got_all
    assert any(a >= 100 for a, _ in got_all)  # the mega-bucket pairs exist

    capped = minhash_near_dup_pairs(
        df, "text", "doc_id", k=32, bands=8, jaccard_threshold=0.4,
        max_bucket_size=10,
    )
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (1, 2) in got
    assert all(a < 100 and b < 100 for a, b in got)


def test_bucket_pairs_cap_is_on_by_default(spark):
    """The too-common-bucket guard defaults ON at the PUBLIC API boundary
    (round-3 verdict: the old version of this test exercised only the
    private _bucket_pairs helper while both public entry points forwarded
    max_bucket_size=None, silently disabling the cap for default callers).
    An over-cap bucket — DEFAULT_MAX_BUCKET_SIZE+1 identical texts — must
    emit ZERO pairs through minhash_near_dup_pairs with default arguments,
    while small buckets keep their pairs."""
    from pyspark.sql import functions as F

    from transcript_cdc.functions.dedup_text import (
        DEFAULT_MAX_BUCKET_SIZE,
        _bucket_pairs,
        minhash_near_dup_pairs,
    )

    n = DEFAULT_MAX_BUCKET_SIZE + 1
    common = "lorem ipsum dolor sit amet consectetur adipiscing elit sed"
    over_cap = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(common).alias("text")
    )
    # defaults only — this is exactly what a 100-TB caller of the
    # documented API gets
    assert minhash_near_dup_pairs(over_cap).count() == 0

    small = spark.createDataFrame(
        [(i, common) for i in range(3)], "doc_id long, text string"
    )
    assert minhash_near_dup_pairs(small).count() == 3  # 3 choose 2

    # explicit opt-out still works (checked on the helper: materializing
    # the n*(n-1)/2 public pairs is pointless work for the same assertion)
    banded = spark.range(n).select(F.lit(1).alias("bucket"), F.col("id"))
    assert (
        _bucket_pairs(banded, ["id"], max_bucket_size=None).count()
        == n * (n - 1) // 2
    )


def test_embedding_near_dup_cap_is_on_by_default(spark):
    """Same public-boundary guarantee for embedding_near_dup_pairs: an
    over-cap hyperplane bucket of identical vectors emits zero pairs with
    default arguments; a small bucket keeps its pairs."""
    from pyspark.sql import functions as F

    from transcript_cdc.functions.dedup_text import (
        DEFAULT_MAX_BUCKET_SIZE,
        embedding_near_dup_pairs,
    )
    from transcript_cdc.functions.vectors import make_planes

    n = DEFAULT_MAX_BUCKET_SIZE + 1
    planes = make_planes(4, 4)
    vec = F.array(*[F.lit(x).cast("float") for x in (1.0, 0.5, -0.25, 2.0)])
    over_cap = spark.range(n).select(
        F.col("id").alias("vec_id"), vec.alias("embedding")
    )
    assert embedding_near_dup_pairs(over_cap, planes=planes).count() == 0

    small = spark.range(3).select(
        F.col("id").alias("vec_id"), vec.alias("embedding")
    )
    assert embedding_near_dup_pairs(small, planes=planes).count() == 3


def test_clean_document_empty_lines_and_whitespace(spark):
    from pyspark.sql import functions as F

    from transcript_cdc.functions.normalize import clean_document

    df = spark.createDataFrame(
        [("a\n\n  \nb  c\td",), ("  x  ",), (None,)], "t string"
    )
    got = [r[0] for r in df.select(clean_document("t")).collect()]
    # empty lines dropped, then 2+ whitespace runs collapse (the \s\s+
    # rule): the single newline and the single tab survive
    assert got == ["a\nb c\td", "x", None]


def test_clean_document_header_footer(spark):
    from pyspark.sql import functions as F

    from transcript_cdc.functions.normalize import clean_document

    pages = "\f".join(
        [
            "HDR\n\nbody one\npage 1\nFTR",
            "HDR\n\nbody two longer\npage 2\nFTR",
            "HDR\n\nbody three\npage 3\nFTR",
        ]
    )
    single = "HDR\nonly page\nFTR"
    df = spark.createDataFrame([(pages,), (single,)], "t string")
    got = [
        r[0]
        for r in df.select(
            clean_document(
                "t", remove_repeated_header_footer=True,
                remove_extra_whitespaces=False, remove_empty_lines=False,
            )
        ).collect()
    ]
    # repeated header (HDR + empty line) and footer (FTR) stripped from
    # every page; distinct page markers survive
    assert got[0] == "body one\npage 1\fbody two longer\npage 2\fbody three\npage 3"
    # single page: untouched (no cross-page repetition evidence)
    assert got[1] == single
