"""DuckDB SQL twins for the near-dup / ANN / hash-embedding queries.

Round-1 left 7 driver queries `no_oracle` (rows-only checks). This module
generates DuckDB SQL that mirrors the Spark expressions BIT-FOR-BIT so the
whole family joins the value-hash correctness gate:

- float math is emitted as explicit left-to-right inline sums
  (``0.0 + t1 + t2 + ...``) matching Spark's ``aggregate`` left fold — the
  one place engines can legitimately diverge is summation order;
- float literals are emitted as ``CAST('<repr>' AS DOUBLE)`` so DuckDB
  takes the correctly-rounded strtod path (a bare decimal literal would be
  DECIMAL and could round differently through int64 scaling);
- hashes use the portable md5-based hash (functions.portable) which has
  exact Spark/DuckDB/Python twins;
- driver-side constants (LSH query signature, IVF probe cells, query
  embedding) are computed by the same Python routine the Spark query uses.

Each generator takes the SAME parameters as its Spark query in
__spark_entry__.py; any drift fails the driver's value-hash compare.
"""

from __future__ import annotations

from collections.abc import Sequence

from transcript_cdc.functions.portable import portable_hash32_sql, py_hash_embed

_MINHASH_P = (1 << 31) - 1


def flit(x: float) -> str:
    """Double literal with the exact value Spark's lit(float) carries."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def dot_sql(vec: str, q: Sequence[float], cast_elems: bool = True) -> str:
    """Left-fold dot product of a SQL array column against a constant
    vector — mirrors functions.vectors.dot (aggregate over zip_with)."""
    terms = []
    for i, x in enumerate(q):
        elem = f"CAST({vec}[{i + 1}] AS DOUBLE)" if cast_elems else f"{vec}[{i + 1}]"
        terms.append(f"{elem} * {flit(x)}")
    return "(0.0 + " + " + ".join(terms) + ")"


def pair_dot_sql(a: str, b: str, dim: int) -> str:
    """Left-fold dot of two SQL array columns (both already DOUBLE)."""
    terms = [f"{a}[{i + 1}] * {b}[{i + 1}]" for i in range(dim)]
    return "(0.0 + " + " + ".join(terms) + ")"


def norm_sql(vec: str, dim: int) -> str:
    """sqrt(left-fold sum of squares) — mirrors functions.vectors.norm."""
    terms = [f"{vec}[{i + 1}] * {vec}[{i + 1}]" for i in range(dim)]
    return "sqrt(0.0 + " + " + ".join(terms) + ")"


def hyperplane_sig_sql(vec: str, planes: Sequence[Sequence[float]]) -> str:
    """Packed hyperplane LSH signature — mirrors
    functions.vectors.hyperplane_signature (bit i = dot(v, plane_i) > 0)."""
    terms = [
        f"(CASE WHEN {dot_sql(vec, p)} > {flit(0.0)} THEN {2**i} ELSE 0 END)"
        for i, p in enumerate(planes)
    ]
    return "(" + " + ".join(terms) + ")"


# --------------------------------------------------------------------------
# ANN / similarity search
# --------------------------------------------------------------------------


def ann_topk_sql(
    query: Sequence[float], planes: Sequence[Sequence[float]], k: int,
    table: str = "embeddings", id_col: str = "vec_id", vec_col: str = "embedding",
) -> str:
    """Twin of vectors.lsh_candidate_topk: filter to the query's LSH bucket,
    exact dot-product top-k inside it. The query signature is the same
    driver-side Python loop the Spark query runs."""
    qsig = 0
    for i, p in enumerate(planes):
        d = sum(float(x) * float(y) for x, y in zip(query, p))
        qsig += (1 if d > 0 else 0) * 2**i
    return f"""
        WITH scored AS (
            SELECT {id_col},
                   {hyperplane_sig_sql(vec_col, planes)} AS sig,
                   {dot_sql(vec_col, query)} AS raw
            FROM {table}
        )
        SELECT {id_col}, round(raw, 6) AS score FROM scored
        WHERE sig = {qsig}
        ORDER BY raw DESC, {id_col} ASC LIMIT {k}
    """


def ivf_topk_sql(
    query: Sequence[float], centroids: Sequence[Sequence[float]], k: int,
    nprobe: int = 2, table: str = "embeddings", id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Twin of vectors.ivf_topk: argmax-centroid cell assignment, probe the
    nprobe cells nearest the query (same driver-side ranking), exact top-k
    inside them."""
    scored_cells = sorted(
        range(len(centroids)),
        key=lambda i: -sum(float(a) * float(b) for a, b in zip(query, centroids[i])),
    )
    probes = ", ".join(str(int(p)) for p in scored_cells[:nprobe])
    dots = "[" + ", ".join(dot_sql(vec_col, c) for c in centroids) + "]"
    return f"""
        WITH d AS (
            SELECT {id_col}, {vec_col}, {dots} AS dots FROM {table}
        ),
        c AS (
            SELECT {id_col},
                   list_position(dots, list_aggregate(dots, 'max')) - 1 AS cell,
                   {dot_sql(vec_col, query)} AS raw
            FROM d
        )
        SELECT {id_col}, round(raw, 6) AS score FROM c
        WHERE cell IN ({probes})
        ORDER BY raw DESC, {id_col} ASC LIMIT {k}
    """


def embedding_near_dup_sql(
    planes: Sequence[Sequence[float]], cosine_threshold: float, dim: int,
    table: str = "embeddings", id_col: str = "vec_id", vec_col: str = "embedding",
    max_bucket_size: int | None = None,
) -> str:
    """Twin of dedup_text.embedding_near_dup_pairs: hyperplane-bucketed
    self-join, exact double-precision cosine within buckets. Pass the same
    ``max_bucket_size`` as the Spark query (too-common-bucket guard,
    mirrored as a window-count QUALIFY)."""
    cos = (
        f"{pair_dot_sql('a.v', 'b.v', dim)} / "
        f"({norm_sql('a.v', dim)} * {norm_sql('b.v', dim)})"
    )
    cap = (
        f"QUALIFY count(*) OVER (PARTITION BY bucket) <= {int(max_bucket_size)}"
        if max_bucket_size is not None else ""
    )
    return f"""
        WITH s AS (
            SELECT * FROM (
                SELECT {id_col} AS id,
                       list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS v,
                       {hyperplane_sig_sql(vec_col, planes)} AS bucket
                FROM {table}
            )
            {cap}
        )
        SELECT id_a, id_b, round(cos, 6) AS cos FROM (
            SELECT a.id AS id_a, b.id AS id_b, {cos} AS cos
            FROM s a JOIN s b ON a.bucket = b.bucket AND a.id < b.id
        )
        WHERE cos >= {flit(cosine_threshold)}
    """


def clean_document_sql(
    paged_expr: str, max_hf_lines: int = 3,
    table: str = "documents", id_col: str = "doc_id",
    out_col: str = "cleaned",
) -> str:
    """Twin of functions.normalize.clean_document(remove_repeated_header_
    footer=True): strip up to ``max_hf_lines`` lines repeated at the start/
    end of every form-feed page, drop empty lines, collapse 2+ whitespace
    runs, trim. ``paged_expr`` is the SQL expression producing the paged
    text (the driver query constructs it identically on both engines).

    Index mapping: Spark's 0-based ``get(ls, j)`` is DuckDB's 1-based
    ``ls[j+1]``; Spark's ``get(ls, size-1-j)`` is ``ls[len(ls)-j]``. Out-
    of-bounds yields NULL on both; ``coalesce(=, false)`` matches Spark's
    null-equality handling inside forall."""

    def ch(j: int) -> str:
        ref = f"lines[1][{j + 1}]"
        return (
            f"({ref} IS NOT NULL AND list_aggregate(list_transform(lines, "
            f"ls -> coalesce(ls[{j + 1}] = {ref}, false)), 'bool_and'))"
        )

    def cf(j: int) -> str:
        ref = f"lines[1][len(lines[1])-{j}]"
        return (
            f"({ref} IS NOT NULL AND list_aggregate(list_transform(lines, "
            f"ls -> coalesce(ls[len(ls)-{j}] = {ref}, false)), 'bool_and'))"
        )

    def run_case(terms: list[str]) -> str:
        whens = " ".join(
            f"WHEN NOT {t} THEN {j}" for j, t in enumerate(terms)
        )
        return f"CASE {whens} ELSE {len(terms)} END"

    h_case = run_case([ch(j) for j in range(max_hf_lines)])
    f_case = run_case([cf(j) for j in range(max_hf_lines)])
    return f"""
        WITH src AS (
            SELECT {id_col}, {paged_expr} AS t FROM {table}
        ),
        pg AS (
            SELECT {id_col}, t, string_split(t, chr(12)) AS pages FROM src
        ),
        ln AS (
            SELECT {id_col}, t, pages,
                   list_transform(pages, p -> string_split(p, chr(10))) AS lines
            FROM pg
        ),
        hf AS (
            SELECT {id_col}, t, pages, lines,
                   {h_case} AS h, {f_case} AS f
            FROM ln
        ),
        stripped AS (
            SELECT {id_col},
                   CASE WHEN len(pages) < 2 THEN t
                        ELSE array_to_string(list_transform(lines,
                             ls -> array_to_string(ls[h+1:len(ls)-f], chr(10))),
                             chr(12))
                   END AS t
            FROM hf
        ),
        noempty AS (
            SELECT {id_col},
                   array_to_string(list_filter(string_split(t, chr(10)),
                                               l -> trim(l) <> ''), chr(10)) AS t
            FROM stripped
        )
        SELECT {id_col}, trim(regexp_replace(t, '\\s\\s+', ' ', 'g')) AS {out_col}
        FROM noempty
    """


# --------------------------------------------------------------------------
# MinHash / SimHash (portable md5 hashing)
# --------------------------------------------------------------------------

_TOKS = r"string_split_regex(lower(trim({text})), '\s+')"


def _shingle_hash_sql(n: int) -> str:
    """Hash of the n-word shingle at 0-based offset i over CTE column
    `toks` — twin of dedup_text.shingles(hash_fn='md5')."""
    parts = ", ".join(f"toks[i + {j + 1}]" for j in range(n))
    return portable_hash32_sql(f"concat_ws(chr(31), {parts})")


def minhash_pairs_sql(
    shingle_n: int, k: int, bands: int, seed: int, jaccard_threshold: float,
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text",
    max_bucket_size: int | None = None,
) -> str:
    """Twin of dedup_text.minhash_near_dup_pairs(hash_fn='md5'): shingle →
    K affine-permuted minhashes (same seeded coefficients) → LSH band
    buckets → bucketed self-join → estimated-Jaccard threshold. Pass the
    same ``max_bucket_size`` as the Spark query (too-common-bucket guard,
    mirrored as a window-count QUALIFY on the banded CTE)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MINHASH_P, size=k, dtype=np.int64)
    b = rng.integers(0, _MINHASH_P, size=k, dtype=np.int64)
    rpb = k // bands

    toks = _TOKS.format(text=text_col)
    mins = ", ".join(
        "list_aggregate(list_transform(sh, h -> "
        f"({int(a[j])} * (h % {_MINHASH_P}) + {int(b[j])}) % {_MINHASH_P}"
        "), 'min')"
        for j in range(k)
    )
    buckets = ", ".join(
        portable_hash32_sql(
            f"'{bd}' || ':' || array_to_string("
            f"list_transform(sig[{bd * rpb + 1}:{(bd + 1) * rpb}], "
            "x -> CAST(x AS VARCHAR)), ',')"
        )
        for bd in range(bands)
    )
    eq_count = f"len(list_filter(range(1, {k + 1}), j -> a.sig[j] = b2.sig[j]))"
    return f"""
        WITH t AS (
            SELECT {id_col} AS id, {toks} AS toks FROM {table}
            WHERE {text_col} IS NOT NULL AND trim({text_col}) <> ''
        ),
        s AS (
            SELECT id,
                   list_transform(
                       range(0, greatest(len(toks) - {shingle_n - 1}, 1)),
                       i -> {_shingle_hash_sql(shingle_n)}) AS sh
            FROM t
        ),
        g AS (SELECT id, [{mins}] AS sig FROM s),
        bd AS (
            SELECT * FROM (SELECT id, sig, unnest([{buckets}]) AS bucket FROM g)
            {"QUALIFY count(*) OVER (PARTITION BY bucket) <= %d" % int(max_bucket_size) if max_bucket_size is not None else ""}
        ),
        p AS (
            SELECT a.id AS id_a, b2.id AS id_b,
                   {eq_count} / {float(k)!r} AS est_jaccard
            FROM bd a JOIN bd b2 USING (bucket) WHERE a.id < b2.id
        )
        SELECT DISTINCT id_a, id_b, est_jaccard FROM p
        WHERE est_jaccard >= {flit(jaccard_threshold)}
    """


def jaccard_refined_pairs_sql(
    shingle_n: int, k: int, bands: int, seed: int, est_threshold: float,
    exact_threshold: float, table: str = "documents", id_col: str = "doc_id",
    text_col: str = "text", max_bucket_size: int | None = None,
) -> str:
    """Twin of dedup_text.jaccard_refined_near_dup_pairs(hash_fn='md5'):
    the minhash_pairs_sql candidate set (loose estimated threshold) joined
    back to distinct-shingle sets, refined by exact set Jaccard
    (list_intersect / distinct-union — same int/int double division as
    Spark's array_intersect/array_union, so values are bit-identical)."""
    cand = minhash_pairs_sql(
        shingle_n, k, bands, seed, est_threshold, table=table,
        id_col=id_col, text_col=text_col, max_bucket_size=max_bucket_size,
    )
    toks = _TOKS.format(text=text_col)
    return f"""
        WITH cand AS ({cand}),
        jt AS (
            SELECT {id_col} AS id, {toks} AS toks FROM {table}
            WHERE {text_col} IS NOT NULL AND trim({text_col}) <> ''
        ),
        js AS (
            SELECT id,
                   list_distinct(list_transform(
                       range(0, greatest(len(toks) - {shingle_n - 1}, 1)),
                       i -> {_shingle_hash_sql(shingle_n)})) AS shset
            FROM jt
        ),
        r AS (
            SELECT c.id_a, c.id_b,
                   CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE)
                   / greatest(len(list_distinct(list_concat(a.shset, b.shset))), 1)
                       AS jaccard
            FROM cand c
            JOIN js a ON a.id = c.id_a
            JOIN js b ON b.id = c.id_b
        )
        SELECT id_a, id_b, jaccard FROM r
        WHERE jaccard >= {flit(exact_threshold)}
    """


def simhash_sql(
    bits: int, table: str = "documents", id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Twin of dedup_text.simhash(hash_fn='md5'): per-token hash, per-bit
    ±1 votes, positive-vote bits summed into the signature (bit masks are
    disjoint, so sum == the Spark OR-fold)."""
    toks = _TOKS.format(text=text_col)
    word_hash = portable_hash32_sql("w")
    bit_terms = []
    for i in range(bits):
        m = (1 << i) if i < 63 else -(1 << 63)
        vote = (
            f"list_sum(list_transform(hs, h -> "
            f"CASE WHEN (h & {m}) != 0 THEN 1 ELSE -1 END))"
        )
        bit_terms.append(f"(CASE WHEN {vote} > 0 THEN CAST({m} AS BIGINT) ELSE 0 END)")
    sig = " + ".join(bit_terms)
    return f"""
        WITH t AS (
            SELECT {id_col},
                   list_transform({toks}, w -> {word_hash}) AS hs
            FROM {table}
        )
        SELECT {id_col}, CAST({sig} AS BIGINT) AS sig FROM t
    """


# --------------------------------------------------------------------------
# Hash-embedding search (hybrid / correlations)
# --------------------------------------------------------------------------


def hash_embed_cols_sql(text_expr: str, dim: int) -> tuple[str, str]:
    """Two CTE column definitions computing the L2-normalized hash
    embedding of `text_expr` — twin of vectors.hash_embed(hash_fn='md5').
    Returns (counts_def, vec_def): counts_def lists raw bucket counts over
    a `bk` token-bucket column; vec_def normalizes a `cnt` column."""
    bucket = f"({portable_hash32_sql('w')}) % {dim}"
    counts = (
        "["
        + ", ".join(
            f"CAST(len(list_filter(bk, b -> b = {i})) AS DOUBLE)" for i in range(dim)
        )
        + "]"
    )
    nrm = f"greatest({norm_sql('cnt', dim)}, {flit(1e-12)})"
    vec = f"list_transform(cnt, x -> x / {nrm})"
    toks = _TOKS.format(text=text_expr)
    bk = f"list_transform({toks}, w -> {bucket})"
    return bk, (counts, vec)


def _embed_ctes(src_table: str, id_col: str, text_col: str, dim: int, extra_cols: str = "") -> str:
    """CTE chain `eb` → `ec` → `ev` producing (id, ..., vec) per row."""
    bk, (counts, vec) = hash_embed_cols_sql(text_col, dim)
    return f"""
        eb AS (SELECT {id_col}, {text_col}{extra_cols}, {bk} AS bk FROM {src_table}),
        ec AS (SELECT {id_col}, {text_col}{extra_cols}, {counts} AS cnt FROM eb),
        ev AS (SELECT {id_col}, {text_col}{extra_cols}, {vec} AS vec FROM ec)
    """


def lexical_score_sql(text_col: str, terms: Sequence[str]) -> str:
    """Twin of plans.search.lexical_score."""
    tl = "[" + ",".join(f"'{t.lower()}'" for t in terms) + "]"
    toks = rf"string_split_regex(lower({text_col}), '\s+')"
    return (
        f"(len(list_filter({toks}, x -> list_contains({tl}, x)))"
        f" / CAST(greatest(len({toks}), 1) AS DOUBLE))"
    )


def hybrid_search_sql(
    query_text: str, k_final: int, per_k: int, dim: int = 16,
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text",
    filter_sql: str = "n_chars > 50",
) -> str:
    """Twin of plans.search.hybrid_search (hash_fn='md5'): lexical + hash-
    embedding top-k branches, union-dedup keeping max score, blended
    rerank, final cut. The query embedding is the Python twin of what the
    Spark query computes driver-side."""
    qvec = py_hash_embed(query_text, dim, "md5")
    lex = lexical_score_sql(text_col, query_text.split())
    sem = dot_sql("vec", qvec, cast_elems=False)
    return f"""
        WITH base AS (
            SELECT {id_col}, {text_col} FROM {table} WHERE {filter_sql}
        ),
        {_embed_ctes("base", id_col, text_col, dim)},
        tv AS (
            SELECT {id_col}, {lex} AS lex, {sem} AS sem FROM ev
        ),
        l AS (SELECT {id_col}, lex AS score, lex, sem FROM tv
              ORDER BY lex DESC, {id_col} ASC LIMIT {per_k}),
        s AS (SELECT {id_col}, sem AS score, lex, sem FROM tv
              ORDER BY sem DESC, {id_col} ASC LIMIT {per_k}),
        u AS (SELECT * FROM l UNION ALL SELECT * FROM s),
        m AS (
            SELECT {id_col}, lex, sem FROM u
            QUALIFY row_number() OVER (
                PARTITION BY {id_col} ORDER BY score DESC, {id_col} ASC) = 1
        ),
        blended AS (SELECT {id_col}, (lex + sem) / 2 AS blend FROM m)
        SELECT {id_col}, round(blend, 6) AS score FROM blended
        ORDER BY blend DESC, {id_col} ASC LIMIT {k_final}
    """


def correlations_sql(
    source_id: int, k: int, dim: int = 16,
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text",
) -> str:
    """Twin of plans.search.correlations (hash_fn='md5'): embed the source
    row's text IN SQL (same chain), score every doc against it, over-fetch
    2k, self-score override, cut to k."""
    score = pair_dot_sql("ev.vec", "sv.vec", dim)
    return f"""
        WITH {_embed_ctes(table, id_col, text_col, dim)},
        sv AS (SELECT vec FROM ev WHERE {id_col} = {source_id}),
        scored AS (
            SELECT ev.{id_col} AS {id_col}, {score} AS score
            FROM ev CROSS JOIN sv
        ),
        cand AS (
            SELECT {id_col}, score FROM scored
            ORDER BY score DESC, {id_col} ASC LIMIT {2 * k}
        ),
        rr AS (
            SELECT {id_col},
                   CASE WHEN {id_col} = {source_id}
                        THEN {flit(1.0)} ELSE score END AS score
            FROM cand
        )
        SELECT {id_col}, round(score, 6) AS score FROM rr
        ORDER BY score DESC, {id_col} ASC LIMIT {k}
    """
