"""Text scalar functions + training-data text analysis (SURVEY.md §2.2).

Reference parity (all JVM-side built-ins — no Python in the hot path):
  P2 concat          document.py:48        content = title + "\\n\\n" + abstract
  P3 trim            document.py:37
  P5 sentence chunks pipeline.py:44-46     DocumentSplitter(sentence, 4)
  P7 truncate        search.py:51-56       cut at 60 chars on word boundary
  P8 sanitize        trigger_03_batch_job.py:57-67

Plus the large-scale training-pipeline text ops (language-ID heuristic,
quality scoring, token counting, fingerprinting) the engine adds as
first-class components.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SENTENCE_SPLIT_REGEX = r"(?<=[.!?])\s+"


def content_concat(title: Column | str, body: Column | str, sep: str = "\n\n") -> Column:
    """P2: content = title + sep + body."""
    t = F.col(title) if isinstance(title, str) else title
    b = F.col(body) if isinstance(body, str) else body
    return F.concat_ws(sep, t, b)


def truncate_on_word(col: Column | str, max_length: int = 60) -> Column:
    """P7: cut at max_length on a word boundary (reference rsplit(' ', 1)).

    Semantics matched to _truncate_query: if the string is longer than
    max_length, take the first max_length chars, then drop the trailing
    partial word (everything after the last space); strings w/o spaces in
    the head are hard-cut.
    """
    c = F.col(col) if isinstance(col, str) else col
    head = F.substring(c, 1, max_length)
    cut = F.when(
        F.instr(head, " ") > 0,
        F.regexp_extract(head, r"^(.*)\s\S*$", 1),
    ).otherwise(head)
    return F.when(F.length(c) <= max_length, c).otherwise(cut)


def sanitize_job_name(col: Column | str, max_length: int = 128) -> Column:
    """P8: re.sub(r'[^a-zA-Z0-9-_]+', '_', s)[:max_length]."""
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(F.regexp_replace(c, r"[^a-zA-Z0-9\-_]+", "_"), 1, max_length)


def sentence_chunks(
    df: DataFrame, text_col: str = "text", chunk_sentences: int = 4,
    out_col: str = "chunk", keep_cols: list[str] | None = None,
) -> DataFrame:
    """P5: 1→N fan-out — split into sentences, regroup N per chunk.

    DocumentSplitter(split_by='sentence', split_length=4) done with
    built-ins: posexplode(split) → group by floor(pos/N) → concat_ws.
    No Python UDTF — stays in WholeStageCodegen + one hash aggregate.
    """
    keep = keep_cols or [c for c in df.columns if c != text_col]
    exploded = df.select(
        *keep, F.posexplode(F.split(F.col(text_col), SENTENCE_SPLIT_REGEX)).alias(
            "pos", "sentence"
        )
    ).filter(F.length("sentence") > 0)
    return (
        exploded.withColumn("chunk_idx", (F.col("pos") / chunk_sentences).cast("int"))
        .groupBy(*keep, "chunk_idx")
        .agg(
            F.concat_ws(
                " ", F.array_sort(F.collect_list(F.struct("pos", "sentence")))
                .getField("sentence")
            ).alias(out_col)
        )
    )


# ---------- training-data text analysis (engine additions) ----------

def whitespace_token_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.split(F.trim(c), r"\s+"))


_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]


def quality_features(col: Column | str) -> dict[str, Column]:
    """Quality-scoring feature columns: length, punct ratio, stopword ratio,
    mean word length. All built-in expressions (codegen'd)."""
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c)
    words = F.split(F.trim(c), r"\s+")
    n_words = F.size(words)
    n_punct = n_chars - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    n_stop = F.size(F.filter(words, lambda w: F.lower(w).isin(_STOPWORDS)))
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "punct_ratio": (n_punct / F.greatest(n_chars, F.lit(1))).cast("double"),
        "stopword_ratio": (n_stop / F.greatest(n_words, F.lit(1))).cast("double"),
        "mean_word_len": (
            (F.length(F.regexp_replace(c, r"\s+", "")) / F.greatest(n_words, F.lit(1)))
        ).cast("double"),
    }


def quality_score(col: Column | str) -> Column:
    """Scalar quality score in [0,1]: penalize too-short docs, punctuation
    soup, and stopword-free (non-linguistic) text."""
    f = quality_features(col)
    len_ok = F.least(f["n_words"] / F.lit(20.0), F.lit(1.0))
    punct_ok = F.lit(1.0) - F.least(f["punct_ratio"] * 4, F.lit(1.0))
    stop_ok = F.least(f["stopword_ratio"] * 5, F.lit(1.0))
    return ((len_ok + punct_ok + stop_ok) / 3).cast("double")


def lang_id(col: Column | str) -> Column:
    """Tiny n-gram/stopword language heuristic: en/de/fr/unknown.

    Counts language-marker stopwords; argmax wins. Deterministic, pure SQL.
    """
    c = F.col(col) if isinstance(col, str) else col
    words = F.split(F.lower(c), r"\s+")
    markers = {
        "en": ["the", "and", "of", "is", "to"],
        "de": ["der", "die", "und", "ist", "das"],
        "fr": ["le", "la", "et", "est", "les"],
    }
    def marker_count(m: list[str]):
        # closure capture: a 2-arg lambda would receive the array index
        return F.size(F.filter(words, lambda w: w.isin(m)))

    counts = {lang: marker_count(m) for lang, m in markers.items()}
    best = F.greatest(*counts.values())
    out = F.lit("unknown")
    # reverse order so earlier languages win ties deterministically
    for lang in reversed(list(counts)):
        out = F.when(counts[lang] == best, F.lit(lang)).otherwise(out)
    return F.when(best <= 0, F.lit("unknown")).otherwise(out)


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: xxhash64 of the whitespace-normalized,
    lowercased text — the exact-dedup key."""
    c = F.col(col) if isinstance(col, str) else col
    return F.xxhash64(F.lower(F.trim(F.regexp_replace(c, r"\s+", " "))))
