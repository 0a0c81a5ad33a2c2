"""Text normalization in the JVM (SURVEY.md §2.2 P4).

Mirrors the reference's DocumentCleaner stage
(ETL/batch_ecs/source/pipeline.py:43) — strip extra whitespace / empty
lines — which runs row-at-a-time Python inside Haystack. Here it is one
Column expression: Spark built-ins plus two static JVM methods called
with ``reflect``, ICU4J's NFC and commons-lang3's whitespace collapse
(both jars ship in pyspark's ``jars/``). No Python worker, no Arrow
boundary. Per BASELINE.json input_hint: no per-row Python.

Semantics (identical to datagen.normalize_text_py, the test oracle):
  1. Unicode NFC normalization
  2. zero-width-space removal
  3. collapse all whitespace runs (incl. NBSP, tabs, CRLF) to single spaces
  4. strip leading/trailing whitespace

Known gap: CPython's ``unicodedata`` (3.11: Unicode 14.0) is the spec,
and ICU 77 implements Unicode 16. Every code point assigned in Unicode
14 is pinned equal by tests/test_functions.py; text using code points
assigned after 14.0 may compose differently from the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Python's str.isspace() accepts 29 code points; Java's
# Character.isWhitespace (StringUtils.normalizeSpace) accepts the same
# set minus these four, so they are mapped to a space first.
_PY_ONLY_WHITESPACE = ("\x85", "\xa0", "\u2007", "\u202f")


def normalize_text(col: Column | str) -> Column:
    """The exact normalizer of the ingest path, one JVM expression.
    Non-ASCII values get ICU4J's NFC and lose their ZWSPs (both are the
    identity on ASCII). commons-lang3's ``normalizeSpace`` collapses
    whitespace runs; its closing ``String.trim`` would also strip control
    characters below U+0020 that Python keeps, so the text goes in
    between ZWSP sentinels (none is left in it by then) and only the
    sentinels and spaces are trimmed. ``reflect`` throws on null, hence
    the null guard; it is nondeterministic to Catalyst, so each call
    appears once (no shared subexpression) and the expression may not
    sit inside an aggregate."""
    c = F.col(col) if isinstance(col, str) else col
    zwsp = F.lit("\u200b")
    nfc = F.reflect(
        F.lit("com.ibm.icu.text.Normalizer"), F.lit("compose"), c, F.lit(False)
    )
    text = F.replace(nfc, zwsp, F.lit(""))
    for ch in _PY_ONLY_WHITESPACE:
        text = F.replace(text, F.lit(ch), F.lit(" "))
    text = F.when(F.length(c) == F.octet_length(c), c).otherwise(text)
    spaced = F.reflect(
        F.lit("org.apache.commons.lang3.StringUtils"), F.lit("normalizeSpace"),
        F.concat(zwsp, text, zwsp),
    )
    return F.when(c.isNotNull(), F.btrim(spaced, F.lit(" \u200b")))


def normalize_text_sql(col: Column | str) -> Column:
    """Pure-SQL subset of the normalizer: whitespace collapse + trim, no
    NFC, no ZWSP removal. Its exact DuckDB twin backs the __spark_entry__
    parity queries.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def _strip_repeated_header_footer(
    c: Column, max_hf_lines: int, page_sep: str
) -> Column:
    """Drop lines repeated at the start (header) / end (footer) of EVERY
    ``page_sep``-separated page — the form-feed header/footer convention of
    Haystack's ``remove_repeated_substrings`` (DocumentCleaner), re-expressed
    as statically-unrolled JVM array expressions (no UDF): up to
    ``max_hf_lines`` consecutive common lines are stripped from each end.
    Single-page texts pass through unchanged. If header+footer cover a whole
    short page, that page becomes empty (slice length clamps at 0).
    """
    def h_common(lines: Column, j: int) -> Column:
        ref = F.get(F.get(lines, 0), j)
        return ref.isNotNull() & F.forall(
            lines, lambda ls: F.coalesce(F.get(ls, j) == ref, F.lit(False))
        )

    def f_common(lines: Column, j: int) -> Column:
        ref_arr = F.get(lines, 0)
        ref = F.get(ref_arr, F.size(ref_arr) - 1 - j)
        return ref.isNotNull() & F.forall(
            lines,
            lambda ls: F.coalesce(
                F.get(ls, F.size(ls) - 1 - j) == ref, F.lit(False)
            ),
        )

    def run_len(flags: list[Column]) -> Column:
        # longest prefix of consecutive true flags, as a nested CASE
        out = F.lit(len(flags))
        for j in reversed(range(len(flags))):
            out = F.when(~flags[j], F.lit(j)).otherwise(out)
        return out

    def body(pages: Column) -> Column:
        lines = F.transform(pages, lambda p: F.split(p, "\n"))

        def inner(ls: Column) -> Column:
            h = run_len([h_common(ls, j) for j in range(max_hf_lines)])
            f = run_len([f_common(ls, j) for j in range(max_hf_lines)])
            stripped = F.transform(
                ls,
                lambda page_lines: F.array_join(
                    F.slice(
                        page_lines,
                        h + 1,
                        F.greatest(F.size(page_lines) - h - f, F.lit(0)),
                    ),
                    "\n",
                ),
            )
            return F.array_join(stripped, page_sep)

        return F.when(F.size(pages) < 2, F.array_join(pages, page_sep)).otherwise(
            _bind(lines, inner)
        )

    return _bind(F.split(c, page_sep), body)


def _bind(value: Column, body) -> Column:
    """Let-binding via a single-element array transform: ``value`` is
    evaluated once even though ``body`` references it many times (same
    trick as functions.expr.bind, local to avoid a circular import)."""
    return F.get(F.transform(F.array(value), lambda v: body(v)), 0)


def clean_document(
    col: Column | str,
    remove_empty_lines: bool = True,
    remove_extra_whitespaces: bool = True,
    remove_repeated_header_footer: bool = False,
    max_hf_lines: int = 3,
    page_sep: str = "\f",
) -> Column:
    """Full DocumentCleaner semantics (SURVEY.md §2.2 P4 completion —
    round-2 verdict "What's missing" #1). Mirrors the reference's cleaner
    stage (ETL/batch_ecs/source/pipeline.py:43, ``DocumentCleaner()`` with
    Haystack defaults) with the semantics pinned here exactly so the
    DuckDB oracle twin (oracle_twins.clean_document_sql) can mirror them:

    1. ``remove_repeated_header_footer`` (Haystack's
       ``remove_repeated_substrings``, default off there and here): strip
       up to ``max_hf_lines`` lines repeated at the start/end of every
       form-feed-separated page.
    2. ``remove_empty_lines`` (default on): drop lines that are empty
       after trim; surviving lines re-join with a single newline.
    3. ``remove_extra_whitespaces`` (default on): collapse every run of
       2+ whitespace characters to one space, then trim — single newlines
       inside a line sequence survive, double ones don't (the
       ``\\s\\s+`` rule).

    Pure JVM built-ins (split/filter/transform/regexp_replace) — stays in
    codegen, no Python boundary, unlike the reference's row-at-a-time
    Haystack loop."""
    c = F.col(col) if isinstance(col, str) else col
    if remove_repeated_header_footer:
        c = _strip_repeated_header_footer(c, max_hf_lines, page_sep)
    if remove_empty_lines:
        c = F.array_join(
            F.filter(F.split(c, "\n"), lambda ln: F.trim(ln) != ""), "\n"
        )
    if remove_extra_whitespaces:
        c = F.trim(F.regexp_replace(c, r"\s\s+", " "))
    return c
