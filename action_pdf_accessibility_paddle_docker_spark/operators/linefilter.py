"""C4-style line-level quality filtering (Raffel et al. 2020, §2.2).

The public C4 cleaning rules, re-expressed as pure JVM array expressions:
keep a line only if it ends in terminal punctuation, has at least
``min_words`` words, and carries no boilerplate marker ("javascript" etc.);
drop a whole document when fewer than ``min_kept_lines`` lines survive or
when it contains a banned phrase ("lorem ipsum", "{").

Scale shape: there is deliberately NO explode and NO shuffle here — the
line split, per-line predicate, and reassembly all happen inside one
``filter``/``array_join`` projection over the scan, so the pass is
whole-stage-codegen'd and embarrassingly parallel. (Contrast
``dedup.chunk_dedup_stats``, which must explode because its signal is
cross-document.) Every predicate is mirrored literally by the DuckDB
oracle in ``plans/queries.py`` (``q_line_filter``).
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# mirrored literally in the oracle SQL — keep in sync
TERMINAL_CHARS = (".", "!", "?", '"')
LINE_BOILERPLATE = ("javascript", "cookie policy", "terms of use")
DOC_BANNED = ("lorem ipsum", "{")


def line_word_count(line: Column) -> Column:
    """Words in one line: single-space split, empty fragments dropped (so
    ``''`` counts 0, not 1 — both engines agree on this convention)."""
    return F.size(F.filter(F.split(line, " "), lambda w: w != F.lit("")))


def line_keep(line: Column, min_words: int = 3) -> Column:
    """The C4 per-line keep predicate."""
    terminal = F.substring(line, -1, 1).isin(*TERMINAL_CHARS)
    boiler = None
    for phrase in LINE_BOILERPLATE:
        c = F.contains(F.lower(line), F.lit(phrase))
        boiler = c if boiler is None else (boiler | c)
    return terminal & (line_word_count(line) >= min_words) & ~boiler


def doc_banned(text: Column) -> Column:
    """Whole-document ban: any banned phrase anywhere in the raw text."""
    out = None
    for phrase in DOC_BANNED:
        c = F.contains(F.lower(text), F.lit(phrase))
        out = c if out is None else (out | c)
    return out


def clean_lines(text: Column, min_words: int = 3) -> Column:
    """The surviving lines of one document, original order, as an array."""
    return F.filter(F.split(text, "\n"), lambda l: line_keep(l, min_words))


def line_filter_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 3,
    min_kept_lines: int = 3,
) -> DataFrame:
    """Per-document line-filter outcome: line counts, the document-level
    keep decision, and the md5 of the cleaned (newline-rejoined) text so the
    exact reassembly is pinned byte-for-byte against the oracle. Input
    widened first (no-op when the scan already has enough splits) so a
    single-row-group file doesn't run the whole line stack in one task;
    ``apply_line_filter`` (the streaming/filtering form) stays
    projection-only."""
    from .dedup import _widen

    return _widen(df).select(
        *_line_filter_exprs(id_col, text_col, min_words, min_kept_lines)
    )


@lru_cache(maxsize=128)
def _line_filter_exprs(
    id_col: str, text_col: str, min_words: int, min_kept_lines: int
) -> tuple:
    """``line_filter_stats``' output Columns -- pure functions of the column
    names and thresholds, compiled once per process (round 8 driver-side
    build reduction)."""
    t = F.col(text_col)
    kept = clean_lines(t, min_words)
    return (
        F.col(id_col),
        F.size(F.split(t, "\n")).cast("bigint").alias("n_lines"),
        F.size(kept).cast("bigint").alias("n_kept"),
        ((F.size(kept) >= min_kept_lines) & ~doc_banned(t)).alias("keep_doc"),
        F.md5(F.array_join(kept, "\n")).alias("cleaned_fp"),
    )


def apply_line_filter(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 3,
    min_kept_lines: int = 3,
) -> DataFrame:
    """The consuming form: replace ``text_col`` with the cleaned text and
    drop documents that fail the document-level gate."""
    t = F.col(text_col)
    kept = clean_lines(t, min_words)
    return (
        df.where((F.size(kept) >= min_kept_lines) & ~doc_banned(t))
        .withColumn(text_col, F.array_join(kept, "\n"))
    )
