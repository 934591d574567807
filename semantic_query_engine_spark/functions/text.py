"""Text expression library — cleaning, tokenization, fingerprinting,
language-ID heuristics, quality scoring.  Pure built-in functions
(JVM-side, codegen'd); every scalar here has an exact DuckDB-SQL
equivalent so the oracle can check it.

Reference semantics replicated:
- basic_cleaning: newline->space, trim (/root/reference/app/main.py:379-380, SURVEY A1)
- whitespace tokenization feeding the 512-word chunker
  (/root/reference/app/main.py:383-393, SURVEY A2)
"""

from __future__ import annotations

from typing import Union

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Union[Column, str]

# Small English stopword list (public, standard) for the language-ID /
# quality heuristics.  Kept short and hard-coded so the DuckDB oracle can
# embed the identical list.
STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are",
    "was", "for", "on", "with", "as", "by", "at", "be", "this", "that",
)


def _col(c: ColumnOrName) -> Column:
    return c if isinstance(c, Column) else F.col(c)


def clean_text(c: ColumnOrName) -> Column:
    """newline -> space, trim (SURVEY A1)."""
    return F.trim(F.regexp_replace(_col(c), "\n", " "))


def words_of(c: ColumnOrName) -> Column:
    """Whitespace tokenization of cleaned text (the reference's
    text.split(), /root/reference/app/main.py:388).  Python's
    ''.split() returns [] — Spark's split('') returns [''] — so empty
    tokens are filtered to keep reference parity on empty/whitespace
    documents (zero tokens, zero chunks)."""
    return F.filter(F.split(clean_text(c), r"\s+"), lambda w: w != F.lit(""))


def sql_ident(name: str) -> str:
    """Backquoted SQL identifier for a column name."""
    return "`" + name.replace("`", "``") + "`"


def words_sql(c: str) -> str:
    """words_of rendered as ONE SQL expression over the SQL operand `c`
    (same functions, same arguments), for plans assembled from parsed
    strings instead of py4j-composed Columns.  The filter's lambda
    variable is `__w`, so `c` must not reference a column of that name."""
    return (
        rf"filter(split(trim(regexp_replace({c}, '\n', ' ')), '\\s+'), "
        "__w -> __w != '')"
    )


def token_count(c: ColumnOrName) -> Column:
    return F.size(words_of(c))


def stopword_count_ws(ws: Column) -> Column:
    """Stopword count over a pre-tokenized words column.

    The `_ws` family exists for PLAN reasons, not convenience: each
    `words_of()` call builds fresh lambda variables (unique exprIds),
    so two textually-identical word-array trees are NOT semanticEquals
    and Catalyst's subexpression elimination cannot unify them — a
    projection composing several text heuristics re-runs the regex
    split once per instantiation.  Pre-projecting the array as a real
    column (one Project node; CollapseProject keeps it because the
    expression is non-cheap and multi-referenced) makes every consumer
    a BoundReference.  Measured on curation_verdict at sf0.1:
    5.3-7.4 s -> 1.25 s, bit-identical output."""
    stops = F.array(*[F.lit(s) for s in STOPWORDS])
    return F.size(F.filter(ws, lambda w: F.array_contains(stops, F.lower(w))))


def stopword_ratio_ws(ws: Column) -> Column:
    n = F.size(ws)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        stopword_count_ws(ws).cast("double") / n.cast("double")
    )


def punct_ratio(c: ColumnOrName) -> Column:
    txt = _col(c)
    n = F.length(txt)
    punct = F.length(F.regexp_replace(txt, r"[^.,;:!?'\"()-]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(punct.cast("double") / n.cast("double"))


def avg_word_len_ws(ws: Column) -> Column:
    total = F.aggregate(ws, F.lit(0.0), lambda acc, w: acc + F.length(w).cast("double"))
    return F.when(F.size(ws) == 0, F.lit(0.0)).otherwise(total / F.size(ws).cast("double"))


def quality_score_ws(ws: Column, text: ColumnOrName) -> Column:
    """quality_score over a pre-tokenized words column (see
    stopword_count_ws for why the pre-projection matters); `text` is
    still needed for the punctuation ratio, which is character-level."""
    sw = stopword_ratio_ws(ws)
    pr = punct_ratio(text)
    awl = avg_word_len_ws(ws)
    len_ok = F.when((awl >= 2.0) & (awl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    score = F.least(F.lit(1.0), sw * 2.0) * 0.5 + len_ok * 0.3 + (1.0 - F.least(F.lit(1.0), pr * 5.0)) * 0.2
    return F.round(score, 6)


def quality_score(c: ColumnOrName) -> Column:
    """Composite [0,1] quality heuristic for training-data filtering:
    rewards stopword presence (naturalness) and reasonable word length,
    penalizes punctuation soup.  Deterministic, SQL-expressible."""
    return quality_score_ws(words_of(c), c)


def lang_id_ws(ws: Column, threshold: float = 0.08) -> Column:
    return F.when(stopword_ratio_ws(ws) >= F.lit(threshold), F.lit("en")).otherwise(
        F.lit("unk")
    )


def lang_id(c: ColumnOrName, threshold: float = 0.08) -> Column:
    """N-gram-free language-ID heuristic: stopword hit ratio >= threshold
    -> 'en', else 'unk'.  (A real model would be a Pandas UDF; this keeps
    the hot path JVM-side and oracle-checkable.)"""
    return lang_id_ws(words_of(c), threshold)


def fingerprint_ws(ws: Column) -> Column:
    normalized = F.lower(F.array_join(ws, " "))
    return F.md5(normalized.cast("binary"))


def fingerprint(c: ColumnOrName) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized, lowercased
    text.  Used for exact dedup at scale — hash first, group on the
    128-bit digest instead of the full document body."""
    return fingerprint_ws(words_of(c))
