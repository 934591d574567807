"""Text expression library — cleaning, tokenization, fingerprinting,
language-ID heuristics, quality scoring, rendered once as parsed SQL.

Reference semantics replicated:
- basic_cleaning: newline->space, trim (/root/reference/app/main.py:379-380, SURVEY A1)
- whitespace tokenization feeding the 512-word chunker
  (/root/reference/app/main.py:383-393, SURVEY A2)

Each rule is written once, as a renderer of SQL text over a SQL
operand: `_clean` (the cleaning), `words_sql` (the package's only
tokenizer), and the heuristics over a words array (`_stopword_count`,
`_stopword_ratio`, `_avg_word_len`, `_quality`, `_lang_id`,
`_fingerprint`) or over the text (`_punct_ratio`).  The public
functions take column names and wrap the renderers in `F.expr`, so a
plan is parsed JVM-side from one string instead of composed node by
node through Python-to-JVM (py4j) calls.  All are built-in functions
(JVM-side, codegen'd), and every scalar has an exact DuckDB-SQL
equivalent so the oracle can check it.

The `_ws` family takes a pre-projected words column.  That exists for
PLAN reasons, not convenience: each tokenizer instance builds fresh
lambda variables (unique exprIds), so two textually identical
word-array trees are NOT semanticEquals and Catalyst's subexpression
elimination cannot unify them — a projection composing several text
heuristics re-runs the regex split once per instantiation.
Pre-projecting the array as a real column (one Project node;
CollapseProject keeps it because the expression is non-cheap and
multi-referenced) makes every consumer a BoundReference.  Measured on
curation_verdict at sf0.1: 5.3-7.4 s -> 1.25 s, bit-identical output.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small English stopword list (public, standard) for the language-ID /
# quality heuristics.  Kept short and hard-coded so the DuckDB oracle can
# embed the identical list.
STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are",
    "was", "for", "on", "with", "as", "by", "at", "be", "this", "that",
)


def sql_ident(name: str) -> str:
    """Backquoted SQL identifier for a column name."""
    return "`" + name.replace("`", "``") + "`"


def _sql_str(s: str) -> str:
    """Single-quoted SQL string literal of `s`."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _clean(c: str) -> str:
    return rf"trim(regexp_replace({c}, '\n', ' '))"


def words_sql(c: str) -> str:
    """Whitespace tokenization of cleaned text (the reference's
    text.split(), /root/reference/app/main.py:388) as ONE SQL expression
    over the SQL operand `c`.  Python's ''.split() returns [] — Spark's
    split('') returns [''] — so empty tokens are filtered to keep
    reference parity on empty/whitespace documents (zero tokens, zero
    chunks).  The filter's lambda variable is `__w`, so `c` must not
    reference a column of that name."""
    return rf"filter(split({_clean(c)}, '\\s+'), __w -> __w != '')"


_PUNCT = r"[^.,;:!?'\"()-]"
_STOPS = "array(" + ", ".join(_sql_str(s) for s in STOPWORDS) + ")"


def _stopword_count(ws: str) -> str:
    return f"size(filter({ws}, __s -> array_contains({_STOPS}, lower(__s))))"


def _stopword_ratio(ws: str) -> str:
    return (
        f"CASE WHEN size({ws}) = 0 THEN 0.0D "
        f"ELSE CAST({_stopword_count(ws)} AS DOUBLE) / CAST(size({ws}) AS DOUBLE) END"
    )


def _punct_ratio(c: str) -> str:
    punct = f"length(regexp_replace({c}, {_sql_str(_PUNCT)}, ''))"
    return (
        f"CASE WHEN length({c}) = 0 THEN 0.0D "
        f"ELSE CAST({punct} AS DOUBLE) / CAST(length({c}) AS DOUBLE) END"
    )


def _avg_word_len(ws: str) -> str:
    total = f"aggregate({ws}, 0.0D, (acc, w) -> acc + CAST(length(w) AS DOUBLE))"
    return f"CASE WHEN size({ws}) = 0 THEN 0.0D ELSE {total} / CAST(size({ws}) AS DOUBLE) END"


def _quality(ws: str, c: str) -> str:
    awl = _avg_word_len(ws)
    len_ok = f"CASE WHEN ({awl}) >= 2.0D AND ({awl}) <= 12.0D THEN 1.0D ELSE 0.0D END"
    return (
        f"round(least(1.0D, ({_stopword_ratio(ws)}) * 2.0D) * 0.5D + ({len_ok}) * 0.3D"
        f" + (1.0D - least(1.0D, ({_punct_ratio(c)}) * 5.0D)) * 0.2D, 6)"
    )


def _lang_id(ws: str, threshold: float) -> str:
    return f"CASE WHEN ({_stopword_ratio(ws)}) >= {float(threshold)!r}D THEN 'en' ELSE 'unk' END"


def _fingerprint(ws: str) -> str:
    return f"md5(CAST(lower(array_join({ws}, ' ')) AS BINARY))"


def clean_text(c: str) -> Column:
    """newline -> space, trim (SURVEY A1)."""
    return F.expr(_clean(sql_ident(c)))


def words_of(c: str) -> Column:
    """The words array of text column `c` (words_sql)."""
    return F.expr(words_sql(sql_ident(c)))


def token_count(c: str) -> Column:
    return F.expr(f"size({words_sql(sql_ident(c))})")


def stopword_count_ws(ws: str) -> Column:
    """Stopword count over a pre-tokenized words column."""
    return F.expr(_stopword_count(sql_ident(ws)))


def stopword_ratio_ws(ws: str) -> Column:
    return F.expr(_stopword_ratio(sql_ident(ws)))


def punct_ratio(c: str) -> Column:
    return F.expr(_punct_ratio(sql_ident(c)))


def avg_word_len_ws(ws: str) -> Column:
    return F.expr(_avg_word_len(sql_ident(ws)))


def quality_score_ws(ws: str, text: str) -> Column:
    """quality_score over a pre-tokenized words column; `text` is still
    needed for the punctuation ratio, which is character-level."""
    return F.expr(_quality(sql_ident(ws), sql_ident(text)))


def quality_score(c: str) -> Column:
    """Composite [0,1] quality heuristic for training-data filtering:
    rewards stopword presence (naturalness) and reasonable word length,
    penalizes punctuation soup.  Deterministic, SQL-expressible."""
    return F.expr(_quality(words_sql(sql_ident(c)), sql_ident(c)))


def lang_id_ws(ws: str, threshold: float = 0.08) -> Column:
    return F.expr(_lang_id(sql_ident(ws), threshold))


def lang_id(c: str, threshold: float = 0.08) -> Column:
    """N-gram-free language-ID heuristic: stopword hit ratio >= threshold
    -> 'en', else 'unk'.  (A real model would be a Pandas UDF; this keeps
    the hot path JVM-side and oracle-checkable.)"""
    return F.expr(_lang_id(words_sql(sql_ident(c)), threshold))


def fingerprint_ws(ws: str) -> Column:
    return F.expr(_fingerprint(sql_ident(ws)))


def fingerprint(c: str) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized, lowercased
    text.  Used for exact dedup at scale — hash first, group on the
    128-bit digest instead of the full document body."""
    return F.expr(_fingerprint(words_sql(sql_ident(c))))
