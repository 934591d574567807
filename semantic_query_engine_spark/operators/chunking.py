"""Document chunking — the reference's chunk_text splits cleaned text on
whitespace and re-joins into <=chunk_size-word chunks
(/root/reference/app/main.py:383-393, SURVEY A2; duplicate
/root/reference/app/embedding_gen.py:128-137).

Spark-native: a table-generating expression — sequence/transform builds
the chunk array inside codegen, posexplode turns 1 document row into N
chunk rows.  No shuffle, no UDF: chunking 100 TB of documents is a
map-only stage that scales with input splits.

The chunk rules are rendered once as SQL text over a words-array
operand (`_chunks`, `_overlap_chunks`); the public functions take
column names and wrap them in `F.expr` / `selectExpr`, so a plan is
parsed JVM-side from a few strings instead of composed node by node
through Python-to-JVM (py4j) calls.  The words array is always a
pre-projected column: the slice sits inside the chunk lambda, and an
inline tokenizer there would re-split the document once per chunk.

Invariants (tested): ' '.join(chunks) == ' '.join(words(cleaned)); every
chunk has <= chunk_size words; chunk count == ceil(n_words/chunk_size).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import sql_ident, words_sql

DEFAULT_CHUNK_SIZE = 512  # /root/reference/app/main.py:37

_EMPTY = "CAST(array() AS ARRAY<STRING>)"


def _windows(ws: str, n: str, stride: int, chunk_size: int) -> str:
    """Chunks 0..n-1 of the words array `ws`: chunk i joins words
    [i*stride+1 .. i*stride+chunk_size]."""
    return (
        f"transform(sequence(0, {n} - 1), "
        f"__i -> array_join(slice({ws}, __i * {stride} + 1, {chunk_size}), ' '))"
    )


def _chunks(ws: str, chunk_size: int) -> str:
    n = f"CAST(ceil(size({ws}) / {float(chunk_size)!r}D) AS INT)"
    return (
        f"CASE WHEN {n} <= 0 THEN {_EMPTY} "
        f"ELSE {_windows(ws, f'greatest(1, {n})', chunk_size, chunk_size)} END"
    )


def _overlap_chunks(ws: str, chunk_size: int, stride: int) -> str:
    overlap = chunk_size - stride
    n = f"greatest(1, CAST(ceil((size({ws}) - {overlap}) / {float(stride)!r}D) AS INT))"
    return f"CASE WHEN size({ws}) = 0 THEN {_EMPTY} ELSE {_windows(ws, n, stride, chunk_size)} END"


def chunk_array_from_words(ws: str, chunk_size: int = DEFAULT_CHUNK_SIZE) -> Column:
    """Chunk array from the pre-tokenized words column `ws`.  Zero
    words -> zero chunks, matching the reference's
    range(0, len(words), size) loop (empty documents produce nothing,
    not one empty chunk)."""
    return F.expr(_chunks(sql_ident(ws), chunk_size))


def chunk_documents(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = DEFAULT_CHUNK_SIZE,
) -> DataFrame:
    """1 document row -> N chunk rows (doc_id, chunk_id, chunk_text,
    chunk_key).  The composite id doc_id || '_' || chunk_id mirrors the
    reference's OpenSearch _id (/root/reference/app/main.py:325).

    The words array is materialized in its own projection so the
    expensive split() runs once per document; the posexplode (a
    Generate) keeps the two projections apart."""
    idc = sql_ident(id_col)
    return (
        docs.selectExpr(idc, f"{words_sql(sql_ident(text_col))} AS __ws")
        .selectExpr(idc, f"posexplode({_chunks('__ws', chunk_size)}) AS (chunk_id, chunk_text)")
        .selectExpr("*", f"concat_ws('_', CAST({idc} AS STRING), chunk_id) AS chunk_key")
    )


def overlap_chunk_array_from_words(ws: str, chunk_size: int, stride: int) -> Column:
    """Sliding-window chunk array over the pre-tokenized words column
    `ws`: chunk i covers words [i*stride+1 .. i*stride+chunk_size], so
    consecutive chunks share chunk_size - stride words — the
    RAG-standard overlap variant of the reference's disjoint chunker
    (context survives chunk boundaries).  Chunk count =
    max(1, ceil((n - overlap) / stride)); still a pure map-side
    expression, 1 row -> N rows with zero shuffle."""
    if not 0 < stride <= chunk_size:
        raise ValueError("need 0 < stride <= chunk_size")
    return F.expr(_overlap_chunks(sql_ident(ws), chunk_size, stride))
