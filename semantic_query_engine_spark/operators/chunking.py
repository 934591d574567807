"""Document chunking — the reference's chunk_text splits cleaned text on
whitespace and re-joins into <=chunk_size-word chunks
(/root/reference/app/main.py:383-393, SURVEY A2; duplicate
/root/reference/app/embedding_gen.py:128-137).

Spark-native: a table-generating expression — sequence/transform builds
the chunk array inside codegen, posexplode turns 1 document row into N
chunk rows.  No shuffle, no UDF: chunking 100 TB of documents is a
map-only stage that scales with input splits.

Invariants (tested): ' '.join(chunks) == ' '.join(words(cleaned)); every
chunk has <= chunk_size words; chunk count == ceil(n_words/chunk_size).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import words_of

DEFAULT_CHUNK_SIZE = 512  # /root/reference/app/main.py:37


def chunk_array_from_words(ws: Column, chunk_size: int = DEFAULT_CHUNK_SIZE) -> Column:
    """Chunk array from a pre-tokenized words column.  Zero words ->
    zero chunks, matching the reference's range(0, len(words), size)
    loop (empty documents produce nothing, not one empty chunk)."""
    n_chunks = F.ceil(F.size(ws) / F.lit(float(chunk_size))).cast("int")
    return F.when(n_chunks <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.lit(1), n_chunks) - 1),
            lambda i: F.array_join(F.slice(ws, i * chunk_size + 1, chunk_size), " "),
        )
    )


def chunk_documents(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = DEFAULT_CHUNK_SIZE,
) -> DataFrame:
    """1 document row -> N chunk rows (doc_id, chunk_id, chunk_text).
    The composite id doc_id || '_' || chunk_id mirrors the reference's
    OpenSearch _id (/root/reference/app/main.py:325).

    The words array is materialized in its own projection so the
    expensive split() runs once per document; Catalyst's CollapseProject
    keeps non-cheap aliases separate instead of re-inlining them into
    every slice() of the chunk lambda."""
    tokenized = docs.select(
        F.col(id_col), words_of(F.col(text_col)).alias("__ws")
    )
    chunks = chunk_array_from_words(F.col("__ws"), chunk_size)
    return tokenized.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_id", "chunk_text"),
    ).withColumn(
        "chunk_key", F.concat_ws("_", F.col(id_col).cast("string"), F.col("chunk_id"))
    )


def overlap_chunk_array_from_words(
    ws: Column, chunk_size: int, stride: int
) -> Column:
    """Sliding-window chunk array: chunk i covers words
    [i*stride+1 .. i*stride+chunk_size], so consecutive chunks share
    chunk_size - stride words — the RAG-standard overlap variant of the
    reference's disjoint chunker (context survives chunk boundaries).
    Chunk count = max(1, ceil((n - overlap) / stride)); still a pure
    map-side expression, 1 row -> N rows with zero shuffle."""
    if not 0 < stride <= chunk_size:
        raise ValueError("need 0 < stride <= chunk_size")
    overlap = chunk_size - stride
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.size(ws) - F.lit(overlap)) / F.lit(float(stride))).cast("int"),
    )
    return F.when(F.size(ws) == 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(F.slice(ws, i * stride + 1, chunk_size), " "),
        )
    )
