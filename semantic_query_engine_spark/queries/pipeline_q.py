"""Composed-pipeline queries: the flagship RAG path as a DECLARED,
fully oracle-checked query (the generation stub is a deterministic
template, so even the answer string has a SQL twin), and the index-build
/ embedding jobs, oracle-checked on their observable contracts (chunk
grid, declared dim, unit-norm invariant, token-mass conservation) while
the TF-IDF / crc32 internals stay SQL-free."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import dot
from ..plans.rag import SYSTEM_RULES, rag_ask
from ..sources.fixtures import load_table
from .registry import register

_Q = "(SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)"

_RAG_ORACLE = f"""
WITH hits AS (
  SELECT CAST(0 AS BIGINT) AS query_id, e.vec_id,
         list_cosine_similarity(e.embedding::DOUBLE[], {_Q}) AS score
  FROM embeddings e WHERE e.vec_id <> 0
  ORDER BY score DESC, e.vec_id LIMIT 3),
wd AS (
  SELECT h.query_id, h.vec_id AS doc_id, h.score, d.text,
         ROW_NUMBER() OVER (ORDER BY h.score DESC, h.vec_id) AS rnk
  FROM hits h JOIN documents d ON d.doc_id = h.vec_id),
asm AS (
  SELECT query_id,
         COUNT(*) AS n_docs,
         MIN(CASE WHEN rnk = 1 THEN doc_id END) AS top_doc_id,
         ROUND(MAX(score), 6) AS top_score,
         string_agg('--- Document ID: ' || CAST(doc_id AS VARCHAR) || ' ---' || chr(10)
                      || text || chr(10),
                    chr(10) ORDER BY score DESC, doc_id) AS context
  FROM wd GROUP BY query_id)
SELECT query_id, n_docs, top_doc_id, top_score, context,
       '{SYSTEM_RULES}' || chr(10) || chr(10) || 'Context:' || chr(10)
         || context || chr(10) || 'Question: query_' || CAST(query_id AS VARCHAR) AS prompt,
       'Based on ' || CAST(n_docs AS VARCHAR) || ' retrieved documents (best doc '
         || CAST(top_doc_id AS VARCHAR) || ', score ' || printf('%.6f', top_score)
         || '): see context.' AS answer
FROM asm
"""


@register("rag_ask_flagship", oracle=_RAG_ORACLE)
def rag_ask_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full composed read path (SURVEY A20,
    /root/reference/app/main.py:467-548): embed-in-plan query -> cache
    miss -> top-3 retrieval -> context assembly -> prompt -> generation.
    Every stage including the stubbed generation is oracle-checked."""
    return rag_ask(spark, sf_dir)


_CLEAN = "trim(regexp_replace(text, chr(10), ' ', 'g'))"
_WORDS = f"regexp_split_to_array({_CLEAN}, '\\s+')"
_IDX_CHUNK = 32

_INDEX_BUILD_ORACLE = f"""
    WITH w AS (SELECT doc_id, {_WORDS} AS ws FROM documents)
    SELECT doc_id, CAST(i AS INT) AS chunk_id,
           CAST(doc_id AS VARCHAR) || '_' || CAST(i AS VARCHAR) AS chunk_key,
           64 AS dim, CAST(1.0 AS DOUBLE) AS unit_norm_sq
    FROM w, UNNEST(range(CAST(greatest(1, ceil(len(ws) / {_IDX_CHUNK}.0))
                         AS BIGINT))) AS t(i)
    """


@register("index_build", oracle=_INDEX_BUILD_ORACLE)
def index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch write path (SURVEY A27): read -> clean -> chunk(32) ->
    TF-IDF embed -> L2 normalize.  Oracle-checked on its observable
    contract: the chunk grid (same twin as doc_chunk at size 32), the
    declared dim, and the A24-adjacent invariant that EVERY chunk's
    embedding is unit-norm after normalization (sum-of-squares rounds
    to 1.0 at 4 decimals).  TF-IDF weights themselves stay SQL-free;
    the unit-norm claim is exact unless a chunk's every hash bucket
    carries only idf-0 terms (a zero vector — would surface as 0.0 and
    fail the gate loudly; verified 1.0 across sf0.001-sf1, re-validate
    after fixture regeneration)."""
    from ..plans.index_build import build_index

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    index = build_index(docs, chunk_size=_IDX_CHUNK, dim=64)
    return index.select(
        "doc_id",
        "chunk_id",
        "chunk_key",
        F.size("embedding").alias("dim"),
        F.round(dot("embedding", "embedding"), 4).alias("unit_norm_sq"),
    )


_EMBED_ORACLE = f"""
    SELECT doc_id, 64 AS dim,
           ROUND(CASE WHEN {_CLEAN} = '' THEN 0.0
                 ELSE CAST(len(list_filter({_WORDS}, w -> w != ''))
                      AS DOUBLE) END, 2) AS token_mass
    FROM documents
    """


@register("embed_documents", oracle=_EMBED_ORACLE)
def embed_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A4/A5 embedding surface via the Arrow-batched Pandas UDF
    adapter (deterministic crc32 bag-of-words stand-in): proves the
    mapInPandas plumbing (batch shape, empty-text zero-vector guard)
    without model weights.  Oracle-checked on the adapter's observable
    contract: dim is as declared and the vector's total mass equals the
    document's whitespace token count (each token adds exactly 1.0 to
    one bucket; empty/whitespace text yields the zero vector) — so a
    broken batch boundary, a dropped row, or a mis-fired empty-text
    guard all flip the hash gate.  The crc32 bucket ASSIGNMENT stays
    SQL-free (DuckDB has no crc32); tests pin it."""
    from ..ml.embedder import embed_with_pandas_udf

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = embed_with_pandas_udf(docs, dim=64)
    return out.select(
        "doc_id",
        F.size("embedding").alias("dim"),
        F.round(F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x), 2).alias(
            "token_mass"
        ),
    )
