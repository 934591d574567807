"""The one index build (SURVEY A27, write path §3.3:
/root/reference/app/main.py:413-456): read -> clean -> chunk -> embed ->
normalize -> write, with the reference's guards (skip-if-indexed A11,
chunk/embedding count invariant A24, multi-tenant partitioning A10).
The batch pass (`build_index`) and the facade's build and uploads
(`fit_index`, `embed_index`) all store rows in one format: `embedding`
L2-normalized, as the reference indexes it (app/main.py:315-316).

The chunk table is materialized once (`truncate_plan`: a lazy,
executor-local checkpoint) and both the IDF fit and the transform read
it, so the caller's upstream pipeline (scan, dedup, anti-joins) runs
once per build.
"""

from __future__ import annotations

from typing import Optional

from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import l2_normalize
from ..ml.embedder import TfIdfEmbedder
from ..operators.chunking import chunk_documents
from ..functions.plan import truncate_eager, truncate_plan


def embed_index(chunks: DataFrame, embedder: TfIdfEmbedder) -> DataFrame:
    """chunks -> chunks + `embedding`, L2-normalized: the at-rest
    format of every index row, built or uploaded."""
    return embedder.transform(chunks).withColumn("embedding", l2_normalize("embedding"))


def fit_index(
    docs: DataFrame, chunk_size: int = 512, dim: int = 64, user_col: Optional[str] = None
) -> tuple[TfIdfEmbedder, DataFrame]:
    """documents -> (embedder fitted on their chunks, `build_index`'s
    index).  No words -> ValueError, translated, not probed with a job."""
    chunks = chunk_documents(docs, chunk_size=chunk_size)
    if user_col is not None:
        chunks = chunks.join(docs.select("doc_id", user_col), "doc_id")
    chunks = chunks.transform(truncate_plan)
    embedder = TfIdfEmbedder(dim=dim, text_col="chunk_text", out_col="embedding")
    try:
        embedder.fit(chunks)
    except Py4JJavaError as e:
        if "Haven't seen any document yet" not in str(e.java_exception):
            raise
        msg = "no documents to index: the input produced 0 chunks (corpus dirs: PMC*.txt only)"
        raise ValueError(msg) from None
    return embedder, embed_index(chunks, embedder)


def build_index(
    docs: DataFrame,
    chunk_size: int = 512,
    dim: int = 64,
    user_col: Optional[str] = None,
) -> DataFrame:
    """documents(doc_id, text[, user]) -> chunk index
    (doc_id, chunk_id, chunk_key, chunk_text, embedding L2-normalized).
    """
    return fit_index(docs, chunk_size, dim, user_col)[1]


def write_index(
    index: DataFrame,
    path: str,
    user_col: Optional[str] = None,
    mode: str = "overwrite",
) -> None:
    """Sink (SURVEY A10): parquet, partitioned by user for the
    multi-tenant layout (/root/reference/app/embedding_gen.py:83-122) so
    per-user queries prune at the directory level."""
    writer = index.write.mode(mode)
    if user_col is not None:
        writer = writer.partitionBy(user_col)
    writer.parquet(path)


def index_is_empty(spark: SparkSession, path: str) -> bool:
    """Idempotence guard (SURVEY A11): build only when no data exists
    (reference app/main.py:422-424).  Only an absent path is
    empty: a damaged index raises, so `upsert_index` never overwrites it."""
    try:
        return spark.read.parquet(path).isEmpty()
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return True
        raise


def check_count_invariant(docs: DataFrame, index: DataFrame, chunk_size: int) -> None:
    """A24 (/root/reference/app/embedding_gen.py:398-404): every chunk
    got an embedding — chunk rows with null/empty embedding are a bug."""
    bad = index.filter(
        F.col("embedding").isNull() | (F.size("embedding") == 0)
    ).count()
    if bad:
        raise ValueError(f"{bad} chunks missing embeddings")


def upsert_index(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
    key_cols: list[str],
    version_col: str,
) -> None:
    """Index maintenance: merge a delta of new/updated chunks into the
    parquet index, latest version per key wins (the reference re-indexes
    a doc by overwriting its `doc_id_chunkidx` ids,
    /root/reference/app/main.py:325; parquet is immutable, so the merge
    is explicit).  Plan: union existing + delta, keep row_number()==1
    per key ordered by version desc — ONE shuffle keyed on the merge
    key.  At 100 TB the same plan runs per partition with dynamic
    partition overwrite (spark.sql.sources.partitionOverwriteMode=
    dynamic), so only partitions that received deltas are rewritten."""
    from pyspark.sql import Window

    if index_is_empty(spark, path):
        merged = delta
    else:
        existing = spark.read.parquet(path).select(*delta.columns)
        w = Window.partitionBy(*key_cols).orderBy(F.desc(version_col))
        merged = (
            existing.unionByName(delta)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    # break lineage before overwriting the path still being read
    merged.transform(truncate_eager).write.mode("overwrite").parquet(path)
