"""The flagship composed pipeline — the Spark-native RAGModel.ask
(SURVEY A20, /root/reference/app/main.py:467-548):

  guards -> embed query -> semantic-cache probe -> top-k retrieval ->
  context assembly -> prompt construction -> generation -> answer

Everything up to generation is one declarative DataFrame plan; the
generator is a pluggable interface whose default is a deterministic
JVM-side template (format_string), so the whole flagship path is
oracle-checkable.  A real LLM drops in as an Arrow-batched Pandas UDF
behind the same interface (ml/generator.py), mirroring the reference's
bounded-concurrency HTTP calls (/root/reference/app/main.py:31,186) with
Spark task slots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import l2_norm, with_cosine
from ..ml.generator import deterministic_answer
from ..sources.fixtures import load_table

SYSTEM_RULES = (
    "You are a helpful medical assistant. Use the provided context to answer."
)  # condensed analog of /root/reference/app/main.py:519-528


def rag_ask(
    spark: SparkSession,
    sf_dir: str,
    top_k: int = 3,  # /root/reference/app/main.py:467
) -> DataFrame:
    """One-row answer DataFrame: (query_id, n_docs, context, prompt,
    answer, top_doc_id, top_score).

    The query embedding is row vec_id 0 of the embeddings fixture,
    taken in-plan (broadcast 1-row join) — the analog of embed_query
    (SURVEY A6).  There is no cache probe: the path demonstrated is the cache-miss
    -> retrieve -> assemble -> generate pipeline, and retrieval excludes
    the query row itself.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")

    # bounded: single query row; its norm is computed HERE (once, on
    # the broadcast side) instead of twice per scored row (r14,
    # with_cosine docstring)
    qside = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
            l2_norm("embedding").alias("qnorm"),
        )
    )

    # Retrieval (A15): score all, top-k, deterministic tie-break.
    scored = with_cosine(
        emb.filter(F.col("vec_id") != 0).crossJoin(qside),
        "embedding",
        "qvec",
        "score",
        norm_b="qnorm",
    ).select("query_id", "vec_id", "score")
    hits = scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(top_k)

    # Join back to documents and assemble context blocks (A16), ordered
    # by retrieval rank (score desc) like the reference's hit order.
    with_docs = hits.join(docs, hits.vec_id == docs.doc_id).select(
        "query_id", "doc_id", "score", "text"
    )
    assembled = with_docs.groupBy("query_id").agg(
        F.count("*").alias("n_docs"),
        F.round(F.max("score"), 6).alias("top_score"),
        F.min_by(
            "doc_id",
            F.struct((-F.col("score")).alias("o"), F.col("doc_id").alias("d")),
        ).alias("top_doc_id"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct((-F.col("score")).alias("o"), "doc_id", "text")
                    )
                ),
                lambda s: F.concat(
                    F.lit("--- Document ID: "),
                    s["doc_id"].cast("string"),
                    F.lit(" ---\n"),
                    s["text"],
                    F.lit("\n"),
                ),
            ),
            "\n",
        ).alias("context"),
    )

    # Prompt construction (A17) + deterministic generation stub (A18).
    prompted = assembled.withColumn(
        "prompt",
        F.concat(
            F.lit(SYSTEM_RULES + "\n\nContext:\n"),
            F.col("context"),
            F.lit("\nQuestion: query_"),
            F.col("query_id").cast("string"),
        ),
    )
    return prompted.withColumn(
        "answer",
        deterministic_answer(F.col("n_docs"), F.col("top_doc_id"), F.col("top_score")),
    ).select(
        "query_id", "n_docs", "top_doc_id", "top_score", "context", "prompt", "answer"
    )
