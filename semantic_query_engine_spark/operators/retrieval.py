"""Similarity retrieval — the reference's ANN search surface
(/root/reference/app/main.py:347-373, SURVEY A15) re-expressed Spark-first.

Strategy ladder (SURVEY §4.3):
1. exact brute force (this module): score_against is
   functions.vectors.with_cosine over the query literal, with the query
   norm folded on the driver: each row's dot and L2 norm are
   pre-projected, 2 array aggregates per row; orderBy().limit(k)
   compiles to TakeOrderedAndProject: per-partition top-k then a k-row merge on the driver — embarrassingly
   parallel, no full sort, no shuffle of the scored set.  At 100 TB this
   is a single scan whose cost is bounded by I/O.
2. LSH (operators/ann.py): MLlib BucketedRandomProjectionLSH for
   sublinear candidate generation.
3. IVF partition pruning (operators/ann.py): KMeans centroids ->
   cluster-partitioned layout -> probe nearest clusters only — the
   DataFrame analog of the reference's HNSW intent.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import const_sql, l2_norm, with_cosine

DEFAULT_TOP_K = 3  # /root/reference/app/main.py:467,601


def score_against(
    index: DataFrame,
    query_vec: Iterable[float],
    vec_col: str = "embedding",
) -> DataFrame:
    """Add a cosine `score` column against a constant query vector
    (the reference normalizes then HNSW-searches; here the scoring
    expression itself is the index probe): with_cosine over the query
    literal, whose norm is folded on the driver, so per row the plan
    computes one dot and the row norm.  Values are bit-identical to
    functions.vectors.cosine."""
    q = np.array([float(x) for x in query_vec])
    qn = np.sqrt(_seq_dot(q[None, :], q)[0])
    return with_cosine(
        index, f"`{vec_col}`", const_sql(list(q)), "score", norm_b=const_sql(qn)
    )


def _seq_dot(m: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Row-wise m @ v, summed left to right from 0.0 as
    functions.vectors.dot folds it, so scores are bit-identical to the
    Spark plans' (a BLAS dot may reorder the sum)."""
    acc = np.zeros(m.shape[0])
    for j in range(m.shape[1]):
        acc = acc + m[:, j] * v[j]
    return acc


def topk_similar(
    index: DataFrame,
    query_vec: Iterable[float],
    k: int = DEFAULT_TOP_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine (SURVEY A15).  Deterministic tie-break on id
    so the result set is stable across partitionings."""
    scored = score_against(index, query_vec, vec_col)
    return (
        scored.select(id_col, "score")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def knn_join(
    probes: DataFrame,
    index: DataFrame,
    k: int = DEFAULT_TOP_K,
    probe_id: str = "probe_id",
    probe_vec: str = "probe_vec",
    index_id: str = "vec_id",
    index_vec: str = "embedding",
    exclude_self: bool = False,
) -> DataFrame:
    """kNN join: every probe row -> its k nearest index rows (the
    engine's signature join, SURVEY §2 Part B joins).

    Scale shape: broadcast the (small) probe set against the (huge)
    index so scoring is a map-only stage over index splits; the only
    shuffle is the per-probe top-k window, keyed by probe_id — cardinality
    |probes| * |index| rows never materialize beyond the window's
    per-partition top-k with AQE.
    """
    p = probes.select(
        F.col(probe_id).alias("__pid"),
        F.col(probe_vec).alias("__pvec"),
        # probe norms computed ONCE on the (small) probe side instead of
        # twice per (index row x probe) pair (r14, with_cosine)
        l2_norm(probe_vec).alias("__pnorm"),
    )
    scored = with_cosine(
        # bounded: a batch of probe queries, sized by the caller, never
        # by the index
        index.crossJoin(F.broadcast(p)),
        index_vec,
        "__pvec",
        "score",
        norm_b="__pnorm",
    ).select(F.col("__pid").alias(probe_id), F.col(index_id), "score")
    if exclude_self:
        # drop the probe's own index row BEFORE ranking (a probe that is
        # itself a member of the index, as in dedup-style self-kNN)
        scored = scored.filter(F.col(index_id) != F.col(probe_id))
    w = Window.partitionBy(probe_id).orderBy(F.desc("score"), F.asc(index_id))
    return (
        scored.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
    )
