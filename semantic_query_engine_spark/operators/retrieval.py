"""Similarity retrieval — the reference's ANN search surface
(/root/reference/app/main.py:347-373, SURVEY A15) re-expressed Spark-first.

Strategy ladder (SURVEY §4.3):
1. exact brute force (this module): score_against is
   functions.vectors.with_cosine over the query literal, with the query
   norm folded on the driver (and kept out of the generated code, so a
   new query compiles nothing): each row's dot and L2 norm are
   pre-projected, 2 array aggregates per row; orderBy().limit(k)
   compiles to TakeOrderedAndProject: per-partition top-k then a k-row
   merge on the driver — embarrassingly parallel, no full sort, no
   shuffle of the scored set.  At 100 TB this is a single scan whose
   cost is bounded by I/O.  knn_join is its batched form.
2. LSH (operators/ann.py): MLlib BucketedRandomProjectionLSH for
   sublinear candidate generation.
3. IVF (operators/ann.py): centroids -> cluster-partitioned layout ->
   scan only the nearest clusters, the DataFrame analog of the
   reference's HNSW intent.  One query picks its clusters on the
   driver (ann.nearest_clusters); a batch of probes ranks them in the
   plan (ann.ivf_knn_join).
4. PQ / IVF-PQ (operators/pq.py): the same probes over ~m-byte codes.

Every per-probe top-k of the batched joins (knn_join, ann.ivf_knn_join,
pq.ivfpq_knn_join) is one `row_number() OVER (PARTITION BY … ORDER BY
…)` rendered as SQL text (_top_per).  _seq_dot and _cosine_rows are the
numpy twins of functions.vectors' dot and cosine, bit for bit, for the
driver-side probes (the facade's cache, ann.nearest_clusters).
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import sql_ident
from ..functions.vectors import _norm, const_sql, with_cosine

DEFAULT_TOP_K = 3  # /root/reference/app/main.py:467,601


def score_against(index: DataFrame, query_vec: Iterable[float]) -> DataFrame:
    """Add a cosine `score` column of `embedding` against a constant
    query vector
    (the reference normalizes then HNSW-searches; here the scoring
    expression itself is the index probe): with_cosine over the query
    literal, whose norm is folded on the driver, so per row the plan
    computes one dot and the row norm.  Values are bit-identical to
    functions.vectors.cosine.

    No query value reaches the text of the generated Java, so every
    query after the first reuses the compiled classes: codegen passes
    an array literal by reference, but inlines a double literal into
    the source.  So the norm rides in as a one-element array, read back
    by an `aggregate` that Catalyst does not constant-fold."""
    q = np.array([float(x) for x in query_vec])
    qn = np.sqrt(_seq_dot(q[None, :], q)[0])
    norm = f"aggregate({const_sql([qn])}, 0D, (acc, x) -> x)"
    return with_cosine(index, "`embedding`", const_sql(list(q)), "score", norm_b=norm)


def _seq_dot(m: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Row-wise m @ v, summed left to right from 0.0 as
    functions.vectors.dot folds it, so scores are bit-identical to the
    Spark plans' (a BLAS dot may reorder the sum)."""
    acc = np.zeros(m.shape[0])
    for j in range(m.shape[1]):
        acc = acc + m[:, j] * v[j]
    return acc


def _cosine_rows(m: np.ndarray, v: np.ndarray) -> np.ndarray:
    """functions.vectors.cosine of each row of m against v, zero-norm
    guard included."""
    nm = np.sqrt(_seq_dot(m * m, np.ones(m.shape[1])))
    nv = np.sqrt(_seq_dot(v[None, :] * v, np.ones(len(v)))[0])
    with np.errstate(divide="ignore", invalid="ignore"):
        s = _seq_dot(m, v) / (nm * nv)
    return np.where((nm == 0.0) | (nv == 0.0), 0.0, s)


def _top_per(df: DataFrame, part: str, order: str, k: int, rank: str) -> DataFrame:
    """The rows of `df` ranked 1..k within each `part` by `order` (SQL
    text), the rank appended as column `rank`: one row_number window
    parsed from SQL."""
    return df.selectExpr(
        "*", f"row_number() OVER (PARTITION BY {part} ORDER BY {order}) AS {rank}"
    ).filter(f"{rank} <= {int(k)}")


def topk_similar(
    index: DataFrame,
    query_vec: Iterable[float],
    k: int = DEFAULT_TOP_K,
) -> DataFrame:
    """Exact top-k (vec_id, score) by cosine (SURVEY A15).
    Deterministic tie-break on id so the result set is stable across
    partitionings."""
    scored = score_against(index, query_vec)
    return (
        scored.select("vec_id", "score")
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(k)
    )


def knn_join(
    probes: DataFrame,
    index: DataFrame,
    k: int = DEFAULT_TOP_K,
    exclude_self: bool = False,
) -> DataFrame:
    """kNN join: every (probe_id, probe_vec) row -> its k nearest
    (vec_id, embedding) index rows (the engine's signature join,
    SURVEY §2 Part B joins).

    Scale shape: broadcast the (small) probe set against the (huge)
    index so scoring is a map-only stage over index splits; the only
    shuffle is the per-probe top-k window, keyed by probe_id — cardinality
    |probes| * |index| rows never materialize beyond the window's
    per-partition top-k with AQE.
    """
    pid, iid, pvec = sql_ident("probe_id"), sql_ident("vec_id"), sql_ident("probe_vec")
    p = probes.selectExpr(
        f"{pid} AS __pid",
        f"{pvec} AS __pvec",
        # probe norms computed ONCE on the (small) probe side instead of
        # twice per (index row x probe) pair (r14, with_cosine)
        f"{_norm(pvec)} AS __pnorm",
    )
    scored = with_cosine(
        # bounded: a batch of probe queries, sized by the caller, never
        # by the index
        index.crossJoin(F.broadcast(p)),
        "embedding",
        "__pvec",
        "score",
        norm_b="__pnorm",
    ).selectExpr(f"__pid AS {pid}", iid, "score")
    if exclude_self:
        # drop the probe's own index row BEFORE ranking (a probe that is
        # itself a member of the index, as in dedup-style self-kNN)
        scored = scored.filter(f"{iid} != {pid}")
    return _top_per(scored, pid, f"score DESC, {iid}", k, "knn_rank")
