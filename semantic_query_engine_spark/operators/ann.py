"""Approximate nearest neighbor — the sublinear rungs of the strategy
ladder (operators/retrieval.py, SURVEY §4.3) replacing the reference's
HNSW index (/root/reference/app/main.py:272-277, m=64 /
ef_construction=500 / cosinesimil).  Spark has no HNSW; the
scale-equivalent intents are:

- LSH (MLlib BucketedRandomProjectionLSH): hash vectors into buckets,
  probe only colliding buckets.  Fixed random projections with a set
  seed -> deterministic.
- IVF (seeded Lloyd centroids): cluster the index once, store
  cluster_id as a partition column (write_ivf_index), and answer a
  query by scanning only its nprobe nearest clusters.

Each IVF rule is written once:
- nearest-centroid assignment: _assigner, the one pandas UDF, for the
  build (build_ivf) and for new rows (assign_with_centroids);
- one query's probe: nearest_clusters ranks the centroid table on the
  driver (n_clusters rows, kilobytes) with retrieval._cosine_rows, the
  numpy twin of functions.vectors.cosine, ties to the lowest
  cluster_id.  The ids enter the plan as one array literal
  (in_clusters), a predicate on the partition column that prunes a
  partitionBy(cluster_id) layout at plan time (ivf_topk here,
  pq.ivfpq_probe);
- a batch of probes: _probe_clusters ranks the broadcast centroid table
  in the plan with the same cosine and tie rule (ivf_knn_join,
  pq.ivfpq_knn_join), so both probes pick the same clusters bit for
  bit;
- every per-probe top-k: retrieval._top_per, one row_number window
  parsed from SQL.

Exact brute force (operators/retrieval.py) stays the declared,
oracle-checked default; these are the unchecked fast paths (rows-only
driver checks; tests assert recall against brute force).
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.text import sql_ident
from ..functions.vectors import _norm, l2_normalize, with_cosine
from .retrieval import _cosine_rows, _top_per, topk_similar

SEED = 42
SAMPLE = 2048  # training-sample rows pulled to the driver (build_ivf, pq.build_pq)
IVF_ITERS = 8  # Lloyd iterations of the coarse centroids
LSH_BUCKET_LENGTH = 2.0
LSH_TABLES = 3


def _to_mllib_vec(df: DataFrame, vec_col: str, out_col: str) -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    return df.withColumn(out_col, array_to_vector(F.col(vec_col).cast("array<double>")))


def lsh_topk(
    index: DataFrame,
    query_vec: Iterable[float],
    k: int = 3,
) -> DataFrame:
    """(vec_id, approx_cos) from approxNearestNeighbors over the
    L2-normalized `embedding` vectors.  On the unit sphere, Euclidean
    distance is monotone in cosine (d² = 2 - 2cos), so the
    random-projection buckets respect cosine ranking — the same
    space_type=cosinesimil intent as the reference's HNSW."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.linalg import Vectors

    normed = index.withColumn("__nvec", l2_normalize("embedding"))
    feat = _to_mllib_vec(normed, "__nvec", "features")
    model = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=LSH_BUCKET_LENGTH,
        numHashTables=LSH_TABLES,
        seed=SEED,
    ).fit(feat)
    q = np.asarray(list(query_vec), dtype="float64")
    q = q / (float(np.linalg.norm(q)) + 1e-9)
    hits = model.approxNearestNeighbors(feat, Vectors.dense(q), k)
    return hits.select(
        "vec_id", F.round(1.0 - (F.col("distCol") ** 2) / 2.0, 6).alias("approx_cos")
    )


def sample_vectors(index: DataFrame) -> np.ndarray:
    """Bounded driver-side L2-normalized training sample of the
    `embedding` column (numpy n x dim, n <= SAMPLE).  Pull ONCE and pass
    to build_ivf AND build_pq — composed builds like ann_ivfpq_topk
    otherwise pay the toPandas job twice."""
    # Arrow-batched toPandas + numpy-side normalization: ~3x faster to
    # pull the training sample than row-object collect of a HOF-normalized
    # projection
    pdf = index.select(F.col("embedding").alias("v")).limit(SAMPLE).toPandas()
    X = np.asarray(pdf["v"].tolist(), dtype="float64")
    return X / (np.linalg.norm(X, axis=1, keepdims=True) + 1e-9)


def _assigner(C: np.ndarray, cids: np.ndarray):
    """Nearest-centroid assignment as an Arrow-batched vectorized pandas
    UDF: the argmin of squared L2 to the rows of C in L2-NORMALIZED
    space (there nearest-by-L2 is max-cosine), returned as the matching
    entry of `cids`.  One BLAS matmul per batch (b x dim @ dim x k).
    Measured alternatives at dim 1024, sf0.1: zip_with/aggregate HOF
    expressions cost ~0.75 ms a row (~100x the FLOP cost — per-element
    array churn), an MLlib KMeans.transform needs a full-corpus .fit
    first (multiple passes over 100 TB).  The closure ships only the
    k x dim centroid matrix and its ids, and the body references only
    numpy, pandas and those arrays, so workers never import this
    package; the pass is map-only, no shuffle, no fit job."""
    C = np.ascontiguousarray(C, dtype="float64")
    cn = (C * C).sum(axis=1)
    cids = np.asarray(cids, dtype="int64")

    @pandas_udf("int")
    def _assign(v: pd.Series) -> pd.Series:
        X = np.asarray(v.tolist(), dtype="float64")
        X = X / (np.linalg.norm(X, axis=1, keepdims=True) + 1e-9)
        d = cn[None, :] - 2.0 * (X @ C.T)
        return pd.Series(cids[d.argmin(axis=1)].astype("int32"))

    return _assign


def lloyd(X: np.ndarray, C: np.ndarray, iters: int) -> np.ndarray:
    """`iters` Lloyd iterations over the rows of X from the initial
    centroids C, updated in place and returned: assign each row to its
    nearest centroid by squared L2, then move each centroid that has
    members to their mean (one without members stays put).  The k-means
    of build_ivf's coarse cells and of each of pq.build_pq's codebooks."""
    for _ in range(iters):
        # argmin_c ||x-c||^2 == argmin_c (||c||^2 - 2 x.c): one BLAS
        # matmul instead of an n x k x dim broadcast tensor (the tensor
        # form allocated ~30 MB per iteration and dominated build time)
        cn = (C * C).sum(axis=1)
        d = cn[None, :] - 2.0 * (X @ C.T)
        a = d.argmin(axis=1)
        for c in range(len(C)):
            members = X[a == c]
            if len(members):
                C[c] = members.mean(axis=0)
    return C


def build_ivf(
    index: DataFrame,
    n_clusters: int = 10,
    sample_X=None,
) -> tuple[DataFrame, DataFrame]:
    """One-time index build: coarse centroids trained on a bounded
    driver-side SAMPLE with seeded numpy Lloyd iterations (the FAISS
    practice, same as operators/pq.py:build_pq — coarse IVF cells don't
    need a full-corpus fit, recall is gated by nprobe), then each row's
    cluster assigned by _assigner.  No MLlib fit job over the corpus —
    and ~5x faster than the previous KMeans.fit build at fixture scale.
    Clustering is in L2-NORMALIZED space, where nearest-by-L2 is
    max-cosine — the reference's cosinesimil intent.  At scale the
    assigned DataFrame is written `partitionBy('cluster_id')` so probes
    prune at the file level."""
    X = sample_vectors(index) if sample_X is None else sample_X
    rng = np.random.default_rng(SEED)
    C = X[rng.choice(len(X), size=min(n_clusters, len(X)), replace=False)]
    C = lloyd(X, C, IVF_ITERS)
    assign = _assigner(C, np.arange(len(C)))
    assigned = index.withColumn("cluster_id", assign(F.col("embedding")))
    centroids = index.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(C)],
        "cluster_id int, centroid array<double>",
    )
    return assigned, centroids


def _centroid_matrix(centroids: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(cluster ids, centroid matrix), sorted by cluster id, pulled to
    the driver."""
    # bounded: centroids is n_clusters rows (kilobytes by construction;
    # FAISS likewise keeps its centroids in RAM)
    rows = sorted(
        centroids.select("cluster_id", "centroid").collect(), key=lambda r: r["cluster_id"]
    )
    cids = np.asarray([r["cluster_id"] for r in rows], dtype="int64")
    return cids, np.asarray([r["centroid"] for r in rows], dtype="float64")


def assign_with_centroids(index: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment of NEW `embedding` rows against an
    EXISTING centroid table — the add half of build-once/serve-many.  The
    reference bulk-indexes new embeddings into the LIVE HNSW index
    without rebuilding it (/root/reference/app/main.py:309-345,
    add_embeddings -> _bulk_index);
    FAISS IndexIVF.add likewise assigns with frozen centroids.  The
    same _assigner as build_ivf's, over the centroid table pulled to
    the driver.  Map-only: no shuffle, no fit job, no retraining."""
    cids, C = _centroid_matrix(centroids)
    return index.withColumn("cluster_id", _assigner(C, cids)(F.col("embedding")))


def nearest_clusters(centroids: DataFrame, query_vec: Iterable[float], nprobe: int) -> list:
    """The nprobe cluster ids nearest the query by cosine, ties to the
    lowest cluster id, picked on the driver: the rank ivf_knn_join's
    step 1 computes in the plan, bit for bit (retrieval._cosine_rows is
    the numpy twin of functions.vectors.cosine).  The plan filters on
    them with in_clusters."""
    cids, C = _centroid_matrix(centroids)
    s = _cosine_rows(C, np.asarray([float(x) for x in query_vec]))
    return [int(c) for c in cids[np.lexsort((cids, -s))][:nprobe]]


def in_clusters(cluster_ids: list) -> F.Column:
    """`cluster_id` is one of `cluster_ids`, the ids held in one array
    literal.  Codegen passes an array literal to the generated Java by
    reference, so an unseen cluster set reuses the compiled code; an
    isin() of int literals inlined each id and compiled 3 classes per
    set.  A predicate on the partition column alone, it prunes a
    partitionBy(cluster_id) layout at plan time."""
    if not cluster_ids:
        return F.lit(False)
    ids = ", ".join(str(int(c)) for c in cluster_ids)
    return F.expr(f"array_contains(array({ids}), cluster_id)")


def write_ivf_index(assigned: DataFrame, path: str) -> None:
    """Persist the assigned index `partitionBy('cluster_id')` — the
    physical layout that turns ivf_topk's cluster filter into
    file-level partition pruning at plan time (each probe reads
    ~nprobe/n_clusters of the files; at 100 TB that IS the index).
    Measured, not aspirational: tests/test_ivf_partition_pruning.py
    asserts the executed scan reads fewer files than the layout holds
    and numPartitions == nprobe."""
    assigned.write.partitionBy("cluster_id").mode("overwrite").parquet(path)


def read_ivf_index(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def ivf_topk(
    assigned: DataFrame,
    centroids: DataFrame,
    query_vec: Iterable[float],
    k: int = 3,
    nprobe: int = 2,
) -> DataFrame:
    """Probe the nprobe nearest clusters (nearest_clusters), exact top-k
    (vec_id, score) inside them."""
    probe_ids = nearest_clusters(centroids, query_vec, nprobe)
    pruned = assigned.filter(in_clusters(probe_ids))
    return topk_similar(pruned, query_vec, k=k)


def _probe_clusters(p: DataFrame, centroids: DataFrame, nprobe: int) -> DataFrame:
    """Step 1 of the batched IVF joins: every probe row of `p` (columns
    __pid, __pvec, __pnorm, and any others it carries) paired with each
    of its nprobe nearest clusters by cosine, ties to the lowest
    cluster_id — nearest_clusters' rank, in the plan.  Touches
    |probes| x n_clusters rows, the centroids broadcast."""
    # bounded: centroids is n_clusters rows
    pc = with_cosine(
        p.crossJoin(F.broadcast(centroids)), "centroid", "__pvec", "__csim", norm_b="__pnorm"
    )
    return _top_per(pc, "__pid", "__csim DESC, cluster_id", nprobe, "__cr").select(
        *p.columns, "cluster_id"
    )


def ivf_knn_join(
    probes: DataFrame,
    assigned: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    nprobe: int = 2,
) -> DataFrame:
    """Batch IVF kNN join — the set-based form of ivf_topk for MANY
    (probe_id, probe_vec) probes at once against (vec_id, embedding)
    rows: (1) every probe picks its nprobe nearest centroids
    (_probe_clusters); (2) candidates come from an equality join on
    cluster_id (each probe scans only its probed clusters); (3) exact
    top-k per probe.

    Scale shape: step 1 touches |probes| x n_clusters rows (centroids
    broadcast), step 2's join is keyed on cluster_id against the
    cluster-partitioned index — each probe reads nprobe/k of the data,
    and the shuffle is bounded by candidate rows, never the full
    |probes| x |index| cross product."""
    pid, iid, pvec = sql_ident("probe_id"), sql_ident("vec_id"), sql_ident("probe_vec")
    # probe norms computed ONCE per probe row instead of twice per
    # scored pair (r14, with_cosine)
    p = probes.selectExpr(f"{pid} AS __pid", f"{pvec} AS __pvec", f"{_norm(pvec)} AS __pnorm")
    cands = with_cosine(
        _probe_clusters(p, centroids, nprobe).join(assigned, "cluster_id"),
        "embedding",
        "__pvec",
        "score",
        norm_b="__pnorm",
    ).selectExpr(f"__pid AS {pid}", iid, "score")
    return _top_per(cands, pid, f"score DESC, {iid}", k, "knn_rank")
