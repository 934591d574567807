"""Approximate nearest neighbor — the sublinear rungs of the strategy
ladder (SURVEY §4.3) replacing the reference's HNSW index
(/root/reference/app/main.py:272-277, m=64 / ef_construction=500 /
cosinesimil).  Spark has no HNSW; the scale-equivalent intents are:

- LSH (MLlib BucketedRandomProjectionLSH): hash vectors into buckets,
  probe only colliding buckets.  Fixed random projections with a set
  seed -> deterministic.
- IVF partition pruning (KMeans centroids): cluster the index once,
  store cluster_id as a partition column, and answer each query by
  scanning only the nprobe nearest clusters.  At 100 TB this turns
  a full scan into (nprobe/k) of the data, and the cluster_id partition
  layout means Catalyst prunes the untouched partitions at the parquet
  level — the DataFrame analog of an IVF index.

Exact brute force (operators/retrieval.py) stays the declared,
oracle-checked default; these are the unchecked fast paths (rows-only
driver checks; tests assert recall against brute force).
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import l2_norm, l2_normalize, with_cosine
from .retrieval import score_against, topk_similar

SEED = 42


def _to_mllib_vec(df: DataFrame, vec_col: str, out_col: str) -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    return df.withColumn(out_col, array_to_vector(F.col(vec_col).cast("array<double>")))


def lsh_topk(
    index: DataFrame,
    query_vec: Iterable[float],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
) -> DataFrame:
    """approxNearestNeighbors over L2-normalized vectors.  On the unit
    sphere, Euclidean distance is monotone in cosine (d² = 2 - 2cos), so
    the random-projection buckets respect cosine ranking — the same
    space_type=cosinesimil intent as the reference's HNSW."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.linalg import Vectors

    normed = index.withColumn("__nvec", l2_normalize(vec_col))
    feat = _to_mllib_vec(normed, "__nvec", "features")
    model = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=SEED,
    ).fit(feat)
    import numpy as np

    q = np.asarray(list(query_vec), dtype="float64")
    q = q / (float(np.linalg.norm(q)) + 1e-9)
    hits = model.approxNearestNeighbors(feat, Vectors.dense(q), k)
    return hits.select(
        id_col, F.round(1.0 - (F.col("distCol") ** 2) / 2.0, 6).alias("approx_cos")
    )


def sample_vectors(
    index: DataFrame, vec_col: str = "embedding", sample: int = 2048
):
    """Bounded driver-side L2-normalized training sample (numpy n x dim).
    Pull ONCE and pass to build_ivf AND build_pq — composed builds like
    ann_ivfpq_topk otherwise pay the toPandas job twice."""
    import numpy as np

    # Arrow-batched toPandas + numpy-side normalization: ~3x faster to
    # pull the training sample than row-object collect of a HOF-normalized
    # projection
    pdf = index.select(F.col(vec_col).alias("v")).limit(sample).toPandas()
    X = np.asarray(pdf["v"].tolist(), dtype="float64")
    return X / (np.linalg.norm(X, axis=1, keepdims=True) + 1e-9)


def build_ivf(
    index: DataFrame,
    n_clusters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int = 2048,
    iters: int = 8,
    sample_X=None,
) -> tuple[DataFrame, DataFrame]:
    """One-time index build: coarse centroids trained on a bounded
    driver-side SAMPLE with seeded numpy Lloyd iterations (the FAISS
    practice, same as operators/pq.py:build_pq — coarse IVF cells don't
    need a full-corpus fit, recall is gated by nprobe), then each row's
    cluster assignment computed as a PURE EXPRESSION: squared-L2 to the
    centroid nested-array literal inside whole-stage codegen.  Map-only,
    no MLlib fit job over the corpus, no fitted-model broadcast — and
    ~5x faster than the previous KMeans.fit build at fixture scale.
    Clustering is in L2-NORMALIZED space, where nearest-by-L2 is
    max-cosine — the reference's cosinesimil intent.  At scale the
    assigned DataFrame is written `partitionBy('cluster_id')` so probes
    prune at the file level."""
    import numpy as np

    X = sample_vectors(index, vec_col, sample) if sample_X is None else sample_X
    rng = np.random.default_rng(SEED)
    C = X[rng.choice(len(X), size=min(n_clusters, len(X)), replace=False)].copy()
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
    # Assignment is an Arrow-batched vectorized pandas UDF: one BLAS
    # matmul per batch (b x dim @ dim x k).  Measured alternatives at
    # dim 1024, sf0.1: zip_with/aggregate HOF expressions cost ~0.75 ms
    # a row (~100x the FLOP cost — per-element array churn), an MLlib
    # KMeans.transform needs a full-corpus .fit first (multiple passes
    # over 100 TB).  The UDF closure ships only the k x dim centroid
    # matrix; the pass is map-only, no shuffle, no fit job.
    from pyspark.sql.functions import pandas_udf

    C2 = np.ascontiguousarray(C)
    cn = (C2 * C2).sum(axis=1)

    @pandas_udf("int")
    def _assign(v: pd.Series) -> pd.Series:
        X = np.asarray(v.tolist(), dtype="float64")
        X = X / (np.linalg.norm(X, axis=1, keepdims=True) + 1e-9)
        d = cn[None, :] - 2.0 * (X @ C2.T)
        return pd.Series(d.argmin(axis=1).astype("int32"))

    assigned = index.withColumn("cluster_id", _assign(F.col(vec_col)))
    centroids = index.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(C)],
        "cluster_id int, centroid array<double>",
    )
    return assigned, centroids


def assign_with_centroids(
    index: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment of NEW rows against an EXISTING
    centroid table — the add half of build-once/serve-many.  The
    reference bulk-indexes new embeddings into the LIVE HNSW index
    without rebuilding it (/root/reference/app/main.py:309-345,
    add_embeddings -> _bulk_index);
    FAISS IndexIVF.add likewise assigns with frozen centroids.  Same
    normalized argmin as build_ivf's in-build assignment (L2-normalized
    space, so nearest-by-L2 is max-cosine), with the centroid matrix
    pulled driver-side (n_clusters rows — kilobytes by construction)
    and shipped in the Arrow-batched UDF closure.  Map-only: no
    shuffle, no fit job, no retraining."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    rows = sorted(
        centroids.select("cluster_id", "centroid").collect(),
        key=lambda r: r["cluster_id"],
    )
    cids = np.asarray([r["cluster_id"] for r in rows], dtype="int64")
    C2 = np.ascontiguousarray(
        [r["centroid"] for r in rows], dtype="float64"
    )
    cn = (C2 * C2).sum(axis=1)

    @pandas_udf("int")
    def _assign(v: pd.Series) -> pd.Series:
        import numpy as _np

        X = _np.asarray(v.tolist(), dtype="float64")
        X = X / (_np.linalg.norm(X, axis=1, keepdims=True) + 1e-9)
        d = cn[None, :] - 2.0 * (X @ C2.T)
        return pd.Series(cids[d.argmin(axis=1)].astype("int32"))

    return index.withColumn("cluster_id", _assign(F.col(vec_col)))


def write_ivf_index(assigned: DataFrame, path: str) -> None:
    """Persist the assigned index `partitionBy('cluster_id')` — the
    physical layout that turns ivf_topk's semi join into file-level
    dynamic partition pruning (each probe reads ~nprobe/n_clusters of
    the files; at 100 TB that IS the index).  Measured, not aspirational:
    tests/test_ivf_partition_pruning.py asserts the executed scan's
    numFiles < staticFilesNum and numPartitions == nprobe."""
    assigned.write.partitionBy("cluster_id").mode("overwrite").parquet(path)


def read_ivf_index(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def ivf_topk(
    assigned: DataFrame,
    centroids: DataFrame,
    query_vec: Iterable[float],
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the nprobe nearest clusters, exact top-k inside them.
    Fully declarative: the probed cluster ids stay a (tiny) DataFrame
    and reach the index as a broadcast LEFT SEMI join, so with a
    cluster-partitioned layout (write_ivf_index) Catalyst applies
    dynamic partition pruning — no driver-side collect anywhere in the
    plan."""
    near = (
        score_against(centroids, query_vec, "centroid")
        .select("cluster_id", F.col("score").alias("csim"))
        .orderBy(F.desc("csim"), F.asc("cluster_id"))
        .limit(nprobe)
        # Semantically a no-op (cosine is always >= -1) but load-bearing
        # for the physical plan: Spark's PartitionPruning rule only
        # injects a DPP subquery when the dimension side has a "likely
        # selective" predicate (BinaryComparison et al. —
        # isLikelySelective), and a bare Limit does not qualify.
        # Without this filter the partitioned-layout scan reads ALL
        # files (measured: 8/8 vs 2/8 with it, numPartitions == nprobe).
        # coalesce keeps it a TRUE no-op even for a NULL cosine (a
        # degenerate zero-norm centroid): plain `csim >= -1` would drop
        # a NULL row that limit(nprobe) had selected.
        .filter(F.coalesce(F.col("csim"), F.lit(-1.0)) >= F.lit(-1.0))
        .select("cluster_id")
    )
    # bounded: near is at most nprobe cluster ids
    pruned = assigned.join(F.broadcast(near), "cluster_id", "left_semi")
    return topk_similar(pruned, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def ivf_knn_join(
    probes: DataFrame,
    assigned: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    probe_id: str = "probe_id",
    probe_vec: str = "probe_vec",
    index_id: str = "vec_id",
    index_vec: str = "embedding",
) -> DataFrame:
    """Batch IVF kNN join — the set-based form of ivf_topk for MANY
    probes at once: (1) every probe picks its nprobe nearest centroids
    via a broadcast join + rank window over the tiny centroid table;
    (2) candidates come from an equality join on cluster_id (each probe
    scans only its probed clusters); (3) exact top-k per probe.

    Scale shape: step 1 touches |probes| x n_clusters rows (centroids
    broadcast), step 2's join is keyed on cluster_id against the
    cluster-partitioned index — each probe reads nprobe/k of the data,
    and the shuffle is bounded by candidate rows, never the full
    |probes| x |index| cross product."""
    from pyspark.sql import Window

    # probe norms computed ONCE per probe row instead of twice per
    # scored pair (r14, with_cosine)
    p = probes.select(
        F.col(probe_id).alias("__pid"),
        F.col(probe_vec).alias("__pvec"),
        l2_norm(probe_vec).alias("__pnorm"),
    )
    # bounded: centroids is nlist rows
    pc = with_cosine(
        p.crossJoin(F.broadcast(centroids)),
        "centroid",
        "__pvec",
        "__csim",
        norm_b="__pnorm",
    ).select("__pid", "__pvec", "__pnorm", "cluster_id", "__csim")
    wc = Window.partitionBy("__pid").orderBy(F.desc("__csim"), F.asc("cluster_id"))
    probe_clusters = (
        pc.withColumn("__cr", F.row_number().over(wc))
        .filter(F.col("__cr") <= nprobe)
        .select("__pid", "__pvec", "__pnorm", "cluster_id")
    )
    cands = with_cosine(
        probe_clusters.join(assigned, "cluster_id"),
        index_vec,
        "__pvec",
        "score",
        norm_b="__pnorm",
    ).select(F.col("__pid").alias(probe_id), F.col(index_id), "score")
    w = Window.partitionBy(probe_id).orderBy(F.desc("score"), F.asc(index_id))
    return (
        cands.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
    )
