"""One IVF probe rule: a single query (ann.nearest_clusters, on the
driver) and a batch of probes (ann.ivf_knn_join, in the plan) rank the
centroids by the same cosine with the same tie rule, so they pick the
same clusters and return the same rows bit for bit.  The batched joins'
and the single IVF-PQ probe's plan builds stay within a py4j
(Python-to-JVM call) budget."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def ivf_build(spark, sf_dir):
    from semantic_query_engine_spark.operators.ann import build_ivf
    from semantic_query_engine_spark.sources.fixtures import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    index = emb.filter(F.col("vec_id") >= 8)
    assigned, centroids = build_ivf(index, n_clusters=8)
    return probes, index, assigned.cache(), centroids.cache()


def test_ivf_topk_equals_ivf_knn_join_per_probe(ivf_build):
    from semantic_query_engine_spark.operators.ann import ivf_knn_join, ivf_topk

    probes, _, assigned, centroids = ivf_build
    batched = ivf_knn_join(probes, assigned, centroids, k=3, nprobe=2).collect()
    rows = probes.collect()
    assert len(rows) == 8
    for p in rows:
        single = ivf_topk(assigned, centroids, p.probe_vec, k=3, nprobe=2).collect()
        want = sorted((r for r in batched if r.probe_id == p.probe_id), key=lambda r: r.knn_rank)
        assert [(r.vec_id, r.score) for r in single] == [(r.vec_id, r.score) for r in want]


def test_nearest_clusters_equals_spark_cosine_ranking(spark):
    """Ties included: an exact copy and a doubled copy of a centroid
    score the same cosine, and a zero centroid scores 0 by the guard;
    both sides break ties on the lowest cluster_id."""
    from semantic_query_engine_spark.functions.vectors import const_sql, cosine
    from semantic_query_engine_spark.operators.ann import nearest_clusters

    rng = np.random.default_rng(5)
    C = rng.normal(size=(6, 16))
    C = np.vstack([C, C[2], 2.0 * C[4], np.zeros(16), -C[0]])
    ids = [9, 3, 7, 0, 11, 4, 1, 8, 2, 6]  # not in row order
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in zip(ids, C)],
        "cluster_id int, centroid array<double>",
    )
    for q in (rng.normal(size=16), C[2], np.zeros(16)):
        ranked = [
            r.cluster_id
            for r in centroids.select(
                "cluster_id", cosine("centroid", const_sql([float(x) for x in q])).alias("s")
            )
            .orderBy(F.desc("s"), F.asc("cluster_id"))
            .collect()
        ]
        for nprobe in range(1, len(ids) + 1):
            assert nearest_clusters(centroids, q, nprobe) == ranked[:nprobe]


def test_batched_join_plan_build_py4j_budget(ivf_build, count_py4j_calls):
    """Every rank is one row_number window parsed from SQL, and both
    joins share one centroid step: ivf_knn_join built with 344 py4j
    calls and ivfpq_knn_join with 492 when their windows and cosines
    were composed node by node."""
    from semantic_query_engine_spark.operators.ann import ivf_knn_join, sample_vectors
    from semantic_query_engine_spark.operators.pq import build_pq, ivfpq_knn_join, pq_encode

    probes, index, assigned, centroids = ivf_build
    books = build_pq(index, sample_X=sample_vectors(index))
    codes = assigned.select("vec_id", "cluster_id").join(pq_encode(index, books), "vec_id")
    ivf_knn_join(probes, assigned, centroids)  # warm the schema lookups
    assert count_py4j_calls(lambda: ivf_knn_join(probes, assigned, centroids)) < 160
    ivfpq_knn_join(probes, codes, centroids, index, books)
    assert count_py4j_calls(lambda: ivfpq_knn_join(probes, codes, centroids, index, books)) < 230


def test_single_probe_plan_build_py4j_budget(ivf_build, count_py4j_calls):
    """ivfpq_probe's ADC shortlist, semi join and rounded re-rank are
    SQL text and column names: 156 py4j calls a plan build, 184 when
    they were composed node by node."""
    from semantic_query_engine_spark.operators.ann import sample_vectors
    from semantic_query_engine_spark.operators.pq import build_pq, ivfpq_probe, pq_encode

    probes, index, assigned, centroids = ivf_build
    books = build_pq(index, sample_X=sample_vectors(index))
    codes = assigned.select("vec_id", "cluster_id").join(pq_encode(index, books), "vec_id")
    q = probes.first().probe_vec
    ivfpq_probe(codes, centroids, index, books, q)  # warm the schema lookups
    assert count_py4j_calls(lambda: ivfpq_probe(codes, centroids, index, books, q)) < 170


def test_unseen_cluster_sets_compile_no_classes(spark, ivf_build):
    """The probed ids reach the plan as one array literal, which codegen
    passes by reference: after one warm probe of each kind, three
    unseen cluster sets compile 0 classes.  As an isin() of int
    literals, inlined into the generated Java, each set compiled 3."""
    from semantic_query_engine_spark.operators.ann import ivf_topk, nearest_clusters, sample_vectors
    from semantic_query_engine_spark.operators.pq import build_pq, ivfpq_probe, pq_encode

    _, index, assigned, centroids = ivf_build
    books = build_pq(index, sample_X=sample_vectors(index))
    codes = assigned.select("vec_id", "cluster_id").join(pq_encode(index, books), "vec_id").cache()
    # each centroid is nearest to itself: one query per cluster set
    queries, sets = [], []
    for r in centroids.orderBy("cluster_id").collect():
        probed = set(nearest_clusters(centroids, r.centroid, 2))
        if probed not in sets:
            queries.append(r.centroid)
            sets.append(probed)
    assert len(sets) >= 4, sets
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = metrics.METRIC_COMPILATION_TIME().getCount
    ivf_topk(assigned, centroids, queries[0], k=3, nprobe=2).collect()
    ivfpq_probe(codes, centroids, index, books, queries[0], k=3, nprobe=2).collect()
    before = compiled()
    for q in queries[1:4]:
        ivf_topk(assigned, centroids, q, k=3, nprobe=2).collect()
        ivfpq_probe(codes, centroids, index, books, q, k=3, nprobe=2).collect()
    assert compiled() - before == 0


def _ref_ivf_centroids(X, n_clusters):
    """build_ivf's coarse k-means as it was before ann.lloyd: the seeded
    draw, then IVF_ITERS matmul-argmin / mean-update iterations."""
    from semantic_query_engine_spark.operators.ann import IVF_ITERS, SEED

    rng = np.random.default_rng(SEED)
    C = X[rng.choice(len(X), size=min(n_clusters, len(X)), replace=False)].copy()
    for _ in range(IVF_ITERS):
        cn = (C * C).sum(axis=1)
        d = cn[None, :] - 2.0 * (X @ C.T)
        a = d.argmin(axis=1)
        for c in range(len(C)):
            members = X[a == c]
            if len(members):
                C[c] = members.mean(axis=0)
    return C


def _ref_pq_books(X):
    """build_pq's codebooks as they were before ann.lloyd: one seeded
    generator, PQ_M subspaces drawn in order, PQ_ITERS iterations each."""
    from semantic_query_engine_spark.operators.pq import PQ_ITERS, PQ_K, PQ_M, SEED

    n, dim = X.shape
    sub = dim // PQ_M
    rng = np.random.default_rng(SEED)
    books = []
    for j in range(PQ_M):
        S = X[:, j * sub : (j + 1) * sub]
        C = S[rng.choice(n, size=PQ_K, replace=False)]
        for _ in range(PQ_ITERS):
            cn = (C * C).sum(axis=1)
            d = cn[None, :] - 2.0 * (S @ C.T)
            assign = d.argmin(axis=1)
            for c in range(PQ_K):
                members = S[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books.append([[float(x) for x in row] for row in C])
    return books


def test_build_ivf_and_build_pq_equal_their_own_lloyd_loops(spark):
    """build_ivf's centroids and build_pq's codebooks, both trained by
    the one ann.lloyd loop, equal the loops each function carried
    before, bit for bit, on the same training sample."""
    from semantic_query_engine_spark.operators.ann import build_ivf
    from semantic_query_engine_spark.operators.pq import build_pq

    X = np.random.default_rng(5).normal(size=(300, 16))
    X /= np.linalg.norm(X, axis=1, keepdims=True) + 1e-9
    assert build_pq(None, sample_X=X) == _ref_pq_books(X)
    index = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(20)], "vec_id long, embedding array<double>"
    )
    _, centroids = build_ivf(index, n_clusters=6, sample_X=X)
    got = [r.centroid for r in centroids.orderBy("cluster_id").collect()]
    assert got == [[float(x) for x in c] for c in _ref_ivf_centroids(X, 6)]
