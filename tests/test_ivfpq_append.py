"""Incremental add to the persisted IVF-PQ layout (append_ivfpq_index)
— the reference's live-index ingest (/root/reference/app/main.py:309-345
add_embeddings -> _bulk_index: new embeddings become searchable without
an index rebuild).  The registered ann_ivfpq_append_probe row gates the
whole path end-to-end; these tests pin the pieces the gate can't see:
the codebooks/centroids are byte-identical after the add (NO retrain),
only the touched cluster partitions gain files, and the pre-append rows
stay probeable."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

N_CLUSTERS = 8
PLANT = 10**9 + 1


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


def _build_layout(spark, sf_dir, path):
    from semantic_query_engine_spark.operators.ann import (
        build_ivf,
        sample_vectors,
    )
    from semantic_query_engine_spark.operators.pq import (
        build_pq,
        pq_encode,
        write_ivfpq_index,
    )

    base = _emb(spark, sf_dir).filter(F.col("vec_id") != 0)
    X = sample_vectors(base)
    assigned, centroids = build_ivf(base, n_clusters=N_CLUSTERS, sample_X=X)
    books = build_pq(base, sample_X=X)
    write_ivfpq_index(assigned, pq_encode(base, books), centroids, books, path)
    return base


def test_append_probe_finds_new_vectors_without_retrain(
    spark, sf_dir, tmp_path
):
    from semantic_query_engine_spark.operators.pq import (
        append_ivfpq_index,
        ivfpq_probe,
        read_ivfpq_index,
    )

    path = str(tmp_path / "serving")
    base = _build_layout(spark, sf_dir, path)
    books_before = open(os.path.join(path, "codebooks.json")).read()
    n_base = base.count()

    q = _emb(spark, sf_dir).filter(F.col("vec_id") == 0)
    new = q.select(
        F.lit(PLANT).cast("bigint").alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.001)).alias(
            "embedding"
        ),
    )
    append_ivfpq_index(new, path)

    # no retrain: the persisted codebooks are byte-identical
    assert open(os.path.join(path, "codebooks.json")).read() == books_before
    codes, centroids, books = read_ivfpq_index(spark, path)
    # the code table grew by exactly the appended batch
    assert codes.count() == n_base + 1

    # the appended near-copy of the query is immediately probeable and
    # tops the result (cosine ~1 beats every base vector)
    index = base.unionByName(new)
    qv = [float(x) for x in q.head().embedding]
    top = ivfpq_probe(
        codes, centroids, index, books, qv, k=3, nprobe=2, refine=50
    ).orderBy(F.desc("score"))
    assert top.head().vec_id == PLANT
    # pre-append rows are still probeable through the same layout: the
    # rest of the top-k comes from the base segment
    assert all(r.vec_id != PLANT for r in top.collect()[1:])


def test_append_touches_only_assigned_cluster_partitions(
    spark, sf_dir, tmp_path
):
    from semantic_query_engine_spark.operators.pq import append_ivfpq_index

    path = str(tmp_path / "serving")
    _build_layout(spark, sf_dir, path)
    files_before = {
        d: set(glob.glob(d + "/*.parquet"))
        for d in glob.glob(os.path.join(path, "codes", "cluster_id=*"))
    }

    q = _emb(spark, sf_dir).filter(F.col("vec_id") == 0)
    new = q.select(
        F.lit(PLANT).cast("bigint").alias("vec_id"), F.col("embedding")
    )
    append_ivfpq_index(new, path)

    changed = [
        d
        for d in glob.glob(os.path.join(path, "codes", "cluster_id=*"))
        if set(glob.glob(d + "/*.parquet")) != files_before.get(d, set())
    ]
    # a 1-row batch lands in exactly one cluster partition; every other
    # partition's file set is untouched (mode('append'), not a rewrite)
    assert len(changed) == 1, changed


def test_ann_filtered_excludes_decoy_and_keeps_plants(spark, sf_dir):
    """The registered filtered-ANN row, asserted directly: the decoy
    exact-copy at id 2e9 (predicate-rejected) never surfaces, the three
    predicate-passing planted near-copies are exactly the top-3, and
    the recall gate holds."""
    from semantic_query_engine_spark.queries.dedup_q import (
        ann_ivf_topk_filtered,
    )

    rows = ann_ivf_topk_filtered(spark, sf_dir).collect()
    ids = {r.vec_id for r in rows}
    assert 2 * 10**9 not in ids
    assert ids == {10**9 + 1, 10**9 + 2, 10**9 + 3}
    assert all(r.recall_ok for r in rows)
