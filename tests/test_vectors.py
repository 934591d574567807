"""functions.vectors: with_cosine's temp-column collision guard, and
cosine() as the reference that operators.retrieval.score_against's
parsed SQL form must equal bit for bit."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from semantic_query_engine_spark.functions.vectors import (
    cosine,
    l2_norm,
    vector_lit,
    with_cosine,
)


def test_with_cosine_guard_skips_norms_the_caller_passes(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0], [2.0, 0.5], 7.0)], "a array<double>, b array<double>, __score_norm_b double"
    ).withColumn("nb", l2_norm("b"))
    # the caller passes norm_b, so no __score_norm_b temp is created:
    # the existing column of that name is not a collision
    out = with_cosine(df, "a", "b", "score", norm_b="nb")
    row = out.select("score", "__score_norm_b", cosine("a", "b").alias("want")).head()
    assert row.score == row.want and row["__score_norm_b"] == 7.0
    # without norm_b the temp is created, and the guard still fires
    with pytest.raises(ValueError, match="__score_norm_b"):
        with_cosine(df, "a", "b", "score")
    with pytest.raises(ValueError, match="__score_dot"):
        with_cosine(df.withColumn("__score_dot", F.lit(0.0)), "a", "b", "score", norm_b="nb")


def _scores(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


@pytest.mark.parametrize("elem", ["float", "double"])
def test_score_against_sql_form_bit_identical_to_cosine(spark, elem):
    """score_against equals cosine(vec, vector_lit(q)) exactly, on a
    zero-norm row, tied duplicate rows (ranked by id) and an all-zero
    query; cache.probe (threshold_probe) hits a score at exactly the
    threshold and misses one ulp above it."""
    import math

    from semantic_query_engine_spark.operators import cache
    from semantic_query_engine_spark.operators.retrieval import (
        score_against,
        topk_similar,
    )

    rows = [
        (1, [0.25, -1.5, 3.0, 0.1]),
        (2, [0.0, 0.0, 0.0, 0.0]),  # zero norm
        (3, [1.1, 2.2, -0.3, 0.7]),
        (4, [1.1, 2.2, -0.3, 0.7]),  # tied with 3
        (5, [-0.9, 0.4, 0.0, 2.5]),
        (6, [1.1, 2.2, -0.3, 0.7]),  # tied with 3
    ]
    df = spark.createDataFrame(rows, f"vec_id long, embedding array<{elem}>")
    for q in ([0.3, 1.7, -0.2, 0.9], [0.0, 0.0, 0.0, 0.0], [1.1, 2.2, -0.3, 0.7]):
        want = df.select("vec_id", cosine("embedding", vector_lit(q)).alias("score"))
        got = score_against(df, q).select("vec_id", "score")
        assert got.dtypes == want.dtypes
        assert sorted(_scores(got)) == sorted(_scores(want)), q
        ranked = _scores(want.orderBy(F.desc("score"), F.asc("vec_id")).limit(4))
        assert _scores(topk_similar(df, q, k=4)) == ranked, q

    q = [0.3, 1.7, -0.2, 0.9]
    best = df.select(cosine("embedding", vector_lit(q)).alias("s")).agg(F.max("s")).head()[0]
    entries = df.select(
        F.col("vec_id").alias("entry_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
        F.concat(F.lit("r"), F.col("vec_id").cast("string")).alias("response"),
    )
    hit = cache.probe(entries, q, threshold=best).collect()
    assert [(r.entry_id, r.score, r.response) for r in hit] == [(3, best, "r3")]
    assert cache.probe(entries, q, threshold=math.nextafter(best, 2.0)).collect() == []
