"""functions.vectors: with_cosine's temp-column collision guard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from semantic_query_engine_spark.functions.vectors import cosine, l2_norm, with_cosine


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
