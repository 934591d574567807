"""functions.vectors: the parsed-SQL vector rules equal, bit for bit,
the Column-composed forms below (the package's earlier rendering, kept
here as the reference); with_cosine's temp-column collision guard;
operators.retrieval.score_against against the reference cosine; and
the plan-build cost and plan shape of the SQL forms."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F

from semantic_query_engine_spark.functions.vectors import (
    const_array,
    cosine,
    dot,
    l2_norm,
    l2_normalize,
    with_cosine,
)


def _col(c) -> Column:
    return c if isinstance(c, Column) else F.col(c)


def dot_ref(a, b) -> Column:
    prods = F.zip_with(_col(a), _col(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm_ref(a) -> Column:
    return F.sqrt(dot_ref(a, a))


def cosine_ref(a, b) -> Column:
    na, nb = l2_norm_ref(a), l2_norm_ref(b)
    return F.when((na == F.lit(0.0)) | (nb == F.lit(0.0)), F.lit(0.0)).otherwise(
        dot_ref(a, b) / (na * nb)
    )


def l2_normalize_ref(a, eps: float = 1e-9) -> Column:
    denom = l2_norm_ref(a) + F.lit(eps)
    return F.transform(_col(a), lambda x: x.cast("double") / denom)


def _exact(df) -> list[str]:
    """Rows as repr strings: equal only when every double is the same
    bit pattern up to NaN payloads (repr tells -0.0 from 0.0)."""
    return [repr(tuple(r)) for r in df.orderBy("id").collect()]


def _pairs(spark, elem: str):
    rnd = random.Random(7)
    wide_a = [rnd.uniform(-1, 1) for _ in range(1024)]
    wide_b = [rnd.uniform(-1, 1) for _ in range(1024)]
    rows = [
        (1, [0.25, -1.5, 3.0, 0.1], [0.3, 1.7, -0.2, 0.9]),
        (2, [0.0, 0.0, 0.0, 0.0], [0.3, 1.7, -0.2, 0.9]),  # zero vector
        (3, [1.1, 2.2, -0.3, 0.7], [0.0, 0.0, 0.0, 0.0]),  # zero vector
        (4, [1.1, 2.2, -0.3, 0.7], [1.1, 2.2, -0.3, 0.7]),  # tie with 5
        (5, [1.1, 2.2, -0.3, 0.7], [1.1, 2.2, -0.3, 0.7]),
        (6, [], []),  # empty arrays
        (7, None, [1.0, 2.0, 3.0, 4.0]),  # null array
        (8, [1.0, None, 2.0, 0.5], [1.0, 2.0, 3.0, 4.0]),  # null element
        (9, [1e-30, -2e-30, 3e-30, 0.0], [7.5, -0.125, 3.0, 1e6]),
        (10, wide_a, wide_b),  # the reference's 1,024 dims
    ]
    return spark.createDataFrame(rows, f"id int, a array<{elem}>, b array<{elem}>")


@pytest.mark.parametrize("elem", ["float", "double"])
def test_sql_forms_bit_identical_to_column_reference(spark, elem):
    df = _pairs(spark, elem)
    got = df.select(
        "id",
        dot("a", "b").alias("dot"),
        l2_norm("a").alias("norm"),
        cosine("a", "b").alias("cos"),
        l2_normalize("a").alias("unit"),
    )
    want = df.select(
        "id",
        dot_ref("a", "b").alias("dot"),
        l2_norm_ref("a").alias("norm"),
        cosine_ref("a", "b").alias("cos"),
        l2_normalize_ref("a").alias("unit"),
    )
    assert got.schema == want.schema
    assert _exact(got) == _exact(want)

    # with_cosine with both norms passed, one passed, and none passed
    normed = df.select("*", l2_norm("a").alias("na"), l2_norm("b").alias("nb"))
    want = _exact(df.select("id", cosine_ref("a", "b").alias("s")))
    for kw in ({"norm_a": "na", "norm_b": "nb"}, {"norm_b": "nb"}, {}):
        out = with_cosine(normed, "a", "b", "s", **kw)
        assert out.columns == normed.columns + ["s"], kw
        assert _exact(out.select("id", "s")) == want, kw


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


def test_l2_normalize_folds_the_row_norm_outside_the_lambda(spark):
    """The row norm is an aggregate over the whole row; inside the
    per-element lambda it re-ran once per element (O(dim^2) per row).
    The plan audit's ROW_AGGREGATE_IN_LAMBDA check flags that shape."""
    from tools.plan_audit import _aggregates_row_in_lambda

    df = _pairs(spark, "float")

    def plan(c: Column) -> str:
        return df.select(c.alias("n"))._jdf.queryExecution().optimizedPlan().toString()

    assert _aggregates_row_in_lambda(plan(l2_normalize_ref("a")))
    assert not _aggregates_row_in_lambda(plan(l2_normalize("a")))


def test_with_cosine_both_norms_evaluates_the_dot_once(spark):
    """A threshold filter on the cosine of a pair join with both norms
    pre-projected: pushed into the join condition, the dot ran there
    and again in the output projection (the audit's
    AGGREGATE_IN_JOIN_AND_PROJECT shape).  with_cosine evaluates it
    once and keeps the same rows, bit for bit."""
    from tools.plan_audit import _aggregates_in_join_and_project

    df = _pairs(spark, "double")
    pairs = df.select("id", "a", l2_norm("a").alias("na")).crossJoin(
        df.select(F.col("id").alias("id_b"), "b", l2_norm("b").alias("nb"))
    )

    def passing(scored):
        return scored.select(
            (F.col("id") * 100 + F.col("id_b")).alias("id"), F.round("s", 6).alias("s")
        ).filter("s >= 0.1")

    na, nb = F.col("na"), F.col("nb")
    ref = passing(
        pairs.withColumn(
            "s", F.when((na == 0.0) | (nb == 0.0), 0.0).otherwise(dot_ref("a", "b") / (na * nb))
        )
    )
    got = passing(with_cosine(pairs, "a", "b", "s", norm_a="na", norm_b="nb"))
    plan = lambda d: d._jdf.queryExecution().executedPlan().toString()  # noqa: E731
    assert _aggregates_in_join_and_project(plan(ref))
    assert not _aggregates_in_join_and_project(plan(got))
    assert _exact(got) == _exact(ref) != []


def test_vector_plan_build_py4j_budget(spark, count_py4j_calls):
    """Building a with_cosine plan or an l2_normalize expression (no
    action) parses one SQL string per expression; the Column-composed
    forms issued ~550 and ~170 Python-to-JVM calls."""
    df = _pairs(spark, "float")
    with_cosine(df, "a", "b", "s")  # warm up
    l2_normalize("a")
    assert count_py4j_calls(lambda: with_cosine(df, "a", "b", "s")) < 50
    assert count_py4j_calls(lambda: l2_normalize("a")) < 20


def _scores(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


@pytest.mark.parametrize("elem", ["float", "double"])
def test_score_against_sql_form_bit_identical_to_cosine(spark, elem):
    """score_against equals cosine(vec, const_array(q)) exactly, on a
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
        want = df.select("vec_id", cosine_ref("embedding", const_array(q)).alias("score"))
        got = score_against(df, q).select("vec_id", "score")
        assert got.dtypes == want.dtypes
        assert sorted(_scores(got)) == sorted(_scores(want)), q
        ranked = _scores(want.orderBy(F.desc("score"), F.asc("vec_id")).limit(4))
        assert _scores(topk_similar(df, q, k=4)) == ranked, q

    q = [0.3, 1.7, -0.2, 0.9]
    best = df.select(cosine_ref("embedding", const_array(q)).alias("s")).agg(F.max("s")).head()[0]
    entries = df.select(
        F.col("vec_id").alias("entry_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
        F.concat(F.lit("r"), F.col("vec_id").cast("string")).alias("response"),
    )
    hit = cache.probe(entries, q, threshold=best).collect()
    assert [(r.entry_id, r.score, r.response) for r in hit] == [(3, best, "r3")]
    assert cache.probe(entries, q, threshold=math.nextafter(best, 2.0)).collect() == []


# -- the operator folds: SRP keys, PQ distance tables, integer projection.
# The Column-composed forms below are the package's earlier renderings,
# kept as the reference the SQL forms must equal exactly.


def srp_band_table_ref(df, n_bands, bits, dim, seed=42, id_col="vec_id", vec_col="embedding"):
    from semantic_query_engine_spark.operators.dedup import _srp_planes

    planes = const_array(_srp_planes(n_bands, bits, dim, seed))

    def _elem(i: int):
        def _f(x, j):
            idx = (F.col("band") * bits + F.lit(i)) * dim + j + 1
            return x.cast("double") * F.element_at(planes, idx.cast("int"))

        return _f

    key = F.lit(0).cast("long")
    for i in range(bits):
        d = F.aggregate(F.transform(F.col(vec_col), _elem(i)), F.lit(0.0), lambda a, x: a + x)
        key = key + F.when(d >= 0, F.lit(1 << i)).otherwise(F.lit(0)).cast("long")
    return df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias(vec_col),
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band"),
    ).select("id", "band", key.alias("key"))


def dist_table_ref(nv, codebooks) -> Column:
    sub = len(codebooks[0][0])
    return F.transform(
        const_array(codebooks),
        lambda book, j: F.transform(
            book,
            lambda cw: F.aggregate(
                F.zip_with(
                    F.slice(_col(nv), j * F.lit(sub) + 1, F.lit(sub)),
                    cw,
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        ),
    )


def pq_codes_ref(nv, codebooks) -> Column:
    sub = len(codebooks[0][0])
    books = const_array(codebooks)

    def code_for(j):
        book = F.element_at(books, j + 1)
        subvec = F.slice(_col(nv), j * sub + 1, F.lit(sub))
        d = F.transform(
            book,
            lambda cw: F.aggregate(
                F.zip_with(subvec, cw, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        return (F.array_position(d, F.array_min(d)) - 1).cast("int")

    return F.transform(F.sequence(F.lit(0), F.lit(len(codebooks) - 1)), code_for)


def int_project_ref(mat_sql: str, v) -> Column:
    qv = F.transform(_col(v), lambda x: F.round(x.cast("double") * 1_000_000, 0).cast("long"))
    return F.transform(
        F.expr(mat_sql),
        lambda row: F.aggregate(
            F.zip_with(row, qv, lambda s, e: s * e), F.lit(0).cast("long"), lambda acc, e: acc + e
        ),
    )


def _vectors(spark, elem: str, dim: int):
    rnd = random.Random(11)

    def vec():
        return [rnd.uniform(-1, 1) for _ in range(dim)]

    base = vec()
    rows = [(i, vec()) for i in range(1, 9)]
    rows += [
        (20, [0.0] * dim),  # zero vector: every dot is 0, every sign bit set
        (21, list(base)),  # 21 and 22 tie: same keys, cosine 1
        (22, list(base)),
        (23, [x * 1.0001 for x in base]),  # near copy of the tie
        (24, [5e-7, -5e-7, 1.5e-6, -2.5e-6] + [0.0] * (dim - 4)),  # half-micro rounding
        (25, vec()[: dim // 2]),  # short vector
        (26, None),
        (27, [1.0, None] + [0.5] * (dim - 2)),  # null element
    ]
    return spark.createDataFrame(rows, f"vec_id long, embedding array<{elem}>")


@pytest.mark.parametrize("elem", ["float", "double"])
def test_srp_band_keys_and_pairs_bit_identical_to_reference(spark, monkeypatch, elem):
    from semantic_query_engine_spark.operators import dedup

    df = _vectors(spark, elem, 16)
    got = dedup.srp_band_table(df, 6, 4, 16)
    want = srp_band_table_ref(df, 6, 4, 16)
    assert got.dtypes == want.dtypes
    rows = lambda d: sorted(tuple(r) for r in d.collect())  # noqa: E731
    assert rows(got) == rows(want)

    pairs = rows(dedup.embedding_near_dups(df, threshold=0.9, srp_bands=6, srp_dim=16))
    monkeypatch.setattr(dedup, "srp_band_table", srp_band_table_ref)
    assert pairs == rows(dedup.embedding_near_dups(df, threshold=0.9, srp_bands=6, srp_dim=16))
    assert (21, 22, 1.0) in pairs


@pytest.mark.parametrize("elem", ["float", "double"])
def test_pq_codes_and_adc_tables_bit_identical_to_reference(spark, elem):
    from semantic_query_engine_spark.operators.pq import _dist_table, pq_encode

    rnd = random.Random(5)
    # m=4 subspaces of 2 dims, k=3 codewords; codewords 0 and 1 of the
    # first book are equal, so every first-subspace distance ties
    books = [[[rnd.uniform(-1, 1) for _ in range(2)] for _ in range(3)] for _ in range(4)]
    books[0][1] = list(books[0][0])
    df = _vectors(spark, elem, 8).filter("size(embedding) = 8")
    nv = df.select("vec_id", l2_normalize("embedding").alias("nv"))
    got = nv.select("vec_id", F.expr(_dist_table("nv", books)).alias("t"))
    want = nv.select("vec_id", dist_table_ref("nv", books).alias("t"))
    assert got.dtypes == want.dtypes
    assert _exact(got.withColumnRenamed("vec_id", "id")) == _exact(
        want.withColumnRenamed("vec_id", "id")
    )
    codes = pq_encode(df, books).withColumnRenamed("vec_id", "id")
    ref = nv.select(F.col("vec_id").alias("id"), pq_codes_ref("nv", books).alias("codes"))
    assert codes.dtypes == ref.dtypes
    assert _exact(codes) == _exact(ref)
    assert all(r.codes[0] != 1 for r in codes.collect() if r.codes)


@pytest.mark.parametrize("elem", ["float", "double"])
def test_integer_projection_bit_identical_to_reference(spark, elem):
    from semantic_query_engine_spark.functions.vectors import _idot, _micro
    from semantic_query_engine_spark.queries.semantic import _SRP_MAT_SPARK, _srp_project

    df = _vectors(spark, elem, 64).withColumnRenamed("vec_id", "id")
    got = df.select("id", F.expr(_srp_project(_micro("embedding"))).alias("p"))
    want = df.select("id", int_project_ref(_SRP_MAT_SPARK, "embedding").alias("p"))
    assert got.dtypes == want.dtypes
    assert _exact(got) == _exact(want)
    # the alignment score's form: one integer dot of two long arrays
    q = df.select("id", F.expr(_micro("embedding")).alias("a"), F.expr(_micro("reverse(embedding)")).alias("b"))
    got = q.select("id", F.expr(_idot("a", "b")).alias("s"))
    want = q.select(
        "id",
        F.aggregate(F.zip_with("a", "b", lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x).alias("s"),
    )
    assert _exact(got) == _exact(want)


def test_srp_band_table_plan_build_py4j_budget(spark, count_py4j_calls):
    """One srp_band_table plan build (no action) parses two SQL strings;
    the Column-composed form issued ~1,000 Python-to-JVM calls at 8
    bands x 4 bits x dim 64."""
    from semantic_query_engine_spark.operators.dedup import srp_band_table

    df = _vectors(spark, "float", 64)
    srp_band_table(df, 8, 4, 64)  # warm up
    assert count_py4j_calls(lambda: srp_band_table(df, 8, 4, 64)) <= 50
