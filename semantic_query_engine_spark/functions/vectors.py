"""Vector math over ArrayType(FloatType) columns — pure Catalyst
expressions (aggregate / zip_with / transform), no Python UDFs, so the
whole similarity pipeline stays inside whole-stage codegen and scales
linearly with executors.

Reference semantics replicated:
- cosine_similarity with zero-norm guard -> 0.0
  (/root/reference/app/main.py:59-64, SURVEY A7)
- L2 normalization with +1e-9 denominator
  (/root/reference/app/main.py:315-316,353-354, SURVEY A8)

All element math is cast to double first so results are bit-identical to
a DuckDB oracle computing in double (float32->double conversion is exact,
and both engines fold the list left-to-right).
"""

from __future__ import annotations

from typing import Iterable, Union

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Union[Column, str]


def _col(c: ColumnOrName) -> Column:
    return c if isinstance(c, Column) else F.col(c)


def const_array(values) -> Column:
    """A (possibly nested) literal double-array column rendered as ONE
    SQL string and parsed JVM-side (r14, guide §1.2 per-task/driver
    work): `F.lit(list)` / `F.array(*[F.lit(x) ...])` issues one py4j
    round-trip PER ELEMENT, so the PQ codebook (1,024 doubles) and SRP
    plane (2,048 doubles) constants cost seconds of driver time per
    plan CONSTRUCTION (measured: ann_ivfpq_topk spent 3.8 s of a 5.6 s
    build inside py4j send_command).  repr(float) round-trips exactly
    through Java's Double.parseDouble, so the folded Literal is
    bit-identical to the per-element form.  Finite values only (the
    plan constants here are hashes/centroids/codebooks by
    construction)."""
    import math

    def render(v) -> str:
        if isinstance(v, (list, tuple)):
            return "array(" + ",".join(render(x) for x in v) + ")"
        f = float(v)
        if not math.isfinite(f):
            raise ValueError(f"non-finite plan constant: {v!r}")
        return repr(f) + "D"

    return F.expr(render(values))


def vector_lit(values: Iterable[float]) -> Column:
    """A literal vector column (e.g. the broadcast query embedding of
    SURVEY A6 — the reference embeds the query once and sends it with
    every search request; Spark folds it into the plan as a constant)."""
    return const_array([float(v) for v in values])


def dot(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Inner product, accumulated in double (SURVEY A7)."""
    prods = F.zip_with(_col(a), _col(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: ColumnOrName) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: ColumnOrName, b: ColumnOrName) -> Column:
    """cosine(a,b) with the reference's zero-norm guard -> 0.0
    (/root/reference/app/main.py:62-63).

    Cost note (r14): as ONE expression the two norm subtrees are each
    referenced twice (guard + denominator), and the analyzer re-binds
    higher-order-function lambda variables per occurrence, so codegen
    subexpression elimination cannot unify them — 5 array aggregates
    per row instead of 3.  Per-row-hot paths should use with_cosine()
    (norm pre-projection) instead; this form is fine for bounded sides
    (centroid tables, 1-row probes)."""
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na == F.lit(0.0)) | (nb == F.lit(0.0)), F.lit(0.0)).otherwise(
        dot(a, b) / (na * nb)
    )


def cosine_from_norms(
    a: ColumnOrName, b: ColumnOrName, na: ColumnOrName, nb: ColumnOrName
) -> Column:
    """cosine(a,b) given PRE-PROJECTED L2 norms — arithmetic and
    zero-norm guard identical to cosine() (same operation order, so
    bit-identical results); the norms are plain column references, so
    each is computed once however often it is mentioned."""
    na, nb = _col(na), _col(nb)
    return F.when((na == F.lit(0.0)) | (nb == F.lit(0.0)), F.lit(0.0)).otherwise(
        dot(a, b) / (na * nb)
    )


def with_cosine(
    df,
    a: ColumnOrName,
    b: ColumnOrName,
    out: str,
    norm_b: ColumnOrName | None = None,
    norm_a: ColumnOrName | None = None,
):
    """Append cosine(a, b) as column `out` via a norm PRE-PROJECTION
    (guide §1.2 "don't compute things twice"): the norms land as real
    columns in their own Project, and CollapseProject keeps that
    Project separate because a non-cheap alias referenced more than
    once is not inlined (SPARK-36718 — the same mechanism the r14
    tokenize-once rework relies on, pinned by tests/test_scale_shapes.py
    ::test_text_heuristics_tokenize_once).  Per row this computes 2 array
    aggregates + 1 dot instead of cosine()'s 5 — and only 1 + dot when
    the caller passes `norm_b`, a norm already computed on a bounded
    side (e.g. the 1-row broadcast query vector).

    The DOT PRODUCT is pre-projected too: because the norm aliases
    block the collapse, the dot survives as a real column, so a
    threshold filter on `out` that Catalyst pushes below the cosine
    projection (the bm25 plan class — pushdown substitutes the alias
    regardless of cost) lands on CHEAP COLUMN REFERENCES instead of
    re-running the aggregates.

    Values are bit-identical to cosine(): same guard, same operation
    order, norms evaluated by the same l2_norm tree."""
    dot_tmp = f"__{out}_dot"
    # the temp names collide with df.select('*', ...) below if the input
    # already carries them (e.g. two nested with_cosine calls with the
    # same `out`) — fail loudly at plan-build time instead of with an
    # ambiguous-column analyzer error downstream (ADVICE r14).  A norm
    # temp exists only when the caller did not pass that norm.
    taken = set(df.columns)
    temps = [dot_tmp]
    temps += [f"__{out}_norm_a"] if norm_a is None else []
    temps += [f"__{out}_norm_b"] if norm_b is None else []
    for tmp in temps:
        if tmp in taken:
            raise ValueError(
                f"with_cosine temp column {tmp!r} already exists in the "
                f"input; pick a different `out` name"
            )
    proj = [dot(a, b).alias(dot_tmp)]
    drops = [dot_tmp]
    if norm_a is None:
        na_tmp = f"__{out}_norm_a"
        proj.append(l2_norm(a).alias(na_tmp))
        na_col: ColumnOrName = na_tmp
        drops.append(na_tmp)
    else:
        na_col = norm_a
    if norm_b is None:
        nb_tmp = f"__{out}_norm_b"
        proj.append(l2_norm(b).alias(nb_tmp))
        nb_col: ColumnOrName = nb_tmp
        drops.append(nb_tmp)
    else:
        nb_col = norm_b
    na_c, nb_c = _col(na_col), _col(nb_col)
    sim = F.when(
        (na_c == F.lit(0.0)) | (nb_c == F.lit(0.0)), F.lit(0.0)
    ).otherwise(F.col(dot_tmp) / (na_c * nb_c))
    return df.select("*", *proj).withColumn(out, sim).drop(*drops)


def l2_normalize(a: ColumnOrName, eps: float = 1e-9) -> Column:
    """x / (||x|| + eps), the reference's pre-index / pre-search step
    (/root/reference/app/main.py:315-316). Keeping vectors normalized at
    rest makes query-time cosine a single dot product."""
    c = _col(a)
    denom = l2_norm(c) + F.lit(eps)
    return F.transform(c, lambda x: x.cast("double") / denom)
