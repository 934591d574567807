"""Vector math over array columns, rendered once as parsed SQL.

Reference semantics replicated:
- cosine_similarity with zero-norm guard -> 0.0
  (reference app/main.py:59-64, SURVEY A7)
- L2 normalization with +1e-9 denominator
  (reference app/main.py:315-316,353-354, SURVEY A8)

Each rule is written once, as a private renderer of SQL text:
- `_dot`: the inner product, folded in double from 0D;
- `_norm`: the L2 norm, sqrt of the self dot;
- `_guard`: the cosine zero-norm guard over a dot and two norms;
- `_normalize`: x / (||x|| + 1e-9), the row norm evaluated once per
  row; a zero vector stays zero;
- `_sqdist`: the squared L2 distance, folded in double from 0D (PQ
  codeword assignment and ADC distance tables, operators/pq);
- `_micro`: the 1e-6 integer quantization of each component;
- `_idot`: the integer dot, folded in a long from 0L — exact, so any
  evaluation order gives the same sum (the ±1 projections of
  queries/semantic and queries/dedup_q, the alignment score of
  queries/multimodal_q).
The double and integer dots stay two rules because their accumulators
differ.  The public functions wrap the renderers in `F.expr` /
`selectExpr`, and the package's operators compose them into their own
SQL strings, so a plan is parsed JVM-side from one string instead of
composed node by node through Python-to-JVM (py4j) calls.  Their
operands are SQL text: a column name, a `const_sql` literal or a
function call.  Everything stays a Catalyst higher-order function; no
Python UDFs.

The double rules cast every element to double first and fold left to
right from 0D, so results are bit-identical to a DuckDB oracle
computing in double (float32->double conversion is exact).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def const_array(values) -> Column:
    """A (possibly nested) literal double-array column, parsed JVM-side
    from ONE SQL string: `F.lit(list)` issues one py4j round-trip per
    element (a 2,048-double constant cost seconds of plan build).
    repr(float) round-trips exactly through Double.parseDouble, so the
    Literal is bit-identical to the per-element form.  Finite values
    only."""
    return F.expr(const_sql(values))


def const_sql(v) -> str:
    """const_array's SQL text, e.g. `array(0.5D,1.0D)`."""
    if isinstance(v, (list, tuple)):
        return "array(" + ",".join(const_sql(x) for x in v) + ")"
    f = float(v)
    if not math.isfinite(f):
        raise ValueError(f"non-finite plan constant: {v!r}")
    return repr(f) + "D"


def _dot(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0D, (acc, p) -> acc + p)"
    )


def _norm(a: str) -> str:
    return f"sqrt({_dot(a, a)})"


def _guard(d: str, na: str, nb: str) -> str:
    return f"CASE WHEN {na} = 0D OR {nb} = 0D THEN 0D ELSE {d} / ({na} * {nb}) END"


def _sqdist(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) - CAST(y AS DOUBLE)),"
        " 0D, (acc, d) -> acc + d * d)"
    )


def _micro(a: str) -> str:
    return f"transform({a}, x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))"


def _idot(a: str, b: str) -> str:
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (acc, p) -> acc + p)"


def _normalize(a: str) -> str:
    # the denominator rides in as an array so the row norm is evaluated
    # once per row: inside the lambda body Spark would evaluate it once
    # per element, and it does not hoist it out
    denom = f"{_norm(a)} + {const_sql(1e-9)}"
    return f"zip_with({a}, array_repeat({denom}, size({a})), (x, d) -> CAST(x AS DOUBLE) / d)"


def dot(a: str, b: str) -> Column:
    """Inner product, accumulated in double (SURVEY A7)."""
    return F.expr(_dot(a, b))


def l2_norm(a: str) -> Column:
    return F.expr(_norm(a))


def cosine(a: str, b: str) -> Column:
    """cosine(a,b) with the reference's zero-norm guard -> 0.0
    (/root/reference/app/main.py:62-63).  Fine for bounded sides
    (centroid tables, pair tables); per-row hot paths use
    operators.retrieval.score_against against a constant query, or
    with_cosine() to pre-project the norms."""
    return F.expr(_guard(_dot(a, b), _norm(a), _norm(b)))


def with_cosine(
    df,
    a: str,
    b: str,
    out: str,
    norm_b: str | None = None,
    norm_a: str | None = None,
):
    """Append cosine(a, b) as column `out` via a norm PRE-PROJECTION
    (guide §1.2 "don't compute things twice"): the dot and the norms
    land as real columns in their own Project, and CollapseProject
    keeps that Project separate because a non-cheap alias referenced
    more than once is not inlined (SPARK-36718 — the same mechanism the
    tokenize-once rework relies on, pinned by tests/test_scale_shapes.py
    ::test_text_heuristics_tokenize_once).  A caller that already holds
    a norm passes it as `norm_a`/`norm_b` (SQL text: a column computed
    once on a bounded side, or a norm folded on the driver), and that
    norm is not recomputed per row.  A driver-folded norm passed as a
    `const_sql` double would be inlined into the generated Java, so each
    new value would compile new classes; operators.retrieval.
    score_against reads it from a one-element array literal instead,
    which codegen passes by reference.

    A caller that passes both norms is a pair join with its norms
    pre-projected per side, filtered on `out` by a threshold.  Catalyst
    pushes such a filter through any Project (substituting the alias
    regardless of cost) into the join condition, where the dot would
    run once and then again in the output projection.  So with both
    norms passed the cosine is a generated column (`inline` of a
    one-struct array): a filter on a Generate's output stays above it,
    and every pair evaluates its dot once.  With a norm temp the
    Project form stays, for the callers that rank rather than filter
    (the facade's search among them).

    Values are bit-identical to cosine(): the same fold, guard and
    division order."""
    if norm_a is not None and norm_b is not None:
        sim = _guard(_dot(a, b), norm_a, norm_b)
        return df.selectExpr("*", f"inline(array(named_struct('{out}', {sim})))")
    temps = {f"__{out}_dot": _dot(a, b)}
    if norm_a is None:
        norm_a = f"`__{out}_norm_a`"
        temps[f"__{out}_norm_a"] = _norm(a)
    if norm_b is None:
        norm_b = f"`__{out}_norm_b`"
        temps[f"__{out}_norm_b"] = _norm(b)
    # a temp name already in the input would collide in the select below
    # (e.g. two nested with_cosine calls with the same `out`): fail at
    # plan-build time, not with an ambiguous-column analyzer error later
    taken = set(df.columns)
    for tmp in temps:
        if tmp in taken:
            raise ValueError(
                f"with_cosine temp column {tmp!r} already exists in the "
                f"input; pick a different `out` name"
            )
    return (
        df.selectExpr("*", *(f"{sql} AS `{name}`" for name, sql in temps.items()))
        .withColumn(out, F.expr(_guard(f"`__{out}_dot`", norm_a, norm_b)))
        .drop(*temps)
    )


def l2_normalize(a: str) -> Column:
    """x / (||x|| + 1e-9), the reference's pre-index / pre-search step
    (/root/reference/app/main.py:315-316). Keeping vectors normalized at
    rest makes query-time cosine a single dot product."""
    return F.expr(_normalize(a))
