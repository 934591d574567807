"""Scale-technique queries: the shapes that keep plans alive at 100 TB,
demonstrated on fixtures with exact oracles (the technique must not
change the answer)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.fixtures import load_table
from .registry import register

SALTS = 8


@register(
    "skew_salted_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_price,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation for skewed keys: l_returnflag has
    only 3 values, so a naive groupBy funnels everything into 3 reduce
    tasks.  Salting by a deterministic row attribute fans phase 1 out to
    3*SALTS tasks; phase 2 reduces SALTS partials per key.  The result
    is bit-identical to the direct aggregation (fixed-point cents), and
    the oracle IS the direct aggregation.

    (Spark's partial aggregation already map-side combines; explicit
    salting is the pattern for when the *reduce* side still skews —
    e.g. high-cardinality payloads per hot key, collect_list-style
    aggregates, or pre-AQE engines.)"""
    li = load_table(spark, sf_dir, "lineitem")
    salted = li.withColumn("__salt", (F.col("l_orderkey") % SALTS).cast("int"))
    phase1 = salted.groupBy("l_returnflag", "__salt").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("pc"),
        F.count("*").alias("pn"),
    )
    return phase1.groupBy("l_returnflag").agg(
        (F.sum("pc") / 100.0).alias("sum_price"),
        F.sum("pn").alias("n"),
    )


@register(
    "broadcast_dim_join",
    oracle="""
    SELECT n.n_name AS nation, COUNT(*) AS n_customers
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast-hash join of a fact table against a 25-row
    dimension: zero shuffle of the fact side — the canonical star-schema
    shape (at 100 TB the alternative sort-merge join would shuffle the
    entire fact table)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        # bounded: nation is 25 rows by TPC-H schema, SF-invariant
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "repartition_colocate",
    oracle="""
    SELECT l_orderkey, COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem GROUP BY l_orderkey
    HAVING COUNT(*) >= 6
    """,
)
def repartition_colocate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit repartition-by-key before aggregation: when a pipeline
    performs SEVERAL key-local operations (agg + join + window on the
    same key), one up-front hash repartition lets every later stage
    reuse the partitioning instead of re-shuffling.  Result is identical
    to the direct plan (oracle = direct SQL)."""
    li = load_table(spark, sf_dir, "lineitem").repartition(32, "l_orderkey")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        )
        .filter(F.col("n_items") >= 6)
    )


@register(
    "join_salted_skew",
    oracle="""
    WITH dim(flag, weight) AS (VALUES ('A', 1), ('N', 2), ('R', 3))
    SELECT l_returnflag,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) * weight) AS BIGINT) / 100.0
             AS weighted_price,
           COUNT(*) AS n
    FROM lineitem JOIN dim ON l_returnflag = flag
    GROUP BY l_returnflag
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted SHUFFLE JOIN for hot keys: l_returnflag has 3 values, so a
    shuffle join on it lands the whole fact table on 3 reducer
    partitions.  Salting fans it out: the fact side gets a deterministic
    salt (l_orderkey % SALTS), the dim side is replicated SALTS times,
    and the join key becomes (flag, salt) — 3*SALTS evenly-loaded
    partitions, bit-identical result (fixed-point cents; the oracle is
    the unsalted join).  The shuffle_hash hint keeps the demo honest
    (Spark would otherwise broadcast a 24-row dim; in the real scenario
    the dim is too big to broadcast and the hot fact key still skews —
    AQE skew-join splitting is the runtime alternative, salting is the
    deterministic one)."""
    li = load_table(spark, sf_dir, "lineitem")
    dim = spark.createDataFrame(
        [("A", 1), ("N", 2), ("R", 3)], ["flag", "weight"]
    )
    dim_salted = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(SALTS - 1)))
    )
    fact = li.withColumn("__salt", (F.col("l_orderkey") % SALTS).cast("int"))
    joined = fact.join(
        dim_salted.hint("shuffle_hash"),
        (fact["l_returnflag"] == dim_salted["flag"])
        & (fact["__salt"] == dim_salted["__salt"]),
    )
    return joined.groupBy("l_returnflag").agg(
        (
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
                * F.col("weight")
            )
            / 100.0
        ).alias("weighted_price"),
        F.count("*").alias("n"),
    )


def _morton_sql(c1: str, c2: str) -> str:
    """DuckDB twin of the 16-bit Morton interleave: bit i of c1 lands at
    2i, bit i of c2 at 2i+1 — plain &/<<//>> on BIGINT, loop-unrolled."""
    terms = []
    for i in range(16):
        terms.append(f"((({c1} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({c2} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


def morton_key(c1, c2, bits: int = 16):
    """Z-order (Morton) key of two non-negative int columns: interleave
    the low `bits` bits so lexicographic order on the key is a
    space-filling curve over (c1, c2).  Sorting a table by this key
    before writing makes EVERY row group's min/max narrow on BOTH
    columns — parquet data skipping then prunes on either predicate,
    which a single-column sort only gives you for that one column.
    Pure codegen bit ops, loop-unrolled (shift amounts must be
    literals)."""
    key = F.lit(0).cast("long")
    for i in range(bits):
        b1 = F.shiftright(c1, i).bitwiseAND(F.lit(1)).cast("long")
        b2 = F.shiftright(c2, i).bitwiseAND(F.lit(1)).cast("long")
        key = key.bitwiseOR(F.shiftleft(b1, 2 * i)).bitwiseOR(
            F.shiftleft(b2, 2 * i + 1)
        )
    return key


@register(
    "zorder_key",
    oracle=f"""
    SELECT o_orderkey,
           CAST({_morton_sql('(o_orderkey % 65536)', '(o_custkey % 65536)')}
                AS BIGINT) AS zkey
    FROM orders
    """,
)
def zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout key over (o_orderkey, o_custkey) — the Delta
    OPTIMIZE ZORDER BY technique as a plain deterministic expression.
    The query itself is map-only; the layout win (narrow per-file
    min/max on BOTH columns after range-partitioning by zkey, so
    parquet skipping prunes on either predicate) is asserted by
    tests/test_scale_shapes.py::test_zorder_layout_narrows_rowgroups
    on real written files.  Caveat the test also encodes: dimensions
    must be normalized to comparable bit widths before interleaving
    (quantile-bucket each column at scale, Delta-style) — with unequal
    widths the top sort bits all come from the wider column and the
    curve degrades to that column's plain sort."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        morton_key(
            F.col("o_orderkey") % 65536, F.col("o_custkey") % 65536
        ).alias("zkey"),
    )
