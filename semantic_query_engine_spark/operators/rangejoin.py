"""Bucketed range (interval) join — point-in-interval joins without a
BroadcastNestedLoopJoin/CartesianProduct.

Spark's optimizer turns `p.ts BETWEEN i.start AND i.end` with no
equality key into a nested-loop join: every (point, interval) pair is
tested — quadratic, the same trap as all-pairs dedup.  The bucketed
form quantizes time into `bucket_width`-second cells: each interval
EXPLODES to the cells it covers (sequence()), each point maps to
exactly ONE cell, and the join becomes an EQUALITY join on the cell id
refined by the exact range predicate.  Candidate volume is bounded by
(interval span / bucket_width + 1) per interval instead of |points|;
each matching pair is produced exactly once because a point lives in a
single cell — no post-join dedup.  This is the same banding idea as
the MinHash-LSH and SRP paths (operators/dedup.py): turn a predicate
Spark can only nested-loop into an equality key plus a cheap refine.

Pick bucket_width near the TYPICAL interval span: wider buckets mean
fewer exploded rows but more refine-filtered candidates; narrower the
reverse.  Skewed cells (a burst of points in one cell) are ordinary
join-key skew — AQE's skew-join splitting applies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    bucket_width_s: int = 900,
) -> DataFrame:
    """Inner-join every point row to every interval row with
    start_ts <= ts < end_ts (end-exclusive).  Returns all columns from
    both sides (names must not collide, except the join machinery's
    internal `__cell`)."""
    cell = lambda c: F.floor(F.unix_timestamp(F.col(c)) / F.lit(bucket_width_s))  # noqa: E731
    iv = intervals.withColumn(
        "__cell",
        F.explode(F.sequence(cell("start_ts"), cell("end_ts"))),
    )
    pt = points.withColumn("__cell", cell("ts"))
    return (
        pt.join(iv, "__cell")
        .filter((F.col("ts") >= F.col("start_ts")) & (F.col("ts") < F.col("end_ts")))
        .drop("__cell")
    )
