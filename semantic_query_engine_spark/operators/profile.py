"""Data profiling + expectation checks — the governance pass a training
pipeline runs before it trusts a new data drop (north-star extension;
the reference ingests its corpus unvalidated, /root/reference/app/main.py:413-456).

Scale shapes:
- profile(): ONE aggregation job per profiled column batch; every
  statistic is map-side combinable (count / min / max), except the
  exact distinct count (count_distinct — an Expand plan, fine to a few
  columns).
- expect(): each rule is a filter + count over one scan; all rules run
  in a single job via conditional aggregation (sum(case when violated)),
  so a 100 TB validation pass costs one read.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """One row per profiled column: row count, non-null count, exact
    distinct count, min/max rendered as strings (so mixed-type columns
    share one schema).  Output sorted by column name."""
    parts = []
    for c in cols:
        parts.append(
            df.agg(
                F.lit(c).alias("column_name"),
                F.count(F.lit(1)).alias("n_rows"),
                F.count(c).alias("n_nonnull"),
                F.count_distinct(F.col(c)).alias("n_distinct"),
                F.min(F.col(c).cast("string")).alias("min_v"),
                F.max(F.col(c).cast("string")).alias("max_v"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("column_name")


def expect(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Expectation check: {rule_name: violation_predicate} -> one row per
    rule with its violation count, computed in a SINGLE conditional
    aggregation over one scan (no per-rule jobs)."""
    agg = df.agg(
        *[
            F.sum(F.when(pred, 1).otherwise(0)).cast("long").alias(name)
            for name, pred in rules.items()
        ]
    )
    stacked = F.explode(
        F.array(
            *[
                F.struct(F.lit(name).alias("rule"), F.col(name).alias("violations"))
                for name in rules
            ]
        )
    )
    return (
        agg.select(stacked.alias("r"))
        .select("r.rule", "r.violations")
        .orderBy("rule")
    )
