"""Persisted, bucketed historical shingle index for INCREMENTAL
deduplication (VERDICT r11 #2) — the dedup analog of
operators/ann.py's write_ivf_index/read_ivf_index pair.

The recurring-dedup cost model: the historical corpus's shingle table
is computed ONCE per corpus epoch and re-used by every daily batch.
Rebuilding it per run (the in-plan dedup_incremental shape) re-pays the
full historical scan + explode + hot-set aggregate on every increment;
at 100 TB that rebuild dwarfs the probe.  This module makes the index a
physical layout:

- the hot-capped (id, shingle) table is written ``bucketBy(shingle)``
  + ``sortBy(shingle)`` — the daily probe's equi-join on `shingle`
  then reads the historical side straight from its buckets with NO
  Exchange; only the increment-sized new side shuffles to match the
  bucket count (pinned by tests/test_scale_shapes.py).
- per-doc capped shingle counts (id, nh) and the over-cap stop-shingle
  set ride along as plain tables, so the probe inherits the skew valve
  and the exact integer-Jaccard denominators without touching text.

Tables are managed tables in a database anchored UNDER the per-process
scratch dir (scratch.py): files are removed at interpreter exit / by
the dead-pid sweep, and the in-memory catalog forgets the names with
the session — nothing leaks into the repo's spark-warehouse.  In
production the database would live on durable storage instead; the
layout and the probe plan are identical.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import scratch_path

_DB = "shingleidx"
_BUCKETS = 16


def build_shingle_index(
    hist_shingles: DataFrame, cap: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(hsh, hsz, hot) from the historical (id, shingle) rows:
    stop-shingles appearing in more than `cap` docs are dropped from
    the index AND from the per-doc sizes (the dedup_jaccard_capped
    valve), so hot boilerplate can never fan a probe out.  Pure plan —
    callers decide whether to persist (write_shingle_index) or run
    in-plan (dedup_incremental)."""
    hot = (
        hist_shingles.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > cap)
        .select("shingle")
    )
    hsh = hist_shingles.join(hot, "shingle", "left_anti")
    hsz = hsh.groupBy("id").agg(F.count("*").alias("nh"))
    return hsh, hsz, hot


def _table_names(key: str) -> tuple[str, str, str]:
    safe = re.sub(r"[^A-Za-z0-9_]+", "_", key).strip("_").lower()
    return (
        f"{_DB}.sh_{safe}",
        f"{_DB}.sz_{safe}",
        f"{_DB}.hot_{safe}",
    )


def write_shingle_index(
    spark: SparkSession,
    hist_shingles: DataFrame,
    cap: int,
    key: str,
) -> tuple[str, str, str]:
    """Materialize the index: the shingle table bucketed+sorted on the
    join key, sizes and stop-shingles as plain tables.  Returns the
    three table names for read_shingle_index."""
    loc = scratch_path(_DB + "_db")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {_DB} LOCATION '{loc}'")
    sh_t, sz_t, hot_t = _table_names(key)
    hsh, hsz, hot = build_shingle_index(hist_shingles, cap)
    (
        hsh.write.bucketBy(_BUCKETS, "shingle")
        .sortBy("shingle")
        .mode("overwrite")
        .saveAsTable(sh_t)
    )
    hsz.write.mode("overwrite").saveAsTable(sz_t)
    hot.write.mode("overwrite").saveAsTable(hot_t)
    return sh_t, sz_t, hot_t


def read_shingle_index(
    spark: SparkSession, names: tuple[str, str, str]
) -> tuple[DataFrame, DataFrame, DataFrame]:
    sh_t, sz_t, hot_t = names
    return spark.table(sh_t), spark.table(sz_t), spark.table(hot_t)
