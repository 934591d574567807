"""Harness-only Spark session utilities shared by bench.py and
tools/scale_run.py.  Deliberately OUTSIDE the library package: these
helpers mutate global JVM state in ways library code must never do
(ADVICE r5 — release_persistent_rdds unpersists EVERY pinned RDD,
including the localCheckpoint blocks behind the base and delta
segments of api.SemanticQueryEngine's index and behind DataFrames a
caller still holds, which are not recomputable)."""

from __future__ import annotations

from pyspark.sql import SparkSession


def release_persistent_rdds(spark: SparkSession) -> int:
    """Unpersist every RDD still pinned in the block manager and return
    how many were released.  HARNESS-ONLY between timed queries: several
    operators localCheckpoint intermediates (dedup CC, PageRank, the
    prep pipelines) and those blocks accumulate for the session's
    lifetime — measured to slow later queries in a long session up to
    4-9x once storage squeezes execution memory.  Unpersisting a
    localCheckpoint makes ITS DataFrame unusable (checkpoint blocks are
    not recomputable; the facade's base and delta checkpoints are
    among them) — so call this only between queries whose
    results have been fully consumed, never from library code."""
    sc = spark.sparkContext._jsc.sc()
    rdds = sc.getPersistentRDDs().toList()
    it = rdds.iterator()
    n = 0
    while it.hasNext():
        it.next()._2().unpersist(True)
        n += 1
    return n


# Queries materialized with .collect() instead of the noop sink: their
# outputs are small (<= a few thousand rows) and several are backed by
# streaming memory-sink tables or index-write side effects whose timing
# should include the driver-visible result.  Everything else writes to
# the noop sink, which consumes EVERY column of EVERY row with no
# driver transfer.  .count() is NOT a valid instrument for either: on a
# small-group Aggregate, Catalyst prunes the aggregate expressions
# (count needs only grouping columns), and upstream of a join it can
# prune payload columns — the SCALE.md r12 instrument trap that biased
# rounds-6-9 rows (VERDICT r12 #4) and the r13 driver bench (VERDICT
# r13 #1).
MATERIALIZE_COLLECT = {
    "multimodal_dedup_stats",
    "dedup_eval_lsh",
    "stream_phash_dedup",
    "video_keyframe_sample",
    "multimodal_quality_filter",
    "multimodal_real_decode",
    "embedding_drift",
    "source_datacard",
    "bpe_roundtrip",
    "dedup_incremental_indexed",
    "dataset_manifest",
    "join_skew_profile",
    "shard_skew_report",
    "dedup_eval_sweep",
    "dedup_semdedup_clustered",
    "dedup_semdedup_built",
    "curation_attrition",
}


def materialize(name: str, df) -> None:
    """Force FULL computation of the plan — the honest instrument shared
    by bench.py and tools/scale_run.py (see MATERIALIZE_COLLECT)."""
    if name in MATERIALIZE_COLLECT:
        df.collect()
    else:
        df.write.format("noop").mode("overwrite").save()
