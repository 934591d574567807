"""Semantic LFU cache semantics (SURVEY A12-A14,
/root/reference/app/main.py:42-44,67-128): probe threshold, freq bump,
LFU eviction with deterministic tie-break, capacity ceiling.  The probe
and freq bump are the DataFrame reference model of
tests/test_driver_serving; eviction and put are operators/cache."""

from __future__ import annotations

from pyspark.sql import types as T

from test_driver_serving import bump_freq, probe

from semantic_query_engine_spark.operators import cache as C

SCHEMA = T.StructType(
    [
        T.StructField("entry_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
        T.StructField("response", T.StringType()),
        T.StructField("freq", T.LongType()),
        T.StructField("insert_seq", T.LongType()),
    ]
)


def _cache(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_probe_hit_and_miss(spark):
    cache = _cache(
        spark,
        [
            (1, [1.0, 0.0], "resp_a", 2, 1),
            (2, [0.0, 1.0], "resp_b", 1, 2),
        ],
    )
    hit = probe(cache, [1.0, 0.0]).collect()
    assert len(hit) == 1 and hit[0].response == "resp_a"
    # orthogonal query: below 0.96 -> miss (reference app/main.py:89-90)
    miss = probe(cache, [0.7, 0.714]).collect()
    assert miss == []


def test_bump_freq(spark):
    cache = _cache(spark, [(1, [1.0], "a", 1, 1), (2, [1.0], "b", 5, 2)])
    out = {r.entry_id: r.freq for r in bump_freq(cache, 1).collect()}
    assert out == {1: 2, 2: 5}


def test_evict_lfu_tiebreak(spark):
    # freq tie between 2 and 3 -> lowest insert_seq goes first
    cache = _cache(
        spark,
        [
            (1, [1.0], "a", 9, 3),
            (2, [1.0], "b", 1, 2),
            (3, [1.0], "c", 1, 1),
        ],
    )
    cand = C.eviction_candidate(cache).collect()
    assert cand[0].entry_id == 3
    left = {r.entry_id for r in C.evict_lfu(cache).collect()}
    assert left == {1, 2}


def test_put_respects_capacity(spark):
    cache = _cache(spark, [(i, [1.0], f"r{i}", i + 1, i) for i in range(3)])
    entry = _cache(spark, [(99, [0.5], "new", 1, 100)])
    out = C.put(cache, entry, capacity=3)
    rows = {r.entry_id for r in out.collect()}
    assert rows == {1, 2, 99}  # entry 0 had min freq -> evicted
    assert out.count() == 3


def test_cache_persistence_roundtrip(spark, tmp_path):
    """The cache as a managed parquet table (the Redis-persistence
    analog): write -> reload -> probe -> put-with-eviction -> rewrite.
    State survives process-independent storage like the reference's
    cache survives service restarts."""
    path = str(tmp_path / "cache")
    cache = _cache(
        spark,
        [
            (1, [1.0, 0.0], "resp_a", 2, 1),
            (2, [0.0, 1.0], "resp_b", 1, 2),
            (3, [0.6, 0.8], "resp_c", 5, 3),
        ],
    )
    cache.write.mode("overwrite").parquet(path)

    reloaded = spark.read.parquet(path)
    hit = probe(reloaded, [0.6, 0.8]).collect()
    assert hit and hit[0].response == "resp_c"

    entry = _cache(spark, [(9, [0.5, 0.5], "resp_new", 1, 9)])
    updated = C.put(bump_freq(reloaded, hit[0].entry_id), entry, capacity=3)
    # capacity 3: entry 2 (min freq) evicted, new entry present
    # (write to a NEW location: parquet reads are lazy, so overwriting
    # the file a plan still reads from would corrupt the rewrite)
    path2 = str(tmp_path / "cache_v2")
    updated.write.mode("overwrite").parquet(path2)
    final = {r.entry_id: r.freq for r in spark.read.parquet(path2).collect()}
    assert set(final) == {1, 3, 9}
    assert final[3] == 6  # freq bump persisted
