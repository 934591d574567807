"""Semantic LFU cache as a managed table + deterministic batch jobs.

The reference keeps <=1000 {embedding, response, freq} entries in a Redis
list, does a client-side linear cosine scan with hit threshold 0.96,
bumps freq on hit, and evicts the first minimum-freq entry at capacity
(/root/reference/app/main.py:42-44,67-128, SURVEY A12-A14).

Here the cache is a small DataFrame (at rest: one parquet table);
eviction and put are declarative plans.  The facade keeps its cache in
driver memory (api.py) and calls none of these: the registry query
cache_evict_lfu calls eviction_candidate, and perfbench/ask.py wraps
put and evict_lfu.  The LFU tie-break is made deterministic via
(freq, insert_seq) ordering — the reference's "first minimum in list
order" is list-position-dependent (/root/reference/app/main.py:107-114);
insert_seq is its stable analog.

Schema: (entry_id long, embedding array<double>, response string,
         freq long, insert_seq long)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

CACHE_CAPACITY = 1000  # /root/reference/app/main.py:42
CACHE_SIM_THRESHOLD = 0.96  # /root/reference/app/main.py:44


def eviction_candidate(cache: DataFrame) -> DataFrame:
    """The one row LFU would evict: min freq, ties broken by lowest
    insert_seq (SURVEY A13)."""
    return cache.orderBy(F.asc("freq"), F.asc("insert_seq")).limit(1)


def evict_lfu(cache: DataFrame, n: int = 1) -> DataFrame:
    """Drop the n least-frequent entries (deterministic LFU).  Expressed
    as a rank-filter rather than an anti-join: one window over a <=1000
    row table."""
    # global window over <=CACHE_CAPACITY (1000) rows: the single
    # partition is intentional and bounded — LFU order is a total order
    # over the whole cache by definition
    w = Window.orderBy(F.asc("freq"), F.asc("insert_seq"))
    return (
        cache.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") > n)
        .drop("__r")
    )


def put(
    cache: DataFrame,
    entry: DataFrame,
    capacity: int = CACHE_CAPACITY,
) -> DataFrame:
    """Insert a new entry, evicting first if at capacity
    (/root/reference/app/main.py:121-128, SURVEY A14).  `entry` is a
    1-row DataFrame with the cache schema and freq=1."""
    n = cache.count()
    base = evict_lfu(cache, n - capacity + 1) if n >= capacity else cache
    return base.unionByName(entry)
