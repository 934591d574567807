"""SparkSession builder sized to the machine it runs on while staying
cluster-correct: local[<cores this process may use>] with a driver heap
of half the physical memory, AQE on (runtime re-plan, skew-join
splitting, partition coalescing), Arrow on (Pandas-UDF fast path),
shuffle partitions sized to the core count instead of the 200 default.
On a real cluster the same builder works — SPARK_GRAFT_MASTER,
SPARK_GRAFT_CPUS and SPARK_DRIVER_MEM set master and memory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def state_store_provider(master: str, requested: str = "") -> str | None:
    """Resolve the streaming state-store provider class (None = Spark's
    HDFS-backed default).  Policy (VERDICT r8 #6, decided r9):

    - explicit request wins: SPARK_GRAFT_STATE_STORE=rocksdb forces
      RocksDB, =hdfs forces the heap-backed default;
    - otherwise RocksDB is the DEFAULT on any non-local master: on a
      real cluster state sizes are unbounded and the HDFS-backed store
      materializes every key on the JVM heap per version (measured
      1.5-1.7x slower at ~10M keys and a heap bomb beyond, SCALE.md);
    - local masters keep the HDFS-backed default: at test-SF state
      sizes RocksDB *costs* ~0.7 s of native-store overhead per query
      and buys nothing.
    """
    req = requested.lower()
    if req == "rocksdb":
        return _ROCKSDB_PROVIDER
    if req in ("hdfs", "default"):
        return None
    return None if master.startswith("local") else _ROCKSDB_PROVIDER


def resources(env=os.environ) -> tuple[str, int, str]:
    """(master, cores, driver memory) for a new session.  Defaults fit
    the machine: the CPU-affinity count, and half of physical memory
    (at least 1g).  SPARK_GRAFT_MASTER, SPARK_GRAFT_CPUS and
    SPARK_DRIVER_MEM override them for a deployment."""
    cpus = int(env.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    master = env.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    half = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2
    memory = env.get("SPARK_DRIVER_MEM", f"{max(1, half >> 30)}g")
    return master, cpus, memory


def get_spark(app_name: str = "semantic-query-engine-spark") -> SparkSession:
    """Return the active session if one exists (the driver harness owns its
    own session), else build one with `resources()`.  A built session
    also drops the stage id from generated class names
    (`spark.sql.codegen.useIdInClassName=false`), so a search over an
    index that gained an upload reuses its compiled code; a session
    the caller built keeps its own codegen settings."""
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    master, cpus, memory = resources()
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", memory)
        # only meaningful off local[*] (local-cluster / standalone):
        # executors are separate JVMs whose 1g default OOMs the scale
        # sweeps; local[*] ignores it (work runs in the driver heap)
        .config(
            "spark.executor.memory",
            os.environ.get("SPARK_GRAFT_EXECUTOR_MEM", "4g"),
        )
        # 174 registered plans (plus AQE re-plans) overflow the default
        # 100-entry generated-class cache, forcing re-javac of large
        # whole-stage-codegen classes (the 1024-dim vector plans compile
        # in seconds, not millis) on every eviction round-trip
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # generated class names leave out the whole-stage stage id, so a
        # plan keeps its source text, and its cache entry, when a union
        # gains a child and the ids shift (each facade upload does)
        .config("spark.sql.codegen.useIdInClassName", "false")
        # no web UI: nothing reads it, and it costs startup and ports
        .config("spark.ui.enabled", "false")
    )
    # Streaming state-store provider: RocksDB (off-heap, incremental
    # snapshots) by default on non-local masters, heap-backed default
    # locally; SPARK_GRAFT_STATE_STORE overrides either way.  Numbers
    # behind the policy: 68 s vs 116 s on stream_dedup at ~10M keys
    # (sf10), +0.7 s overhead at sf0.1's tiny state (SCALE.md).
    provider = state_store_provider(
        master, os.environ.get("SPARK_GRAFT_STATE_STORE", "")
    )
    if provider:
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass", provider
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
