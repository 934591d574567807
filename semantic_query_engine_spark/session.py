"""SparkSession builder sized to the machine it runs on while staying
cluster-correct: local[<cores this process may use>] with a driver heap
of half the physical memory, AQE on (runtime re-plan, skew-join
splitting, partition coalescing), Arrow on (Pandas-UDF fast path),
shuffle partitions sized to the core count instead of the 200 default.
On a real cluster the same builder works — SPARK_GRAFT_MASTER,
SPARK_GRAFT_CPUS and SPARK_DRIVER_MEM set master and memory.

A JVM that `get_spark` launches starts from a class archive: the JDK's
dynamic class-data sharing (AppCDS, JEP 350), the classes an earlier
start loaded and verified, mapped from one file instead of loaded again
from ~290 jars.  Spark start falls from ~10 s to ~5 s (4 cores, JDK 17).
- The archive lives in `$XDG_CACHE_HOME/semantic_query_engine_spark`
  (default `~/.cache/...`), so every checkout on a machine shares it.
  Its name is a key over the Java runtime, its pointer mode (a heap
  of 32 GiB or more has no compressed pointers and another base
  archive), the pyspark version, the jars on the classpath (names and
  sizes) and PYSPARK_SUBMIT_ARGS.
- The first start on a machine writes it (`-XX:ArchiveClassesAtExit`):
  that start is ~4 s slower than one without an archive, and its JVM
  spends 5-25 s at exit writing 140-250 MB (more after more work).
  One process at a time writes, under an O_EXCL lock.
  An exit hook stops the JVM and waits for it; the written file becomes
  the archive only if the JVM exited with status 0.
- A truncated archive does not fall back to a normal start: JDK 17
  crashes with SIGBUS while mapping it.  So a file reaches
  `-XX:SharedArchiveFile` only by an atomic rename, after an fsync,
  once its writer exited cleanly; a temp file left by a killed writer
  is never read.  A start whose JVM dies reading an archive anyway
  (damaged on disk) deletes it and starts again without one.
- It applies only where nothing else sits on the classpath: no
  SPARK_CONF_DIR, HADOOP_CONF_DIR, YARN_CONF_DIR or SPARK_DIST_CLASSPATH,
  and a default conf directory of `*.template` files only.  Then
  SPARK_CONF_DIR points at an empty directory in the cache for the
  launch (the JVM writes no archive while a non-empty directory is on
  the classpath).  Any other setup, an unwritable cache, or a session
  the caller built starts exactly as before.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import re
import shutil
import subprocess
from dataclasses import dataclass

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


# -- class archive ---------------------------------------------------------

CACHE_NAME = "semantic_query_engine_spark"
# the JVM's [cds] warnings (one per signed jar while writing) would land
# on the caller's output
_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
# what the launcher puts on the classpath besides the jars
_CLASSPATH_ENV = ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
# seconds the exit hook waits for the writing JVM (5-25 s measured)
_WRITER_WAIT_S = 60


def cache_dir(env=os.environ) -> str:
    base = env.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, CACHE_NAME)


def _java(env) -> str | None:
    """The java binary bin/spark-class runs."""
    java = os.path.join(env["JAVA_HOME"], "bin", "java") if env.get("JAVA_HOME") else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def _compressed_oops(heap: str) -> bool:
    """Whether a JVM whose heap is `heap` (a spark.driver.memory string,
    MiB without a unit) uses compressed object pointers: below 32 GiB.
    The JDK's base archive differs between the two modes, so a JVM
    does not use an archive written in the other one."""
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", heap.strip().lower())
    shift = {"k": 10, "": 20, "m": 20, "g": 30, "t": 40}
    return m is None or int(m.group(1)) << shift[m.group(2)] < 32 << 30


def archive_key(spark_home: str, env=os.environ, heap: str = "") -> str | None:
    """A digest of what the archive's classes come from: the Java
    runtime and its pointer mode at heap `heap`, the pyspark version,
    the classpath jars (names and sizes) and PYSPARK_SUBMIT_ARGS.  None
    when there is no java to key on."""
    import pyspark

    java = _java(env)
    if java is None:
        return None
    h = hashlib.sha256(
        f"{java}\n{_compressed_oops(heap)}\n{pyspark.__version__}\n"
        f"{env.get('PYSPARK_SUBMIT_ARGS', '')}\n".encode()
    )
    release = os.path.join(os.path.dirname(os.path.dirname(java)), "release")
    if os.path.isfile(release):
        with open(release, "rb") as f:
            h.update(f.read())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)) if os.path.isdir(jars) else ():
        h.update(f"{name} {os.path.getsize(os.path.join(jars, name))}\n".encode())
    return h.hexdigest()[:20]


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


def _take_lock(lock: str, pid: int) -> bool:
    """Create `lock` holding `pid`, O_EXCL.  A lock whose pid is dead is
    taken over once; a live one is left alone."""
    for _ in range(2):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            try:
                with open(lock) as f:
                    holder = int(f.read().strip() or 0)
            except (OSError, ValueError):
                holder = 0
            if holder > 0 and _pid_alive(holder):
                return False
            _remove(lock)
            continue
        except OSError:
            return False
        with os.fdopen(fd, "w") as f:
            f.write(str(pid))
        return True
    return False


@dataclass(frozen=True)
class ClassArchive:
    """How one JVM launch uses the class archive at `path`.  A launch
    that writes it (`tmp` set) holds the writer lock `path + '.lock'`;
    the JVM writes `tmp`, and `finish` turns it into the archive."""

    path: str
    conf_dir: str
    tmp: str | None = None

    @property
    def options(self) -> str:
        """The JVM options, for spark.driver.extraJavaOptions."""
        flag = (
            f"-XX:ArchiveClassesAtExit={self.tmp}" if self.tmp else f"-XX:SharedArchiveFile={self.path}"
        )
        return f"{flag} {_CDS_QUIET}"

    def finish(self, status: int | None) -> None:
        """The writing JVM exited with `status` (None: it did not exit,
        or never started).  Only a clean exit promotes its file, by an
        atomic rename: a file a JVM did not finish writing must never
        be mapped (JDK 17 crashes with SIGBUS on a truncated archive)."""
        if self.tmp is None:
            return
        try:
            if status == 0 and os.path.isfile(self.tmp):
                # on disk before the name points at it: a crash of the
                # machine must not leave a named, unwritten archive
                fd = os.open(self.tmp, os.O_RDONLY)
                try:
                    os.fsync(fd)
                finally:
                    os.close(fd)
                os.replace(self.tmp, self.path)
        finally:
            _remove(self.tmp)
            _remove(self.path + ".lock")


def class_archive(
    env=os.environ, spark_home: str | None = None, pid: int | None = None, heap: str = ""
):
    """The archive use for a JVM with heap `heap` launched now (see the
    module docstring), or None for a launch exactly as without one.
    When the archive is absent this takes the writer lock for process
    `pid`; a held lock means None."""
    if any(env.get(k) for k in _CLASSPATH_ENV):
        return None
    if spark_home is None:
        from pyspark.find_spark_home import _find_spark_home

        spark_home = _find_spark_home()
    cache = cache_dir(env)
    conf_dir = os.path.join(cache, "conf")
    try:
        default_conf = os.path.join(spark_home, "conf")
        if os.path.isdir(default_conf) and not all(
            n.endswith(".template") for n in os.listdir(default_conf)
        ):
            return None
        key = archive_key(spark_home, env, heap)
        # the launcher splits extraJavaOptions on white space and quotes
        if key is None or any(c in cache for c in " \t\n'\"\\"):
            return None
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir) or not os.access(cache, os.W_OK):
            return None
    except OSError:
        return None
    path = os.path.join(cache, f"classes-{key}.jsa")
    if os.path.isfile(path):
        return ClassArchive(path, conf_dir)
    pid = os.getpid() if pid is None else pid
    if not _take_lock(path + ".lock", pid):
        return None
    # temp files of writers that died before promoting theirs
    for stale in glob.glob(glob.escape(path) + ".*.tmp"):
        writer = stale[len(path) + 1 : -len(".tmp")]
        if writer.isdigit() and not _pid_alive(int(writer)):
            _remove(stale)
    return ClassArchive(path, conf_dir, f"{path}.{pid}.tmp")


def _write_at_exit(archive: ClassArchive, proc) -> None:
    """Interpreter exit of the process whose JVM writes the archive:
    stop the session, close the gateway's stdin (the JVM exits on EOF),
    wait a bounded time, and promote the file on a clean exit.  A JVM
    the caller already stopped and waited for just reports its status."""
    from pyspark import SparkContext

    status = None
    try:
        if proc.poll() is None:
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
            try:
                SparkContext._gateway.shutdown()
            except Exception:  # noqa: BLE001 - the JVM may already be gone
                pass
            proc.stdin.close()
        try:
            status = proc.wait(timeout=_WRITER_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    finally:
        archive.finish(status)


def get_spark(app_name: str = "semantic-query-engine-spark") -> SparkSession:
    """Return the active session if one exists (the driver harness owns its
    own session), else build one with `resources()`.  A built session
    also drops the stage id from generated class names
    (`spark.sql.codegen.useIdInClassName=false`), so a search over an
    index that gained an upload reuses its compiled code; a session
    the caller built keeps its own codegen settings.

    A JVM launched here starts from the machine's class archive in
    `cache_dir()` when `class_archive()` allows it (see the module
    docstring): ~5 s sooner.  Without one, this start writes it, ~4 s
    slower, plus 5-25 s at interpreter exit while an exit hook waits
    for the JVM to finish the file; a file whose JVM did not exit
    cleanly is discarded, since a truncated archive crashes JDK 17
    (SIGBUS)."""
    from pyspark import SparkContext

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
    # JVM options only act when this call launches the JVM: not when
    # one runs already, or spark-submit started this process from one
    launches = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    archive = class_archive(heap=memory) if launches else None
    if archive is None:
        spark = builder.getOrCreate()
    else:
        builder = builder.config("spark.driver.extraJavaOptions", archive.options)
        os.environ["SPARK_CONF_DIR"] = archive.conf_dir
        try:
            spark = builder.getOrCreate()
        except Exception:
            archive.finish(None)
            if archive.tmp is not None:
                raise
            # the JVM died mapping the archive, which a damaged one does
            # (a truncated one: SIGBUS).  Drop it, so a later start
            # writes a new one, and start without it.
            _remove(archive.path)
            spark = builder.config("spark.driver.extraJavaOptions", "").getOrCreate()
        finally:
            del os.environ["SPARK_CONF_DIR"]
        if archive.tmp is not None:
            atexit.register(_write_at_exit, archive, SparkContext._gateway.proc)
    spark.sparkContext.setLogLevel("WARN")
    return spark
