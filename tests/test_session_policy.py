"""Pins the streaming state-store provider policy (VERDICT r8 #6):
RocksDB is the DEFAULT on any non-local master (cluster state sizes are
unbounded; the HDFS-backed store materializes every key on-heap per
version), the heap-backed default stays on local masters (RocksDB costs
~0.7 s native-store overhead at test-SF state sizes), and an explicit
SPARK_GRAFT_STATE_STORE request wins in both directions.  Also pins the
session's machine-sized defaults (cores, driver heap) and their
deployment overrides, without building a session, and the codegen
setting of the session the package builds.  Last, the class-archive
policy of session.get_spark: which starts read the archive, which one
writes it under the lock, which start as before, and that only a clean
JVM exit turns a written file into the archive; one test runs two
fresh processes against an empty cache."""

import os

import pytest

from semantic_query_engine_spark.session import (
    _ROCKSDB_PROVIDER,
    resources,
    state_store_provider,
)


def test_local_master_defaults_to_heap_store():
    assert state_store_provider("local[32]") is None
    assert state_store_provider("local[*]") is None
    # local-cluster is still a single-machine test harness
    assert state_store_provider("local-cluster[2,16,4096]") is None


def test_cluster_master_defaults_to_rocksdb():
    for master in ("yarn", "spark://host:7077", "k8s://https://host:443"):
        assert state_store_provider(master) == _ROCKSDB_PROVIDER


def test_explicit_request_wins_both_ways():
    assert state_store_provider("local[32]", "rocksdb") == _ROCKSDB_PROVIDER
    assert state_store_provider("yarn", "hdfs") is None
    assert state_store_provider("yarn", "default") is None
    assert state_store_provider("yarn", "ROCKSDB") == _ROCKSDB_PROVIDER


def _machine(monkeypatch, cores: int, phys_bytes: int) -> None:
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(cores)))
    sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_bytes // 4096}
    monkeypatch.setattr(os, "sysconf", lambda name: sizes[name])


def test_session_defaults_fit_the_machine(monkeypatch):
    """No variables set: local[<affinity cores>] and half of physical
    memory as the driver heap (a 4-core, 15 GiB machine gets local[4]
    and 7g, where the old defaults were local[32] and 48g)."""
    _machine(monkeypatch, 4, 15 << 30)
    assert resources({}) == ("local[4]", 4, "7g")
    _machine(monkeypatch, 64, 512 << 30)
    assert resources({}) == ("local[64]", 64, "256g")


def test_session_heap_default_is_at_least_1g(monkeypatch):
    _machine(monkeypatch, 1, 1 << 30)
    assert resources({}) == ("local[1]", 1, "1g")


def test_deployment_variables_override_the_defaults(monkeypatch):
    _machine(monkeypatch, 4, 15 << 30)
    assert resources({"SPARK_GRAFT_CPUS": "8"}) == ("local[8]", 8, "7g")
    assert resources({"SPARK_DRIVER_MEM": "2g"}) == ("local[4]", 4, "2g")
    env = {"SPARK_GRAFT_MASTER": "spark://host:7077", "SPARK_GRAFT_CPUS": "16"}
    assert resources(env) == ("spark://host:7077", 16, "7g")


def test_built_session_keeps_stage_ids_out_of_class_names(spark):
    """A union that gains a child shifts the whole-stage ids; with them
    out of the generated class names a search after an upload reuses
    its compiled code (tests/test_api.py::test_asks_reuse_compiled_code)."""
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"


# -- the class archive ---------------------------------------------------


def _archive_env(tmp_path, **extra) -> tuple[dict, str]:
    """An environment and a Spark home that the archive applies to: a
    conf directory of templates, two jars, a java binary, and the cache
    under tmp_path."""
    home = tmp_path / "spark"
    (home / "conf").mkdir(parents=True)
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    (home / "jars").mkdir()
    (home / "jars" / "a.jar").write_bytes(b"a")
    (home / "jars" / "b.jar").write_bytes(b"bb")
    (tmp_path / "jdk" / "bin").mkdir(parents=True)
    (tmp_path / "jdk" / "bin" / "java").write_text("")
    (tmp_path / "jdk" / "release").write_text('JAVA_VERSION="17"\n')
    env = {"JAVA_HOME": str(tmp_path / "jdk"), "XDG_CACHE_HOME": str(tmp_path / "cache"), **extra}
    return env, str(home)


def _dead_pid() -> int:
    import subprocess
    import sys

    child = subprocess.Popen([sys.executable, "-c", "pass"])
    child.wait()
    return child.pid


def test_archive_absent_writes_under_the_lock(tmp_path):
    from semantic_query_engine_spark.session import class_archive

    env, home = _archive_env(tmp_path)
    arch = class_archive(env, home, pid=os.getpid())
    assert arch.tmp == f"{arch.path}.{os.getpid()}.tmp"
    assert arch.options == (
        f"-XX:ArchiveClassesAtExit={arch.tmp} -Xlog:cds=off -Xlog:cds+dynamic=off"
    )
    assert arch.path.startswith(str(tmp_path / "cache" / "semantic_query_engine_spark") + "/")
    assert os.listdir(arch.conf_dir) == []
    with open(arch.path + ".lock") as f:
        assert f.read() == str(os.getpid())
    # while this process holds the lock, another start neither reads
    # nor writes
    assert class_archive(env, home, pid=12345) is None


def test_archive_present_is_read(tmp_path):
    from semantic_query_engine_spark.session import class_archive

    env, home = _archive_env(tmp_path)
    first = class_archive(env, home, pid=os.getpid())
    with open(first.tmp, "wb") as f:
        f.write(b"written")
    first.finish(0)
    assert open(first.path, "rb").read() == b"written"
    assert not os.path.exists(first.tmp) and not os.path.exists(first.path + ".lock")
    arch = class_archive(env, home, pid=os.getpid())
    assert arch.tmp is None
    assert arch.options == (
        f"-XX:SharedArchiveFile={first.path} -Xlog:cds=off -Xlog:cds+dynamic=off"
    )


def test_unclean_exit_never_promotes(tmp_path):
    """A JVM that exits non-zero, or not at all, may have left a
    truncated file, which JDK 17 maps with a SIGBUS crash: it is
    removed, never renamed to the archive."""
    from semantic_query_engine_spark.session import class_archive

    env, home = _archive_env(tmp_path)
    for status in (1, -9, None):
        arch = class_archive(env, home, pid=os.getpid())
        assert arch.tmp is not None, status
        with open(arch.tmp, "wb") as f:
            f.write(b"truncated")
        arch.finish(status)
        assert not os.path.exists(arch.path), status
        assert not os.path.exists(arch.tmp) and not os.path.exists(arch.path + ".lock")
    # a clean exit that wrote no file (the JVM could not write one)
    arch = class_archive(env, home, pid=os.getpid())
    arch.finish(0)
    assert not os.path.exists(arch.path)


def test_dead_writer_lock_is_taken_over_and_its_file_never_read(tmp_path):
    from semantic_query_engine_spark.session import class_archive

    env, home = _archive_env(tmp_path)
    dead = _dead_pid()
    killed = class_archive(env, home, pid=dead)
    with open(killed.tmp, "wb") as f:
        f.write(b"half an archive")
    arch = class_archive(env, home, pid=os.getpid())
    assert arch is not None and arch.tmp.endswith(f".{os.getpid()}.tmp")
    assert "SharedArchiveFile" not in arch.options
    assert not os.path.exists(killed.tmp)
    with open(arch.path + ".lock") as f:
        assert f.read() == str(os.getpid())


def test_archive_key_follows_the_classpath(tmp_path):
    """An archive of another classpath has another name, so a start
    never maps classes from jars that changed."""
    from semantic_query_engine_spark.session import archive_key

    env, home = _archive_env(tmp_path)
    key = archive_key(home, env)
    assert key == archive_key(home, dict(env))
    (tmp_path / "spark" / "jars" / "b.jar").write_bytes(b"bbb")
    resized = archive_key(home, env)
    (tmp_path / "spark" / "jars" / "c.jar").write_bytes(b"c")
    added = archive_key(home, env)
    other_args = archive_key(home, {**env, "PYSPARK_SUBMIT_ARGS": "--driver-class-path x pyspark-shell"})
    (tmp_path / "jdk" / "release").write_text('JAVA_VERSION="17.0.1"\n')
    other_java = archive_key(home, env)
    assert len({key, resized, added, other_args, other_java}) == 5
    # a heap of 32 GiB or more turns compressed object pointers off,
    # and the JDK's base archive with them
    assert archive_key(home, env, "3g") == archive_key(home, env, "7g") == other_java
    assert archive_key(home, env, "31g") == archive_key(home, env, "16384m") == other_java
    assert archive_key(home, env, "32g") == archive_key(home, env, "48g") != other_java


def test_other_setups_start_without_archive(tmp_path):
    """A set SPARK_CONF_DIR (or another classpath variable), a conf
    directory holding a real file, or an unwritable cache: the start is
    the one without an archive, so no setting is lost."""
    from semantic_query_engine_spark.session import class_archive

    env, home = _archive_env(tmp_path)
    for var in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH"):
        assert class_archive({**env, var: str(tmp_path)}, home, pid=os.getpid()) is None, var
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    assert class_archive({**env, "XDG_CACHE_HOME": str(blocker)}, home, pid=os.getpid()) is None
    (tmp_path / "spark" / "conf" / "spark-defaults.conf").write_text("spark.foo bar\n")
    assert class_archive(env, home, pid=os.getpid()) is None
    assert not os.path.exists(tmp_path / "cache")


_CHILD = """
import sys
sys.path.insert(0, {repo!r})
from pyspark import SparkContext
from semantic_query_engine_spark.session import get_spark

spark = get_spark("archive-child")
assert spark.range(100).count() == 100
mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print("ARGS", [a for a in mx.getInputArguments() if "Archive" in a])
print("JVM", SparkContext._gateway.proc.pid)
"""


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def test_first_start_writes_the_archive_second_reads_it(tmp_path):
    """Two fresh processes on an empty cache: the first writes the
    archive at exit, the second starts from it and runs a job.  Neither
    prints a [cds] line, and neither leaves its JVM running.  A third,
    after the archive was truncated, starts without it: its first JVM
    dies mapping the file (SIGBUS), and the start deletes the archive
    and launches again."""
    import shutil
    import subprocess
    import sys
    import time

    from pyspark.find_spark_home import _find_spark_home

    from conftest import REPO
    from semantic_query_engine_spark.session import _CLASSPATH_ENV

    conf = os.path.join(_find_spark_home(), "conf")
    if os.path.isdir(conf) and not all(n.endswith(".template") for n in os.listdir(conf)):
        pytest.skip("the Spark conf directory holds settings; no archive applies")
    drop = (*_CLASSPATH_ENV, "PYSPARK_GATEWAY_PORT")
    env = {k: v for k, v in os.environ.items() if k not in drop}
    env["XDG_CACHE_HOME"] = str(tmp_path)
    cache = tmp_path / "semantic_query_engine_spark"

    def start() -> tuple[str, str]:
        out = subprocess.run(
            [sys.executable, "-c", _CHILD.format(repo=REPO)],
            env=env, cwd=tmp_path, capture_output=True, text=True, timeout=600,
        )
        assert out.returncode == 0, out.stderr[-3000:]
        lines = out.stdout.splitlines()
        pid = int(next(line for line in lines if line.startswith("JVM")).split()[1])
        deadline = time.monotonic() + 60
        while _running(pid) and time.monotonic() < deadline:
            time.sleep(0.5)
        assert not _running(pid)
        return next(line for line in lines if line.startswith("ARGS")), out.stdout + out.stderr

    for flag in ("-XX:ArchiveClassesAtExit=", "-XX:SharedArchiveFile="):
        args, output = start()
        assert flag in args, args
        assert "[cds]" not in output
        archives = [n for n in os.listdir(cache) if n.endswith(".jsa")]
        assert len(archives) == 1 and os.path.getsize(cache / archives[0]) > 1 << 20
        assert sorted(os.listdir(cache)) == sorted([*archives, "conf"])
    archive = cache / archives[0]
    os.chmod(archive, 0o644)
    os.truncate(archive, os.path.getsize(archive) // 2)
    args, _ = start()
    assert args == "ARGS []", args
    assert os.listdir(cache) == ["conf"]
    shutil.rmtree(cache)  # 140+ MB that pytest would keep under its base temp
