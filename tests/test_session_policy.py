"""Pins the streaming state-store provider policy (VERDICT r8 #6):
RocksDB is the DEFAULT on any non-local master (cluster state sizes are
unbounded; the HDFS-backed store materializes every key on-heap per
version), the heap-backed default stays on local masters (RocksDB costs
~0.7 s native-store overhead at test-SF state sizes), and an explicit
SPARK_GRAFT_STATE_STORE request wins in both directions.  Also pins the
session's machine-sized defaults (cores, driver heap) and their
deployment overrides, without building a session, and the codegen
setting of the session the package builds."""

import os

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
