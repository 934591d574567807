from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# py4j protocol: memory command "m", delete subcommand "d"
_PY4J_RELEASE = "m\nd\n"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from semantic_query_engine_spark.session import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def count_py4j_calls(spark, monkeypatch):
    """`count(fn)` runs `fn()` and returns how many Python-to-JVM
    (py4j `send_command`) calls were made meanwhile, not counting the
    commands that release a freed `JavaObject`.  PySpark's py4j client
    queues a release for every freed `JavaObject`, and a finalizer
    thread sends the queue on its own 1-s timer; how many releases land
    inside the window depends on garbage earlier code left, not on
    `fn`."""

    def count(fn) -> int:
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        calls = 0

        def counting(command, *args, **kwargs):
            nonlocal calls
            if not command.startswith(_PY4J_RELEASE):
                calls += 1
            return send(command, *args, **kwargs)

        with monkeypatch.context() as m:
            m.setattr(client, "send_command", counting)
            fn()
        assert client.send_command == send
        return calls

    return count
