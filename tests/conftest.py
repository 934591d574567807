from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# py4j protocol: memory command "m", delete subcommand "d"
_PY4J_RELEASE = "m\nd\n"
FAILURE_MESSAGE_CHARS = 200


def failure_line(nodeid: str, exc: BaseException) -> str:
    """One line naming a failure: node id, exception type, Spark error
    condition ("-" when the exception carries none) and the first
    FAILURE_MESSAGE_CHARS characters of its message, whitespace folded.
    A JVM stack trace can fill a log's tail; this line keeps the head."""
    try:
        condition = exc.getCondition()  # PySparkException; may ask the JVM
    except Exception:  # no condition, or the JVM cannot answer
        condition = None
    message = " ".join(str(exc).split())[:FAILURE_MESSAGE_CHARS]
    return f"{nodeid} {type(exc).__name__} {condition or '-'} {message}"


@pytest.hookimpl(hookwrapper=True)
def pytest_runtest_makereport(item, call):
    outcome = yield
    report = outcome.get_result()
    if report.failed and call.excinfo is not None:
        report.failure_line = failure_line(report.nodeid, call.excinfo.value)


@pytest.hookimpl(trylast=True)
def pytest_terminal_summary(terminalreporter):
    lines = [
        r.failure_line
        for key in ("failed", "error")
        for r in terminalreporter.stats.get(key, [])
        if hasattr(r, "failure_line")
    ]
    if lines:
        terminalreporter.section("failure heads")
        for line in lines:
            terminalreporter.write_line(line)


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
