"""The suite's end-of-run summary keeps the head of every failure: node
id, exception type, Spark error condition and the start of the message,
one line each (conftest.failure_line)."""

from __future__ import annotations

import os

import pytest

pytest_plugins = ["pytester"]


def test_failure_line_of_plain_exception_folds_and_cuts_message():
    from conftest import FAILURE_MESSAGE_CHARS, failure_line

    exc = ValueError("first line\n  second\tline " + "x" * 400)
    line = failure_line("tests/t.py::test_a", exc)
    head = "tests/t.py::test_a ValueError - first line second line "
    assert line.startswith(head)
    assert "\n" not in line
    assert len(line) == len("tests/t.py::test_a ValueError - ") + FAILURE_MESSAGE_CHARS


def test_failure_line_names_spark_error_condition(spark):
    from pyspark.errors import AnalysisException

    from conftest import failure_line

    with pytest.raises(AnalysisException) as info:
        spark.sql("SELECT no_such_function(1)")
    line = failure_line("tests/t.py::test_b", info.value)
    assert line.startswith("tests/t.py::test_b AnalysisException UNRESOLVED_ROUTINE ")
    assert "no_such_function" in line


def test_failure_line_survives_a_failing_condition_lookup():
    from conftest import failure_line

    class Broken(RuntimeError):
        def getCondition(self):
            raise ConnectionError("gateway gone")

    assert failure_line("t::c", Broken("boom")) == "t::c Broken - boom"


def test_terminal_summary_prints_failure_heads(pytester):
    with open(os.path.join(os.path.dirname(__file__), "conftest.py")) as f:
        pytester.makeconftest(f.read())
    pytester.makepyfile(
        test_inner="""
        def test_ok():
            pass

        def test_bad():
            raise KeyError("missing key")
        """
    )
    result = pytester.runpytest_subprocess("-p", "no:cacheprovider")
    result.assert_outcomes(passed=1, failed=1)
    result.stdout.fnmatch_lines(["*failure heads*", "test_inner.py::test_bad KeyError - 'missing key'"])
