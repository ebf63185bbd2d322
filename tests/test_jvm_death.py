"""A Tier-1 run stops when the driver JVM dies, instead of letting every
later test fail on its own connection error (``tests/conftest.py``'s
``pytest_runtest_makereport`` hook)."""

from __future__ import annotations

import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_dead_driver_jvm_stops_the_run(pytester, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "1")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "512m")
    monkeypatch.setenv("PYTHONPATH", REPO, prepend=os.pathsep)
    pytester.makeconftest("from tests.conftest import *  # noqa: F401,F403\n")
    pytester.makepyfile(
        """
        def test_halts_driver_jvm(spark):
            spark.sparkContext._jvm.java.lang.Runtime.getRuntime().halt(1)

        def test_after_the_jvm_is_gone(spark):
            spark.range(3).count()

        def test_not_using_spark():
            pass
        """
    )
    result = pytester.runpytest_subprocess("-p", "no:cacheprovider", timeout=300)
    outcomes = result.parseoutcomes()
    assert result.ret != 0
    assert outcomes.get("failed") == 1, outcomes
    assert "passed" not in outcomes, outcomes
    result.stdout.fnmatch_lines(["*Spark driver JVM is gone*test_halts_driver_jvm*"])
