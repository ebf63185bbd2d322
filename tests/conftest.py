from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from hbase_observer_elasticsearch_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"

pytest_plugins = ("pytester",)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


def _lost_gateway(exc: BaseException | None) -> bool:
    """Whether a failure chains from a lost py4j gateway (a network error
    or py4j's bare call error, not a Java exception, which means the JVM
    answered) and the driver JVM no longer answers."""
    from py4j.protocol import Py4JError, Py4JJavaError
    from pyspark import SparkContext

    lost = (ConnectionError, EOFError, Py4JError)
    while exc is not None and (
        not isinstance(exc, lost) or isinstance(exc, Py4JJavaError)
    ):
        exc = exc.__cause__ or exc.__context__
    sc = SparkContext._active_spark_context
    if exc is None or sc is None:
        return False
    try:
        sc._jvm.java.lang.System.currentTimeMillis()
        return False
    except Exception:
        return True


@pytest.hookimpl(hookwrapper=True)
def pytest_runtest_makereport(item, call):
    """Stop the run once the driver JVM is dead: every later test shares
    the session's ``spark`` and would fail on its own."""
    report = (yield).get_result()
    if report.failed and call.excinfo and _lost_gateway(call.excinfo.value):
        item.session.shouldstop = (
            f"Spark driver JVM is gone (first seen in {item.nodeid}); "
            "stopping instead of failing every later test"
        )
