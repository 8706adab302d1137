from __future__ import annotations

import pytest
from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.sql import SparkSession

from data_mining_map_reduce_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

_session: SparkSession | None = None


def _alive(s: SparkSession) -> bool:
    try:
        return not s.sparkContext._jsc.sc().isStopped()
    except (Py4JError, ConnectionError):
        return False


def _live_spark() -> SparkSession:
    """The suite's one session, rebuilt when its JVM is gone: after a
    Py4J connection loss PySpark still holds the dead gateway and
    session, so they are cleared before ``get_spark`` launches a new
    JVM. Only the test that lost the JVM fails."""
    global _session
    if _session is not None and not _alive(_session):
        try:
            SparkContext._gateway.shutdown()
        except Exception:  # noqa: BLE001 - the peer is already gone
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        SparkContext._active_spark_context = None
        SparkSession._instantiatedSession = None
        SparkSession._activeSession = None
        _session = None
    if _session is None:
        _session = get_spark(app_name="tests")
    return _session


@pytest.fixture()
def spark():
    return _live_spark()


@pytest.fixture(scope="module")
def module_spark():
    """``spark`` for module-scoped fixtures (same session)."""
    return _live_spark()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
