"""A dead driver JVM costs one test: the first test here kills it and
sees the Py4J connection loss (a Py4J error on a pooled connection,
a refused connection on a new one); the ``spark`` fixture hands the
next test a rebuilt session (tests/conftest.py)."""

from __future__ import annotations

import os
import signal

import pytest
from py4j.protocol import Py4JError


def test_killed_jvm_raises_py4j_error(spark):
    proc = spark.sparkContext._gateway.proc
    os.kill(proc.pid, signal.SIGKILL)
    proc.wait(timeout=60)
    with pytest.raises((Py4JError, ConnectionError)):
        spark.range(3).count()


def test_fixture_rebuilds_session_after_jvm_loss(spark):
    assert spark.range(1000).selectExpr("sum(id) AS s").collect()[0].s == 499500
