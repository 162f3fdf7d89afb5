from __future__ import annotations

import importlib.util
import os
import sys

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # keep test JVM light

# transformWithStateInPandas needs google.protobuf in BOTH the driver
# and the executor Python workers. When the real package is absent (no
# pip in this container), fall back to the vendored minimal runtime
# (tools/vendor/README.md): sys.path for this process, PYTHONPATH for
# the workers the JVM forks. Must happen before any SparkSession is
# built so the env propagates. The real package, when present, wins —
# this path is only added on ModuleNotFound.
_VENDOR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools", "vendor",
)
try:
    _has_protobuf = importlib.util.find_spec("google.protobuf") is not None
except ModuleNotFoundError:
    _has_protobuf = False
if not _has_protobuf and os.path.isdir(_VENDOR):
    sys.path.append(_VENDOR)
    os.environ["PYTHONPATH"] = (
        os.environ["PYTHONPATH"] + os.pathsep + _VENDOR
        if os.environ.get("PYTHONPATH")
        else _VENDOR
    )


@pytest.fixture(scope="session")
def spark():
    from finporter_spark.session import get_session

    s = get_session("finporter-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    from finporter_spark.session import load_testdata

    return load_testdata(spark, sf_dir)


@pytest.fixture
def py4j_round_trips(monkeypatch):
    """Counts py4j round trips (commands sent to the driver JVM) made while
    the test runs, read as ``py4j_round_trips.n``. Garbage-collection
    deletes (commands starting ``m\\nd\\n``) are left out: they follow
    Python's GC, not the code under test."""
    from types import SimpleNamespace

    from py4j.clientserver import ClientServerConnection

    counter = SimpleNamespace(n=0)
    send = ClientServerConnection.send_command

    def counting_send(self, command):
        if not command.startswith("m\nd\n"):
            counter.n += 1
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting_send)
    return counter
