import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("sparkplug-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture
def py4j_calls(monkeypatch):
    """Returns a callable giving the number of py4j round trips (calls of
    ``ClientServerConnection.send_command``) the test's thread has made
    since the fixture was set up; take differences around the code under
    measurement.  py4j's finalizer thread, which releases JVM objects
    whenever Python collects their proxies, is not counted."""
    import threading

    from py4j.clientserver import ClientServerConnection

    sent = 0
    owner = threading.get_ident()
    send = ClientServerConnection.send_command

    def counted(self, *args, **kwargs):
        nonlocal sent
        if threading.get_ident() == owner:
            sent += 1
        return send(self, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    return lambda: sent


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
