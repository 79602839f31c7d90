import os
import types

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
os.environ.setdefault("ADAM_SPARK_SHUFFLE_PARTITIONS", "8")

#: checkout of the reference project whose own test fixture files some
#: tests read as data; tests marked ``needs_reference`` skip without it
REFERENCE_TREE = "/root/reference"


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "needs_reference: reads the reference fixture tree"
    )


def pytest_collection_modifyitems(config, items):
    if os.path.isdir(REFERENCE_TREE):
        return
    skip = pytest.mark.skip(reason=f"needs {REFERENCE_TREE} fixture tree")
    for item in items:
        if item.get_closest_marker("needs_reference"):
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from adam_spark.session import get_spark

    s = get_spark("adam-spark-tests")
    yield s


@pytest.fixture(scope="session")
def fixtures(spark):
    """Deterministic synthetic genomic tables per FIXTURES.md."""
    from tests.genomic_fixtures import GenomicFixtures

    return GenomicFixtures(spark)


@pytest.fixture
def py4j_calls(monkeypatch):
    """Counts Python→JVM gateway commands: ``.n`` grows by one for every
    command any gateway connection sends while the test runs."""
    from py4j.clientserver import ClientServerConnection

    counter = types.SimpleNamespace(n=0)
    send = ClientServerConnection.send_command

    def counting_send(self, *args, **kwargs):
        counter.n += 1
        return send(self, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting_send)
    return counter
