import os

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
