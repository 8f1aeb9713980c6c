import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("BEEHIVE_SHUFFLE_PARTITIONS", "4")

from beehive_spark.queries import all_queries  # noqa: E402
from beehive_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
#: the directory holding every shipped scale factor (sf0.001, sf0.01, sf0.1)
TESTDATA = os.path.dirname(SF_DIR)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="beehive_spark_tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def qs():
    return all_queries()
