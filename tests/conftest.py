import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_TEST_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_configure(config):
    # informational only: slow tests run in the default selection
    config.addinivalue_line(
        "markers", "slow: long-running sweep (runs by default; not deselected)"
    )


@pytest.fixture(scope="session")
def spark():
    from crawler_spark.session import get_spark

    s = get_spark("crawler-spark-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_TEST_DIR
