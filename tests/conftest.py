import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from flink_kafka_filter_transform_spark import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_session(app_name="tests", master="local[4]", shuffle_partitions=8)
    yield s
    bench.close(s)  # also removes the face and layout scratch the tests made


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def spark_prop(spark):
    """Alias used by property tests (kept separate so they could pin a
    smaller parallelism later without touching the main fixture)."""
    return spark
