import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
# The session default driver heap (48g) lets the JVM grow past what a 16 GB
# host holds once a child JVM (kill/resume, spark-submit tests) starts beside
# it, and the OOM killer then takes the test session down. The test inputs
# are small; child processes inherit this cap.
os.environ.setdefault("DEEPKG_DRIVER_MEM", "4g")

from deepkg_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("DEEPKG_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="deepkg-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
