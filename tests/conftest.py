import os
import shutil
import tempfile

import pytest


@pytest.fixture(scope="session")
def spark():
    from aarhus_spark.session import get_spark
    s = get_spark(app_name="aarhus-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tmpdir_session():
    d = tempfile.mkdtemp(prefix="aarhus_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


# Spark's own defaults for every SQL setting get_spark tunes
_ENGINE_SQL_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
)


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "default_session: runs engine ops in a session at Spark's "
        "default SQL config (Arrow conversion off, AQE untuned); select with "
        "-m default_session")


@pytest.fixture(scope="session")
def default_spark(spark):
    """``spark.newSession()`` with every SQL setting get_spark tunes
    unset, so Arrow conversion is off and AQE runs at its defaults. It
    shares the SparkContext (and its workers) with ``spark``."""
    s = spark.newSession()
    for key in _ENGINE_SQL_CONFS:
        s.conf.unset(key)
    assert s.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "false"
    return s
