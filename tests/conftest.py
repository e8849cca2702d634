from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from hypothesis.configuration import set_hypothesis_home_dir

from logstash_integration_jdbc_spark.session import get_spark
from logstash_integration_jdbc_spark.sources.generator import write_fixtures

# The catalog's warehouse, embedded Derby's log and Hypothesis's storage
# (example database, unicode charmap cache) go here, not the cwd; the
# directory goes when the session ends.
_SCRATCH = tempfile.mkdtemp(prefix="ljspark-session-")
set_hypothesis_home_dir(os.path.join(_SCRATCH, "hypothesis"))


def pytest_unconfigure(config):
    shutil.rmtree(_SCRATCH, ignore_errors=True)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", extra_conf={
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.warehouse.dir": os.path.join(_SCRATCH, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Dderby.stream.error.file={os.path.join(_SCRATCH, 'derby.log')}",
    })
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    """``sf_dir("sf0.001")`` is that scale factor's generated dataset
    (TESTDATA.md); the calling test skips when it is absent."""
    def at(sf: str) -> str:
        d = os.path.join("/root/testdata", sf)
        if not os.path.isdir(d):
            pytest.skip(f"{d} is absent")
        return d
    return at


@pytest.fixture(scope="session")
def fixture_dir(spark):
    d = tempfile.mkdtemp(prefix="ljspark-fixtures-")
    write_fixtures(spark, d, n_rows=5000, seed=42)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def transcripts(spark, fixture_dir):
    return spark.read.parquet(f"{fixture_dir}/transcripts.parquet")


@pytest.fixture(scope="session")
def tool_dim(spark, fixture_dir):
    return spark.read.parquet(f"{fixture_dir}/tool_dim.parquet")


@pytest.fixture(scope="session")
def role_dim(spark, fixture_dir):
    return spark.read.parquet(f"{fixture_dir}/role_dim.parquet")
