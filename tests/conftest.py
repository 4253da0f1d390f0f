from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from top_produce_etl_spark.operators._cache import pipeline_session
from top_produce_etl_spark.session import create_spark_session

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = create_spark_session(
        "tests",
        shuffle_partitions=8,
        extra_conf={
            "spark.driver.memory": "4g",
            "spark.sql.warehouse.dir": "/tmp/spark-graft-warehouse",
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(autouse=True)
def _release_persists():
    """Each test is the caller that materializes the package's lazy
    plans, so it owns their persists: release them when it ends."""
    with pipeline_session():
        yield
