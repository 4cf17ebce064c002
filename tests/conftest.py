from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from pgosm_flex_spark.session import get_spark

    s = get_spark("pgosm-flex-spark-tests", shuffle_partitions=8)
    yield s


SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
