from __future__ import annotations

import os

import pytest

from wod_ascii_to_parquet_spark_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_DIR_001 = "/root/testdata/sf0.001"
SF_DIR_01 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # local[N] and N shuffle partitions, N from SPARK_GRAFT_CPUS (the host's
    # core count when unset), as get_spark sizes every session it builds.
    spark = get_spark(app_name="tests", extra_confs={"spark.driver.memory": "8g"})
    yield spark
