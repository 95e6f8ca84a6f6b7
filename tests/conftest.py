from __future__ import annotations

import pytest

from car_etl_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # sized like every other session: $SPARK_GRAFT_CPUS cores and as
    # many shuffle partitions (see session.default_parallelism)
    spark = get_spark("car-etl-spark-tests")
    yield spark
    spark.stop()
