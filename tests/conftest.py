import os

import pytest

from etl_zero_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # One task slot per core the run was given (SPARK_GRAFT_CPUS, as the
    # tier-1 command exports it); local[32] when unset. Oversubscribing a
    # small host forks a Python worker per slot for every Arrow stage and
    # makes the suite several times slower. bench.py and
    # tools/time_query.py read the variable the same way.
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or "32"
    s = get_spark(app_name="etl-zero-spark-tests", master=f"local[{cpus}]")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
