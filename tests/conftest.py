import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from proxyhouse_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    return get_spark("tests")


@pytest.fixture()
def persistent_rdds(spark):
    """A function returning the ids of the RDDs the block manager holds
    now (``getPersistentRDDs()``)."""
    jsc = spark.sparkContext._jsc
    return lambda: {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}
