from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The engine's 24g driver default is sized for a large host; the suite's
# sf0.01 data needs far less, and an uncapped heap grows past the RAM of
# a 16 GB machine over a full run.  Must be set before stonedb_spark
# reads it at import.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")

from stonedb_spark import get_spark  # noqa: E402
from stonedb_spark.testing import duckdb_connection  # noqa: E402

# Correctness tests run at sf0.01 (the driver's gate scale); override with
# SPARK_GRAFT_TEST_SF_DIR for quicker sf0.001 smoke runs.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("stonedb_spark-tests")
    yield spark


@pytest.fixture(scope="session")
def oracle():
    con = duckdb_connection(SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
