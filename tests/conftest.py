from __future__ import annotations

import os
import sys

import duckdb
import pytest

# this checkout's engine, wherever it is cloned
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jetstream_spark.session import get_spark
from jetstream_spark.tables import TABLE_NAMES

SF_DIR = "/root/testdata/sf0.001"  # smoke SF — fast; the driver gate runs sf0.01


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("jetstream_spark_tests")
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    yield con
    con.close()
