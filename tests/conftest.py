"""Shared fixtures: one SparkSession per test run, a DuckDB oracle
over the sf0.01 tables, and ``assert_matches_oracle``, which applies
the driver's own gate (row count, sorted column names, an
order-insensitive hash of values and their kinds) from
``tools/local_correctness``."""

from __future__ import annotations

import os

import duckdb
import pytest

from projetbigdata_spark.sources.catalog import TABLES
from tools.local_correctness import compare, mismatch

SF_SMOKE = "/root/testdata/sf0.001"
SF_CHECK = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from projetbigdata_spark.session import get_spark

    s = get_spark("projetbigdata-tests")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_CHECK}/{t}.parquet')"
        )
    yield con
    con.close()


def assert_matches_oracle(spark_df, oracle_con, sql, name=""):
    """The driver's gate (``tools/local_correctness.compare``) on the
    collected Spark frame against the oracle's."""
    rec = compare(spark_df.toPandas(), oracle_con.execute(sql).df())
    assert rec["status"] == "pass", f"{name}: {mismatch(rec)}"
