"""The driver's correctness gate on the tuned session: every
registered query with an oracle runs at sf0.01 and must pass
``tools/local_correctness.compare`` against DuckDB (row count, sorted
column names, an order-insensitive hash of every value and its kind,
so an int column the oracle turns into a double fails). The same
tool runs the gate on the driver's vanilla session.

The same run holds each budgeted query's shuffle-write bytes under
its ceiling in tools/shuffle_report.py. Exchange counts
(tests/test_plans.py) catch a NEW shuffle; the byte budget catches
the same shuffle getting fatter: lost column pruning, lost map-side
partial aggregation, a raw string shuffling where an 8-byte hashed
key used to."""

from __future__ import annotations

import duckdb
import pytest

from perfbench.datagen import generate
from projetbigdata_spark import registry
from projetbigdata_spark.plans.introspect import shuffle_write
from tests.conftest import SF_CHECK, assert_matches_oracle
from tools.shuffle_report import budget_for

QUERIES, ORACLES = registry.collect()
CHECKED = sorted(n for n in QUERIES if n in ORACLES)
ROWS_ONLY = sorted(n for n in QUERIES if n not in ORACLES)
BYTE_BUDGET_MB = budget_for(SF_CHECK)


@pytest.mark.parametrize("name", CHECKED)
def test_query_matches_oracle(spark, oracle, name):
    def run():
        df = QUERIES[name](spark, SF_CHECK)
        assert_matches_oracle(df, oracle, ORACLES[name], name=name)

    if name not in BYTE_BUDGET_MB:
        return run()
    # the span covers the build: eager localCheckpoint jobs run there
    mb = shuffle_write(spark, run).bytes / 1e6
    assert mb <= BYTE_BUDGET_MB[name], (
        f"{name}: shuffle write {mb:.2f} MB > {BYTE_BUDGET_MB[name]} MB "
        "budget — same-shuffle fattening?"
    )


def test_q3_half_cent_revenue_matches_oracle(spark, tmp_path):
    """Seed 41's top 10 holds order 10981, whose exact revenue
    414078.415 lies on a half cent: a double sum rounded it to .41
    where DuckDB gave .42."""
    sf = generate(str(tmp_path / "seed41"), 41)
    name = "q3_shipping_priority"
    with duckdb.connect() as con:
        for t in ("customer", "orders", "lineitem"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
            )
        assert_matches_oracle(QUERIES[name](spark, sf), con, ORACLES[name], name=name)


def test_every_byte_budget_is_oracle_checked():
    assert set(BYTE_BUDGET_MB) <= set(CHECKED)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_query_runs(spark, name):
    df = QUERIES[name](spark, SF_CHECK)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
