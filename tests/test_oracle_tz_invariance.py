"""Every oracle must be timezone-invariant: the drivers never pin
DuckDB's SESSION TimeZone, so any oracle whose result depends on it
(e.g. a TIMESTAMPTZ→TIMESTAMP cast from to_timestamp) silently
diverges on non-UTC machines. r3 caught exactly one such oracle
(events_sliding_15m_5m); this sweep keeps the property for every
future oracle. DuckDB-only — no Spark session, runs in seconds."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import duckdb
import pytest

from projetbigdata_spark import registry
from tests.conftest import SF_CHECK, TABLES
from tools.local_correctness import _value_hash

_, ORACLES = registry.collect()


def _run_all(tz: str) -> dict[str, str]:
    con = duckdb.connect()
    con.execute(f"SET TimeZone='{tz}'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_CHECK}/{t}.parquet')"
        )
    out = {n: _value_hash(con.execute(sql).df()) for n, sql in ORACLES.items()}
    con.close()
    return out


ZONES = ["America/New_York", "Asia/Tokyo"]


@pytest.fixture(scope="module")
def hashes():
    """UTC and every swept zone, one connection each, run concurrently
    (DuckDB releases the GIL while a query executes)."""
    zones = ["UTC", *ZONES]
    with ThreadPoolExecutor(len(zones)) as pool:
        return dict(zip(zones, pool.map(_run_all, zones)))


@pytest.mark.parametrize("tz", ZONES)
def test_every_oracle_is_timezone_invariant(hashes, tz):
    utc, other = hashes["UTC"], hashes[tz]
    drifted = sorted(n for n in utc if utc[n] != other[n])
    assert not drifted, (
        f"oracles shift under TimeZone={tz}: {drifted} — see the "
        "to_timestamp gotcha in .claude/skills/verify/SKILL.md"
    )
