"""The registry's timestamp queries give the DuckDB oracle's answers in a
session whose timezone is not UTC, and leave that session's conf as they
found it (the caller's session is not the engine's to change)."""

import importlib.util
import pathlib

import duckdb
import pytest

import __spark_entry__ as entry_mod
from tests.conftest import spark  # noqa: F401
from tests.test_entry_contract import SF

ROOT = pathlib.Path(__file__).resolve().parent.parent
_spec = importlib.util.spec_from_file_location(
    "check_oracle", ROOT / "tools" / "check_oracle.py"
)
check_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracle)

TIMESTAMP_QUERIES = [
    "trip_stats", "colocation", "geofence", "emerging_hotspots",
    "pricing_summary",
]


@pytest.fixture(scope="module")
def new_york(spark):  # noqa: F811
    s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/New_York")
    return s


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in check_oracle.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", TIMESTAMP_QUERIES)
def test_query_matches_oracle_in_new_york(new_york, duck, name):
    before = new_york.conf.getAll
    got = entry_mod.queries()[name](new_york, SF).toPandas()
    assert new_york.conf.getAll == before
    assert new_york.conf.get("spark.sql.session.timeZone") == "America/New_York"
    want = duck.execute(entry_mod.oracle_sql()[name]).df()
    assert check_oracle.canonicalize(got) == check_oracle.canonicalize(want)
