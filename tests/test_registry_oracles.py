"""Oracle replay for the pytest-carried registry entries (VERDICT r04 #1).

The round driver executes at most 50 registry entries; the entries past
that cap are registered with ``driver=False``. This test replays each of
them against its DuckDB oracle EXACTLY the way the driver does
(column-name-sorted, stringified, order-insensitive row compare), so
demotion loses zero oracle coverage — plus a contract test that the
driver-facing registry stays at the cap with the least-proven family first.
"""

from pathlib import Path

import duckdb
import pytest

from extract_address_ner_spark import entry_queries as EQ
from extract_address_ner_spark import entry_queries_data  # noqa: F401
from extract_address_ner_spark import entry_queries_streaming  # noqa: F401

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

DRIVER_CAP = 50


@pytest.fixture(scope="module")
def duck(sf_smoke):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_smoke}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    yield con
    con.close()


def _spark_rows(df):
    return sorted(
        tuple(str(x) for x in r)
        for r in df.select(*sorted(df.columns)).collect()
    )


def _duck_rows(con, sql):
    od = con.execute(sql).fetch_df()
    return sorted(
        tuple(str(x) for x in r)
        for r in od[sorted(od.columns)].itertuples(index=False)
    )


@pytest.mark.parametrize("name", sorted(EQ._PYTEST_REGISTRY))
def test_demoted_query_matches_oracle(spark, sf_smoke, duck, name):
    fn, oracle = EQ._PYTEST_REGISTRY[name]
    assert oracle is not None, f"{name}: demoted entry lost its oracle"
    srows = _spark_rows(fn(spark, sf_smoke))
    orows = _duck_rows(duck, oracle)
    assert len(srows) > 0, f"{name}: empty result"
    assert srows == orows, f"{name}: spark/oracle row sets differ"


def test_driver_registry_at_cap_streaming_first():
    """The driver-facing registry must stay exactly at the driver's observed
    cap (CORRECTNESS_r04 recorded the first 50 of 56 registered entries and
    silently dropped the rest) with the streaming/incremental family ordered
    first, and every entry must carry an oracle."""
    q = EQ.queries()
    assert len(q) == DRIVER_CAP, (
        f"driver-facing registry has {len(q)} entries; the driver checks "
        f"only {DRIVER_CAP} — demote equivalence-pinned variants with "
        "register(..., driver=False) instead of exceeding the cap"
    )
    names = list(q)
    assert names[: len(EQ._DRIVER_FIRST)] == [
        n for n in EQ._DRIVER_FIRST if n in q
    ]
    assert set(EQ.oracle_sql()) == set(names)
    # no name may be registered on both sides
    assert not set(EQ._PYTEST_REGISTRY) & set(names)
