"""Oracle-side health gate: every DuckDB oracle must be cheap on its own.

The correctness gate runs each oracle once per round, so a
pathologically slow oracle doesn't fail — it silently eats the round's
time budget. The concrete hazard is DuckDB's default CTE inlining: a
shared CTE referenced N times re-evaluates its whole upstream chain N
times, which turns an iterative recipe (power iteration, deflation,
PageRank) into exponential work unless the shared stages are
``AS MATERIALIZED`` (pca_top2_scores measured 666 s → 0.1 s at
sf0.001). This gate pins the property for every oracle, so the next
deep-chain oracle fails loudly here instead of stalling the driver.
"""

import time

import duckdb
import pytest

import __spark_entry__ as entrymod
from shopify_etl_spark.plans.catalog import TABLES

SF_DIR = "/root/testdata/sf0.001"
# generous per-oracle ceiling: the whole 190-oracle sweep runs ~13 s on
# 4 vCPU, no oracle over ~1 s; anything near the ceiling is already
# pathological at this SF
MAX_SECS = 8.0


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def test_every_oracle_runs_fast_alone(con):
    slow, errors = {}, {}
    for name, sql in entrymod.oracle_sql().items():
        t0 = time.time()
        try:
            con.execute(sql).fetchall()
        except Exception as e:  # noqa: BLE001
            errors[name] = str(e)[:120]
            continue
        dt = time.time() - t0
        if dt > MAX_SECS:
            slow[name] = round(dt, 1)
    assert not errors, errors
    assert not slow, f"oracles need AS MATERIALIZED on shared CTEs: {slow}"


def test_every_oracle_has_a_query(con):
    q = set(entrymod.queries())
    o = set(entrymod.oracle_sql())
    assert not o - q, f"oracles without a queries() entry: {o - q}"
    assert not q - o, f"queries without an oracle: {q - o}"


def test_entry_contract_smoke(spark):
    """The driver's smoke check, pinned locally: entry(spark) runs the
    flagship query on sf0.001 and returns a non-empty DataFrame with a
    stable schema; every oracle key has a queries() twin."""
    df = entrymod.entry(spark)
    assert df.columns, "entry() must return a schema'd DataFrame"
    assert df.count() > 0
    assert set(entrymod.oracle_sql()) <= set(entrymod.queries())
