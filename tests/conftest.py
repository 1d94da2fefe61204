import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from shopify_etl_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # local[8] (was local[4] through r17): the suite must finish inside
    # the verify budget (VERIFY_r17, at 1814ba1 in git history, truncated
    # at 81%), and the Spark-bound e2e tests scale with session cores on
    # the 32-core box.
    # shuffle_partitions stays 4 — plan shapes and AQE sizing unchanged.
    spark = get_spark("tests", master="local[8]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def catalog_plans(spark):
    """One build per catalog query for the whole session (see
    tests/_plan_cache.py): formatted final plan + captured subtree plans
    + column list, shared by the plan gate and the catalog-hygiene
    tests so no test rebuilds a builder it only needs the plan of."""
    from tests._plan_cache import build_catalog_plans

    return build_catalog_plans(spark, SF_DIR)
