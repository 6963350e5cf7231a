from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from m2_b3_market_data_pipeline_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def registry_builds(spark, sf_dir) -> dict[str, tuple[str, bool]]:
    """Every registered query built once on ``sf_dir``, for the tests
    that inspect the whole registry: name -> (formatted physical plan,
    whether the CacheManager still held a frame after ``release_cached``).
    Building all plans takes minutes; doing it once serves every such
    test. A leaked frame is cleared so it cannot reach the next query."""
    from m2_b3_market_data_pipeline_spark.operators.dedup import release_cached
    from m2_b3_market_data_pipeline_spark.plans import all_queries

    explain = spark._jvm.PythonSQLUtils.explainString
    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    builds = {}
    for name, fn in all_queries.QUERIES.items():
        df = fn(spark, sf_dir)
        plan = explain(df._jdf.queryExecution(), "formatted")
        release_cached(df)
        leaked = not cm.isEmpty()
        if leaked:
            spark.catalog.clearCache()
        builds[name] = (plan, leaked)
    return builds
