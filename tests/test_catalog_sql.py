"""Catalog + spark.sql surface: the Athena-replacement workflow
(reference: README.md:270-296 — SHOW / DESCRIBE / SELECT over cataloged
tables).
"""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException, ParseException

from m2_b3_market_data_pipeline_spark.plans.ohlcv import derive_ohlcv, load_events
from m2_b3_market_data_pipeline_spark.plans.pipeline import refined
from m2_b3_market_data_pipeline_spark.sources.catalog import (
    register_parquet_table,
    register_testdata_views,
    show_tables,
)
from m2_b3_market_data_pipeline_spark.sources.parquet_io import write_refined


def test_athena_replacement_workflow(spark, sf_dir, tmp_path):
    """Write refined -> register table -> repair partitions -> run the
    documented interactive queries via spark.sql."""
    out = refined(derive_ohlcv(load_events(spark, sf_dir)), run_date="2026-01-01")
    path = str(tmp_path / "refined")
    write_refined(out, path)
    register_parquet_table(spark, "refined_quotes", path)
    try:
        # Q4 surface
        tables = {r.tableName for r in show_tables(spark).collect()}
        assert "refined_quotes" in tables
        desc = {r.col_name for r in spark.sql("DESCRIBE refined_quotes").collect()}
        assert {"mm_7d", "avg_close_price", "ativo"} <= desc
        # Q2/Q3 surface: partition-pruned filter + order + limit
        rows = spark.sql(
            """
            SELECT date, close_price, mm_7d FROM refined_quotes
            WHERE ativo = 'TICK3' ORDER BY date DESC LIMIT 30
            """
        ).collect()
        assert 0 < len(rows) <= 30
        assert rows[0].date >= rows[-1].date
        # MSCK discovered every partition (crawler replacement)
        n_parts = spark.sql("SHOW PARTITIONS refined_quotes").count()
        assert n_parts == 8
    finally:
        spark.sql("DROP TABLE IF EXISTS refined_quotes")


def test_testdata_views_queryable(spark, sf_dir):
    register_testdata_views(spark, sf_dir)
    got = spark.sql(
        "SELECT count(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    ).collect()[0].n
    assert got > 0


def test_register_keeps_names_and_location_out_of_sql_text(spark, tmp_path):
    """A location holding a quote registers and its partitions are
    discovered; a table name is one quoted identifier, so a backtick or
    SQL text in it is refused by the catalog as a name, never parsed."""
    location = str(tmp_path / "it's refined")
    spark.createDataFrame([(1, "a"), (2, "b")], "v long, p string").write.partitionBy(
        "p"
    ).parquet(location)
    register_parquet_table(spark, "quoted_location", location)
    try:
        assert spark.sql("SHOW PARTITIONS quoted_location").count() == 2
        for name in ("we`ird", "x USING json --"):
            with pytest.raises(AnalysisException) as err:
                register_parquet_table(spark, name, location)
            assert not isinstance(err.value, ParseException)
        assert {r.tableName for r in show_tables(spark).collect()} >= {"quoted_location"}
    finally:
        spark.sql("DROP TABLE IF EXISTS quoted_location")
