"""Catalog registration: the Glue-Crawler/Athena replacement.

The reference catalogs the refined dataset by running a Glue Crawler that
re-infers schema + partitions after every job (scripts/bootstrap_aws.sh:
51-64) and queries it through Athena (README.md:270-296). In Spark the
catalog is native: register once, ``MSCK REPAIR TABLE`` (or dynamic
``saveAsTable``) replaces the crawler, and ``spark.sql`` is a drop-in for
every documented Athena statement (SHOW DATABASES / SHOW TABLES /
DESCRIBE / SELECT..WHERE..ORDER BY..LIMIT — SURVEY.md §2.7 Q1-Q4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.ident import quote_ident


def register_parquet_table(
    spark: SparkSession,
    name: str,
    location: str,
    *,
    database: str = "default",
) -> None:
    """Register ``location`` as an external parquet table (if not yet
    registered) and discover its partitions. The names are quoted and
    the location goes through the catalog API, so neither is spliced
    into SQL text."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {quote_ident(database)}")
    table = f"{quote_ident(database)}.{quote_ident(name)}"
    if not spark.catalog.tableExists(table):
        spark.catalog.createTable(table, path=location, source="parquet")
    # Replaces the Glue Crawler's partition discovery (MSCK REPAIR TABLE).
    spark.catalog.recoverPartitions(table)


def register_testdata_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the driver fixture tables as temp views so ``spark.sql``
    queries (the Athena-surface replacement) can address them by name."""
    for table in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        spark.read.parquet(f"{sf_dir}/{table}.parquet").createOrReplaceTempView(table)


def show_tables(spark: SparkSession, database: str = "default") -> DataFrame:
    """Q4 surface (reference: README.md:275-282)."""
    return spark.sql(f"SHOW TABLES IN {quote_ident(database)}")
