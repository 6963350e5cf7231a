"""Differential test: every registered query vs its DuckDB oracle at
sf0.001 (fast tier of the driver's t2 gate; the full sf0.01 run is
tools/check_oracle.py).
"""

from __future__ import annotations

import duckdb
import pytest

from m2_b3_market_data_pipeline_spark.plans import all_queries

from conftest import SF_DIR

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _canon_frame(df):
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
    from check_oracle import _rowset

    return _rowset(df)


@pytest.mark.parametrize("name", sorted(all_queries.ORACLES))
def test_query_matches_oracle(spark, duck, name):
    sdf = all_queries.QUERIES[name](spark, SF_DIR).toPandas()
    odf = duck.execute(all_queries.ORACLES[name]).df()
    scols, srows = _canon_frame(sdf)
    ocols, orows = _canon_frame(odf)
    assert scols == ocols, f"schema mismatch: {scols} vs {ocols}"
    assert len(srows) == len(orows), f"rowcount {len(srows)} vs {len(orows)}"
    assert srows == orows


@pytest.mark.parametrize("name", sorted(set(all_queries.QUERIES) - set(all_queries.ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = all_queries.QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0 and len(df.columns) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_trending_daily_oracle_is_deterministic_on_adversarial_events(tmp_path):
    """The trending_daily oracle keeps the NULL-day group of the
    adversarial fixture's NULL-ts event under parallel DuckDB: 30 fresh
    4-thread connections each return the 1-thread result."""
    import pathlib
    import sys

    import pyarrow as pa
    import pyarrow.parquet as pq

    sys.path.insert(0, str(pathlib.Path(__file__).parents[1] / "tools"))
    from make_adversarial_data import PLANTS

    table = pq.read_table(f"{SF_DIR}/events.parquet")
    table = pa.concat_tables(
        [table, pa.Table.from_pylist(PLANTS["events"], schema=table.schema)]
    )
    path = tmp_path / "events.parquet"
    pq.write_table(table, path, compression="snappy")

    def run(threads: int):
        con = duckdb.connect(config={"threads": threads})
        try:
            con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")
            return _canon_frame(con.execute(all_queries.ORACLES["trending_daily"]).df())
        finally:
            con.close()

    want = run(1)
    for _ in range(30):
        assert run(4) == want
