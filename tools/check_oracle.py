"""Local stand-in for the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same sf directory, then compares row count, schema (column names,
sorted), and an order-insensitive value comparison. Exit code 1 on any
mismatch.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _canon(val):
    """Canonicalize a cell for order-insensitive comparison."""
    if val is None:
        return "∅"
    if isinstance(val, float):
        if math.isnan(val):
            return "∅"
        if val == 0:
            val = 0.0  # -0.0 == 0.0 numerically; don't let the sign print
        # driver-style tolerance: compare floats at 6 significant-ish digits
        return f"{val:.6f}" if abs(val) < 1e10 else f"{val:.6e}"
    if isinstance(val, bytes):
        return val.hex()
    if hasattr(val, "isoformat"):
        return val.isoformat()
    if isinstance(val, (list, tuple)):
        return "[" + ",".join(_canon(v) for v in val) + "]"
    return str(val)


def _rowset(df) -> tuple[list[str], list[tuple]]:
    import pandas as pd  # noqa: F401

    cols = sorted(df.columns)
    rows = [tuple(_canon(v) for v in row) for row in df[cols].itertuples(index=False, name=None)]
    rows.sort()
    return cols, rows


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as e
    from m2_b3_market_data_pipeline_spark.session import get_spark

    spark = get_spark("oracle-check", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        # Fixture tables are single parquet FILES; Spark-written scale
        # dirs (tools/make_scale_data.py) are DIRECTORIES of part
        # files — glob the latter so the gate runs on both layouts.
        path = f"{sf_dir}/{t}.parquet"
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    qs, oracles = e.queries(), e.oracle_sql()
    failed, passed, rows_only = [], [], []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            frame = fn(spark, sf_dir)
            sdf = frame.toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {ex}")
            failed.append(name)
            continue
        finally:
            from m2_b3_market_data_pipeline_spark.operators.dedup import release_cached

            try:
                release_cached(frame)
            except NameError:
                pass
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows, cols={sorted(sdf.columns)} ({time.time()-t0:.1f}s)")
            rows_only.append(name)
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {ex}")
            failed.append(name)
            continue
        scols, srows = _rowset(sdf)
        ocols, orows = _rowset(odf)
        problems = []
        if scols != ocols:
            problems.append(f"schema spark={scols} oracle={ocols}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if not problems and srows != orows:
            diff = [(a, b) for a, b in zip(srows, orows) if a != b][:3]
            problems.append(f"values differ, first diffs: {diff}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failed.append(name)
        else:
            print(f"PASS {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            passed.append(name)

    print(f"\n{len(passed)} passed, {len(rows_only)} rows-only, {len(failed)} failed")
    if failed:
        print("failed:", failed)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
