"""Guards the driver contract: bare SparkSession + first-50 check window.

The correctness driver constructs its OWN SparkSession with none of the
confs from ``session.py`` and hash-checks only the FIRST 50 registered
queries. Round 1 lost 21 rows to exactly this gap (events.parquet is
TIMESTAMP(NANOS); the nanosAsLong conf was builder-time only), so these
tests re-create the driver's environment:

- the bare-session test spawns a fresh Python subprocess (a session
  fixture in this process already carries session.py confs, and builder
  confs leak into ``newSession()`` via the shared SparkContext);
- the ordering test pins the 50-slot priority window.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

BARE_SESSION_SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {repo!r})
    from pyspark.sql import SparkSession

    # Exactly what the driver does: a bare builder, no repo confs.
    spark = SparkSession.builder.master("local[2]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    # Representative set: the flagship (events reader through the full
    # normalize path), a windowed indicator, a plain events scan, and
    # the round-9/10 shapes that do session-side work (MMR's
    # driver-side greedy loops + createDataFrame unions — the recall
    # check runs four of them; NB's persist + broadcast grid).
    for name in ["refined_pipeline", "indicator_ewma", "select_limit",
                 "json_parse_audit", "mmr_recall_check", "nb_hashed"]:
        df = qs[name](spark, "/root/testdata/sf0.001")
        n = df.count()
        assert n >= 0, name
        print(f"{{name}}:{{n}}")
    spark.stop()
    print("BARE_SESSION_OK")
    """
).format(repo=REPO)


def test_queries_run_on_bare_driver_session():
    proc = subprocess.run(
        [sys.executable, "-c", BARE_SESSION_SCRIPT],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "BARE_SESSION_OK" in proc.stdout, proc.stdout[-2000:]


def test_first_fifty_registered_queries_are_the_priority_window():
    from m2_b3_market_data_pipeline_spark.plans.all_queries import (
        CHECK_PRIORITY,
        ORACLES,
        QUERIES,
    )

    assert len(CHECK_PRIORITY) == 50
    assert list(QUERIES)[:50] == CHECK_PRIORITY
    # Round 6: every priority slot is hash-checked. The two rows-only
    # sketches got their r5 driver rows and are superseded in the window
    # by approx_distinct_check / approx_quantile_check, whose error
    # bounds ARE hash-checkable.
    rows_only = [n for n in CHECK_PRIORITY if n not in ORACLES]
    assert rows_only == [], rows_only


def test_check_priority_is_generated():
    """Round 9 (r8 verdict item 7): the window must EQUAL the output of
    tools/evidence_age.py::front_load — newborns first, then green rows
    oldest-first, anchor last — so the rotation queue is derived from
    the CORRECTNESS record, never hand-transcribed (the r8 verdict
    caught the hand-kept list having drifted 5-vs-10 stale rows).

    When this fails after adding a query or landing a round's
    CORRECTNESS file, regenerate: python tools/evidence_age.py
    --limit 50 and paste the list into all_queries.CHECK_PRIORITY."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "evidence_age",
        os.path.join(os.path.dirname(__file__), "..", "tools", "evidence_age.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from m2_b3_market_data_pipeline_spark.plans.all_queries import (
        CHECK_PRIORITY,
        CHECK_PRIORITY_BASIS_ROUND,
    )

    assert CHECK_PRIORITY == mod.front_load(
        50, through_round=CHECK_PRIORITY_BASIS_ROUND
    )


def test_bench_line_fits_driver_capture():
    """The per-round bench capture keeps only the LAST 2000 bytes of
    output; a longer line loses the round's bench evidence entirely
    (round 5 did). Pin the WORST-CASE printed line — every timing at
    3 digits before the 2-decimal point, the 6 longest names flagged —
    under the cap with margin."""
    import json

    import bench

    worst = {n: 999.99 for n in bench.HEADLINE}
    flagged = sorted(bench.HEADLINE, key=len)[-6:]
    line = json.dumps(
        {
            "metric": "headline_queries_total_runtime",
            "value": 99999.999,
            "unit": "sec",
            "queries": worst,
            "sf": 0.1,
            "best_known_total": 99999.999,
            "over_2x_best_known": flagged,
            "window_control_ratio": 99.999,
            "window_anomaly": True,
        }
    )
    assert len(line) < 1900, (len(line), "trim HEADLINE or shorten the line")


def test_registry_has_no_cache_leaks(registry_builds):
    """Every registered query that persists plan-scoped frames must
    surface ALL of them via the ``_cached_frames`` contract so
    ``release_cached`` empties the session cache — a persist invisible
    to the contract leaks an executor-memory entry per query per batch
    in any loop (the near_dedup_sink round-5 lesson, enforced for the
    WHOLE registry). Build-only: persist registers with the
    CacheManager at plan-construction time, no execution needed; the
    shared ``registry_builds`` pass records the CacheManager per query."""
    leakers = [name for name, (_plan, leaked) in registry_builds.items() if leaked]
    assert not leakers, f"persisted frames not released: {leakers}"
