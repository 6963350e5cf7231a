"""Plan modules and test files are named for what they hold.

A query's family is its module (``QUERIES[name].__module__``), so a
module named for the change that added it hides the family. The same
goes for test files.
"""

from __future__ import annotations

import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PLANS = os.path.join(ROOT, "m2_b3_market_data_pipeline_spark", "plans")
TESTS = os.path.join(ROOT, "tests")

HISTORY_NAME = re.compile(r"round|wave|expansion|surface|\d[a-z]?$")

# Test files still named for a round. Moving their tests changes the
# ids of every test they hold (238 today), so they move on their own;
# this list may only shrink.
LEGACY_TEST_FILES = {
    "test_corpus2",
    "test_round6",
    "test_round6b",
    "test_round7",
    "test_round8",
    "test_round9",
    "test_round9b",
    "test_round10",
    "test_round11",
    "test_round12",
    "test_round13",
    "test_round14",
    "test_round15",
    "test_round16",
    "test_sql_surface5",
    "test_wave6",
    "test_wave7",
}


def _stems(folder: str, prefix: str = "") -> list[str]:
    return sorted(
        f[:-3] for f in os.listdir(folder) if f.endswith(".py") and f.startswith(prefix)
    )


def test_modules_are_named_for_families():
    plan_modules = [m for m in _stems(PLANS) if m != "__init__"]
    assert [m for m in plan_modules if HISTORY_NAME.search(m)] == []

    test_files = [t for t in _stems(TESTS, "test_") if HISTORY_NAME.search(t)]
    assert set(test_files) <= LEGACY_TEST_FILES, sorted(
        set(test_files) - LEGACY_TEST_FILES
    )

