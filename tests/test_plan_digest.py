"""``tools/plan_digest.py``: what its normalization treats as the same plan."""

from __future__ import annotations

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "plan_digest",
    os.path.join(os.path.dirname(__file__), "..", "tools", "plan_digest.py"),
)
plan_digest = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(plan_digest)

# A createDataFrame scan as `explain("formatted")` prints it. The call site
# reads NativeMethodAccessorImpl.java:0 for a session's first 16 such calls
# and <unknown>:0 after, once JDK 17 inflates the reflective call.
_SCAN = """== Physical Plan ==
* Scan ExistingRDD (1)


(1) Scan ExistingRDD [codegen id : 1]
Output [2]: [k#{k}L, v#{v}]
Arguments: [k#{k}L, v#{v}], MapPartitionsRDD[{rdd}] at {method} at {site}, \
ExistingRDD, UnknownPartitioning(0)
"""


def _hash(method: str, site: str, rdd: int = 4, k: int = 0) -> str:
    plan = _SCAN.format(k=k, v=k + 1, rdd=rdd, method=method, site=site)
    return plan_digest._digest(plan)["hash"]


def test_create_dataframe_call_site_does_not_change_the_hash():
    before = _hash("applySchemaToPythonRDD", "NativeMethodAccessorImpl.java:0")
    after = _hash("applySchemaToPythonRDD", "<unknown>:0", rdd=84, k=32)
    assert before == after


def test_the_rdd_creating_method_still_changes_the_hash():
    assert _hash("applySchemaToPythonRDD", "<unknown>:0") != _hash(
        "parallelize", "<unknown>:0"
    )
