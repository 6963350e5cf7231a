"""Physical-plan fingerprints for every registered query.

Writes PLAN_DIGEST.json: per query, a normalized plan hash plus the
scale-relevant node counts (exchanges, joins by type, cartesians,
non-codegen aggregates). Diffing two digests shows exactly which
queries' PLANS changed, as opposed to wall-clock noise, which never
changes a hash.

Usage: python tools/plan_digest.py [sf_dir] [out.json]
Compare: python tools/plan_digest.py --diff old.json new.json

Known hash noise: these queries' node details embed session-order
state (InMemoryRelation captures, reused exchange and subquery
references), so their hash can flip when the queries built before them
change, with every node count identical: decontaminate,
dup_ngram_spans, profile_events, q21_sole_returned_supplier,
seasonal_backtest, triangle_coparts_subgraph. When --diff flags one,
compare the counts; a count change is real.

One caveat on counts: an operator that runs a plan-sizing action at
build time (triangle_coparts' wedge estimate; the minhash family's
byte-stats aggregate in minhash_dedup, corpus_pipeline,
lsh_recall_check and source_overlap_matrix) materializes its persisted
frames before the digest captures the plan, so each InMemoryTableScan
prints its cached child plan and the counts include those copies. For
these, compare the executed plan shape, which tests pin.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

NODES = [
    "Exchange",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "Window",
    "InMemoryTableScan",
    "TakeOrderedAndProject",
]


def _digest(plan: str) -> dict:
    """Hash the WHOLE formatted output — summary tree, node details,
    and subquery sections — so subquery-plan and node-argument
    regressions change the hash, not just main-tree shape changes.
    Normalized out: expr/plan ids, and filesystem paths (round-trip
    queries write through fresh temp dirs every run; a path is not a
    plan property)."""
    norm = re.sub(r"#\d+[L]?", "#", plan)
    norm = re.sub(r"\(\d+\)", "(n)", norm)
    norm = re.sub(r"\[plan_id=\d+\]", "[plan_id=]", norm)  # session-global counter
    norm = re.sub(r"RDD\[\d+\]", "RDD[]", norm)  # session-global RDD ids (ExistingRDD scans)
    # An RDD's call site names the JVM frame that created it. For
    # createDataFrame that is a reflective call: JDK 17 prints
    # `NativeMethodAccessorImpl.java:0` for the first 16 calls in a session
    # and `<unknown>:0` once reflection inflates, so the file and line of a
    # call site are not a plan property either.
    norm = re.sub(r"(RDD\[\] at \w+) at [^\s,\]\)]+:\d+", r"\1 at <callsite>", norm)
    # Higher-order-function lambda variables (lambda x_37#) number off a
    # session-global counter too — the hash must not depend on how many
    # lambdas compiled earlier in the digest run's session.
    norm = re.sub(r"lambda ([A-Za-z]+)_\d+#", r"lambda \1_#", norm)
    norm = re.sub(r"file:[^\s,\]\)]+", "file:<path>", norm)
    norm = re.sub(r"/(tmp|root)/[^\s,\]\)]*", "<path>", norm)
    # Multi-distinct aggregates (RewriteDistinctAggregates) order their
    # grouping/projection attribute lists off a hash set, so the SAME
    # plan prints its Input/Keys/Results lists (and the matching
    # hashpartitioning argument order) differently across JVM sessions
    # (observed: profile_events flipping hashes run-to-run with
    # identical shape). Canonicalize by sorting the comma-separated
    # pieces — a pure reorder of the same attribute set is not a plan
    # regression; a genuine key-set change still changes the sorted
    # multiset. The naive ", " split may cut inside nested calls, but
    # the resulting piece multiset is still deterministic for a given
    # plan, which is all a stable hash needs.
    def _canon_list(m: re.Match) -> str:
        return m.group(1) + "[" + ", ".join(sorted(m.group(2).split(", "))) + "]"

    norm = re.sub(
        r"^((?:Input|Keys|Results|Functions|Aggregate Attributes)(?: \[\d+\])?: )\[(.*)\]$",
        _canon_list,
        norm,
        flags=re.M,
    )
    norm = re.sub(
        r"hashpartitioning\(([^()]*(?:\([^()]*\)[^()]*)*)\)",
        lambda m: "hashpartitioning(" + ", ".join(sorted(m.group(1).split(", "))) + ")",
        norm,
    )
    tree = plan.split("\n\n")[0]
    counts = {k: len(re.findall(rf"\b{k}\b", tree)) for k in NODES}
    return {
        "hash": hashlib.md5(norm.encode()).hexdigest()[:16],
        **{k: v for k, v in counts.items() if v},
    }


def main() -> int:
    if len(sys.argv) >= 2 and sys.argv[1] == "--diff":
        if len(sys.argv) != 4:
            print("usage: plan_digest.py --diff <old.json> <new.json>")
            return 2
        with open(sys.argv[2]) as fh:
            old = json.load(fh)
        with open(sys.argv[3]) as fh:
            new = json.load(fh)
        changed = sorted(
            q
            for q in old.keys() & new.keys()
            if old[q]["hash"] != new[q]["hash"]
        )
        added = sorted(new.keys() - old.keys())
        removed = sorted(old.keys() - new.keys())
        print(json.dumps({"changed": changed, "added": added, "removed": removed}))
        return 1 if changed or removed else 0

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_path = sys.argv[2] if len(sys.argv) > 2 else f"{REPO}/PLAN_DIGEST.json"

    from m2_b3_market_data_pipeline_spark.operators.dedup import release_cached
    from m2_b3_market_data_pipeline_spark.plans import all_queries
    from m2_b3_market_data_pipeline_spark.session import get_spark

    spark = get_spark("plan-digest", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    digests = {}
    for name, fn in all_queries.QUERIES.items():
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        release_cached(df)
        digests[name] = _digest(plan)
    with open(out_path, "w") as fh:
        json.dump(digests, fh, indent=1, sort_keys=True)
    print(f"{len(digests)} plans -> {out_path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
