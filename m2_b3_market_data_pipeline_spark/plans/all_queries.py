"""Aggregates every query module into the central registry.

Importing this module populates ``QUERIES`` / ``ORACLES`` with the full
operator inventory. Each plan module holds one query family, and a
query's family is its module: ``QUERIES[name].__module__``.

``register`` takes no ``family`` / ``headline`` / ``pinned`` fields.
The module already names the family; ``bench.HEADLINE`` is an ordered
list, which a per-query flag cannot carry; and the test-pinned twins
have one home, ``tools/evidence_age.py::TEST_PINNED``.
"""

from __future__ import annotations

from . import (  # noqa: F401  (each module registers its queries on import)
    cdc_merge,
    contrastive_mining,
    corpus_prep,
    corpus_quality,
    data_quality,
    dedup_quality,
    events_analytics,
    formats_queries,
    graph_queries,
    lexical_dedup,
    market_indicators,
    media_queries,
    reference_queries,
    relational,
    retrieval_quality,
    scaled_knobs,
    sketch_queries,
    stats_analytics,
    streaming_queries,
    text_queries,
    tokenizer_queries,
    tpch,
)
from .registry import ORACLES, QUERIES

# The correctness driver hash-checks only the FIRST 50 registered
# queries, in registry order. CHECK_PRIORITY is that window, and it is
# generated, not hand-kept: ``python tools/evidence_age.py --limit 50``
# derives it from the CORRECTNESS_r*.json record (newborns first, then
# green rows oldest-round-first and alphabetical within a round, the
# ``refined_pipeline`` anchor last).
# tests/test_driver_contract.py::test_check_priority_is_generated pins
# this list to the generator's output.
#
# CHECK_PRIORITY_BASIS_ROUND is the newest CORRECTNESS file the list was
# generated against. The pin computes the window over files up to this
# round, so a newer CORRECTNESS file landing does not fail the suite;
# regenerating the list bumps it.
CHECK_PRIORITY_BASIS_ROUND = 14
CHECK_PRIORITY: list[str] = [
    "webp_meta_check",
    "bloom_decontaminate_check",
    "bpe_pair_counts",
    "copurchase_reach",
    "embedding_near_dups_bands_scaled",
    "except_op",
    "gap_fill_locf",
    "hard_negatives",
    "incremental_semdedup",
    "indicator_bollinger",
    "ivfpq_ann_topk",
    "ivfpq_recall_check",
    "ivfpq_rerank_topk",
    "knn_label_accuracy",
    "lang_segments",
    "lm_quality_buckets",
    "mmr_select_scaled",
    "q10_returned_revenue",
    "q12_priority_by_status",
    "q13_order_distribution",
    "q14_promo_share",
    "q15_top_supplier",
    "q17_small_quantity_revenue",
    "q2_partsupp",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q9_partsupp",
    "quality_gate_funnel",
    "rolling_median",
    "rollup_lineitem",
    "semdedup_prune",
    "semi_anti_join",
    "session_window",
    "stream_stream_join",
    "streaming_dedup",
    "text_canonicalize",
    "token_count_bpe",
    "token_fertility",
    "top_customers",
    "trigram_lm_hashed",
    "tumbling_window",
    "vocabulary_stats",
    "window_rank",
    "array_functions",
    "band_join_revenue",
    "bpe_apply_check",
    "bpe_learn_merges",
    "c4_line_filters",
    "cdc_merge_upsert",
    "refined_pipeline",
]


_missing = [n for n in CHECK_PRIORITY if n not in QUERIES]
if _missing:  # pragma: no cover - registration bug tripwire
    raise RuntimeError(f"CHECK_PRIORITY names not registered: {_missing}")

# The window first, then the rest by name, so the order past slot 50
# does not depend on how the plan modules are laid out.
_reordered = {n: QUERIES[n] for n in CHECK_PRIORITY}
_reordered.update((n, QUERIES[n]) for n in sorted(QUERIES) if n not in _reordered)
QUERIES.clear()
QUERIES.update(_reordered)

__all__ = ["QUERIES", "ORACLES", "CHECK_PRIORITY"]
