"""Workload definitions shared by the orchestrator and the worker.

Each workload names the registered engine queries it runs, one pass after
another, over the engine's own sf0.01 fixture tables, and the fixed number of
timed passes its metrics are computed from. Why each exists, and which
layers it stresses, is recorded in README.md beside this file.
"""

from __future__ import annotations

#: The input set every workload reads: the engine's test fixture at sf0.01,
#: the scale its correctness tier runs at, in the fixture root beside the
#: engine's smoke fixture (``__spark_entry__.SMOKE_SF_DIR``). It is copied
#: into the benchmark's cache and checked against inputs.json before every
#: run, so every run reads the same tables and results can be checked
#: against committed fingerprints; a run's --seed permutes the query order
#: of each pass.
INPUT_TAG = "sf0.01"

WORKLOADS: dict[str, list[str]] = {
    "analytics": [
        "q1_pricing_summary",
        "q5_revenue_by_nation",
        "q18_large_orders",
        "wn_sessionize_events",
        "wn_range_frame",
        "jn_asof_event_order",
        "ag_count_min_sketch",
        "etl_incremental_merge",
    ],
    "llm_corpus": [
        "llm_minhash_near_dup_pairs",
        "llm_tfidf",
        "llm_lsh_ann_topk",
        "str_quality_monitor",
    ],
}

#: Timed passes a run's metrics are computed from. The number is fixed, so
#: that query_tail_s always reads the same rank of the same number of pooled
#: samples, whatever the speed of the code under test; passes that run after
#: these only to fill --seconds are checked but enter no metric.
TIMED_PASSES = {"analytics": 5, "llm_corpus": 6}

#: Queries whose DuckDB oracle is an all-pairs self-join that takes about
#: 10 s on these inputs, a sixth of a whole run. Their results, like those of
#: queries without an oracle, are checked against the committed fingerprint
#: instead; record_fingerprints.py checks them against the oracle once,
#: without a time limit, before writing it.
SLOW_ORACLES = frozenset({"llm_minhash_near_dup_pairs"})
