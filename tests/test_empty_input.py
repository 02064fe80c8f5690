"""Schema-only (zero-row) input sweep: EVERY registered query must run
against empty copies of all ten tables without crashing. Empty partitions
are routine at 100 TB — a backfill day with no data, a tenant with no
rows, a filter that eliminates a source — and an engine whose operators
throw on them (instead of returning empty results) fails in production
at exactly the wrong moment. Hardened classes this sweep caught when
introduced: VOID-typed empty map literals in the two-phase rank/cumsum,
schema inference on zero-row parquet writes, corpus tiles that were
never written, and divide-by-zero in iterative loops."""

from __future__ import annotations

import pytest

from sealnet_etl_spark.catalog import _REGRADE_FIRST
from sealnet_etl_spark.registry import all_queries

#: Default-tier sweep set: the queries whose plans changed last
#: (_REGRADE_FIRST), every query that reaches the input sizer or the
#: fan-out gate (sources.input_bytes / sources.fan_out_small_input), and
#: every query that reaches the engine store (sources/store.py).
SWEPT: tuple[str, ...] = tuple(
    sorted(
        set(_REGRADE_FIRST)
        | {
            "jn_bucketed_colocated",
            "llm_boilerplate_ngrams",
            "llm_contamination_report",
            "llm_context_length_histogram",
            "llm_cross_source_dup_matrix",
            "llm_cross_source_overlap",
            "llm_decontaminate",
            "llm_dedup_audit_report",
            "llm_dedup_cluster_size_histogram",
            "llm_dedup_clusters",
            "llm_dedup_degree_report",
            "llm_dedup_threshold_sweep",
            "llm_effective_tokens",
            "llm_embedding_near_dup",
            "llm_hard_negatives",
            "llm_hard_negatives_batch",
            "llm_ivf_ann_topk",
            "llm_ivf_cell_probe",
            "llm_ivf_cell_probe_nprobe",
            "llm_ivf_probe_rebalanced",
            "llm_ivf_serve_accumulated",
            "llm_ivfpq_ann_topk",
            "llm_knn_classifier",
            "llm_leakage_free_split",
            "llm_lsh_ann_topk",
            "llm_margin_mining",
            "llm_minhash_near_dup_pairs",
            "llm_multimodal_incremental_near_dup",
            "llm_pack_bins",
            "llm_pack_efficiency",
            "llm_pack_lineage",
            "llm_pagerank",
            "llm_quality_dedup_crosstab",
            "llm_semantic_dedup",
            "llm_sequence_pack",
            "llm_shard_skew_report",
            "llm_substring_dedup_apply",
            "llm_substring_dedup_spans",
            "llm_tiled_topk_cosine",
            "llm_token_count",
            "llm_token_gini",
            "llm_tokenizer_fertility",
            "llm_topk_cosine",
            "llm_triangle_count",
            "llm_winnowing_fingerprints",
            "src_compact_small_files",
            "str_contamination_monitor",
            "str_contamination_monitor_fixed",
            "str_streaming_near_dup",
        }
    )
)

#: The swept set runs in the default tier; every registered query only in
#: the exhaustive tier.
_SWEEPS = [
    pytest.param(SWEPT, id="swept"),
    pytest.param(None, id="all", marks=pytest.mark.full),
]


def _failures(spark, sf_dir: str, names) -> dict[str, str]:
    # collect(), not count(): count() lets Catalyst prune computed columns
    # whose evaluation can throw under ANSI mode (element_at past the end,
    # divide-by-zero), silently weakening the no-crash invariant.
    queries = all_queries()
    failures = {}
    for name in names or queries:
        try:
            assert len(queries[name](spark, sf_dir).collect()) >= 0
        except Exception as exc:  # noqa: BLE001 - collecting the sweep
            failures[name] = f"{type(exc).__name__}: {exc}"[:160]
    return failures


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("testdata_empty")
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        src = spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet")
        src.limit(0).coalesce(1).write.mode("overwrite").parquet(
            str(base / f"{t}.parquet")
        )
    return str(base)


@pytest.mark.parametrize("names", _SWEEPS)
def test_every_query_survives_empty_tables(spark, empty_sf_dir, names):
    failures = _failures(spark, empty_sf_dir, names)
    assert not failures, failures


@pytest.fixture(scope="module")
def nulled_sf_dir(spark, tmp_path_factory):
    """~10% deterministic nulls injected into the nullable payload columns
    (text, embedding, value, props, prices) — the dirty-feed shape."""
    from pyspark.sql import functions as F

    base = tmp_path_factory.mktemp("testdata_nulled")
    null_cols = {
        "documents": ["text"],
        "embeddings": ["embedding"],
        "events": ["value", "props"],
        "orders": ["o_totalprice"],
        "lineitem": ["l_discount"],
    }
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        df = spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet")
        for c in null_cols.get(t, []):
            key = F.col(df.columns[0]).cast("bigint")
            df = df.withColumn(
                c, F.when(key % 10 == 3, None).otherwise(F.col(c))
            )
        df.coalesce(1).write.mode("overwrite").parquet(
            str(base / f"{t}.parquet")
        )
    return str(base)


@pytest.mark.parametrize("names", _SWEEPS)
def test_every_query_survives_null_payloads(spark, nulled_sf_dir, names):
    """No operator may crash on null text/embedding/value cells: JVM-side
    expressions are null-safe by construction, and every Python kernel
    must drop or bucket null payloads (similarity kernels drop null
    vectors — llm_embedding_qa is the operator that REPORTS them; the
    compression kernel buckets null text with empty text)."""
    failures = _failures(spark, nulled_sf_dir, names)
    assert not failures, failures
