"""Import every query module so registry registration runs, then order the
registry for the driver's grading pass.

Add one import line per module as operators land (SURVEY.md §7.3 order).

Grading order: the driver grades roughly the first 50 registry entries
each round (in registration order), so the registry is re-ordered after
import to put the queries that need evidence most inside that window.
Round 10's tiers: (0) plan-rewritten re-certifications (the ten r9/r10
kernel rewrites — VERDICT r9 #1), (1) the never-driver-graded tail
(EMPTY since r7: every query has been graded at least once), (2)
queries registered after this file was planned — they enter the window
ahead of long-green work (ADVICE r5: round 5 accidentally ranked
unknowns WITH the verified tier), (3) the long-green queries, ordered
by ASCENDING last-graded round (VERDICT r9 #3) so the stalest evidence
rotates through the window instead of never re-proving.

Correctness of every tier is still enforced locally each round by the
strict mirror (tests/test_oracle_mirror.py runs ALL queries); the ordering
only controls which queries the driver's bounded window re-proves.
"""

from .functions import families  # noqa: F401
from .operators import (  # noqa: F401
    aggregates,
    dedup,
    etl,
    joins,
    multimodal,
    projections,
    similarity,
    sorts_sets,
    textstats,
    trainprep,
    udfs,
    windows,
)
from .sources import ingest  # noqa: F401
from .streaming import incremental, queries_str  # noqa: F401
from .plans import flagship  # noqa: F401

from . import registry as _registry

#: Queries whose physical plan was rewritten since their last driver
#: grade, re-certified first (the r6 simhash / r8 margin-mining
#: precedent — VERDICT r9 #1). The r8 trio (llm_margin_mining,
#: llm_hard_negatives, ag_cohens_kappa) re-certified hash-green in r9
#: and dropped. Round-10 tier 0:
#: - the five consumers of the r9 minhash fold-kernel rewrite
#:   (minhash_signature_cols transform+array_min → aggregate fold, plus
#:   the always-present repartition(n, doc_id) exchange and the
#:   size-gated persist-level switch) — their last grades (r1/r1/r?/r4/
#:   r8) all predate the kernel: llm_minhash_near_dup_pairs,
#:   llm_dedup_clusters, llm_dedup_rate_trend, llm_incremental_near_dup,
#:   str_streaming_near_dup;
#: - the four consumers of the r9 session-memoized token-count frame
#:   (inlined regex counts → shared materialized scan):
#:   llm_tokenizer_fertility, llm_token_gini, llm_pack_bins,
#:   llm_pack_efficiency;
#: - llm_effective_tokens: round-10 retention_micro rewrite (int64
#:   scale-up → decimal(38,0), the fertility_micro wraparound guard) —
#:   values at graded SFs are argued identical, but the projection
#:   expression changed after its r9 grade.
#: - str_contamination_monitor: round-10 batch-stage partitioning (the
#:   near-dup's corpus-sized rule, gated past the session default so the
#:   graded-scale plan is byte-identical) landed after its r9 grade.
#: - llm_shard_skew_report: round-10 skew_micro rewrite (int64 →
#:   decimal(38,0) scale-up; max_tokens·n·1e6 wraps at the 100 TB token
#:   count) after its last grade. llm_pack_efficiency's twin
#:   padding_rate guard changed its projection too — already tier-0
#:   via the token-frame rewrite.
#: - llm_decontaminate / llm_contamination_report: round-10 Arrow
#:   shingle_postings kernel (the interpreted-HOF array build + explode
#:   was ~97% of the probe wall; postings verified set-identical,
#:   report 6.4 → 1.2 s at sf0.1) — the plan changed at every scale, so
#:   both take tier-0 slots (the compression_ratio r6 precedent).
#: ROUND-11 tier 0 (all 14 round-10 entries re-certified green in
#: CORRECTNESS_r10 and dropped):
#: - the five shingle_postings-kernel consumers again — the ADVICE-r10
#:   re.ASCII tokenizer fix changed the kernel's split semantics (a
#:   values-identical no-op on the ASCII fixtures, argued + pinned by
#:   test_shingle_kernel_unicode_whitespace_parity, but the kernel
#:   bytes changed after their r10 grades): llm_decontaminate,
#:   llm_contamination_report, str_contamination_monitor,
#:   str_contamination_monitor_fixed;
#: - str_streaming_near_dup: the sf100 scan-conf overrides moved from
#:   set/restore on the shared session to an isolated newSession()
#:   (ADVICE r10) — below the size gate the plan is byte-identical,
#:   above it only the owning session differs, but the code path that
#:   builds the stream changed.
#: - the three IVF-family queries whose frozen-seed materialization
#:   moved into the shared _ivf_frozen_seeds helper (code motion; the
#:   collected seed rows and every downstream plan are argued
#:   identical, but touched code regrades first — the r10 template):
#:   llm_ivf_index_refresh, llm_ivf_cell_probe, str_ivf_ingest_monitor.
#: ROUND-12 tier 0 (all 8 round-11 entries re-certified green in
#: CORRECTNESS_r11 and dropped):
#: - llm_ivfpq_graded_topk: the residual-encoding rewrite (VERDICT r11
#:   #4) changed the capstone's plan at every scale — members encode
#:   residuals to their cell seed, codebooks sample residual space,
#:   query tables are per-probed-cell. Values verified hash-green
#:   locally at sf0.01/sf0.001; regrades first per the r10 template.
#: - str_streaming_near_dup: apply_runtime_confs() now runs on the
#:   isolated stream session before the scan overrides (ADVICE r11),
#:   AND the per-batch signature stage now runs through the round-12
#:   minhash Arrow kernel.
#: - the minhash-signature Arrow kernel (round-12 optimization,
#:   OPTIMIZATION_r12.md) replaced the 64 per-permutation aggregate
#:   folds with one numpy pass — bit-identical minima (pinned by
#:   test_minhash_arrow_kernel_matches_catalyst_fold), but the plan changed
#:   at every scale for every consumer of minhash_near_dup_pairs:
#:   llm_minhash_near_dup_pairs, llm_dedup_clusters,
#:   llm_dedup_cluster_size_histogram, llm_dedup_rate_trend,
#:   llm_incremental_near_dup, llm_dedup_degree_report,
#:   llm_cross_source_dup_matrix, llm_triangle_count, llm_pagerank,
#:   llm_cross_source_overlap, llm_dedup_audit_report,
#:   llm_dedup_threshold_sweep, llm_quality_dedup_crosstab,
#:   llm_effective_tokens.
#: - the IVF keep_vec argmax (carry `a` through the assignment
#:   aggregate, deleting the vec_id re-join) + assignment lineage
#:   truncation changed the probe/rebalance/serve family's plans:
#:   llm_ivf_cell_probe, llm_ivf_cell_probe_nprobe,
#:   llm_ivf_cell_rebalance, llm_ivf_serve_accumulated (keep_vec=False
#:   callers — refresh, ingest monitor, append/delete/compact/trigger —
#:   kept byte-identical assignment plans).
#: - the positioned-shingle mapInPandas kernels replaced the
#:   interpreted transform+slice stages of llm_substring_dedup_spans,
#:   llm_substring_dedup_apply, llm_winnowing_fingerprints; and
#:   llm_boilerplate_ngrams now reuses the shingle_postings kernel.
#: ROUND-13 tier 0 (every round-12 entry re-certified green in
#: CORRECTNESS_r12 and dropped): the round-13 assignment Arrow kernel
#: (_ivf_assign_cells — map-only exact int64 kernel replacing the
#: broadcast fanout + decimal folds + max_by exchange, keep_vec
#: additionally emitting the member norm cc) plus the bigint dot/norm
#: folds changed the plan of EVERY _ivf_assign_cells / probe-family
#: consumer; llm_pq_adc_topk's exact-refine norm folds moved above its
#: topk join. All pinned by tests/test_round13_semantics.py and
#: re-verified hash-green at sf0.01 before commit.
_REGRADE_FIRST: tuple[str, ...] = (
    "llm_ivf_cell_probe_nprobe",
    "llm_ivf_cell_probe",
    "llm_ivf_cell_rebalance",
    "llm_ivf_serve_accumulated",
    "llm_ivf_probe_rebalanced",
    "llm_ivf_index_refresh",
    "llm_ivfpq_graded_topk",
    "llm_pq_adc_topk",
    "llm_ivf_store_compact",
    "str_ivf_index_append",
    "str_ivf_index_delete",
    "str_ivf_ingest_monitor",
    "str_ivf_rebalance_trigger",
    # round-13 LSH probe-side fan-out gate (rows-only class; the plan
    # changed, so it regrades first all the same)
    "llm_lsh_ann_topk",
    # report stores read back with their written schema (no chunk cast);
    # the quality pair shares one set of gate and report expressions, and
    # the trend's self-join is gone
    "str_quality_monitor",
    "str_contamination_monitor",
    "str_contamination_monitor_fixed",
    "str_mixture_monitor",
    "str_embedding_drift_monitor",
    "llm_quality_trend",
)

#: ROUND-10 STATE: the never-driver-graded tail remains EMPTY — all 322
#: round-9-era queries are driver-graded (314 hash-green + 8
#: rows-only-by-design at latest state, zero mismatches). Round-10 new
#: registrations enter the window via tier 2 (name absent from every
#: round file), behind the tier-0 regrades and ahead of the long-green.
#: This tuple stays the mechanism for any future query that needs an
#: explicit interleaved order inside one window.
_NEVER_GRADED: tuple[str, ...] = ()


def _grade_rank(name: str) -> tuple:
    """Four tiers: plan-rewritten regrades, then the never-driver-graded
    tail (explicit interleaved order), then any name in NEITHER tuple
    (queries registered after this file was planned — ADVICE r5: these
    must drain BEFORE long-green work, so they get their own tier instead
    of landing inside the verified one), then the long-green queries.
    Tier 3 orders by ASCENDING last-graded round (VERDICT r9 #3): with a
    ~50-slot window, registration order never rotates the long-green
    tail — 19 queries' latest grade was still round 1 and 41 more round 2
    entering round 10. Oldest-evidence-first re-proves the stalest ~40
    each round at zero extra cost, so every query's grade stays within a
    few rounds of HEAD."""
    if name in _REGRADE_FIRST:
        return (0, _REGRADE_FIRST.index(name), 0)
    if name in _NEVER_GRADED and name not in _DRIVER_VERIFIED:
        return (1, _NEVER_GRADED.index(name), 0)
    if name not in _DRIVER_VERIFIED:
        return (2, 0, 0)
    return (3, _LAST_GRADED.get(name, 0), 0)


def _load_driver_verified(base=None) -> tuple:
    """Names whose LATEST driver grade is green, MINUS tier-0 regrades
    whose plan changed this round, PLUS each name's last-graded round
    number (for tier-3's oldest-first rotation). Read from the round
    files rather than hardcoded so future rounds' greens fold out of the
    window automatically. Green means the latest entry either hash/row-
    matched or is a rows-only check that ran without error — a RED or
    erred latest grade must NOT count as verified (it would rank the
    query BEHIND the tail, the opposite of 'needs evidence most'); later
    round files override earlier verdicts name-by-name."""
    import json
    import pathlib
    import re

    if base is None:
        base = pathlib.Path(__file__).resolve().parent.parent
    base = pathlib.Path(base)
    latest: dict[str, bool] = {}
    last_round: dict[str, int] = {}
    for path in sorted(base.glob("CORRECTNESS_r*.json")):
        try:
            data = json.loads(path.read_text())
        except Exception:  # noqa: BLE001 - a malformed round file never
            continue  # blocks registration; grading order degrades gracefully
        m = re.search(r"_r(\d+)", path.stem)
        rnd = int(m.group(1)) if m else 0
        for name, rec in data.items():
            last_round[name] = max(last_round.get(name, 0), rnd)
            if not isinstance(rec, dict):
                latest[name] = True  # legacy scalar rows -> assume green
                continue
            green = (
                rec.get("err") in (None, "", "no_oracle")
                and rec.get("hash_match") is not False
                and rec.get("rows_match") is not False
            )
            latest[name] = green
    verified = {name for name, ok in latest.items() if ok}
    return frozenset(verified - set(_REGRADE_FIRST)), last_round


_DRIVER_VERIFIED, _LAST_GRADED = _load_driver_verified()


def _apply_grade_order() -> None:
    ordered = sorted(_registry.QUERIES, key=_grade_rank)  # stable within rank
    _registry.QUERIES.update(
        {name: _registry.QUERIES.pop(name) for name in ordered}
    )


_apply_grade_order()
