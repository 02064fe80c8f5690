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
    ivf,  # after similarity: registration order breaks grade-rank ties
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

#: Queries whose physical plan changed since their last driver grade,
#: re-certified first (tier 0). Correctness is enforced locally by the
#: strict mirror; this only orders the driver's bounded window.
#: - the frozen-quantizer IVF family (operators/ivf.py and the streaming
#:   legs): one query batch, one router, one member top-k and one PQ
#:   encode/refine replace the per-query copies, and seeds reach the
#:   assignment kernel as driver-local rows, so every member's plan
#:   changed; outputs and oracle results are unchanged.
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
    # the LSH probe-side fan-out gate (rows-only class; the plan
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
