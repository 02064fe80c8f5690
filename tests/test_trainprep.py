"""Semantic invariants for the trainprep operators (SURVEY §2.13a
R3-17..R3-23). The DuckDB mirror (test_oracle_mirror.py) already proves
value-level equivalence; these pin the PROPERTIES a refactor could silently
break while still hash-matching a co-broken oracle."""

from __future__ import annotations

from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def queries():
    from sealnet_etl_spark.registry import all_queries

    return all_queries()


def test_sequence_pack_offsets_are_contiguous_per_shard(spark, queries):
    """Within each shard, docs tile the token stream exactly: sorted by
    doc_id, every start_offset equals the previous doc's end."""
    rows = queries["llm_sequence_pack"](spark, SF_DIR).collect()
    by_shard = defaultdict(list)
    for r in rows:
        by_shard[r.shard].append(r)
    assert len(by_shard) > 1
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r.doc_id)
        expected = 0
        for r in shard_rows:
            assert r.start_offset == expected
            assert r.first_seq == r.start_offset // 2048
            assert r.last_seq == (r.start_offset + r.n_tokens - 1) // 2048
            assert r.first_seq <= r.last_seq
            expected += r.n_tokens


def test_mixture_sample_hits_target_rates(spark, queries):
    """Per-language keep fraction lands near its configured rate, and
    membership is deterministic (two runs identical)."""
    from sealnet_etl_spark.operators.trainprep import MIX_DENOM, MIX_DEFAULT, MIX_RATES
    from sealnet_etl_spark.sources import load_table

    kept = queries["llm_mixture_sample"](spark, SF_DIR)
    kept_by_lang = {r.lang: r.n for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    total_by_lang = {
        r.lang: r.n
        for r in load_table(spark, SF_DIR, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for lang, total in total_by_lang.items():
        if total < 30:
            continue  # too few docs for a rate assertion
        rate = MIX_RATES.get(lang, MIX_DEFAULT) / MIX_DENOM
        frac = kept_by_lang.get(lang, 0) / total
        assert abs(frac - rate) < 0.15, (lang, frac, rate)
    a = sorted(r.doc_id for r in kept.collect())
    b = sorted(r.doc_id for r in queries["llm_mixture_sample"](spark, SF_DIR).collect())
    assert a == b


def test_keep_best_keeps_longest_copy(spark, queries):
    """One survivor per content hash, and it is a maximal-n_chars member
    of its duplicate group."""
    from sealnet_etl_spark.sources import load_table

    survivors = queries["llm_keep_best_duplicate"](spark, SF_DIR).collect()
    hashes = [r.content_hash for r in survivors]
    assert len(hashes) == len(set(hashes))
    docs = (
        load_table(spark, SF_DIR, "documents")
        .select(F.md5(F.lower("text")).alias("h"), "n_chars")
        .collect()
    )
    max_chars = defaultdict(int)
    group_n = defaultdict(int)
    for r in docs:
        max_chars[r.h] = max(max_chars[r.h], r.n_chars)
        group_n[r.h] += 1
    assert len(survivors) == len(max_chars)
    for r in survivors:
        assert r.n_chars == max_chars[r.content_hash]
        assert r.group_size == group_n[r.content_hash]


def test_incremental_dedup_admits_only_unseen_hashes(spark, queries):
    from sealnet_etl_spark.operators.trainprep import NEW_BATCH_SOURCES
    from sealnet_etl_spark.sources import load_table

    admitted = queries["llm_incremental_dedup"](spark, SF_DIR).collect()
    assert admitted and all(r.source in NEW_BATCH_SOURCES for r in admitted)
    prior_hashes = {
        r.h
        for r in load_table(spark, SF_DIR, "documents")
        .filter(~F.col("source").isin(*NEW_BATCH_SOURCES))
        .select(F.md5(F.lower("text")).alias("h"))
        .collect()
    }
    assert all(r.content_hash not in prior_hashes for r in admitted)


def test_unigram_logprob_orders_rare_above_common(spark, queries):
    """Scores are finite and positive, and the doc set is complete."""
    rows = queries["llm_unigram_logprob"](spark, SF_DIR).collect()
    assert len(rows) == 500
    assert all(r.avg_neg_logprob > 0 for r in rows)
    # a corpus can't be all-identical surprisal unless degenerate
    scores = {r.avg_neg_logprob for r in rows}
    assert len(scores) > 10


def test_funnel_stages_are_monotone(spark, queries):
    """Stage timestamps strictly increase and stage counts are a
    decreasing funnel (stage k reached ⊇ stage k+1 reached)."""
    rows = queries["wn_event_funnel"](spark, SF_DIR).collect()
    n = [0, 0, 0, 0]
    for r in rows:
        n[r.funnel_stage] += 1
        if r.click_us is not None:
            assert r.view_us is not None and r.click_us > r.view_us
        if r.purchase_us is not None:
            assert r.click_us is not None and r.purchase_us > r.click_us
    reached_1 = n[1] + n[2] + n[3]
    reached_2 = n[2] + n[3]
    assert reached_1 >= reached_2 >= n[3] > 0


def test_retention_week0_counts_every_cohort_user(spark, queries):
    """Offset-0 cell of each cohort equals the cohort's size, and user
    counts never exceed it in later weeks."""
    rows = queries["wn_retention_cohorts"](spark, SF_DIR).collect()
    week0 = {r.cohort_week: r.n_users for r in rows if r.week_offset == 0}
    for r in rows:
        assert r.week_offset >= 0
        assert r.n_users <= week0[r.cohort_week]


def test_ddsketch_holds_relative_error_contract(spark, queries):
    """Every DDSketch estimate is within the α=1% relative-value guarantee
    (plus a hair for the discrete rank step) of DuckDB's exact quantile."""
    import duckdb

    est = {r.quantile: r.estimate for r in queries["ag_ddsketch_quantiles"](spark, SF_DIR).collect()}
    con = duckdb.connect()
    for q, e in est.items():
        (exact,) = con.sql(
            f"SELECT quantile_cont(o_totalprice, {q}) FROM read_parquet('{SF_DIR}/orders.parquet') WHERE o_totalprice > 0"
        ).fetchone()
        assert abs(e - exact) / exact < 0.03, (q, e, exact)


def test_ddsketch_is_mergeable_and_partition_invariant(spark, queries):
    """Same estimates regardless of input partitioning (the mergeability
    property: bin counts are additive)."""
    a = sorted(map(tuple, queries["ag_ddsketch_quantiles"](spark, SF_DIR).collect()))
    n = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        b = sorted(map(tuple, queries["ag_ddsketch_quantiles"](spark, SF_DIR).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", n)
    assert a == b


def test_clustered_layout_buckets_do_not_overlap(spark, queries):
    """Bucket date ranges are disjoint and ordered — the property that
    makes directory-level pruning sound — and the physical layout exists
    (one directory per bucket)."""
    from sealnet_etl_spark.sources.store import store_path
    from sealnet_etl_spark.sources.tables import data_files

    rows = sorted(
        queries["src_clustered_layout"](spark, SF_DIR).collect(),
        key=lambda r: r.ship_bucket,
    )
    for prev, cur in zip(rows, rows[1:]):
        assert prev.max_ship < cur.min_ship
    layout = store_path(spark, "scratch", SF_DIR, "src_clustered_layout")
    dirs = {f.getPath().getParent().getName() for f in data_files(spark, layout)[1]}
    assert all(d.startswith("ship_bucket=") for d in dirs)
    assert len(dirs) == len(rows)


def test_dynamic_overwrite_backfill_is_idempotent(spark, queries):
    """Running the backfill twice yields the identical table state: the
    dynamic overwrite replaces the target day wholesale instead of
    compounding (value*2 each run would be the static-overwrite bug)."""
    first = sorted(map(tuple, queries["etl_dynamic_partition_overwrite"](spark, SF_DIR).collect()))
    second = sorted(map(tuple, queries["etl_dynamic_partition_overwrite"](spark, SF_DIR).collect()))
    assert first == second
    assert len(first) == 30  # every day survived the partial overwrite


def test_point_in_time_join_never_leaks_future_state(spark, queries):
    """The joined state version opened at-or-before the purchase, and no
    NEWER version exists that also opened at-or-before it (the two ways a
    PIT join can silently leak or stale-read)."""
    from collections import defaultdict as dd

    from sealnet_etl_spark.operators.etl import scd2_history
    from sealnet_etl_spark.sources import load_table

    events = load_table(spark, SF_DIR, "events")
    versions = dd(list)
    for r in scd2_history(
        events, key_cols=["user_id"], state_col="event_type",
        ts_col="ts", tiebreak_col="event_id",
    ).collect():
        versions[r.user_id].append(r)
    joined = queries["jn_point_in_time"](spark, SF_DIR).collect()
    assert joined
    for r in joined:
        assert r.state_since_us <= r.purchase_us
        later = [
            v for v in versions[r.user_id]
            if r.state_since_us < int(v.valid_from.timestamp() * 1_000_000) <= r.purchase_us
        ]
        assert later == [], (r.event_id, later)


def test_contiguous_ids_are_gap_free_and_order_preserving(spark, queries):
    rows = sorted(queries["etl_contiguous_ids"](spark, SF_DIR).collect(), key=lambda r: r.doc_id)
    assert [r.sample_id for r in rows] == list(range(len(rows)))


def test_zorder_buckets_are_narrow_in_both_dimensions(spark, queries):
    """The z-order property: every bucket's bounding box is small in BOTH
    dimensions (a single-dim sort only narrows one), so min/max file
    stats prune scans filtered on either column."""
    rows = queries["src_zorder_layout"](spark, SF_DIR).collect()
    assert len(rows) > 8
    g_cust = max(r.max_cust for r in rows) - min(r.min_cust for r in rows)
    g_days = (
        max(r.max_date for r in rows) - min(r.min_date for r in rows)
    ).days
    n = len(rows)
    avg_cust = sum(r.max_cust - r.min_cust for r in rows) / n
    avg_days = sum((r.max_date - r.min_date).days for r in rows) / n
    assert avg_cust < g_cust / 2, (avg_cust, g_cust)
    assert avg_days < g_days / 4, (avg_days, g_days)
    # both dims narrow SIMULTANEOUSLY: mean bounding-box area ≤ ~1/8 global
    avg_area = sum(
        (r.max_cust - r.min_cust) * (r.max_date - r.min_date).days for r in rows
    ) / n
    assert avg_area < g_cust * g_days / 8, (avg_area, g_cust * g_days)


def test_cli_list_names_every_registered_query(capsys, monkeypatch):
    """tools/run_query.py --list prints one line per registered query
    without needing a SparkSession."""
    import importlib.util
    import os
    import sys

    spec = importlib.util.spec_from_file_location(
        "run_query",
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "run_query.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    monkeypatch.setattr(sys, "argv", ["run_query.py", "--list"])
    assert mod.main() == 0
    out = capsys.readouterr().out
    from sealnet_etl_spark.registry import QUERIES

    lines = [l for l in out.splitlines() if l.strip()]
    assert len(lines) == len(QUERIES)
    assert any("q3_shipping_priority " in l and "hash-oracled" in l for l in lines)


def test_incremental_near_dup_pairs_cross_the_batch_boundary(spark, queries):
    """Every reported pair joins a new-batch doc to a prior-corpus doc at
    J ≥ 0.8, and is a subset of the full one-shot pair list."""
    from sealnet_etl_spark.operators.dedup import NEW_BATCH_SOURCES
    from sealnet_etl_spark.sources import load_table

    src = {
        r.doc_id: r.source
        for r in load_table(spark, SF_DIR, "documents").select("doc_id", "source").collect()
    }
    pairs = queries["llm_incremental_near_dup"](spark, SF_DIR).collect()
    assert pairs
    full = {
        frozenset((r.doc_a, r.doc_b))
        for r in queries["llm_minhash_near_dup_pairs"](spark, SF_DIR).collect()
    }
    for r in pairs:
        assert src[r.doc_new] in NEW_BATCH_SOURCES
        assert src[r.doc_prior] not in NEW_BATCH_SOURCES
        assert r.jaccard >= 0.8
        assert frozenset((r.doc_new, r.doc_prior)) in full


def test_user_erasure_drops_single_user_days(spark, tmp_path, monkeypatch):
    """A partition whose EVERY row belongs to the erased user must be
    physically removed — dynamic overwrite alone can't replace a
    partition absent from the incoming frame (review finding)."""
    import sealnet_etl_spark.operators.etl as etl_mod

    # craft a tiny table where user 42 owns one whole day
    rows = [
        (1, "2024-06-01T10:00:00", 42, "view", 1.0, "{}"),
        (2, "2024-06-01T11:00:00", 42, "click", 1.0, "{}"),
        (3, "2024-06-02T10:00:00", 42, "view", 1.0, "{}"),
        (4, "2024-06-02T11:00:00", 7, "view", 1.0, "{}"),
        (5, "2024-06-03T10:00:00", 7, "purchase", 1.0, "{}"),
    ]
    src = spark.createDataFrame(
        [(a, __import__("datetime").datetime.fromisoformat(b), c, d, e, f) for a, b, c, d, e, f in rows],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    sf_stub = str(tmp_path / "sfstub")
    src.write.mode("overwrite").parquet(f"{sf_stub}/events.parquet")
    out = {r.event_date.isoformat(): r.n_events
           for r in etl_mod.etl_user_erasure(spark, sf_stub).collect()}
    # day 1 was 100% user 42 → gone entirely; days 2/3 keep only user 7
    assert out == {"2024-06-02": 1, "2024-06-03": 1}


def test_chunking_reconstructs_documents_with_exact_overlap(spark, queries):
    """Chunks tile each document: sorted by chunk_idx, stripping the
    20-word overlap from every chunk after the first reconstructs the
    original word sequence exactly — the property that makes chunked
    embeddings traceable back to documents."""
    from sealnet_etl_spark.operators.trainprep import CHUNK_STRIDE, CHUNK_WORDS
    from sealnet_etl_spark.sources import load_table

    import re

    # mirror the operator's split(lower(text), '\\s+') exactly — unlike
    # str.split(), the regex split keeps '' tokens at string edges
    docs = {
        r.doc_id: re.split(r"\s+", r.text.lower())
        for r in load_table(spark, SF_DIR, "documents").collect()
    }
    by_doc = defaultdict(list)
    for r in queries["llm_doc_chunking"](spark, SF_DIR).collect():
        by_doc[r.doc_id].append(r)
    assert set(by_doc) == {d for d, w in docs.items() if w}
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_idx)
        words = []
        for i, r in enumerate(chunks):
            cw = r.chunk_text.split(" ") if r.chunk_text else []
            assert len(cw) == r.n_chunk_words <= CHUNK_WORDS
            keep = cw if i == 0 else cw[CHUNK_WORDS - CHUNK_STRIDE:]
            words.extend(keep)
        assert words == docs[doc_id], doc_id


def test_md5_bucket_is_uniform_and_salt_decorrelated(spark):
    """The hash behind every sampling/assignment decision: buckets spread
    uniformly (max/min bucket load bounded) and different salts give
    independent assignments (same-bucket agreement ≈ 1/mod)."""
    from sealnet_etl_spark.operators.trainprep import md5_bucket

    n, mod = 20_000, 16
    df = spark.range(n).select(
        md5_bucket(F.col("id").cast("string"), "a:", mod).alias("ba"),
        md5_bucket(F.col("id").cast("string"), "b:", mod).alias("bb"),
    )
    loads = [r.n for r in df.groupBy("ba").agg(F.count("*").alias("n")).collect()]
    assert len(loads) == mod
    assert max(loads) / min(loads) < 1.25, loads
    agree = df.filter(F.col("ba") == F.col("bb")).count() / n
    assert abs(agree - 1 / mod) < 0.02, agree


def test_epoch_budget_allocator_branches(spark, queries):
    """Every allocator branch is exercised at the 9/4 budget: low-tier
    sources land exactly at their 2-epoch cap (rounds 1-2 fully funded),
    high-tier sources get 2 full epochs plus a pro-rated round-3 share
    strictly below their 4-epoch cap, total allocation never exceeds the
    budget, and floor remainders are bounded by the number of
    (source, round) shares."""
    from sealnet_etl_spark.operators.trainprep import (
        EPOCH_BUDGET_DEN,
        EPOCH_BUDGET_NUM,
        EPOCHS_HIGH,
        EPOCHS_LOW,
    )

    rows = queries["llm_epoch_budget"](spark, SF_DIR).collect()
    assert rows
    total = sum(r.n_tokens for r in rows)
    budget = (EPOCH_BUDGET_NUM * total) // EPOCH_BUDGET_DEN
    alloc = sum(r.alloc_tokens for r in rows)
    n_shares = sum(r.max_epochs for r in rows)
    assert alloc <= budget
    assert budget - alloc < n_shares  # floor loses < 1 token per share
    lows = [r for r in rows if r.max_epochs == EPOCHS_LOW]
    highs = [r for r in rows if r.max_epochs == EPOCHS_HIGH]
    assert lows and highs
    for r in lows:
        assert r.alloc_tokens == EPOCHS_LOW * r.n_tokens
        assert r.epochs_micro == EPOCHS_LOW * 1_000_000
    for r in highs:
        assert EPOCHS_LOW * 1_000_000 < r.epochs_micro < EPOCHS_HIGH * 1_000_000
        assert r.alloc_tokens < EPOCHS_HIGH * r.n_tokens
    # tiering is the median split on (ttr desc, source) — high tier count
    # is exactly n_sources // 2
    assert len(highs) == len(rows) // 2


def test_pack_bins_nextfit_reference(spark, queries):
    """Pure-python next-fit reference check: recompute the packing per
    shard from the doc token counts and compare every (bin, offset,
    packed, truncated) assignment; also pin the capacity invariant."""
    import re

    from sealnet_etl_spark.operators.textstats import TOKEN_PATTERN
    from sealnet_etl_spark.operators.trainprep import SEQ_LEN
    from sealnet_etl_spark.sources import load_table

    rows = {r.doc_id: r for r in queries["llm_pack_bins"](spark, SF_DIR).collect()}
    docs = load_table(spark, SF_DIR, "documents").collect()
    pat = re.compile(TOKEN_PATTERN)
    by_shard = {}
    for r in rows.values():
        by_shard.setdefault(r.shard, []).append(r.doc_id)
    counts = {
        d.doc_id: len(pat.findall((d.text or "").lower())) for d in docs
    }
    packed_docs = {d for d, n in counts.items() if n > 0}
    assert set(rows) == packed_docs
    for shard, ids in by_shard.items():
        ids.sort()
        bin_idx, fill = 0, 0
        for did in ids:
            eff = min(counts[did], SEQ_LEN)
            if fill + eff > SEQ_LEN and fill > 0:
                bin_idx, fill = bin_idx + 1, 0
            r = rows[did]
            assert (r.bin_idx, r.offset_in_bin, r.n_tokens_packed) == (
                bin_idx, fill, eff
            ), did
            assert r.truncated == (1 if counts[did] > SEQ_LEN else 0)
            fill += eff
            assert r.offset_in_bin + r.n_tokens_packed <= SEQ_LEN


def test_pack_bins_shard_count_only_rebuckets(spark):
    """VERDICT r7 #5: PACK_SHARDS is the parallelism lever, so raising it
    must only RE-BUCKET the streams — the same docs get packed (none
    lost, none duplicated), every doc keeps its packed length and
    truncation flag (those depend only on the doc), and every bin in the
    new sharding still respects capacity and next-fit within its own
    stream. bin_idx/offset_in_bin legitimately change (different streams
    ⇒ different fills) — they are NOT part of the invariant."""
    from sealnet_etl_spark.operators.trainprep import SEQ_LEN, _pack_bins

    base = {r.doc_id: r for r in _pack_bins(spark, SF_DIR, shards=8).collect()}
    wide = {r.doc_id: r for r in _pack_bins(spark, SF_DIR, shards=32).collect()}
    assert set(base) == set(wide)
    n_shards = len({r.shard for r in wide.values()})
    assert n_shards > len({r.shard for r in base.values()})
    by_shard: dict = {}
    for r in wide.values():
        assert r.n_tokens_packed == base[r.doc_id].n_tokens_packed
        assert r.truncated == base[r.doc_id].truncated
        assert 0 <= r.offset_in_bin
        assert r.offset_in_bin + r.n_tokens_packed <= SEQ_LEN
        by_shard.setdefault(r.shard, []).append(r)
    # next-fit validity inside each NEW stream: docs in doc_id order
    # fill bins monotonically and only roll over when the doc won't fit
    for rows in by_shard.values():
        rows.sort(key=lambda r: r.doc_id)
        bin_idx, fill = 0, 0
        for r in rows:
            if fill + r.n_tokens_packed > SEQ_LEN and fill > 0:
                bin_idx, fill = bin_idx + 1, 0
            assert (r.bin_idx, r.offset_in_bin) == (bin_idx, fill), r.doc_id
            fill += r.n_tokens_packed


def test_pack_efficiency_reconciles_with_the_packing(spark, queries):
    """The efficiency report must be EXACTLY the aggregate of the packing
    it consumes: recompute per-shard docs/bins/tokens/truncations from
    llm_pack_bins rows and compare field-for-field; padding is
    non-negative and the micro rate is the exact integer floor."""
    from sealnet_etl_spark.operators.trainprep import SEQ_LEN

    packed = queries["llm_pack_bins"](spark, SF_DIR).collect()
    report = {r.shard: r for r in queries["llm_pack_efficiency"](spark, SF_DIR).collect()}
    agg: dict = {}
    for r in packed:
        a = agg.setdefault(r.shard, {"docs": 0, "bins": 0, "tok": 0, "tr": 0})
        a["docs"] += 1
        a["bins"] = max(a["bins"], r.bin_idx + 1)
        a["tok"] += r.n_tokens_packed
        a["tr"] += r.truncated
    assert set(report) == set(agg)
    for shard, a in agg.items():
        rep = report[shard]
        cap = a["bins"] * SEQ_LEN
        assert (rep.n_docs, rep.n_bins, rep.tokens_packed, rep.n_truncated) == (
            a["docs"], a["bins"], a["tok"], a["tr"]
        )
        assert rep.padding_tokens == cap - a["tok"] >= 0
        assert rep.padding_rate_micro == (cap - a["tok"]) * 1_000_000 // cap


def test_shard_skew_report_brackets_the_mean(spark, queries):
    """min ≤ total/n ≤ max, the skew factor is ≥ 1 by construction, and
    md5 bucketing keeps this fixture's skew under 2× (the level at which
    the report is supposed to raise eyebrows)."""
    row = queries["llm_shard_skew_report"](spark, SF_DIR).collect()[0]
    assert row.n_shards >= 1
    assert row.min_tokens * row.n_shards <= row.total_tokens
    assert row.max_tokens * row.n_shards >= row.total_tokens
    assert row.skew_micro == row.max_tokens * row.n_shards * 1_000_000 // row.total_tokens
    assert 1_000_000 <= row.skew_micro < 2_000_000


def test_vocab_growth_is_causal_and_conserves_types(spark, queries):
    """The earliest batch reads novelty = 10⁶ by construction (every
    type is new), new-type counts sum to the corpus-wide distinct type
    count, and every batch's novelty is the exact integer floor of
    n_new/n_types. Cross-checked against a pure-python recount."""
    from sealnet_etl_spark.sources import load_table

    rows = {r.batch_no: r for r in queries["llm_vocab_growth"](spark, SF_DIR).collect()}
    docs = load_table(spark, SF_DIR, "documents").collect()
    import re

    seen_first: dict = {}
    per_batch_tokens: dict = {}
    per_batch_types: dict = {}
    for d in docs:
        b = int(re.search(r"([0-9]+)$", d.source).group(1))
        words = re.split(r"\s+", (d.text or "").lower())
        per_batch_tokens[b] = per_batch_tokens.get(b, 0) + len(words)
        per_batch_types.setdefault(b, set()).update(words)
        for w in words:
            if w not in seen_first or seen_first[w] > b:
                seen_first[w] = b
    new_per_batch: dict = {}
    for w, b in seen_first.items():
        new_per_batch[b] = new_per_batch.get(b, 0) + 1
    assert set(rows) == set(per_batch_tokens)
    first = min(rows)
    assert rows[first].novelty_rate_micro == 1_000_000
    assert sum(r.n_new_types for r in rows.values()) == len(seen_first)
    for b, r in rows.items():
        assert r.n_tokens == per_batch_tokens[b]
        assert r.n_types == len(per_batch_types[b])
        assert r.n_new_types == new_per_batch.get(b, 0)
        assert r.novelty_rate_micro == r.n_new_types * 1_000_000 // r.n_types


def test_epoch_budget_apply_materializes_the_plan(spark, queries):
    """The apply twin realizes exactly the plan: every doc of a source
    appears floor(epochs) or ceil(epochs) times, low-tier sources
    (exactly 2.0 epochs) replicate exactly twice, repeat indices are
    dense 0..n-1, and the realized fractional rate tracks the planned
    fraction within hash-uniform tolerance."""
    from collections import Counter

    plan = {
        r.source: r for r in queries["llm_epoch_budget"](spark, SF_DIR).collect()
    }
    rows = queries["llm_epoch_budget_apply"](spark, SF_DIR).collect()
    per_doc = Counter((r.source, r.doc_id) for r in rows)
    for r in rows:
        full, frac = divmod(plan[r.source].epochs_micro, 1_000_000)
        assert r.n_repeats in (full, full + 1)
        assert 0 <= r.repeat_idx < r.n_repeats
        assert per_doc[(r.source, r.doc_id)] == r.n_repeats
    for source, p in plan.items():
        full, frac = divmod(p.epochs_micro, 1_000_000)
        docs = {d for (s, d) in per_doc if s == source}
        extra = sum(1 for (s, d), c in per_doc.items() if s == source and c == full + 1)
        if frac == 0:
            assert extra == 0
        else:
            # hash-uniform Bernoulli at rate frac/1e6 over |docs| draws
            exp = len(docs) * frac / 1_000_000
            assert abs(extra - exp) <= 4 * (exp ** 0.5) + 3, (source, extra, exp)


def test_mixture_schedule_is_dense_balanced_and_ladder_exact(spark, queries):
    """Error-diffusion schedule invariants: steps are exactly 1..N with
    no gap, each source's emission indices k form a dense prefix 1..m
    (the slot key is strictly increasing in k), the full-horizon count
    per source deviates from the ideal N*w/W by <= 1, and every sampled
    prefix deviates by < 2 — the classic Bresenham-merge bound."""
    from sealnet_etl_spark.operators.trainprep import SCHEDULE_STEPS
    from sealnet_etl_spark.sources import load_table

    rows = sorted(
        queries["llm_mixture_schedule"](spark, SF_DIR).collect(),
        key=lambda r: r.step,
    )
    n = SCHEDULE_STEPS
    assert [r.step for r in rows] == list(range(1, n + 1))
    per_src_ks: dict = {}
    for r in rows:
        per_src_ks.setdefault(r.source, []).append(r.k)
    for ks in per_src_ks.values():
        assert sorted(ks) == list(range(1, len(ks) + 1))
    w = {
        r["source"]: r["count"]
        for r in load_table(spark, SF_DIR, "documents")
        .groupBy("source")
        .count()
        .collect()
    }
    total = sum(w.values())
    for s, ws in w.items():
        got = len(per_src_ks.get(s, []))
        assert abs(got - n * ws / total) <= 1.0
    for prefix in (7, 37, 100, 201):
        cnt: dict = {}
        for r in rows[:prefix]:
            cnt[r.source] = cnt.get(r.source, 0) + 1
        for s, ws in w.items():
            assert abs(cnt.get(s, 0) - prefix * ws / total) < 2.0


def test_mixture_schedule_arithmetic_inverse_matches(spark, queries):
    """schedule_step_of (the closed-form O(|sources|) step lookup — the
    100 TB shape where no merged ladder is ever materialized) must agree
    with the registered query's window-ranked step for EVERY row of the
    schedule, including any cross-source slot-key ties."""
    from sealnet_etl_spark.operators.trainprep import schedule_step_of
    from sealnet_etl_spark.sources import load_table

    weights = {
        r["source"]: r["count"]
        for r in load_table(spark, SF_DIR, "documents")
        .groupBy("source")
        .count()
        .collect()
    }
    rows = queries["llm_mixture_schedule"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert schedule_step_of(r.source, r.k, weights) == r.step, (
            r.source, r.k, r.step
        )


def test_schedule_step_of_pure_merge_reference():
    """Pure-python reference: brute-force the merged ladder for several
    UNEQUAL weight maps (the sf fixtures are equal-weight, which makes
    every slot a full cross-source tie — this covers the non-tied and
    partially-tied regimes) and check the closed form on every slot."""
    from sealnet_etl_spark.operators.trainprep import _SLOT_SCALE, schedule_step_of

    for weights in (
        {"a": 3, "b": 5},
        {"a": 1, "b": 7, "c": 7},
        {"x": 2, "y": 3, "z": 11},
        {"s1": 4, "s2": 4, "s3": 9, "s4": 1},
    ):
        # The closed form models the UNBOUNDED epoch ladder (the query's
        # j <= N clip only drops rows whose step exceeds N anyway), so
        # the brute reference must be deep enough that no truncated
        # emission could rank inside the asserted prefix: with j <= 400
        # per source, every omitted emission ranks past step 400 >
        # the 100 asserted.
        ladder = sorted(
            ((2 * k - 1) * _SLOT_SCALE // w, t, k)
            for t, w in weights.items()
            for k in range(1, 401)
        )
        for step, (_, t, k) in enumerate(ladder[:100], start=1):
            assert schedule_step_of(t, k, weights) == step, (t, k, step)


def test_schedule_step_of_megasource_key_collisions():
    """Round-8 review finding: once a source's weight exceeds
    2*_SLOT_SCALE (~2e12 docs) its consecutive slot keys COLLIDE
    ((2k-1)*S div w stops being strictly increasing), and the old
    own-source shortcut (count = n_below(key)) under-counted the tied
    earlier emissions. The fixed closed form counts k-1 directly. Brute
    reference over weight maps with w >> 2*_SLOT_SCALE, asserting every
    slot in the prefix — including the all-tied key=0 runs."""
    from sealnet_etl_spark.operators.trainprep import (
        _SLOT_SCALE,
        schedule_step_of,
    )

    for weights in (
        {"mega": 5 * _SLOT_SCALE, "tiny": 3},
        {"a": 3 * _SLOT_SCALE, "b": 3 * _SLOT_SCALE},
        {"huge": 10**15, "mid": _SLOT_SCALE // 2, "small": 7},
    ):
        ladder = sorted(
            ((2 * k - 1) * _SLOT_SCALE // w, t, k)
            for t, w in weights.items()
            for k in range(1, 401)
        )
        for step, (_, t, k) in enumerate(ladder[:100], start=1):
            assert schedule_step_of(t, k, weights) == step, (t, k, step)
