"""Semantic/property tests for the round-4 operators — the invariants
their oracles cannot state (oracles prove value equality; these prove the
CLAIMED guarantees hold on adversarial inputs the testdata never shows).

The headline test is the SimHash recursion guarantee: the round-4 docstring
claims hot-bucket refinement can never drop a Hamming ≤ 4 pair unless the
pair sits inside an over-cap clone cluster. That claim is structural
(pigeonhole), so it must survive a synthetic corpus built specifically to
defeat one-level blocking: hundreds of DISTINCT signatures crammed into one
level-1 bucket."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sealnet_etl_spark.registry import all_queries

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def queries():
    return all_queries()


def test_simhash_recursive_refinement_never_drops_qualifying_pairs(spark):
    """Adversarial hot bucket: 200 distinct signatures, all sharing block 0
    (bits 0..12 identical -> one level-1 bucket of 200 > HOT_BUCKET_CAP),
    differing only in bits 13+. Brute-force Hamming <= 4 pairs must ALL be
    found — the k+1-block guarantee recursing into complement segments,
    exactly as simhash_candidate_pairs' docstring promises. A chained
    (round-3) pairing provably misses most of these."""
    from sealnet_etl_spark.operators.dedup import (
        HOT_BUCKET_CAP,
        SIMHASH_MAX_HAMMING,
        simhash_candidate_pairs,
    )

    n = 200
    assert n > HOT_BUCKET_CAP
    rows = []
    for i in range(n):
        # distinct patterns in bits 13..20 (one byte) + a sprinkle in the
        # high half so pairs span the lo/hi straddle path too
        lo = (i & 0xFF) << 13
        hi = (i >> 3) & 0x7
        rows.append((i, lo, hi))
    sigs = spark.createDataFrame(rows, "doc_id bigint, sim_lo bigint, sim_hi bigint")

    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_candidate_pairs(sigs).collect()
    }

    def ham(a, b):
        return bin((a[1] ^ b[1])).count("1") + bin((a[2] ^ b[2])).count("1")

    expect = set()
    for i in range(n):
        for j in range(i + 1, n):
            h = ham(rows[i], rows[j])
            if h <= SIMHASH_MAX_HAMMING:
                expect.add((rows[i][0], rows[j][0], h))
    assert expect, "adversarial corpus must actually contain qualifying pairs"
    assert got == expect, (
        f"missing={sorted(expect - got)[:5]} extra={sorted(got - expect)[:5]}"
    )


def test_simhash_clone_cluster_still_chains(spark):
    """The one designed exception: an over-cap cluster of IDENTICAL
    signatures (true boilerplate) chains — linear pair count, connectivity
    preserved — because its exact output is quadratic by definition."""
    from sealnet_etl_spark.operators.dedup import (
        CHAIN_WINDOW,
        simhash_candidate_pairs,
    )
    from sealnet_etl_spark.operators.dedup import connected_components

    n = 150
    sigs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit(0xABC).cast("bigint").alias("sim_lo"),
        F.lit(0x123).cast("bigint").alias("sim_hi"),
    )
    pairs = simhash_candidate_pairs(sigs)
    cnt = pairs.count()
    assert 0 < cnt <= n * CHAIN_WINDOW
    clusters = connected_components(pairs, "doc_a", "doc_b")
    assert clusters.select("cluster_id").distinct().count() == 1
    assert clusters.count() == n


def test_triangle_output_rows_are_real_oriented_triangles(spark, queries):
    """Every emitted (v1, v2, v3) must be strictly ordered and each of its
    three edges present in the synthesized edge set; and the emitted set
    must be complete and duplicate-free against a local recount."""
    import hashlib

    rows = queries["jn_triangle_count"](spark, SF_DIR).collect()
    triples = [(r.v1, r.v2, r.v3) for r in rows]
    assert len(triples) == len(set(triples)), "duplicate triangles"
    assert all(a < b < c for a, b, c in triples)

    n_cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").count()
    edges = set()
    for b in range(2, n_cust + 1):
        for i in range(3):
            h = int(
                hashlib.md5(f"tri|{b}|{i}".encode()).hexdigest()[:8], 16
            )
            a = (h % (b - 1)) + 1
            if a != b:
                edges.add((a, b))
    for a, b, c in triples:
        assert {(a, b), (a, c), (b, c)} <= edges, (a, b, c)
    adj: dict[int, set] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    expect = {
        (a, b, c)
        for a in adj
        for b in sorted(adj[a])
        for c in sorted(adj[a])
        if b < c and c in adj.get(b, set())
    }
    assert set(triples) == expect


def test_span_corruption_invariants(spark, queries):
    """Spans must never overlap, never cross their 20-token block, and
    cover exactly 15% of full-block tokens (3 per 20)."""
    from sealnet_etl_spark.operators.trainprep import (
        CORRUPT_BLOCK,
        CORRUPT_SPAN,
    )

    rows = queries["llm_span_corruption_plan"](spark, SF_DIR).collect()
    assert rows
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc, spans in by_doc.items():
        spans.sort(key=lambda r: r.span_idx)
        assert [s.span_idx for s in spans] == list(range(len(spans)))
        for s in spans:
            block_start = s.span_idx * CORRUPT_BLOCK
            assert block_start <= s.start_pos
            assert s.start_pos + CORRUPT_SPAN <= block_start + CORRUPT_BLOCK
            assert s.span_len == CORRUPT_SPAN
        for s1, s2 in zip(spans, spans[1:]):
            assert s1.start_pos + s1.span_len <= s2.start_pos


def test_curriculum_phases_are_balanced_and_orders_contiguous(spark, queries):
    """NTILE must spread docs across phases within 1 of each other, and
    each phase's within-phase order must be exactly 1..|phase|."""
    rows = queries["llm_curriculum_order"](spark, SF_DIR).collect()
    by_phase: dict[int, list] = {}
    for r in rows:
        by_phase.setdefault(r.phase, []).append(r.ord)
    sizes = [len(v) for v in by_phase.values()]
    assert max(sizes) - min(sizes) <= 1
    for phase, ords in by_phase.items():
        assert sorted(ords) == list(range(1, len(ords) + 1)), phase


def test_rrf_scores_are_monotone_and_exact(spark, queries):
    """The returned top-20 must be sorted by fused score with doc_id
    tie-break, and each score must equal 1/(60+r1)+1/(60+r2) exactly."""
    from sealnet_etl_spark.operators.windows import RRF_K, RRF_TOP

    rows = queries["wn_rrf_rank_fusion"](spark, SF_DIR).collect()
    assert len(rows) == RRF_TOP
    for r in rows:
        assert r.rrf == 1.0 / (RRF_K + r.rank1) + 1.0 / (RRF_K + r.rank2)
    keys = [(-r.rrf, r.doc_id) for r in rows]
    assert keys == sorted(keys)


def test_manifest_files_exist_on_disk(spark, queries):
    """The manifest's file counts must describe real files: re-deriving
    the count from the written directory agrees with the audit."""
    from collections import Counter

    from sealnet_etl_spark.sources.store import store_path
    from sealnet_etl_spark.sources.tables import data_files

    rows = queries["src_parquet_manifest"](spark, SF_DIR).collect()
    base = store_path(spark, "scratch", SF_DIR, "src_parquet_manifest")
    per_shard = Counter(
        f.getPath().getParent().getName() for f in data_files(spark, base)[1]
    )
    for r in rows:
        assert per_shard[f"shard={r.shard}"] == r.n_files, (r.shard, per_shard)


def test_pack_lineage_partitions_every_doc(spark, queries):
    """Lineage spans must tile each doc exactly: per doc, the per-sequence
    token counts sum to the doc's packed token count, sequence indices are
    contiguous, and every span fits inside [0, SEQ_LEN)."""
    from sealnet_etl_spark.operators.trainprep import SEQ_LEN

    pack = {
        r.doc_id: (r.n_tokens, r.first_seq, r.last_seq)
        for r in queries["llm_sequence_pack"](spark, SF_DIR).collect()
    }
    lineage: dict[int, list] = {}
    for r in queries["llm_pack_lineage"](spark, SF_DIR).collect():
        assert 0 <= r.seq_start < SEQ_LEN
        assert 0 < r.n_tokens_in_seq <= SEQ_LEN
        lineage.setdefault(r.doc_id, []).append(r)
    assert set(lineage) == set(pack)
    for doc_id, rows in lineage.items():
        n_tokens, first_seq, last_seq = pack[doc_id]
        rows.sort(key=lambda r: r.seq_idx)
        assert [r.seq_idx for r in rows] == list(range(first_seq, last_seq + 1))
        assert sum(r.n_tokens_in_seq for r in rows) == n_tokens


def test_bpe_train_matches_reference_implementation(spark, queries):
    """The learned merge table must equal a plain-Python BPE run over the
    same word-frequency table — same pair counts, same (count, pair)
    argmax, same greedy left-to-right merging."""
    from collections import Counter

    from sealnet_etl_spark.operators.trainprep import BPE_MERGES

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    freq: Counter = Counter()
    for r in docs:
        if r.text:
            for w in r.text.lower().split():
                if w:
                    freq[w] += 1
    seqs = {tuple(list(w) + ["</w>"]): f for w, f in freq.items()}
    expect = []
    for rank in range(1, BPE_MERGES + 1):
        pairs: Counter = Counter()
        for sym, f in seqs.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] += f
        if not pairs:
            break
        (left, right), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0])
        )
        expect.append((rank, left, right, left + right, cnt))
        merged: dict = {}
        for sym, f in seqs.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and (sym[i], sym[i + 1]) == (left, right):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            key = tuple(out)
            merged[key] = merged.get(key, 0) + f
        seqs = merged
    got = [
        (r.merge_rank, r.sym_left, r.sym_right, r.merged, r.pair_count)
        for r in queries["llm_bpe_train"](spark, SF_DIR)
        .orderBy("merge_rank")
        .collect()
    ]
    assert got == expect


def test_pii_scrub_plants_and_removes(spark, queries):
    """A planted corpus with known PII must come back with the right
    counts and with no residual matches in the scrubbed text."""
    import hashlib
    import re

    from sealnet_etl_spark.operators.textstats import (
        PII_EMAIL,
        PII_LONG_ID,
        PII_PHONE,
    )
    from sealnet_etl_spark.registry import QUERIES

    rows = [
        (1, "Contact Bob@Example.COM or 555-123-4567 now"),
        (2, "ids 123456789 and 98765432109 overlap none"),
        (3, "clean text only"),
        # ADVICE r4: a phone-shaped run inside an email local part (the
        # email charset admits digits/hyphens) — must count as 1 email,
        # 0 phones, on BOTH engines (phones are counted post-email-redact).
        (4, "mail 123-456-7890@relay.example.com before 555-000-1111 ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    import tempfile, os

    tmp = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
    out = {
        r.doc_id: r
        for r in QUERIES["llm_pii_scrub"].fn(spark, tmp).collect()
    }
    assert (out[1].n_emails, out[1].n_phones) == (1, 1)
    assert out[2].n_long_ids == 2
    assert (out[3].n_emails, out[3].n_phones, out[3].n_long_ids) == (0, 0, 0)
    # phone inside the email match is consumed by the email redaction;
    # only the free-standing phone counts
    assert (out[4].n_emails, out[4].n_phones) == (1, 1)
    # and the DuckDB oracle must agree cell-for-cell on this planted corpus
    # (documents-only view: duck_connection() needs all 10 tables on disk)
    import duckdb

    from sealnet_etl_spark.oracle import pdf_to_multiset

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{os.path.join(tmp, 'documents.parquet', '*.parquet')}')"
    )
    duck_pdf = con.execute(QUERIES["llm_pii_scrub"].oracle).df()
    con.close()
    spark_pdf = QUERIES["llm_pii_scrub"].fn(spark, tmp).toPandas()
    assert pdf_to_multiset(spark_pdf) == pdf_to_multiset(duck_pdf)
    for doc_id, text in rows:
        s = text.lower()
        s = re.sub(PII_EMAIL, "<EMAIL>", s)
        s = re.sub(PII_PHONE, "<PHONE>", s)
        s = re.sub(PII_LONG_ID, "<ID>", s)
        assert out[doc_id].scrubbed_md5 == hashlib.md5(s.encode()).hexdigest()
        assert not re.search(PII_EMAIL, s.replace("<EMAIL>", "#"))
