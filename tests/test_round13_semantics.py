"""Semantic/property tests for the round-13 optimization work — the
IVF assignment Arrow kernel (replacing the broadcast×|cells| fanout +
interpreted decimal folds + max_by argmax with one map-only exact
int64 kernel) and the bigint dot/norm folds that replaced the
decimal(38,0) accumulators in the probe family."""

from __future__ import annotations

from decimal import Decimal

import pytest

from pyspark.sql import functions as F

from sealnet_etl_spark.registry import all_queries

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def queries():
    return all_queries()


def test_ivf_assign_kernel_matches_catalyst(spark):
    """The round-13 assignment kernel must reproduce the round-12
    Catalyst fold+argmax bit-for-bit — the optimization-round exactness
    gate for every IVF-family consumer's unchanged DuckDB hash. Checked
    on the full sf0.01 corpus, both keep_vec arms, both directions of
    exceptAll (the minhash_signatures_arrow precedent)."""
    from sealnet_etl_spark.operators.similarity import (
        _ivf_assign_cells,
        _ivf_assign_cells_catalyst,
        _ivf_frozen_seeds,
        _ivf_int_vectors,
    )

    ei = _ivf_int_vectors(spark, SF_DIR)
    seeds = _ivf_frozen_seeds(spark, ei)
    # edge input: a null vector, a null element and a wrong-width vector
    # fold to a null dot for every cell in the Catalyst form, whose
    # max_by then picks the smallest cell_id; the kernel's fallback
    # must do the same
    edge = spark.createDataFrame(
        [(-1, 0, None), (-2, 0, [1, None] * 32), (-3, 1, [5, -2, 9])],
        ei.schema,
    )
    for df in (ei, edge):
        for keep_vec in (False, True):
            new = _ivf_assign_cells(df, seeds, keep_vec=keep_vec)
            old = _ivf_assign_cells_catalyst(df, seeds, keep_vec=keep_vec)
            if keep_vec:
                new = new.select("vec_id", "snap", "cell_id", "a")
            assert new.exceptAll(old).count() == 0, keep_vec
            assert old.exceptAll(new).count() == 0, keep_vec


def test_ivf_assign_kernel_cc_is_exact_sq_norm(spark):
    """keep_vec additionally emits cc = Σa² off the kernel (one einsum
    per batch). Must equal the Catalyst fold for every vector."""
    from sealnet_etl_spark.operators.similarity import (
        _ivf_assign_cells,
        _ivf_frozen_seeds,
        _ivf_int_vectors,
    )

    ei = _ivf_int_vectors(spark, SF_DIR)
    seeds = _ivf_frozen_seeds(spark, ei)
    got = _ivf_assign_cells(ei, seeds, keep_vec=True).select("vec_id", "cc")
    ref = ei.select(
        "vec_id",
        F.expr(
            "aggregate(transform(a, x -> x * x),"
            " cast(0 as bigint), (acc, v) -> acc + v)"
        ).alias("cc"),
    )
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0


def test_ivf_assign_kernel_exact_tie_breaks_to_smallest_cell(spark):
    """Force EXACT score ties (two seed cells sharing one vector ⇒
    identical dot and nn for every input) so the kernel's ambiguity
    band + exact Python-int re-decide path is exercised, and assert the
    max_by tie rule: smallest cell_id wins. Cross-checked against the
    Catalyst reference on the same inputs."""
    from sealnet_etl_spark.operators.similarity import (
        _ivf_assign_cells,
        _ivf_assign_cells_catalyst,
        EMBED_DIM,
    )

    vec_a = [7] * EMBED_DIM
    vec_b = [(-3) ** (i % 2) for i in range(EMBED_DIM)]  # mixed signs
    nn = Decimal(sum(x * x for x in vec_a))
    seeds = spark.createDataFrame(
        [(11, vec_a, nn), (5, vec_a, nn), (42, vec_b, Decimal(sum(x * x for x in vec_b)))],
        "cell_id bigint, b array<bigint>, nn decimal(38,0)",
    )
    df = spark.createDataFrame(
        [(1, 0, [7] * EMBED_DIM), (2, 1, [1000000] * EMBED_DIM), (3, 0, vec_b)],
        "vec_id bigint, snap int, a array<bigint>",
    )
    new = _ivf_assign_cells(df, seeds)
    old = _ivf_assign_cells_catalyst(df, seeds)
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
    got = {r["vec_id"]: r["cell_id"] for r in new.collect()}
    # vec 1 is exactly seed vec_a: cells 5 and 11 tie ⇒ 5 wins
    assert got[1] == 5
    # vec 3 is exactly vec_b ⇒ cell 42 wins (cos = 1 beats the tied pair)
    assert got[3] == 42


def test_ivf_probe_nprobe_unchanged_by_round13(spark, queries):
    """End-to-end pin for the cc-placement fix (VERDICT r12 #3): the
    nprobe probe's output must stay identical to its DuckDB oracle after
    the member norm moved from a per-candidate fold to the assignment
    kernel."""
    from sealnet_etl_spark.oracle import compare_query

    report = compare_query(spark, "llm_ivf_cell_probe_nprobe", SF_DIR)
    assert report["match"], report


def test_int_dot_fold_matches_decimal_fold(spark):
    """The bigint dot/norm folds (_int_dot/_int_sq_norm) must equal the
    round-12 decimal(38,0) folds on the real corpus — the no-overflow
    bound (|a_i| ≤ 1e6 ⇒ 64-term prefix sums ≤ 6.4e13) made measurable."""
    from sealnet_etl_spark.operators.similarity import (
        _int_dot,
        _int_sq_norm,
        _ivf_int_vectors,
    )

    ei = _ivf_int_vectors(spark, SF_DIR).select(
        "vec_id", "a", F.reverse("a").alias("b")
    )
    got = ei.select(
        "vec_id",
        _int_dot("a", "b").cast("decimal(38,0)").alias("dot"),
        _int_sq_norm("a").cast("decimal(38,0)").alias("nn"),
    )
    ref = ei.select(
        "vec_id",
        F.expr(
            "aggregate(zip_with(a, b, (x, y) -> x * y),"
            " cast(0 as decimal(38,0)), (acc, v) -> acc + v)"
        ).alias("dot"),
        F.expr(
            "aggregate(transform(a, x -> x * x),"
            " cast(0 as decimal(38,0)), (acc, v) -> acc + v)"
        ).alias("nn"),
    )
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0
