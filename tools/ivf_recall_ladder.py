#!/usr/bin/env python
"""IVF recall@k-vs-nprobe ladder: measure, don't claim. For each
nprobe in the sweep, run the parameterized probe (_ivf_probe_frame —
the exact plan llm_ivf_cell_probe_nprobe serves with) and score its
per-query top-k against the EXACT brute-force top-k over the full
indexed (even) half, computed with the identical sign(dot)·(dot² div
cc) integer order and nbr_id tie-break — so the only difference
between "exact" and "probe" is the cell restriction, which is
precisely what recall@k measures.

Usage:
    python tools/ivf_recall_ladder.py [sf_dir ...] [--nprobes 1,2,4,8,16]

Prints one line per (sf_dir, nprobe): recall@k averaged over the
IVF_PROBE_Q queries, plus probe wall seconds. Results table lives in
SCALE.md."""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def exact_topk(spark, sf_dir: str, k: int):
    """Brute-force per-query top-k over the whole even half — the
    recall denominator. Same query batch and integer ranking as the
    probe."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from sealnet_etl_spark.operators.ivf import (
        _int_dot,
        _int_sq_norm,
        _ivf_int_vectors,
        _ivf_queries,
        _rank_score_expr,
    )

    ei = _ivf_int_vectors(spark, sf_dir)
    members = ei.filter(F.col("snap") == 0).select(
        F.col("vec_id").alias("nbr_id"),
        F.col("a").alias("c"),
        _int_sq_norm("a").alias("cc"),
    )
    scored = (
        members.crossJoin(F.broadcast(_ivf_queries(ei)))
        .select("query_id", "nbr_id", "cc", _int_dot("q", "c").alias("dot"))
        .withColumn("rank_score", _rank_score_expr())
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rank_score"), "nbr_id")
    rows = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("query_id", "nbr_id")
        .collect()
    )
    truth: dict[int, set] = {}
    for r in rows:
        truth.setdefault(r.query_id, set()).add(r.nbr_id)
    return truth


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dirs", nargs="*", default=None)
    ap.add_argument("--nprobes", default="1,2,4,8,16")
    ap.add_argument("--k", type=int, default=None)
    args = ap.parse_args()

    from sealnet_etl_spark.operators.ivf import (
        IVF_PROBE_K,
        IVF_REFRESH_CELLS,
        _ivf_probe_frame,
    )
    from sealnet_etl_spark.session import get_spark

    sf_dirs = args.sf_dirs or ["/root/testdata/sf0.1"]
    nprobes = [int(x) for x in args.nprobes.split(",")]
    k = args.k or IVF_PROBE_K
    spark = get_spark(app_name="ivf-recall-ladder")

    for sf_dir in sf_dirs:
        truth = exact_topk(spark, sf_dir, k)
        denom = sum(len(v) for v in truth.values())
        for nprobe in nprobes:
            t0 = time.time()
            got = _ivf_probe_frame(spark, sf_dir, nprobe).collect()
            wall = time.time() - t0
            hit = sum(
                1 for r in got if r.nbr_id in truth.get(r.query_id, ())
            )
            print(
                f"{sf_dir} nprobe={nprobe:2d}/{IVF_REFRESH_CELLS} "
                f"recall@{k}={hit / denom:.3f} "
                f"({hit}/{denom}) probe_wall={wall:.2f}s"
            )


if __name__ == "__main__":
    main()
