"""The Catalyst reference form of the IVF cell assignment, which the
engine's Arrow kernel (``ivf._ivf_assign_cells``) must reproduce
bit-for-bit."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ivf_assign_cells_catalyst(
    df: DataFrame, seeds: DataFrame, keep_vec: bool = False
) -> DataFrame:
    """Fans each vector out x|cells| against the broadcast seed table
    (cell_id, b, nn), folds the 64-term integer dot in decimal(38,0), and
    collapses back through a map-side max_by argmax: sign(dot)·(dot² div
    nn), ties to the smallest cell_id."""
    scored = df.crossJoin(F.broadcast(seeds)).select(
        "vec_id",
        "snap",
        "cell_id",
        "nn",
        *(["a"] if keep_vec else []),
        F.expr(
            "aggregate(zip_with(a, b, (x, y) -> x * y),"
            " cast(0 as decimal(38,0)), (acc, v) -> acc + v)"
        ).alias("dot"),
    )
    scored = scored.withColumn(
        "score",
        F.expr(
            "cast(case when dot >= 0 then (dot * dot) div nn"
            " else -((dot * dot) div nn) end as bigint)"
        ),
    )
    aggs = [
        F.expr("max_by(cell_id, struct(score, -cell_id))").alias("cell_id")
    ]
    if keep_vec:
        aggs.append(F.first("a").alias("a"))
    return (
        scored.groupBy("vec_id", "snap")
        .agg(*aggs)
        .select("vec_id", "snap", "cell_id", *(["a"] if keep_vec else []))
    )
