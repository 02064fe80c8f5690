"""Frozen-quantizer IVF family: index refresh, cell probes, rebalance,
accumulated serve and the exactly-graded PQ / IVF-PQ top-k.

Every query here is a configuration of one quantizer and one serve path:
- the quantizer is the md5-first ``'ivfr:'`` even-half vectors
  (_ivf_frozen_seeds), and each vector goes to the seed with the best
  exact integer score (_ivf_assign_cells);
- a serve is the md5-first ``'ivfp:'`` odd-half query batch
  (_ivf_queries), routed to its nearest cells (_ivf_route) and ranked
  against those cells' members (_ivf_member_topk).

The DuckDB oracles are written from the same pieces (IVF_ORACLE_CTES,
_sql_query_cells, _sql_member_topk), so each one recomputes the identical
cells bit for bit. The streaming legs in streaming/incremental.py use the
same quantizer and oracle prefix.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import query
from ..sources.store import store_path, write_once
from ..sources.tables import fan_out_small_input, input_bytes
from .dedup import _truncate_lineage
from .similarity import EMBED_DIM, load_embeddings

#: Coarse cell count. A plan constant, deliberately small so the seed side
#: is a bounded broadcast at every SF; production IVF uses ~sqrt(n) cells
#: and the SAME plan shape.
IVF_REFRESH_CELLS = 16
#: Query-batch size of every serve (md5-first odd-half vec_ids — the
#: hard_negatives_batch anchor convention).
IVF_PROBE_Q = 8
#: Neighbors returned per query by every serve.
IVF_PROBE_K = 5
#: Cells probed per query by the multi-cell serves. 4 of 16 is the
#: standard nprobe/√cells neighborhood at this cell count; the recall
#: ladder (tools/ivf_recall_ladder.py, table in SCALE.md) measures the
#: recall@k-vs-nprobe curve this constant sits on.
IVF_NPROBE = 4
#: Cells split per rebalance pass — the hottest IVF_SPLIT_TOP cells by
#: total occupancy (ties to the smaller cell_id). A fixed-count rule
#: rather than a x-of-mean threshold: the md5-seeded quantizer
#: tessellates this corpus family almost uniformly (max/mean 1.16-1.41
#: across sf0.01-0.1), so a 2x-mean gate would never fire on the
#: fixtures, and a production maintenance window splits its k hottest
#: shards regardless.
IVF_SPLIT_TOP = 4
#: Fan-out per split: each hot cell re-seeds into this many sub-cells.
IVF_SPLIT_WAYS = 2
#: Product-quantization layout for the exactly-graded ADC probes:
#: EMBED_DIM(64) = PQ_M(8) subspaces x PQ_SUB_DIM dims, PQ_K(16) codewords
#: per subspace. Codewords are the sub-vectors of the md5-first PQ_K
#: source vectors ('pqcb:' salt) — a deterministic, SQL-recomputable
#: stand-in for k-means codebooks that keeps every integer exact.
PQ_M = 8
PQ_K = 16
PQ_SUB_DIM = EMBED_DIM // PQ_M

# ---------------------------------------------------------------------------
# DuckDB oracle pieces
# ---------------------------------------------------------------------------


def _sql_dot(x: str, y: str) -> str:
    return (
        f"list_sum(list_transform(range(1, len({x}) + 1),"
        f" i -> {x}[i] * {y}[i]))::HUGEINT"
    )


def _sql_sq(x: str) -> str:
    return f"list_sum(list_transform({x}, x -> x * x))::HUGEINT"


def _sql_rank(dot: str, norm: str) -> str:
    """sign(dot)·(dot² div norm) — the family's exact integer order."""
    return (
        f"CASE WHEN {dot} >= 0 THEN ({dot} * {dot}) // {norm}"
        f" ELSE -(({dot} * {dot}) // {norm}) END"
    )


def _sql_cos(dot: str, qq: str, cc: str) -> str:
    return (
        f"ROUND(CAST({dot} AS DOUBLE)"
        f" / (SQRT(CAST({qq} AS DOUBLE)) * SQRT(CAST({cc} AS DOUBLE))), 6)"
    )


#: The quantizer as DuckDB CTEs: ei (vec_id, snap, a) integer micro-unit
#: vectors, seeds (cell_id, b, nn), assigned (vec_id, snap, cell_id, a)
#: for the whole corpus, and queries (query_id, a, qq) — the serve batch.
#: Oracles append their own CTEs (", x AS (...)") and a final SELECT.
IVF_ORACLE_CTES = f"""
    WITH ei AS (
        SELECT vec_id, vec_id % 2 AS snap,
               list_transform(embedding::DOUBLE[],
                   x -> CAST(floor(x * 1000000) AS BIGINT)) AS a
        FROM embeddings WHERE embedding IS NOT NULL
    ), seeds AS (
        SELECT vec_id AS cell_id, a AS b, {_sql_sq("a")} AS nn
        FROM ei WHERE snap = 0
        ORDER BY md5('ivfr:' || vec_id), vec_id
        LIMIT {IVF_REFRESH_CELLS}
    ), assigned AS (
        SELECT vec_id, snap, cell_id, a
        FROM (
            SELECT ei.vec_id, ei.snap, ei.a, s.cell_id,
                   {_sql_rank("d.dot", "s.nn")} AS score
            FROM ei CROSS JOIN seeds s
            CROSS JOIN LATERAL (SELECT {_sql_dot("ei.a", "s.b")} AS dot) d
        )
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY vec_id ORDER BY score DESC, cell_id) = 1
    ), queries AS (
        SELECT vec_id AS query_id, a, {_sql_sq("a")} AS qq
        FROM ei WHERE snap = 1
        ORDER BY md5('ivfp:' || vec_id), vec_id
        LIMIT {IVF_PROBE_Q}
    )"""


def _sql_query_cells(seeds: str, cols: str, nprobe: int) -> str:
    """query_cells CTE: each query's ``nprobe`` best cells of ``seeds``
    (cell columns ``cols``, then b and nn), cell_rank 1 = best; ties
    break on ``cols`` in order."""
    return f""", query_cells AS (
        SELECT * FROM (
            SELECT q.query_id, q.a, q.qq, {cols},
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_sql_rank("d.dot", "s.nn")} DESC, {cols}
                   ) AS cell_rank
            FROM queries q CROSS JOIN {seeds} s
            CROSS JOIN LATERAL (SELECT {_sql_dot("q.a", "s.b")} AS dot) d
        )
        WHERE cell_rank <= {nprobe}
    )"""


def _sql_member_topk(cols: str, where: str = "TRUE") -> str:
    """scored CTE and final SELECT: query_cells probed against members
    (nbr_id, cell_id, c, cc, ...) in the same cell, the top IVF_PROBE_K
    by the exact integer order (ties to the smaller nbr_id), with the
    rounded integer cosine."""
    return f""", scored AS (
        SELECT qc.*, m.* EXCLUDE (cell_id), {_sql_dot("qc.a", "m.c")} AS dot
        FROM query_cells qc JOIN members m ON m.cell_id = qc.cell_id
        WHERE {where}
    )
    SELECT query_id, {cols}, {_sql_cos("dot", "qq", "cc")} AS cos_sim
    FROM scored
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY {_sql_rank("dot", "cc")} DESC, nbr_id
    ) <= {IVF_PROBE_K}
"""


def _sql_pq(keys: str) -> str:
    """cb, enc and qtab CTEs: the codebook drawn from pq_src (vec_id, v),
    each pq_src vector's nearest codeword per subspace (exact integer L2,
    ties to the smaller cb_id), and the distance table of every pq_q
    ({keys}, v) row."""

    def sub(v: str) -> str:
        return (
            f"list_transform(range(1, {PQ_SUB_DIM} + 1),"
            f" i -> {v}[m * {PQ_SUB_DIM} + i])"
        )

    dist = (
        f"list_sum(list_transform(range(1, {PQ_SUB_DIM} + 1),"
        f" i -> (x[i] - cb.c[i]) * (x[i] - cb.c[i])))::BIGINT"
    )
    subspaces = f"(SELECT unnest(range({PQ_M})) AS m)"
    return f""", cb AS (
        SELECT m, cb_id, {sub("v")} AS c
        FROM (SELECT vec_id AS cb_id, v FROM pq_src
              ORDER BY md5('pqcb:' || vec_id), vec_id LIMIT {PQ_K}),
             {subspaces}
    ), enc AS (
        SELECT vec_id, m, cb_id
        FROM (
            SELECT ms.vec_id, ms.m, cb.cb_id, {dist} AS dist
            FROM (SELECT vec_id, m, {sub("v")} AS x
                  FROM pq_src, {subspaces}) ms
            JOIN cb ON cb.m = ms.m
        )
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY vec_id, m ORDER BY dist, cb_id) = 1
    ), qtab AS (
        SELECT {keys}, ms.m, cb.cb_id, {dist} AS qdist
        FROM (SELECT {keys}, m, {sub("v")} AS x FROM pq_q, {subspaces}) ms
        JOIN cb ON cb.m = ms.m
    )"""


def _sql_pq_refine(cols: str) -> str:
    """Final SELECT: the top IVF_PROBE_K of adc (query_id, nbr_id,
    adc_dist, ...) by (adc_dist, nbr_id), each with its exact integer
    cosine to the query."""
    return f""", topk AS (
        SELECT * FROM adc
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY adc_dist, nbr_id
        ) <= {IVF_PROBE_K}
    )
    SELECT t.query_id, {cols}, {_sql_cos("d.dot", "q.qq", "d.cc")} AS cos_sim
    FROM topk t
    JOIN queries q ON q.query_id = t.query_id
    JOIN ei n ON n.vec_id = t.nbr_id
    CROSS JOIN LATERAL (SELECT {_sql_dot("q.a", "n.a")} AS dot,
                               {_sql_sq("n.a")} AS cc) d
"""


#: members CTE of the serves over the indexed (even) half.
_SQL_EVEN_MEMBERS = f""", members AS (
        SELECT vec_id AS nbr_id, cell_id, a AS c, {_sql_sq("a")} AS cc
        FROM assigned WHERE snap = 0
    )"""


def _ivf_nprobe_oracle(nprobe: int) -> str:
    return (
        IVF_ORACLE_CTES
        + _SQL_EVEN_MEMBERS
        + _sql_query_cells("seeds", "s.cell_id", nprobe)
        + _sql_member_topk(
            "cell_id, CAST(cell_rank AS BIGINT) AS cell_rank, nbr_id"
        )
    )


_IVF_PROBE_ORACLE = f"""
    SELECT query_id, cell_id, nbr_id, cos_sim
    FROM ({_ivf_nprobe_oracle(1)})
"""

_IVF_REFRESH_ORACLE = (
    IVF_ORACLE_CTES
    + """
    SELECT cell_id,
           CAST(SUM(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_old,
           CAST(SUM(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_added,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN snap = 1 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS added_micro
    FROM assigned GROUP BY cell_id
"""
)

#: The rebalance split as CTEs over assigned: occ per-cell counts, the
#: IVF_SPLIT_TOP hot cells, each hot cell's IVF_SPLIT_WAYS 'ivfs:'
#: sub-seeds, and its members re-routed among them.
_SQL_REBALANCE = f""", occ AS (
        SELECT cell_id, COUNT(*) AS n FROM assigned GROUP BY cell_id
    ), hot AS (
        SELECT cell_id, n FROM occ
        QUALIFY ROW_NUMBER() OVER (ORDER BY n DESC, cell_id)
            <= {IVF_SPLIT_TOP}
    ), sub_seeds AS (
        SELECT a.cell_id AS parent_cell_id, a.vec_id AS sub_cell_id,
               a.a AS b, {_sql_sq("a.a")} AS nn
        FROM assigned a JOIN hot h ON a.cell_id = h.cell_id
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY a.cell_id
            ORDER BY md5('ivfs:' || a.vec_id), a.vec_id
        ) <= {IVF_SPLIT_WAYS}
    ), reassigned AS (
        SELECT vec_id, parent_cell_id, sub_cell_id
        FROM (
            SELECT m.vec_id, ss.parent_cell_id, ss.sub_cell_id,
                   {_sql_rank("d.dot", "ss.nn")} AS score
            FROM (SELECT a.vec_id, a.cell_id, a.a
                  FROM assigned a JOIN hot h ON a.cell_id = h.cell_id) m
            JOIN sub_seeds ss ON ss.parent_cell_id = m.cell_id
            CROSS JOIN LATERAL (SELECT {_sql_dot("m.a", "ss.b")} AS dot) d
        )
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY vec_id ORDER BY score DESC, sub_cell_id) = 1
    )"""

_IVF_REBALANCE_ORACLE = (
    IVF_ORACLE_CTES
    + _SQL_REBALANCE
    + """, tot AS (
        SELECT SUM(n)::BIGINT AS total FROM occ
    ), rebalanced AS (
        SELECT sub_cell_id AS cell_id, parent_cell_id,
               COUNT(*) AS n_members, 1 AS was_split
        FROM reassigned GROUP BY sub_cell_id, parent_cell_id
        UNION ALL
        SELECT o.cell_id, o.cell_id AS parent_cell_id,
               o.n AS n_members, 0 AS was_split
        FROM occ o WHERE o.cell_id NOT IN (SELECT cell_id FROM hot)
    )
    SELECT r.cell_id, r.parent_cell_id,
           CAST(r.n_members AS BIGINT) AS n_members,
           CAST(r.was_split AS BIGINT) AS was_split,
           CAST(r.n_members * 1000000 // t.total AS BIGINT)
               AS occupancy_micro
    FROM rebalanced r CROSS JOIN tot t
"""
)

_IVF_PROBE_REBAL_ORACLE = (
    IVF_ORACLE_CTES
    + _SQL_REBALANCE
    + f""", post_seeds AS (
        SELECT s.cell_id, s.cell_id AS parent_cell_id, s.b, s.nn,
               0 AS was_split
        FROM seeds s WHERE s.cell_id NOT IN (SELECT cell_id FROM hot)
        UNION ALL
        SELECT ss.sub_cell_id AS cell_id, ss.parent_cell_id, ss.b, ss.nn,
               1 AS was_split
        FROM sub_seeds ss
    ), members AS (
        SELECT vec_id AS nbr_id, cell_id, a AS c, {_sql_sq("a")} AS cc
        FROM (
            SELECT a.vec_id, a.cell_id, a.a FROM assigned a
            WHERE a.cell_id NOT IN (SELECT cell_id FROM hot)
            UNION ALL
            SELECT r.vec_id, r.sub_cell_id, a.a
            FROM reassigned r JOIN assigned a ON a.vec_id = r.vec_id
        )
    )"""
    + _sql_query_cells(
        "post_seeds", "s.cell_id, s.parent_cell_id, s.was_split", 1
    )
    + _sql_member_topk(
        "cell_id, parent_cell_id, CAST(was_split AS BIGINT) AS was_split,"
        " nbr_id",
        "m.nbr_id <> qc.query_id",
    )
)

_IVF_SERVE_ACCUM_ORACLE = (
    IVF_ORACLE_CTES
    + f""", members AS (
        SELECT vec_id AS nbr_id, snap AS from_stream, cell_id, a AS c,
               {_sql_sq("a")} AS cc
        FROM assigned
    )"""
    + _sql_query_cells("seeds", "s.cell_id", IVF_NPROBE)
    + _sql_member_topk(
        "cell_id, CAST(cell_rank AS BIGINT) AS cell_rank, nbr_id,"
        " CAST(from_stream AS BIGINT) AS from_stream",
        "m.nbr_id <> qc.query_id",
    )
)

_PQ_ADC_ORACLE = (
    IVF_ORACLE_CTES
    + """, pq_src AS (
        SELECT vec_id, a AS v FROM ei WHERE snap = 0
    ), pq_q AS (
        SELECT query_id, a AS v FROM queries
    )"""
    + _sql_pq("query_id")
    + """, adc AS (
        SELECT t.query_id, e.vec_id AS nbr_id,
               SUM(t.qdist)::BIGINT AS adc_dist
        FROM enc e JOIN qtab t ON t.m = e.m AND t.cb_id = e.cb_id
        GROUP BY t.query_id, e.vec_id
    )"""
    + _sql_pq_refine("t.nbr_id, t.adc_dist")
)

_IVFPQ_GRADED_ORACLE = (
    IVF_ORACLE_CTES
    + _sql_query_cells("seeds", "s.cell_id", IVF_NPROBE)
    + """, pq_src AS (
        SELECT ca.vec_id,
               list_transform(range(1, len(ca.a) + 1),
                   i -> ca.a[i] - s.b[i]) AS v
        FROM assigned ca JOIN seeds s ON s.cell_id = ca.cell_id
        WHERE ca.snap = 0
    ), pq_q AS (
        SELECT qc.query_id, qc.cell_id,
               list_transform(range(1, len(qc.a) + 1),
                   i -> qc.a[i] - s.b[i]) AS v
        FROM query_cells qc JOIN seeds s ON s.cell_id = qc.cell_id
    )"""
    + _sql_pq("query_id, cell_id")
    + """, adc AS (
        SELECT qc.query_id, ca.cell_id, ca.vec_id AS nbr_id,
               SUM(t.qdist)::BIGINT AS adc_dist
        FROM query_cells qc
        JOIN assigned ca ON ca.cell_id = qc.cell_id AND ca.snap = 0
        JOIN enc e ON e.vec_id = ca.vec_id
        JOIN qtab t ON t.query_id = qc.query_id
                   AND t.cell_id = qc.cell_id
                   AND t.m = e.m AND t.cb_id = e.cb_id
        GROUP BY qc.query_id, ca.cell_id, ca.vec_id
    )"""
    + _sql_pq_refine("t.cell_id, t.nbr_id, t.adc_dist")
)


# ---------------------------------------------------------------------------
# The quantizer
# ---------------------------------------------------------------------------


def micro_units(col: str = "embedding") -> Column:
    """Embedding components floored to exact integer micro-units — the
    llm_embedding_drift discipline, which makes every downstream dot
    product an order-independent integer both engines compute
    bit-identically. Components are |v| < 1 on this table, so a_i ≤ 1e6,
    per-term products ≤ 1e12, 64-dim dots ≤ 6.4e13 (bigint-safe), and
    dot² ≤ 4.1e27 (decimal(38,0)/HUGEINT-safe)."""
    return F.expr(
        f"transform(cast({col} as array<double>),"
        " x -> cast(floor(x * 1000000) as bigint))"
    )


def _ivf_int_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, snap, a): the corpus in micro-units; snap = vec_id % 2
    (0 = the indexed old half, 1 = the arriving new half)."""
    return load_embeddings(spark, sf_dir).select(
        "vec_id",
        F.pmod("vec_id", F.lit(2)).alias("snap"),
        micro_units().alias("a"),
    )


def _ivf_frozen_seeds(
    spark: SparkSession, ei: DataFrame
) -> tuple[DataFrame, list[tuple]]:
    """The frozen coarse quantizer: the md5-first IVF_REFRESH_CELLS
    old-half vectors ('ivfr:' order — a stand-in for trained centroids
    that keeps the quantizer SQL-recomputable, unlike k-means). Returns
    the seed frame (cell_id, b, nn) and the same rows as driver-local
    (cell_id, b, nn) tuples for _ivf_assign_cells.

    Materialized once per caller (a bounded |cells|-row collect): left
    lazy, every consumer would re-run the TakeOrdered over the whole old
    half. nn = Σb² is computed here on the collected rows, so no old-half
    row pays the 64-term fold; the Decimal keeps the frame's nn type
    decimal(38,0) for every downstream expression."""
    rows = (
        ei.filter(F.col("snap") == 0)
        .select(
            F.col("vec_id").alias("cell_id"),
            F.col("a").alias("b"),
        )
        .orderBy(
            F.md5(F.concat(F.lit("ivfr:"), F.col("cell_id").cast("string"))),
            "cell_id",
        )
        .limit(IVF_REFRESH_CELLS)
        .collect()
    )
    seed_rows = [
        (r["cell_id"], r["b"], Decimal(sum(x * x for x in r["b"])))
        for r in rows
    ]
    seeds = spark.createDataFrame(
        seed_rows, "cell_id bigint, b array<bigint>, nn decimal(38,0)"
    )
    return seeds, seed_rows


def _ivf_assign_cells(
    df: DataFrame, seed_rows: list[tuple], keep_vec: bool = False
) -> DataFrame:
    """Assign each vector of ``df`` (vec_id, snap, a) to its best seed
    cell by EXACT integer cosine ranking: comparing cos(a, b_i) across
    seeds with a shared |a| factor reduces to comparing dot²/nn with
    dot's sign — the exact integer floor sign(dot)·(dot² div nn), ties
    to the smallest cell_id, so both engines rank identically.

    One map-only Arrow kernel: the |cells| ``seed_rows`` (cell_id, b, nn)
    ride in its closure and each batch computes all dots as one exact
    int64 matmul — |a_i| ≤ 1e6 ⇒ 64-term sums ≤ 6.4e13, far inside int64.
    d² needs 128 bits, so a float64 scoreboard picks each row's winner
    and any row whose top-2 gap is inside the float/floor ambiguity band
    (≤ 2 + 1e-12·|s|; exact floor ties land here) is re-decided with
    exact Python ints. Bit-equality with the Catalyst reference
    (tests/ivf_reference.py) is pinned by
    tests/test_round13_semantics.py::test_ivf_assign_kernel_matches_catalyst.

    The kernel is row-local, so the assignment rides the scan's
    partitioning with no exchange. ``keep_vec=True`` also emits ``a`` and
    ``cc`` = Σa² (int64-exact, one einsum per batch), so serve paths
    fold the member norm once per member, never per (query, member)."""
    import numpy as np

    import pyarrow as pa

    seed_rows = sorted(seed_rows, key=lambda r: r[0])
    cell_ids = [int(c) for c, _, _ in seed_rows]
    b_mat = np.array([b for _, b, _ in seed_rows], dtype=np.int64)  # (C, D)
    nn_ints = [int(nn) for _, _, nn in seed_rows]
    nn_f = np.array([float(v) for v in nn_ints], dtype=np.float64)
    cell_arr = np.array(cell_ids, dtype=np.int64)

    in_fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = ", ".join(
        [f"{nm} {in_fields[nm]}" for nm in ["vec_id", "snap"]]
        + ["cell_id bigint"]
        + ([f"a {in_fields['a']}", "cc bigint"] if keep_vec else [])
    )
    if not seed_rows:
        # no seeds (empty corpus): the reference's cross join is empty too
        return df.sparkSession.createDataFrame([], out_schema)
    n_cells, dim = b_mat.shape

    def _exact_best(row_dots) -> int:
        best_s = None
        best_j = 0
        for j, d in enumerate(row_dots):
            s = (d * d) // nn_ints[j]
            if d < 0:
                s = -s
            if best_s is None or s > best_s:  # ties keep the FIRST
                best_s, best_j = s, j  # (seeds sorted by cell_id ASC)
        return best_j

    def kernel(batches):
        for rb in batches:
            acol = rb.column(rb.schema.get_field_index("a"))
            n = len(acol)
            if n == 0:
                continue
            lengths = acol.value_lengths().to_numpy(zero_copy_only=False)
            if (
                acol.null_count
                or acol.flatten().null_count
                or not (lengths == dim).all()
            ):
                # defensive only — load_embeddings/_emb_drift_replay_dir
                # drop null vectors and every fixture is EMBED_DIM-wide.
                # A null, null-element or non-EMBED_DIM vector folds to a
                # null dot in the Catalyst form (zip_with pads with
                # nulls), so every score is null; max_by over
                # struct(null, -cell_id) is not null-skipping and picks
                # the SMALLEST cell_id — mirrored here. cc is Σa² when
                # every element is present, else null (the reference
                # fold's null propagation).
                best_cells: list = []
                cc_vals: list = []
                for a in acol.to_pylist():
                    if a is None or None in a:
                        best_cells.append(cell_ids[0])
                        cc_vals.append(None)
                        continue
                    cc_vals.append(sum(x * x for x in a))
                    if len(a) != dim:
                        best_cells.append(cell_ids[0])
                        continue
                    dots = [
                        sum(x * y for x, y in zip(a, b_mat[j].tolist()))
                        for j in range(n_cells)
                    ]
                    best_cells.append(cell_ids[_exact_best(dots)])
                cell_out = pa.array(best_cells, type=pa.int64())
                cc_out = pa.array(cc_vals, type=pa.int64())
            else:
                mat = (
                    acol.flatten()
                    .to_numpy(zero_copy_only=False)
                    .astype(np.int64, copy=False)
                    .reshape(n, dim)
                )
                dots = mat @ b_mat.T  # (n, C) exact in int64
                df64 = dots.astype(np.float64)
                sf = np.where(dots >= 0, df64 * df64, -(df64 * df64)) / nn_f
                best = np.argmax(sf, axis=1)  # first max = smallest cell
                # ambiguity band: float error (~1e-12 rel) OR an exact
                # floor tie (|Δs| < 1 on ~1e13 magnitudes) — re-decide
                # those rows with exact Python ints
                srt = np.sort(sf, axis=1)
                gap = srt[:, -1] - srt[:, -2]
                amb = gap <= (2.0 + 1e-12 * np.abs(srt[:, -1]))
                if amb.any():
                    dl = dots[amb].tolist()
                    fixed = [_exact_best(row) for row in dl]
                    best[np.flatnonzero(amb)] = fixed
                cc = np.einsum("ij,ij->i", mat, mat)  # ≤ 6.4e13, exact
                cell_out = pa.array(cell_arr[best])
                cc_out = pa.array(cc)
            out = [
                rb.column(rb.schema.get_field_index(nm))
                for nm in ["vec_id", "snap"]
            ] + [cell_out]
            names = ["vec_id", "snap", "cell_id"]
            if keep_vec:
                out += [
                    rb.column(rb.schema.get_field_index("a")),
                    cc_out,
                ]
                names += ["a", "cc"]
            yield pa.RecordBatch.from_arrays(out, names=names)

    cols = ["vec_id", "snap", "a"]
    return df.select(*cols).mapInArrow(kernel, out_schema)


def _int_dot(x: str, y: str) -> Column:
    """Exact integer dot product as a BIGINT fold: per-term products are
    ≤ 1e12 and every 64-term prefix sum ≤ 6.4e13 (the micro_units bound),
    so the fold never leaves int64 — primitive long arithmetic in the
    interpreted lambda, no per-element Decimal boxing. Only the SQUARE of
    a dot (≤ 4.1e27) needs 128 bits; _rank_score_expr takes it in
    decimal."""
    return F.expr(
        f"aggregate(zip_with({x}, {y}, (x, y) -> x * y),"
        " cast(0 as bigint), (acc, v) -> acc + v)"
    )


def _int_sq_norm(x: str) -> Column:
    """Σx² as a BIGINT fold — same bound/rationale as _int_dot."""
    return F.expr(
        f"aggregate(transform({x}, x -> x * x),"
        " cast(0 as bigint), (acc, v) -> acc + v)"
    )


def _rank_score_expr(dot: str = "dot", norm: str = "cc") -> Column:
    """sign(dot)·(dot² div norm) with the square taken in decimal(38,0)
    (dot² ≤ 4.1e27 passes int64; the quotient ≤ 6.4e13 is bigint-safe)."""
    d = f"cast({dot} as decimal(38,0))"
    return F.expr(
        f"cast(case when {dot} >= 0 then ({d} * {dot}) div {norm}"
        f" else -(({d} * {dot}) div {norm}) end as bigint)"
    )


def _int_cosine(dot: Column) -> Column:
    """cos_sim from the integer dot and the qq / cc norms in scope —
    identical ints on both engines give identical doubles and an
    identical 6-dp round."""
    return F.round(
        dot.cast("double")
        / (
            F.sqrt(F.col("qq").cast("double"))
            * F.sqrt(F.col("cc").cast("double"))
        ),
        6,
    ).alias("cos_sim")


# ---------------------------------------------------------------------------
# The serve path
# ---------------------------------------------------------------------------


def _ivf_queries(ei: DataFrame) -> DataFrame:
    """(query_id, q, qq): the md5-first IVF_PROBE_Q new-half vectors
    ('ivfp:' order). qq = Σq² is folded above the TakeOrdered, so only
    the kept rows pay it."""
    return (
        ei.filter(F.col("snap") == 1)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("a").alias("q"),
        )
        .orderBy(
            F.md5(
                F.concat(F.lit("ivfp:"), F.col("query_id").cast("string"))
            ),
            "query_id",
        )
        .limit(IVF_PROBE_Q)
        .withColumn("qq", _int_sq_norm("q"))
    )


def _ivf_route(queries: DataFrame, seeds: DataFrame, nprobe: int) -> DataFrame:
    """Route each query to its ``nprobe`` best cells of ``seeds`` (b, nn
    and the cell columns, cell_id first): (query_id, q, qq, cell_rank,
    <cell columns>), cell_rank 1 = best. Ties break on the cell columns
    in order — (score DESC, cell_id, parent_cell_id) over a post-split
    quantizer.

    Routed without a ranking window: the collect_list → array_sort →
    slice aggregate partial-combines map-side, so the x|cells| fan-out
    collapses to one row per query before any exchange, where a
    row_number window would shuffle the whole O(queries x cells) stream
    just to rank inside |cells|-row frames. posexplode of the sliced
    array re-expands to nprobe rows per query and its position IS the
    cell_rank (array_sort on (-score, cell columns) structs is a total
    order: scores are exact integers and cell columns are unique)."""
    cells = [c for c in seeds.columns if c not in ("b", "nn")]
    return (
        queries.crossJoin(F.broadcast(seeds))
        .select(
            "query_id",
            "q",
            "qq",
            *cells,
            _int_dot("q", "b").alias("dot"),
            "nn",
        )
        .withColumn("ns", -_rank_score_expr("dot", "nn"))
        .groupBy("query_id")
        .agg(
            F.first("q").alias("q"),
            F.first("qq").alias("qq"),
            F.slice(
                F.array_sort(F.collect_list(F.struct("ns", *cells))),
                1,
                nprobe,
            ).alias("cells"),
        )
        .select(
            "query_id",
            "q",
            "qq",
            F.posexplode("cells").alias("pos", "cell"),
        )
        .select(
            "query_id",
            "q",
            "qq",
            (F.col("pos") + 1).cast("bigint").alias("cell_rank"),
            *[F.col(f"cell.{c}").alias(c) for c in cells],
        )
    )


def _ivf_members(
    spark: SparkSession, sf_dir: str, assigned: DataFrame, *extra: Column
) -> DataFrame:
    """(nbr_id, cell_id, c, cc, *extra) from a keep_vec assignment, fanned
    out when the corpus is small (sources.fan_out_small_input)."""
    return fan_out_small_input(
        spark,
        assigned.select(
            F.col("vec_id").alias("nbr_id"),
            "cell_id",
            F.col("a").alias("c"),
            "cc",
            *extra,
        ),
        input_bytes(spark, f"{sf_dir}/embeddings.parquet"),
    )


def _ivf_member_topk(
    members: DataFrame,
    routed: DataFrame,
    cols: list[str],
    exclude_self: bool = False,
) -> DataFrame:
    """Rank each routed query's cell members and keep the top IVF_PROBE_K:
    sign(dot)·(dot² div cc) exact-integer order (valid across cells — the
    query norm is a shared factor and cc normalizes per candidate), ties
    to the smaller nbr_id. Output (query_id, *cols, cos_sim); ``cols``
    come from either side and include nbr_id. ``exclude_self`` drops a
    query's own vector where the query population is also indexed."""
    scored = members.join(F.broadcast(routed), "cell_id")
    if exclude_self:
        scored = scored.filter(F.col("nbr_id") != F.col("query_id"))
    scored = scored.select(
        "query_id", *cols, "qq", "cc", _int_dot("q", "c").alias("dot")
    ).withColumn("rank_score", _rank_score_expr())
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rank_score"), "nbr_id"
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= IVF_PROBE_K)
        .select("query_id", *cols, _int_cosine(F.col("dot")))
    )


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------


@query(
    "llm_ivf_index_refresh",
    survey_id="LLM-5/LLM-4/ETL-6",
    oracle=_IVF_REFRESH_ORACLE,
)
def llm_ivf_index_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN-index refresh: a new embedding batch is assigned
    to the EXISTING IVF coarse cells and the per-cell occupancy report
    (old count, added count, post-refresh total, added share) is emitted
    — the persisted-LSH incremental pattern (llm_incremental_near_dup)
    applied to the IVF family. This is the nightly index-maintenance
    shape: centroids are NOT retrained per ingest (a retrain invalidates
    every stored assignment); new vectors are routed into the frozen
    cells, and this report is what decides WHEN to retrain — a cell whose
    added_micro runs hot is absorbing a shifted distribution the frozen
    quantizer no longer tessellates well (cross-check
    llm_embedding_drift, which watches the same shift via label
    centroids). Old half = vec_id % 2 == 0 (the drift/contamination split
    convention), new batch = the odd half.

    Incremental mechanics: the old half's assignments are written ONCE
    per (process, corpus) to an ``ivf_index`` store (sources/store.py)
    — the persisted index; each refresh assigns ONLY the batch
    (O(batch·|cells|) work) and merges with the stored per-cell counts.
    At 100 TB the store is 16 bytes/vector, the seed side broadcasts at
    any corpus size, and nothing re-touches old vectors — the same
    never-re-shingle contract as the streaming near-dup store."""
    ei = _ivf_int_vectors(spark, sf_dir)
    _, seed_rows = _ivf_frozen_seeds(spark, ei)
    store = write_once(
        store_path(spark, "ivf_index", f"{sf_dir}/embeddings.parquet"),
        lambda path: _ivf_assign_cells(
            ei.filter(F.col("snap") == 0), seed_rows
        ).write.mode("overwrite").parquet(path),
    )

    old_counts = (
        spark.read.parquet(store)
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_old"))
    )
    new_counts = (
        _ivf_assign_cells(ei.filter(F.col("snap") == 1), seed_rows)
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_added"))
    )
    return (
        old_counts.join(new_counts, "cell_id", "full_outer")
        .select(
            "cell_id",
            F.coalesce("n_old", F.lit(0)).cast("bigint").alias("n_old"),
            F.coalesce("n_added", F.lit(0)).cast("bigint").alias("n_added"),
        )
        .withColumn("n_total", (F.col("n_old") + F.col("n_added")).cast("bigint"))
        .withColumn(
            "added_micro", F.expr("n_added * 1000000 div n_total")
        )
    )


def _ivf_probe_frame(
    spark: SparkSession, sf_dir: str, nprobe: int
) -> DataFrame:
    """The nprobe-parameterized IVF serve over the indexed (even) half,
    shared by llm_ivf_cell_probe (nprobe=1), llm_ivf_cell_probe_nprobe
    and the recall ladder (tools/ivf_recall_ladder.py)."""
    ei = _ivf_int_vectors(spark, sf_dir)
    seeds, seed_rows = _ivf_frozen_seeds(spark, ei)
    members = _ivf_members(
        spark,
        sf_dir,
        _ivf_assign_cells(
            ei.filter(F.col("snap") == 0), seed_rows, keep_vec=True
        ),
    )
    routed = _ivf_route(_ivf_queries(ei), seeds, nprobe)
    return _ivf_member_topk(
        members, routed, ["cell_id", "cell_rank", "nbr_id"]
    )


@query(
    "llm_ivf_cell_probe",
    survey_id="LLM-5/LLM-4",
    oracle=_IVF_PROBE_ORACLE,
)
def llm_ivf_cell_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF SERVE path: a batch of incoming query vectors (the md5-first
    IVF_PROBE_Q new-half vec_ids) is routed to its nearest frozen cell
    and searched ONLY against that cell's indexed members — the probe
    half of llm_ivf_index_refresh, completing build → refresh → serve.
    Unlike the LSH/IVF-PQ ANN queries (rows-only by design), this probe
    is EXACTLY hash-graded: cells are deterministic (md5 seeds + exact
    integer assignment), so the cell restriction is structural — the
    oracle recomputes the identical candidate set — and within-cell
    ranking uses the exact-integer order of _ivf_member_topk.

    Scale: nprobe=1 serving — each query touches |corpus|/|cells|
    candidates (never the full corpus); the query batch and seeds
    broadcast; candidate scoring is one zip_with dot per (query, member)
    pair, JVM-side. Recall is the standard IVF trade and is NOT claimed
    here — the graded statement is that serve returns exactly the top-k
    OF THE PROBED CELL."""
    return _ivf_probe_frame(spark, sf_dir, 1).drop("cell_rank")


@query(
    "llm_ivf_cell_probe_nprobe",
    survey_id="LLM-5/LLM-4",
    oracle=_ivf_nprobe_oracle(IVF_NPROBE),
)
def llm_ivf_cell_probe_nprobe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multi-cell IVF serve: each query is routed to its IVF_NPROBE
    nearest frozen cells and searched against the UNION of those cells'
    indexed members — the production nprobe>1 trade that buys back the
    recall the nprobe=1 probe leaves on the quantizer boundary. Still
    EXACTLY hash-graded, unlike generic ANN: the cell restriction is
    deterministic (md5 seeds + exact integer routing, ties to the smaller
    cell_id), so the oracle recomputes the identical candidate set.
    cell_rank (1 = nearest probed cell) records which probe slot produced
    each neighbor — the recall accounting column the ladder reads.

    Scale: each query touches nprobe·|corpus|/|cells| candidates — never
    the full corpus; the routing aggregate collapses map-side (see
    _ivf_route). Recall@k vs nprobe is MEASURED, not claimed:
    tools/ivf_recall_ladder.py sweeps nprobe ∈ {1,2,4,8,16} against the
    exact brute-force top-k over the same indexed half (table in
    SCALE.md)."""
    return _ivf_probe_frame(spark, sf_dir, IVF_NPROBE)


def _ivf_rebalanced_layout(
    ei: DataFrame, seeds: DataFrame, seed_rows: list[tuple]
) -> tuple[DataFrame, DataFrame]:
    """The POST-rebalance index layout: the IVF_SPLIT_TOP hottest cells
    (occupancy DESC, ties to the smaller cell_id) each re-seed on their
    IVF_SPLIT_WAYS md5-first members ('ivfs:' order — a fresh salt, so the
    sub-seed draw is independent of the 'ivfr:' seed draw), and their
    members re-route among the sub-seeds by the exact-integer argmax.
    Returns

    - post_seeds (cell_id, parent_cell_id, b, nn, was_split): the
      IVF_REFRESH_CELLS - IVF_SPLIT_TOP surviving seeds (parent = self,
      was_split = 0) UNION the IVF_SPLIT_TOP x IVF_SPLIT_WAYS sub-seeds
      (parent = the retired hot cell, was_split = 1); (cell_id,
      parent_cell_id) is unique across the union, which is what makes
      the routing argmax a total order even in the theoretical case of a
      sub-seed id colliding with a survivor id.
    - new_assign (vec_id, cell_id, parent_cell_id, was_split, a, cc) over
      the FULL corpus — cold cells' members pass through untouched (the
      frozen-quantizer discipline: a rebalance only re-touches what it
      splits), hot cells' members carry their re-routed sub-cell.

    Work: O(corpus) for the one occupancy count + pass-through filter,
    O(hot members x IVF_SPLIT_WAYS) for the re-route — never corpus x
    anything. Both sub-seed and survivor sides stay |cells|-bounded
    broadcasts. The assignment is lineage-truncated: its three consumers
    (occupancy count, hot-member re-route, cold pass-through) would each
    re-run the full corpus assignment otherwise."""
    assigned = _truncate_lineage(
        _ivf_assign_cells(ei, seed_rows, keep_vec=True).select(
            "vec_id", "cell_id", "a", "cc"
        )
    )
    occ = assigned.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n"))
    hot = (
        occ.orderBy(F.desc("n"), "cell_id")
        .limit(IVF_SPLIT_TOP)
        .select("cell_id")
    )

    with_vec = assigned.join(F.broadcast(hot), "cell_id")
    w_seed = Window.partitionBy("cell_id").orderBy(
        F.md5(F.concat(F.lit("ivfs:"), F.col("vec_id").cast("string"))),
        "vec_id",
    )
    sub_seeds = (
        with_vec.withColumn("__rk", F.row_number().over(w_seed))
        .filter(F.col("__rk") <= IVF_SPLIT_WAYS)
        .select(
            F.col("cell_id").alias("parent_cell_id"),
            F.col("vec_id").alias("sub_cell_id"),
            F.col("a").alias("b"),
            # decimal to stay union-compatible with the frozen seeds' nn
            _int_sq_norm("a").cast("decimal(38,0)").alias("nn"),
        )
    )
    reassigned = (
        with_vec.select(
            "vec_id", F.col("cell_id").alias("parent_cell_id"), "a", "cc"
        )
        .join(F.broadcast(sub_seeds), "parent_cell_id")
        .select(
            "vec_id",
            "parent_cell_id",
            "sub_cell_id",
            "nn",
            "a",
            "cc",
            _int_dot("a", "b").alias("dot"),
        )
        .withColumn("score", _rank_score_expr("dot", "nn"))
        .groupBy("vec_id", "parent_cell_id")
        .agg(
            F.expr("max_by(sub_cell_id, struct(score, -sub_cell_id))")
            .alias("cell_id"),
            F.first("a").alias("a"),
            F.first("cc").alias("cc"),
        )
    )
    post_seeds = (
        seeds.join(F.broadcast(hot), "cell_id", "left_anti")
        .select(
            "cell_id",
            F.col("cell_id").alias("parent_cell_id"),
            "b",
            "nn",
            F.lit(0).cast("bigint").alias("was_split"),
        )
        .unionByName(
            sub_seeds.select(
                F.col("sub_cell_id").alias("cell_id"),
                "parent_cell_id",
                "b",
                "nn",
                F.lit(1).cast("bigint").alias("was_split"),
            )
        )
    )
    new_assign = (
        assigned.join(F.broadcast(hot), "cell_id", "left_anti")
        .select(
            "vec_id",
            "cell_id",
            F.col("cell_id").alias("parent_cell_id"),
            F.lit(0).cast("bigint").alias("was_split"),
            "a",
            "cc",
        )
        .unionByName(
            reassigned.select(
                "vec_id",
                "cell_id",
                "parent_cell_id",
                F.lit(1).cast("bigint").alias("was_split"),
                "a",
                "cc",
            )
        )
    )
    return post_seeds, new_assign


@query(
    "llm_ivf_cell_rebalance",
    survey_id="LLM-5/ETL-6",
    oracle=_IVF_REBALANCE_ORACLE,
)
def llm_ivf_cell_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell REBALANCE: act on the occupancy skew the refresh
    reports. The hottest cells are SPLIT and their members re-routed
    among the sub-seeds (_ivf_rebalanced_layout), and every OTHER cell
    passes through untouched — the frozen-quantizer discipline: a
    rebalance only ever re-touches the cells it splits, so stored
    assignments elsewhere stay valid (the property that makes periodic
    re-tessellation affordable at 100 TB: O(hot cells' members), never
    O(corpus)). Output: one row per post-rebalance cell — new cell_id
    (= sub-seed vec_id; parents are retired), parent lineage, member
    count, split flag, exact floor occupancy share.

    Determinism/oracle: hot-cell choice, sub-seed draw, and re-routing
    are all exact-integer/md5 total orders, so the DuckDB brute-force
    twin hash-matches bit-for-bit — a rebalance you can AUDIT, which is
    the point: production IVF re-tessellation is trusted blind; this
    one is graded. Balance invariants pinned by
    test_ivf_rebalance_conserves_and_splits."""
    ei = _ivf_int_vectors(spark, sf_dir)
    seeds, seed_rows = _ivf_frozen_seeds(spark, ei)
    _, new_assign = _ivf_rebalanced_layout(ei, seeds, seed_rows)
    counts = new_assign.groupBy("cell_id", "parent_cell_id", "was_split").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    total = counts.agg(F.sum("n_members").alias("total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "cell_id",
        "parent_cell_id",
        "n_members",
        "was_split",
        F.expr("n_members * 1000000 div total")
        .cast("bigint")
        .alias("occupancy_micro"),
    )


@query(
    "llm_ivf_probe_rebalanced",
    survey_id="LLM-5/LLM-4/ETL-6",
    oracle=_IVF_PROBE_REBAL_ORACLE,
)
def llm_ivf_probe_rebalanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve AFTER the rebalance — the missing arc in the index
    maintenance loop: llm_ivf_cell_rebalance computes the post-split cell
    map, and this probe actually SERVES against it. Queries are routed
    over the 20-cell post-rebalance quantizer — the 12 surviving seeds
    plus the 8 sub-seeds — by the same exact-integer argmax (ties
    (cell_id, parent_cell_id) — unique across the union), and searched
    against ONLY the routed cell's post-rebalance members: cold members
    unchanged, hot members re-routed to their sub-cell, exactly the
    assignment the rebalance persisted. Self-matches are excluded (the
    full corpus is indexed — the serve_accumulated rule). Output carries
    the probed cell's lineage (parent_cell_id, was_split) so recall
    accounting can separate hot-region queries from cold.

    Still EXACTLY hash-graded — hot choice, sub-seed draw, re-route,
    routing, and within-cell ranking are all md5/exact-integer total
    orders, so the DuckDB brute-force twin recomputes the identical
    frame bit-for-bit.

    Scale: the split work is O(hot members), the probe work is nprobe=1
    against cells whose expected size DROPPED by the split (post-split
    hot-region probes touch ~1/IVF_SPLIT_WAYS of the pre-split
    candidates); seeds, sub-seeds, hot set, and query batch all
    broadcast at any corpus size."""
    ei = _ivf_int_vectors(spark, sf_dir)
    seeds, seed_rows = _ivf_frozen_seeds(spark, ei)
    post_seeds, new_assign = _ivf_rebalanced_layout(ei, seeds, seed_rows)
    members = _ivf_members(spark, sf_dir, new_assign)
    routed = _ivf_route(_ivf_queries(ei), post_seeds, 1)
    return _ivf_member_topk(
        members,
        routed,
        ["cell_id", "parent_cell_id", "was_split", "nbr_id"],
        exclude_self=True,
    )


@query(
    "llm_ivf_serve_accumulated",
    survey_id="LLM-5/LLM-4/STR-8",
    oracle=_IVF_SERVE_ACCUM_ORACLE,
)
def llm_ivf_serve_accumulated(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Serve the ACCUMULATED index — the last arc of build → refresh →
    serve → stream: queries probe their IVF_NPROBE nearest frozen
    cells over the UNION of the base (even-half) index and the
    streamed (odd-half) appends, so vectors ingested by
    str_ivf_index_append are first-class serving candidates the moment
    their chunk commits. from_stream (= nbr's snap) records which leg
    of the index produced each neighbor; self-matches are excluded
    (a query must not retrieve its own streamed copy — the standard
    serving rule once the query population is also indexed).

    The graded plan recomputes both halves' assignments batch-side —
    bit-identical to what the stores hold, because assignment is the
    same frozen-quantizer exact-integer argmax in both paths; that the
    STORE-served result is the same frame is pinned by
    tests/test_streaming_restart.py::test_accumulated_serve_matches_store.
    The graded query itself stays deterministic and store-independent so
    the oracle needs no filesystem state.

    Scale: identical shape to llm_ivf_cell_probe_nprobe with 2x the
    candidate slice (both halves indexed); output is 40 rows at every
    SF."""
    ei = _ivf_int_vectors(spark, sf_dir)
    seeds, seed_rows = _ivf_frozen_seeds(spark, ei)
    members = _ivf_members(
        spark,
        sf_dir,
        _ivf_assign_cells(ei, seed_rows, keep_vec=True),
        F.col("snap").cast("bigint").alias("from_stream"),
    )
    return _ivf_serve_topk(ei, seeds, members)


def _ivf_serve_topk(
    ei: DataFrame, seeds: DataFrame, members: DataFrame
) -> DataFrame:
    """The accumulated serve over ``members`` (nbr_id, cell_id, c, cc,
    from_stream) — from the batch assignment, or from the persisted
    base + append stores in the store-parity test."""
    return _ivf_member_topk(
        members,
        _ivf_route(_ivf_queries(ei), seeds, IVF_NPROBE),
        ["cell_id", "cell_rank", "nbr_id", "from_stream"],
        exclude_self=True,
    )


# ---------------------------------------------------------------------------
# Exactly-graded PQ and IVF-PQ
# ---------------------------------------------------------------------------

def _pq_codebook(spark: SparkSession, src: DataFrame) -> DataFrame:
    """(m, cb_id, c): the sub-vectors of the md5-first PQ_K ``src``
    (vec_id, v) rows ('pqcb:' order), a bounded PQ_K-row collect."""
    rows = (
        src.select(F.col("vec_id").alias("cb_id"), "v")
        .orderBy(
            F.md5(F.concat(F.lit("pqcb:"), F.col("cb_id").cast("string"))),
            "cb_id",
        )
        .limit(PQ_K)
        .collect()
    )
    return spark.createDataFrame(
        [
            (m, r.cb_id, r.v[m * PQ_SUB_DIM : (m + 1) * PQ_SUB_DIM])
            for r in rows
            for m in range(PQ_M)
        ],
        "m int, cb_id bigint, c array<bigint>",
    )


def _pq_subdist(df: DataFrame, keys: list[str], cb: DataFrame) -> DataFrame:
    """(*keys, m, cb_id, dist): squared integer L2 from each subspace
    slice of ``df``'s v to every codeword of that subspace."""
    subs = F.array(
        *[F.slice("v", m * PQ_SUB_DIM + 1, PQ_SUB_DIM) for m in range(PQ_M)]
    )
    return (
        df.select(*keys, F.posexplode(subs).alias("m", "x"))
        .join(F.broadcast(cb), "m")
        .select(
            *keys,
            "m",
            "cb_id",
            F.expr(
                "aggregate(zip_with(x, c, (p, q) -> (p - q) * (p - q)),"
                " cast(0 as bigint), (acc, v) -> acc + v)"
            ).alias("dist"),
        )
    )


def _pq_encode(df: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, m, cb_id): each (vec_id, v) row's nearest codeword per
    subspace, ties to the smaller cb_id. The argmin partial-combines
    map-side before any exchange."""
    return (
        _pq_subdist(df, ["vec_id"], cb)
        .groupBy("vec_id", "m")
        .agg(F.expr("min_by(cb_id, struct(dist, cb_id))").alias("cb_id"))
    )


def _pq_refine(
    adc: DataFrame, queries: DataFrame, ei: DataFrame, cols: list[str]
) -> DataFrame:
    """Top IVF_PROBE_K of ``adc`` (query_id, nbr_id, adc_dist, ...) per
    query by (adc_dist ASC, nbr_id ASC), each refined with its exact
    integer cosine (the production candidate-then-refine shape; refine
    cost k·|queries| rows, the member norm folded after the cut)."""
    w = Window.partitionBy("query_id").orderBy("adc_dist", "nbr_id")
    topk = adc.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= IVF_PROBE_K
    )
    nvec = ei.select(F.col("vec_id").alias("nbr_id"), F.col("a").alias("c"))
    return (
        topk.join(F.broadcast(queries), "query_id")
        .join(nvec, "nbr_id")
        .withColumn("cc", _int_sq_norm("c"))
        .select("query_id", *cols, _int_cosine(_int_dot("q", "c")))
    )


def _seed_residuals(
    df: DataFrame, seeds: DataFrame, keys: list[str], vec: str
) -> DataFrame:
    """(*keys, v): ``vec`` minus its cell's integer seed — exact, the
    seeds are integer vectors."""
    return df.join(
        F.broadcast(seeds.select("cell_id", "b")), "cell_id"
    ).select(*keys, F.expr(f"zip_with({vec}, b, (x, y) -> x - y)").alias("v"))


@query(
    "llm_pq_adc_topk",
    survey_id="LLM-5/LLM-4",
    oracle=_PQ_ADC_ORACLE,
)
def llm_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-GRADED product-quantization ADC top-k — the same
    rows-only→hash-graded conversion the frozen-cell probe made for
    IVF, applied to PQ (llm_ivfpq_ann_topk's k-means codebooks are
    inherently unoracle-able; md5-seeded codebooks are not): encode
    the indexed (even) half as PQ_M per-subspace nearest-codeword ids
    by exact integer L2 (ties to the smaller codeword id), build each
    query's per-(subspace, codeword) integer distance table, score
    every member ASYMMETRICALLY as the sum of its codewords' table
    entries — the classic ADC estimate, bit-exact on both engines —
    and return the top-k by (adc_dist ASC, nbr_id ASC) with the exact
    integer-cosine REFINE of just those k.

    Scale: the member side is touched twice, both embarrassingly
    map-side — one posexplode to PQ_M sub-vectors joined against the
    broadcast 128-row codebook, one (m, cb_id) equi-join of the encoded
    N·M rows against the broadcast |queries|·M·K distance tables that
    partial-aggregates to N rows per query before the top-k. At 100 TB
    the encode step is the one-time index build (8 bytes/vector stored
    — the PQ compression that serves billion-vector corpora from
    memory), and ADC serving never touches a raw vector until the
    k-row refine.

    Measured honesty (SCALE.md): with SAMPLED (not trained) codebooks on
    this near-isotropic synthetic corpus, ADC recall@5 vs the exact L2
    top-5 is 0.175/0.125/0.025 at sf0.01/0.1/1, and even an SL=30
    shortlist+exact-re-rank only reaches 0.50/0.40/0.075 (quantization
    noise swamps neighbor gaps on unstructured vectors; TRAINED codebooks
    measured 0.921 at sf1 in llm_ivfpq_ann_topk's ladder, which is why
    that twin stays rows-only). The graded claim here is therefore the
    serving ARITHMETIC — encode/ADC/top-k/refine bit-exact — not recall;
    recall belongs to the trained twin."""
    ei = _ivf_int_vectors(spark, sf_dir)
    indexed = ei.filter(F.col("snap") == 0).select(
        "vec_id", F.col("a").alias("v")
    )
    cb = _pq_codebook(spark, indexed)
    enc = _pq_encode(indexed, cb)
    queries = _ivf_queries(ei)
    qtab = _pq_subdist(
        queries.select("query_id", F.col("q").alias("v")), ["query_id"], cb
    )
    adc = (
        enc.join(F.broadcast(qtab), ["m", "cb_id"])
        .groupBy("query_id", F.col("vec_id").alias("nbr_id"))
        .agg(F.sum("dist").cast("bigint").alias("adc_dist"))
    )
    return _pq_refine(adc, queries, ei, ["nbr_id", "adc_dist"])


@query(
    "llm_ivfpq_graded_topk",
    survey_id="LLM-5/LLM-4",
    oracle=_IVFPQ_GRADED_ORACLE,
)
def llm_ivfpq_graded_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full IVF-PQ serving stack, EXACTLY graded, with RESIDUAL
    encoding: each member is PQ-encoded not on its raw vector but on its
    residual to its cell's seed (r = a - b_cell — exactly representable,
    the seeds are integer vectors, so the subtraction stays bit-exact on
    both engines), codebooks are the md5-first PQ_K members' RESIDUALS
    ('pqcb:' salt), and each query builds a PER-PROBED-CELL distance
    table over its own residual q - b_cell — the classic IVF-ADC
    identity ||q - x||² ≈ ||(q - b_c) - r̂_x||² inside cell c. Residuals
    are what gives production IVF-PQ its recall: they concentrate the
    quantized distribution around 0 so a fixed codebook budget spends
    its codewords where the members actually are (measured lift over the
    raw-vector ADC in SCALE.md's recall row). Frozen nprobe=4 routing
    bounds the candidate set, ADC scores it, the k winners get the exact
    integer-cosine refine — every stage deterministic and hash-graded,
    unlike the trained rows-only llm_ivfpq_ann_topk twin (which keeps the
    absolute recall claim).

    Plan: ADC runs AFTER the cell restriction — the (query, member)
    candidate frame is nprobe/|cells| of the corpus BEFORE the 8-row
    per-member code join, so the per-query ADC work is
    O(nprobe·|corpus|/|cells|·M) table lookups, the IVF-PQ scaling law.
    Residuals are encoded at build time (at 100 TB the one-time index
    build; 8 bytes/vector persist, residuals are never stored), the
    per-cell query tables are |queries|·nprobe·M·K = 4096 rows, still a
    broadcast; every join is an equi-join. The assignment is
    lineage-truncated: it feeds the codebook collect, the encode and the
    candidate restriction."""
    ei = _ivf_int_vectors(spark, sf_dir)
    seeds, seed_rows = _ivf_frozen_seeds(spark, ei)
    corpus_assign = _truncate_lineage(
        _ivf_assign_cells(
            ei.filter(F.col("snap") == 0), seed_rows, keep_vec=True
        ).select("vec_id", "cell_id", "a")
    )
    res = _seed_residuals(corpus_assign, seeds, ["vec_id"], "a")
    cb = _pq_codebook(spark, res)
    enc = _pq_encode(res, cb)
    queries = _ivf_queries(ei)
    routed = _ivf_route(queries, seeds, IVF_NPROBE)
    qtab = _pq_subdist(
        _seed_residuals(routed, seeds, ["query_id", "cell_id"], "q"),
        ["query_id", "cell_id"],
        cb,
    )
    # cell restriction FIRST, then the per-member code join + ADC
    cand = corpus_assign.join(
        F.broadcast(routed.select("query_id", "cell_id")), "cell_id"
    ).select("query_id", "cell_id", F.col("vec_id").alias("nbr_id"))
    adc = (
        cand.join(enc.withColumnRenamed("vec_id", "nbr_id"), "nbr_id")
        .join(F.broadcast(qtab), ["query_id", "cell_id", "m", "cb_id"])
        .groupBy("query_id", "cell_id", "nbr_id")
        .agg(F.sum("dist").cast("bigint").alias("adc_dist"))
    )
    return _pq_refine(adc, queries, ei, ["cell_id", "nbr_id", "adc_dist"])
