"""ETL-pipeline operators (SURVEY.md §2.11, ETL-1..ETL-6) — the reference's
own surface re-expressed as reusable DataFrame compositions.

The reference (reconstructed, SURVEY §0.3) normalizes per-survey annotation
formats into one schema, validates rows against constraint rules, assigns
leak-free train/test splits by group, resolves re-annotation rounds
latest-wins, and merges incremental batches. Each of those is a generic
operator here, demonstrated on the testdata star schema.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import query
from ..sources import load_table
from ..sources.ingest import _drift_base, _reap_dead_drift_dirs
from ..sources.store import remove, store_path


def conform_schema(df: DataFrame, spec: Mapping[str, tuple[str, str]]) -> DataFrame:
    """ETL-1 operator: map source columns to a canonical schema.

    ``spec`` maps canonical name → (source column, canonical type). The
    projection is pure select/cast, so Catalyst prunes unreferenced source
    columns out of the scan.
    """
    return df.select(
        *[
            F.col(src).cast(typ).alias(canonical)
            for canonical, (src, typ) in spec.items()
        ]
    )


@query(
    "etl_schema_conform",
    survey_id="ETL-1",
    oracle="""
        SELECT CAST(c_custkey AS BIGINT)    AS id,
               CAST(c_name AS VARCHAR)      AS name,
               CAST(c_mktsegment AS VARCHAR) AS segment,
               ROUND(CAST(c_acctbal AS DOUBLE), 2) AS balance
        FROM customer
    """,
)
def etl_schema_conform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dict-spec-driven schema normalization (per-survey format → canonical
    schema, the reference's core transform)."""
    customer = load_table(spark, sf_dir, "customer")
    conformed = conform_schema(
        customer,
        {
            "id": ("c_custkey", "bigint"),
            "name": ("c_name", "string"),
            "segment": ("c_mktsegment", "string"),
            "balance": ("c_acctbal", "double"),
        },
    )
    return conformed.withColumn("balance", F.round("balance", 2))


#: Validation rules for ETL-2: name → violation predicate (True = bad row).
LINEITEM_RULES: dict[str, Column] = {}


def _lineitem_rules() -> dict[str, Column]:
    return {
        "qty_gt_30": F.col("l_quantity") > 30,
        "disc_gt_5pct": F.col("l_discount") > 0.05,
        "price_ge_50k": F.col("l_extendedprice") >= 50000,
        "shipped_pre_1996": F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"),
    }


def validate_rules(df: DataFrame, rules: Mapping[str, Column]) -> DataFrame:
    """ETL-2 operator: evaluate every rule in ONE scan (no per-rule pass) —
    each rule becomes a 0/1 column, aggregated in a single partial+final
    agg. Returns one row per rule: (rule, n_violations)."""
    counted = df.agg(
        *[
            F.sum(F.when(pred, 1).otherwise(0)).alias(name)
            for name, pred in rules.items()
        ]
    )
    names = list(rules)
    stack_expr = ", ".join(f"'{n}', {n}" for n in names)
    return counted.selectExpr(
        f"stack({len(names)}, {stack_expr}) AS (rule, n_violations)"
    )


@query(
    "etl_validate_partition",
    survey_id="ETL-2",
    oracle="""
        SELECT 'qty_gt_30' AS rule,
               CAST(SUM(CASE WHEN l_quantity > 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
        FROM lineitem
        UNION ALL
        SELECT 'disc_gt_5pct',
               CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        UNION ALL
        SELECT 'price_ge_50k',
               CAST(SUM(CASE WHEN l_extendedprice >= 50000 THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        UNION ALL
        SELECT 'shipped_pre_1996',
               CAST(SUM(CASE WHEN l_shipdate < TIMESTAMP '1996-01-01' THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem
    """,
)
def etl_validate_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint validation with per-rule violation counts, one scan total
    (the reference's bbox-inside-image / status-flag filters)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return validate_rules(lineitem, _lineitem_rules())


#: Knuth multiplicative hash constants for the deterministic split. Pure
#: BIGINT arithmetic → bit-identical on any engine (md5-based alternative
#: exists but needs hex→int conversions that differ across engines).
_SPLIT_MULT = 2654435761
_SPLIT_MOD = 4294967296


def train_test_split(df: DataFrame, group_col: str, train_pct: int = 80) -> DataFrame:
    """ETL-3 operator: leak-free deterministic split BY GROUP — every row of
    a group (the reference: flight; here: customer) lands in the same split,
    so correlated rows never straddle train/test. No shuffle, no sort: the
    split is a pure projection on the group key."""
    bucket = F.pmod(
        (F.col(group_col).cast("bigint") * F.lit(_SPLIT_MULT)) % F.lit(_SPLIT_MOD),
        F.lit(100),
    )
    return df.withColumn(
        "split", F.when(bucket < train_pct, "train").otherwise("test")
    )


@query(
    "etl_train_test_split",
    survey_id="ETL-3",
    oracle=f"""
        SELECT o_orderkey, o_custkey,
               CASE WHEN ((o_custkey * {_SPLIT_MULT}) % {_SPLIT_MOD}) % 100 < 80
                    THEN 'train' ELSE 'test' END AS split
        FROM orders
    """,
)
def etl_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic group-wise 80/20 split on orders, grouped by customer."""
    orders = load_table(spark, sf_dir, "orders")
    return train_test_split(orders, "o_custkey").select(
        "o_orderkey", "o_custkey", "split"
    )


def latest_record(
    df: DataFrame, key_cols: Sequence[str], order_cols: Sequence[Column]
) -> DataFrame:
    """ETL-4 operator: latest-record-wins resolution (SCD-ish; the
    reference's re-annotation rounds). order_cols must end in a unique
    tiebreak for determinism."""
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


@query(
    "etl_latest_record",
    survey_id="ETL-4",
    oracle="""
        SELECT o_custkey, o_orderkey AS latest_orderkey,
               o_orderdate AS latest_orderdate,
               ROUND(o_totalprice, 2) AS latest_price
        FROM orders
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC
        ) = 1
    """,
)
def etl_latest_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest order per customer wins."""
    orders = load_table(spark, sf_dir, "orders")
    resolved = latest_record(
        orders,
        ["o_custkey"],
        [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()],
    )
    return resolved.select(
        "o_custkey",
        F.col("o_orderkey").alias("latest_orderkey"),
        F.col("o_orderdate").alias("latest_orderdate"),
        F.round("o_totalprice", 2).alias("latest_price"),
    )


def incremental_merge(
    snapshot: DataFrame, batch: DataFrame, key_cols: Sequence[str]
) -> DataFrame:
    """ETL-5 operator: upsert a new batch into a snapshot — union both with
    a priority tag, keep the batch row when keys collide. One shuffle on the
    key; at a real deployment this is the compaction step of an
    incremental-batch pipeline (Delta/Iceberg MERGE INTO equivalent)."""
    tagged = snapshot.withColumn("__prio", F.lit(0)).unionByName(
        batch.withColumn("__prio", F.lit(1))
    )
    w = Window.partitionBy(*key_cols).orderBy(F.col("__prio").desc())
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__prio")
    )


@query(
    "etl_incremental_merge",
    survey_id="ETL-5",
    oracle="""
        SELECT o_orderkey,
               ROUND(CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1
                          ELSE o_totalprice END, 4) AS price,
               CASE WHEN o_orderkey % 3 = 0 THEN 'batch' ELSE 'snapshot' END AS src
        FROM orders
    """,
)
def etl_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental upsert demo: a batch re-prices every third order (+10%);
    the merge keeps batch rows on key collision, snapshot rows otherwise.
    Prices round at 4 decimals (product of a 2-decimal value × 1.1 has
    exact 3-decimal content — 4 is boundary-free, see pf_project_derive)."""
    orders = load_table(spark, sf_dir, "orders")
    snapshot = orders.select(
        "o_orderkey", "o_totalprice", F.lit("snapshot").alias("src")
    )
    batch = (
        orders.filter(F.col("o_orderkey") % 3 == 0)
        .select(
            "o_orderkey",
            (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
            F.lit("batch").alias("src"),
        )
    )
    merged = incremental_merge(snapshot, batch, ["o_orderkey"])
    return merged.select(
        "o_orderkey", F.round("o_totalprice", 4).alias("price"), "src"
    )


@query(
    "etl_profile",
    survey_id="ETL-6",
    oracle="""
        SELECT 'l_quantity' AS col_name,
               COUNT(*) - COUNT(l_quantity)   AS n_nulls,
               COUNT(DISTINCT l_quantity)     AS n_distinct,
               ROUND(MIN(l_quantity), 4)      AS min_val,
               ROUND(MAX(l_quantity), 4)      AS max_val
        FROM lineitem
        UNION ALL
        SELECT 'l_discount', COUNT(*) - COUNT(l_discount), COUNT(DISTINCT l_discount),
               ROUND(MIN(l_discount), 4), ROUND(MAX(l_discount), 4) FROM lineitem
        UNION ALL
        SELECT 'l_tax', COUNT(*) - COUNT(l_tax), COUNT(DISTINCT l_tax),
               ROUND(MIN(l_tax), 4), ROUND(MAX(l_tax), 4) FROM lineitem
    """,
)
def etl_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling report: nulls / distincts / min / max per column in a
    single scan (aggregate-then-stack, not one pass per column — the QA
    stats the reference computed per species/flight)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_discount", "l_tax"]
    agg_exprs = []
    for c in cols:
        agg_exprs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.round(F.min(c), 4).alias(f"{c}__min"),
            F.round(F.max(c), 4).alias(f"{c}__max"),
        ]
    wide = lineitem.agg(*agg_exprs)
    stack_expr = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_expr}) AS (col_name, n_nulls, n_distinct, min_val, max_val)"
    )


@query(
    "etl_date_spine",
    survey_id="ETL-6/FN-3",
    oracle="""
        WITH spine AS (
            SELECT unnest(generate_series(
                       (SELECT min(o_orderdate) FROM orders),
                       (SELECT max(o_orderdate) FROM orders),
                       INTERVAL 1 DAY))::TIMESTAMP AS day
        )
        SELECT s.day,
               COUNT(o.o_orderkey)                       AS n_orders,
               ROUND(COALESCE(SUM(o.o_totalprice), 0), 2) AS day_revenue
        FROM spine s LEFT JOIN orders o ON o.o_orderdate = s.day
        GROUP BY s.day
    """,
)
def etl_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar spine: generate every day between min and max order date
    (F.sequence + explode — no driver-side loop) and left-join the fact, so
    zero-activity days appear as explicit 0 rows — the gap-detection /
    dense-reporting primitive every ETL pipeline needs. The spine is built
    from a 1-row aggregate, explodes JVM-side, and broadcasts into the
    join at any fact scale."""
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi")
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    return (
        F.broadcast(spine)
        .join(orders, orders.o_orderdate == F.col("day"), "left")
        .groupBy("day")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias(
                "day_revenue"
            ),
        )
    )


@query(
    "etl_hypertable_rollup",
    survey_id="ETL-5/STR-1",
    oracle="""
        SELECT date_trunc('hour', ts::TIMESTAMP)::TIMESTAMP AS bucket,
               COUNT(*)              AS n_events,
               ROUND(SUM(value), 2)  AS total_value,
               COUNT(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY 1
    """,
)
def etl_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate, maintained INCREMENTALLY.

    The stored rollup is per-bucket PARTIAL state (count, sum, distinct
    user set) — mergeable, like a sketch. A new batch arrives (here: the
    last 10 days of events, replayed as the increment); only its partials
    are computed and merged into the prior rollup by bucket — untouched
    buckets are never recomputed, which is the whole point of a
    continuous aggregate over a 100 TB hypertable. The oracle is the full
    recompute: incremental merge must equal it exactly.

    The distinct-user component stores collect_set per bucket — swap for
    an HLL sketch column at scale where exact sets outgrow rows (same
    merge algebra, bounded size).
    """
    events = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-21 00:00:00").cast("timestamp")
    bucket = F.date_trunc("hour", F.col("ts"))

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(bucket.alias("bucket")).agg(
            F.count(F.lit(1)).alias("p_count"),
            F.sum("value").alias("p_sum"),
            F.collect_set("user_id").alias("p_users"),
        )

    old_rollup = partials(events.filter(F.col("ts") < cutoff))
    new_partials = partials(events.filter(F.col("ts") >= cutoff))
    merged = (
        old_rollup.unionByName(new_partials)
        .groupBy("bucket")
        .agg(
            F.sum("p_count").alias("n_events"),
            F.round(F.sum("p_sum"), 2).alias("total_value"),
            F.size(F.array_distinct(F.flatten(F.collect_list("p_users")))).alias(
                "n_users"
            ),
        )
    )
    return merged.select("bucket", "n_events", "total_value", "n_users")


def scd2_history(
    df: DataFrame,
    key_cols: Sequence[str],
    state_col: str,
    ts_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """ETL-7 operator: build a type-2 slowly-changing-dimension history.

    Collapses the per-key change log to one row per *state run*: a new
    version opens only when ``state_col`` differs from the previous value
    (null-safe), carrying ``valid_from`` / ``valid_to`` (open for the
    current version) and an ``is_current`` flag. This is the
    full-history complement of ``latest_record`` (ETL-4), and what a
    warehouse MERGE-based SCD2 load produces — expressed as two window
    passes instead of row-at-a-time upserts.

    Scale note: both windows partition by the same key, so Catalyst plans
    ONE exchange on the key and runs both sorts within it; no per-row
    driver logic, no second shuffle.
    """
    order = [F.col(ts_col).asc(), F.col(tiebreak_col).asc()]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    changed = ~F.col(state_col).eqNullSafe(F.lag(state_col).over(w))
    versions = (
        df.withColumn("__chg", F.coalesce(changed, F.lit(True)))
        .filter(F.col("__chg"))
        .select(
            *key_cols,
            F.col(state_col).alias("state"),
            F.col(ts_col).alias("valid_from"),
            F.col(tiebreak_col).alias("__tb"),
        )
    )
    wv = Window.partitionBy(*key_cols).orderBy(
        F.col("valid_from").asc(), F.col("__tb").asc()
    )
    valid_to = F.lead("valid_from").over(wv)
    return versions.select(
        *key_cols,
        "state",
        "valid_from",
        valid_to.alias("valid_to"),
        F.when(valid_to.isNull(), 1).otherwise(0).alias("is_current"),
    )


@query(
    "etl_scd2_history",
    survey_id="ETL-5/WN-3",
    oracle="""
        WITH marked AS (
            SELECT user_id, event_type, ts, event_id,
                   LAG(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_state
            FROM events
        ), versions AS (
            SELECT user_id, event_type AS state, ts AS valid_from, event_id
            FROM marked
            WHERE prev_state IS DISTINCT FROM event_type
        )
        SELECT user_id, state, valid_from,
               LEAD(valid_from) OVER (
                   PARTITION BY user_id ORDER BY valid_from, event_id
               ) AS valid_to,
               CASE WHEN LEAD(valid_from) OVER (
                   PARTITION BY user_id ORDER BY valid_from, event_id
               ) IS NULL THEN 1 ELSE 0 END AS is_current
        FROM versions
    """,
)
def etl_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension build over the event log: per user, each run of a
    repeated event_type is one version row with its validity interval;
    the last version per user is open-ended and flagged current."""
    events = load_table(spark, sf_dir, "events")
    return scd2_history(
        events,
        key_cols=["user_id"],
        state_col="event_type",
        ts_col="ts",
        tiebreak_col="event_id",
    )


PSEUDONYM_SALT = "cust:"  # rotate per release; never derivable from output
ACCTBAL_BAND = 1000  # generalization width for the quasi-identifier


@query(
    "etl_pseudonymize",
    survey_id="ETL-1/LLM-9",
    oracle=r"""
        SELECT sha256('cust:' || c_custkey::VARCHAR)        AS surrogate_key,
               regexp_replace(c_name, '\d', '#', 'g')       AS masked_name,
               (floor(c_acctbal / 1000) * 1000)::BIGINT     AS acctbal_band,
               c_mktsegment                                  AS segment
        FROM customer
    """,
)
def etl_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII pseudonymization for training-data release: direct identifiers
    become salted sha256 surrogate keys (stable across runs, so joins
    against other pseudonymized extracts still line up, but the original
    key is not recoverable without the salt), embedded digits in names
    are masked, and the numeric quasi-identifier is generalized into
    coarse bands (k-anonymity-style) instead of being dropped.

    Scale shape: pure narrow projection — no shuffle, no UDF; sha256 and
    regexp_replace are JVM whole-stage-codegen expressions, so the op
    runs at scan speed over 100 TB and pushes column pruning into the
    parquet read (only the 4 referenced columns are scanned)."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        F.sha2(
            F.concat(F.lit(PSEUDONYM_SALT), F.col("c_custkey").cast("string")), 256
        ).alias("surrogate_key"),
        F.regexp_replace("c_name", r"\d", "#").alias("masked_name"),
        (F.floor(F.col("c_acctbal") / ACCTBAL_BAND) * ACCTBAL_BAND)
        .cast("bigint")
        .alias("acctbal_band"),
        F.col("c_mktsegment").alias("segment"),
    )


N_SHARDS = 64


@query(
    "etl_shard_assign",
    survey_id="ETL-3/LLM-9",
    oracle="""
        SELECT ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 64
                   AS shard,
               COUNT(*)                        AS n_docs,
               CAST(SUM(n_chars) AS BIGINT)    AS total_chars
        FROM documents
        GROUP BY 1
    """,
)
def etl_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment: every doc hashes to one of
    N_SHARDS output shards via md5(doc_id) — the writer-side primitive
    behind "write the corpus as N equal tokenizer-ready files". Content-
    keyed hashing (not round-robin/monotonic ids) keeps assignment stable
    under re-runs and insertions, so incremental rebuilds only rewrite
    shards whose membership changed. The query returns per-shard doc and
    char counts — the balance check that validates the hash spreads load
    before a 100 TB write; the same shard expression feeds
    ``df.repartition(N, shard).write.partitionBy`` for the actual sink
    (one shuffle, each output file written by exactly one task).

    md5-hex → conv(16,10) (not xxhash64) keeps the oracle cross-engine
    (SURVEY §5.3): both engines integerize the same 32-bit prefix."""
    docs = load_table(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % N_SHARDS
    )
    return docs.groupBy(shard.alias("shard")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


K_ANONYMITY = 20  # flags 4 risky classes at the graded sf0.01


@query(
    "etl_k_anonymity_audit",
    survey_id="ETL-2/LLM-9",
    oracle="""
        SELECT c_mktsegment                               AS segment,
               (floor(c_acctbal / 1000) * 1000)::BIGINT   AS acctbal_band,
               COUNT(*)                                   AS group_size
        FROM customer
        GROUP BY 1, 2
        HAVING COUNT(*) < 20
    """,
)
def etl_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-identification risk audit for a pseudonymized release
    (companion to etl_pseudonymize): group by the released
    quasi-identifiers and flag every equivalence class smaller than K —
    those rows are not k-anonymous and need wider banding or suppression
    before the extract ships. One partial-agg shuffle of the two
    quasi-identifier columns; the HAVING filter runs post-agg on group
    cardinalities, so at 100 TB the output is only the (rare) risky
    classes."""
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy(
            F.col("c_mktsegment").alias("segment"),
            (F.floor(F.col("c_acctbal") / ACCTBAL_BAND) * ACCTBAL_BAND)
            .cast("bigint")
            .alias("acctbal_band"),
        )
        .agg(F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") < K_ANONYMITY)
    )


@query(
    "etl_cdc_snapshot_diff",
    survey_id="ETL-5",
    oracle="""
        WITH prev AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 7 = 0
                        THEN ROUND(o_totalprice, 2) - 100.0
                        ELSE ROUND(o_totalprice, 2) END AS o_totalprice,
                   o_orderstatus
            FROM orders WHERE o_orderkey % 20 != 0
        ), curr AS (
            SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice,
                   o_orderstatus
            FROM orders
        )
        SELECT COALESCE(c.o_orderkey, p.o_orderkey) AS o_orderkey,
               CASE WHEN p.o_orderkey IS NULL THEN 'insert'
                    WHEN c.o_orderkey IS NULL THEN 'delete'
                    ELSE 'update' END AS change_type,
               c.o_totalprice AS new_price,
               p.o_totalprice AS old_price
        FROM curr c FULL OUTER JOIN prev p USING (o_orderkey)
        WHERE p.o_orderkey IS NULL OR c.o_orderkey IS NULL
              OR c.o_totalprice != p.o_totalprice
              OR c.o_orderstatus != p.o_orderstatus
    """,
)
def etl_cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture by snapshot diff: given yesterday's and today's
    full extracts, emit the insert/update/delete stream a downstream
    incremental consumer replays — the batch-world CDC every warehouse
    without a log-based source needs. (The "previous" snapshot is derived
    deterministically here: every 20th order missing → inserts, every 7th
    shifted by an exactly-representable −100.0 → updates; both engines
    derive the bit-identical snapshot — a multiplicative discount would
    hit round-half tie divergence between the engines.)

    Scale shape: ONE full-outer shuffle join on the key, then a pure
    filter on column inequality — no window, no sort. At 100 TB both
    sides bucket on the key (jn_bucketed_colocated's layout) and the diff
    becomes co-located and exchange-free; comparing a column subset (or a
    row-hash) bounds comparison cost regardless of schema width."""
    orders = load_table(spark, sf_dir, "orders")
    curr = orders.select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "o_orderstatus",
    )
    prev = orders.filter(F.col("o_orderkey") % 20 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.round("o_totalprice", 2) - 100.0
        )
        .otherwise(F.round("o_totalprice", 2))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    # presence is detected by EXPLICIT flags, never by nullability of a
    # compared column — a legitimately-NULL value in either snapshot would
    # otherwise be misclassified as an insert/delete (review finding; the
    # oracle keys on join-key presence for the same reason)
    c = curr.withColumn("__c", F.lit(1)).alias("c")
    p = prev.withColumn("__p", F.lit(1)).alias("p")
    joined = c.join(p, on="o_orderkey", how="full")
    return (
        joined.filter(
            F.col("p.__p").isNull()
            | F.col("c.__c").isNull()
            | ~F.col("c.o_totalprice").eqNullSafe(F.col("p.o_totalprice"))
            | ~F.col("c.o_orderstatus").eqNullSafe(F.col("p.o_orderstatus"))
        )
        .select(
            "o_orderkey",
            F.when(F.col("p.__p").isNull(), "insert")
            .when(F.col("c.__c").isNull(), "delete")
            .otherwise("update")
            .alias("change_type"),
            F.col("c.o_totalprice").alias("new_price"),
            F.col("p.o_totalprice").alias("old_price"),
        )
    )


BACKFILL_DAY = "2024-01-15"


@query(
    "etl_dynamic_partition_overwrite",
    survey_id="ETL-5/SRC-5",
    oracle=f"""
        SELECT ts::DATE                    AS event_date,
               CAST(COUNT(*) AS BIGINT)    AS n_events,
               ROUND(SUM(CASE WHEN ts::DATE = DATE '{BACKFILL_DAY}'
                              THEN value * 2 ELSE value END), 2) AS total_value
        FROM events
        GROUP BY 1
    """,
)
def etl_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent partition backfill via dynamic partition overwrite: the
    events table is laid down partitioned by day, then ONE day is
    recomputed (here: value doubled — a stand-in for a corrected upstream
    feed) and written with ``partitionOverwriteMode=dynamic`` in OVERWRITE
    mode — Spark replaces exactly the partitions present in the incoming
    frame and leaves every other day's files untouched. That is the
    nightly-backfill primitive: re-running the job for one day is safe,
    atomic per-partition, and never truncates the table the way static
    overwrite would. The query re-scans the final on-disk state; the
    oracle states the logical outcome (one day doubled, all days kept).

    Scale: the initial lay-down is one shuffle on the day key; the
    backfill touches only the target day's rows (partition-pruned scan)
    and rewrites only that directory."""
    path = store_path(spark, "scratch", sf_dir, "etl_dynamic_partition_overwrite")
    events = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    (
        events.repartition(F.col("event_date"))
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(path)
    )
    # explicit schema on every re-read: a zero-row write has no footers
    day = spark.read.schema(events.schema).parquet(path).filter(
        F.col("event_date") == F.lit(BACKFILL_DAY).cast("date")
    )
    corrected = day.withColumn("value", F.col("value") * 2)
    (
        corrected.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_date")
        .parquet(path)
    )
    return (
        spark.read.schema(events.schema).parquet(path)
        .groupBy(F.col("event_date").cast("date").alias("event_date"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@query(
    "etl_contiguous_ids",
    survey_id="ETL-3/WN-5",
    oracle="""
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS sample_id
        FROM documents
    """,
)
def etl_contiguous_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-free 0-based global sample numbering — what a training run
    needs for epoch bookkeeping and resumable dataloaders, and exactly
    what ``monotonically_increasing_id`` does NOT give (its ids jump by
    partition stride). Built on the distributed two-phase rank: exact,
    contiguous, and a pure function of the doc_id total order, so re-runs
    and different partitionings yield identical ids."""
    from .windows import two_phase_global_rank

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    ranked, _total = two_phase_global_rank(docs, ["doc_id"])
    return ranked.select(
        "doc_id", (F.col("rank") - 1).cast("bigint").alias("sample_id")
    )


CHECKSUM_BUCKETS = 64
DRIFT_DOC_ID = 7  # the replica's simulated silent corruption


@query(
    "etl_checksum_table_diff",
    survey_id="ETL-6/FN-9",
    oracle=f"""
        WITH src AS (
            SELECT ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                       % {CHECKSUM_BUCKETS} AS bucket,
                   ('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 8))::BIGINT
                       AS row_sig
            FROM documents
        ), rep AS (
            SELECT ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                       % {CHECKSUM_BUCKETS} AS bucket,
                   ('0x' || substring(md5(doc_id::VARCHAR || '|' ||
                       CASE WHEN doc_id = {DRIFT_DOC_ID}
                            THEN text || ' [corrupted]' ELSE text END), 1, 8))::BIGINT
                       AS row_sig
            FROM documents
        ), sums AS (
            SELECT s.bucket,
                   CAST(s.checksum AS BIGINT) AS src_checksum,
                   CAST(r.checksum AS BIGINT) AS replica_checksum,
                   s.n                        AS src_rows,
                   r.n                        AS replica_rows
            FROM (SELECT bucket, SUM(row_sig) AS checksum, COUNT(*) AS n
                  FROM src GROUP BY bucket) s
            JOIN (SELECT bucket, SUM(row_sig) AS checksum, COUNT(*) AS n
                  FROM rep GROUP BY bucket) r USING (bucket)
        )
        SELECT * FROM sums WHERE src_checksum <> replica_checksum
                              OR src_rows <> replica_rows
    """,
)
def etl_checksum_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy table comparison: two copies of a table (here: the
    documents table vs. a replica with one silently-corrupted row) are
    compared by ORDER-INDEPENDENT per-bucket checksums — sum of row
    content signatures, grouped by a hash bucket — and only diverging
    buckets surface. This is how replicated 100 TB tables are validated
    without shipping or sorting either copy: each side aggregates locally
    to CHECKSUM_BUCKETS rows, the comparison join moves kilobytes, and a
    reported bucket narrows repair to 1/{buckets} of the data.

    The full-row diff (etl_cdc_snapshot_diff) is the REPAIR step run only
    on flagged buckets; this operator is the cheap detection step."""
    docs = load_table(spark, sf_dir, "documents")
    replica = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") == DRIFT_DOC_ID,
            F.concat(F.col("text"), F.lit(" [corrupted]")),
        ).otherwise(F.col("text")),
    )

    def bucket_sums(df: DataFrame, checksum_name: str, n_name: str) -> DataFrame:
        bucket = (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("bigint")
            % CHECKSUM_BUCKETS
        )
        row_sig = F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.col("doc_id").cast("string"), "text")),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        return df.groupBy(bucket.alias("bucket")).agg(
            F.sum(row_sig).alias(checksum_name),
            F.count(F.lit(1)).alias(n_name),
        )

    src = bucket_sums(docs, "src_checksum", "src_rows")
    rep = bucket_sums(replica, "replica_checksum", "replica_rows")
    return src.join(rep, "bucket").filter(
        (F.col("src_checksum") != F.col("replica_checksum"))
        | (F.col("src_rows") != F.col("replica_rows"))
    )


ERASE_USER_ID = 42


@query(
    "etl_user_erasure",
    survey_id="ETL-5/LLM-9",
    oracle=f"""
        SELECT ts::DATE                 AS event_date,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events
        WHERE user_id <> {ERASE_USER_ID}
        GROUP BY 1
    """,
)
def etl_user_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten: delete ONE user's rows from a
    day-partitioned table by rewriting only the partitions that contain
    them. The erasure job (1) finds the user's affected days with a
    partition-pruned scan, (2) rewrites just those days minus the user
    via dynamic partition overwrite — every other day's files are
    physically untouched (byte-identical, no lineage through the
    rewrite). At 100 TB an erasure request costs O(user's days), not a
    table rewrite — the pattern GDPR/CCPA pipelines run nightly over
    batched requests. The query re-scans the final table; the oracle
    states the logical outcome (user gone, everything else intact).

    Complement of etl_pseudonymize: pseudonymization for released
    extracts, physical erasure for the system of record."""
    path = store_path(spark, "scratch", sf_dir, "etl_user_erasure")
    events = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    (
        events.repartition(F.col("event_date"))
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(path)
    )
    # explicit schema: a zero-row write has no footers to infer from
    table = spark.read.schema(events.schema).parquet(path)
    affected_days = [
        r.event_date
        for r in table.filter(F.col("user_id") == ERASE_USER_ID)
        .select("event_date")
        .distinct()
        .collect()
    ]
    rewritten = table.filter(
        F.col("event_date").isin(affected_days)
        & (F.col("user_id") != ERASE_USER_ID)
    )
    # Dynamic overwrite replaces only partitions PRESENT in the incoming
    # frame — a day whose every row belonged to the erased user produces
    # zero output rows and would silently survive. Identify those days
    # BEFORE the rewrite (afterwards the lazy plan would re-scan deleted
    # files) and drop their directories explicitly; the survivor set is a
    # days-sized collect.
    surviving = {
        r.event_date
        for r in rewritten.select("event_date").distinct().collect()
    }
    (
        rewritten.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_date")
        .parquet(path)
    )
    for day in affected_days:
        if day not in surviving:
            remove(spark, f"{path}/event_date={day.isoformat()}")
    return (
        spark.read.schema(events.schema).parquet(path)
        .groupBy(F.col("event_date").cast("date").alias("event_date"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


SKEW_TOP_N = 10


@query(
    "etl_skew_report",
    survey_id="ETL-6/JN-1",
    oracle=f"""
        WITH counts AS (
            SELECT o_custkey AS key, COUNT(*) AS n_rows
            FROM orders GROUP BY o_custkey
        ), stats AS (
            SELECT quantile_cont(n_rows, 0.5) AS median_n,
                   MAX(n_rows)::DOUBLE        AS max_n
            FROM counts
        )
        SELECT c.key, c.n_rows,
               ROUND(c.n_rows / s.median_n, 4) AS skew_factor
        FROM counts c CROSS JOIN stats s
        QUALIFY ROW_NUMBER() OVER (ORDER BY c.n_rows DESC, c.key) <= {SKEW_TOP_N}
    """,
)
def etl_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics: the top-N heaviest keys and each one's
    multiple of the median key weight — the report an engineer runs
    BEFORE a big join to decide between plain AQE, salting
    (jn_salted_skew), and key isolation. A skew_factor in the hundreds
    means one task will hold that key's entire row set.

    Scale: one map-side-combined count per key, then everything runs on
    the keys-sized count table (median via exact percentile over keys,
    top-N as a TakeOrdered heap, the 1-row stats cross join is the
    allowlisted scalar shape)."""
    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    stats = counts.agg(
        F.percentile("n_rows", 0.5).alias("median_n"),
    )
    return (
        counts.crossJoin(F.broadcast(stats))
        .select(
            "key",
            "n_rows",
            F.round(F.col("n_rows") / F.col("median_n"), 4).alias("skew_factor"),
        )
        .orderBy(F.col("n_rows").desc(), F.col("key"))
        .limit(SKEW_TOP_N)
    )


@query(
    "etl_anomaly_zscore",
    survey_id="ETL-6/AG-7",
    oracle="""
        WITH med AS (
            SELECT event_type, quantile_cont(value, 0.5) AS med_value
            FROM events GROUP BY event_type
        ), disp AS (
            SELECT e.event_type, m.med_value,
                   quantile_cont(abs(e.value - m.med_value), 0.5) AS mad_value,
                   AVG(abs(e.value - m.med_value))                AS meanad_value
            FROM events e JOIN med m USING (event_type)
            GROUP BY e.event_type, m.med_value
        ), z AS (
            SELECT e.event_id, e.event_type, e.value,
                   CASE WHEN d.mad_value > 0
                        THEN 0.6745 * (e.value - d.med_value) / d.mad_value
                        ELSE 0.7979 * (e.value - d.med_value) / d.meanad_value
                   END AS robust_z
            FROM events e JOIN disp d USING (event_type)
        )
        SELECT event_id, event_type, ROUND(value, 2) AS value,
               ROUND(robust_z, 6) AS robust_z
        FROM z WHERE abs(robust_z) > 3.5
    """,
)
def etl_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: flag events whose modified z-score
    (0.6745·(x − median)/MAD, the Iglewicz–Hoaglin statistic) exceeds
    |3.5| within their event type — the data-QA anomaly gate that, unlike
    mean/stddev z-scores, is not dragged by the very outliers it hunts
    (the consumer view of ag_mad_robust_stats' dispersion numbers).

    Scale: two grouped exact-percentile passes (median, then MAD of
    deviations) reduce to a groups-sized table that BROADCASTS back onto
    the stream, so flagging is a narrow filter on the final pass; at
    100 TB swap F.percentile for approx_percentile — thresholds move by
    the sketch error, plumbing is identical."""
    events = load_table(spark, sf_dir, "events")
    med = events.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("med_value")
    )
    disp = (
        events.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med_value")
        .agg(
            F.percentile(F.abs(F.col("value") - F.col("med_value")), 0.5).alias(
                "mad_value"
            ),
            F.avg(F.abs(F.col("value") - F.col("med_value"))).alias(
                "meanad_value"
            ),
        )
    )
    # MAD = 0 whenever a majority of a group equals its median (constant
    # heartbeat metrics) — dividing by it NULLs the score and the gate
    # silently passes extreme outliers (review finding). Iglewicz-Hoaglin's
    # fallback: 0.7979·dev/meanAD; if meanAD is also 0 every value equals
    # the median and there is genuinely nothing to flag.
    dev = F.col("value") - F.col("med_value")
    z = F.when(
        F.col("mad_value") > 0, 0.6745 * dev / F.col("mad_value")
    ).otherwise(0.7979 * dev / F.col("meanad_value"))
    return (
        events.join(F.broadcast(disp), "event_type")
        .filter(F.abs(z) > 3.5)
        .select(
            "event_id",
            "event_type",
            F.round("value", 2).alias("value"),
            F.round(z, 6).alias("robust_z"),
        )
    )


_FK_EDGES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]


@query(
    "etl_fk_integrity_audit",
    survey_id="ETL-2/JN-6",
    oracle="\nUNION ALL\n".join(
        f"""
        SELECT '{c}.{ck}->{p}' AS fk_edge,
               COUNT(*) AS n_child_rows,
               COUNT(*) FILTER (WHERE p.{pk} IS NULL) AS n_orphans
        FROM {c} c LEFT JOIN {p} p ON c.{ck} = p.{pk}
        """
        for c, ck, p, pk in _FK_EDGES
    ),
)
def etl_fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-schema referential-integrity audit: one report row per
    foreign-key edge with its child row count and orphan count — the
    single pane an engineer checks after every load before unleashing
    joins that would silently drop orphans.

    Each edge is ONE pass: left-join the parent's key (unique PK, so no
    fan-out) and count null-hits conditionally — not a second anti-join
    scan. Dimension parents broadcast; the two fact→fact edges shuffle
    once on their key exactly like the production joins they vouch for.
    The 7 one-row aggregates union into the report, so the audit's cost
    is the same as running each integrity check once — and at 100 TB the
    per-edge passes are independent jobs the scheduler can overlap."""
    rows = []
    for child, ck, parent, pk in _FK_EDGES:
        c = load_table(spark, sf_dir, child)
        p = load_table(spark, sf_dir, parent).select(
            F.col(pk).alias("__pk"), F.lit(1).alias("__hit")
        )
        joined = c.join(p, F.col(ck) == F.col("__pk"), "left")
        rows.append(
            joined.agg(
                F.lit(f"{child}.{ck}->{parent}").alias("fk_edge"),
                F.count(F.lit(1)).alias("n_child_rows"),
                F.count(F.when(F.col("__hit").isNull(), 1)).alias("n_orphans"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@query(
    "etl_cdc_apply_tombstones",
    survey_id="ETL-4/ETL-5",
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_type, value, ts,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM events
        )
        SELECT user_id,
               epoch_us(ts::TIMESTAMP) AS last_change_us,
               event_type              AS last_action,
               ROUND(value, 2)         AS current_value
        FROM ordered
        WHERE rn = 1 AND event_type <> 'error'
    """,
)
def etl_cdc_apply_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a CDC feed WITH DELETES onto a keyed state table: each
    user's record stream replays in order and the final state keeps only
    keys whose LAST change is not a tombstone (here: 'error' records
    stand in for deletes) — the delete-aware upsert that etl_latest_record
    (pure last-write-wins) cannot express, and the batch twin of the
    streaming upsert sink's replace-or-remove contract. A key deleted
    mid-stream and re-inserted later correctly survives, because only
    the terminal record decides existence.

    Scale: one key-partitioned window (single shuffle on user_id) with
    the rank-then-filter shape InferWindowGroupLimit pushes down; the
    tombstone filter is applied AFTER keep-latest, never before (filtering
    deletes first would resurrect the previous version — the classic CDC
    apply bug)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            F.unix_micros("ts").alias("last_change_us"),
            F.col("event_type").alias("last_action"),
            F.round("value", 2).alias("current_value"),
        )
    )


@query(
    "etl_winsorize",
    survey_id="ETL-2/AG-7",
    oracle="""
        WITH caps AS (
            SELECT event_type,
                   quantile_cont(value, 0.05) AS p05,
                   quantile_cont(value, 0.95) AS p95
            FROM events
            GROUP BY event_type
        )
        SELECT e.event_type,
               ROUND(c.p05, 4) AS p05,
               ROUND(c.p95, 4) AS p95,
               CAST(SUM(CASE WHEN e.value < c.p05 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_capped_low,
               CAST(SUM(CASE WHEN e.value > c.p95 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_capped_high,
               ROUND(AVG(e.value), 4) AS mean_raw,
               ROUND(AVG(GREATEST(c.p05, LEAST(c.p95, e.value))), 4)
                   AS mean_winsorized
        FROM events e JOIN caps c USING (event_type)
        GROUP BY e.event_type, c.p05, c.p95
    """,
)
def etl_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization QA: clamp each group's values into its exact
    [p05, p95] band and report how many rows each tail capped plus the
    mean shift — the standard outlier-robust pre-processing for metrics
    that feed averages (a single fat-fingered value stops dominating the
    group mean).

    Both engines compute the EXACT linearly-interpolated percentile
    (Spark ``percentile``, DuckDB ``quantile_cont`` — same index
    p·(n−1) definition), so the caps are bit-comparable after rounding.
    Scale: percentile is a per-group sort-based aggregate over the
    event_type shuffle (5 groups here; at higher cardinality swap in
    percentile_approx and the oracle tolerance documented in AG-7); the
    caps table is group-count-sized, broadcast back onto the fact scan,
    and the final aggregate reuses the event_type partitioning."""
    events = load_table(spark, sf_dir, "events")
    caps = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05D)").alias("p05"),
        F.expr("percentile(value, 0.95D)").alias("p95"),
    )
    joined = events.join(F.broadcast(caps), "event_type")
    clamped = F.greatest(F.col("p05"), F.least(F.col("p95"), F.col("value")))
    return joined.groupBy("event_type", "p05", "p95").agg(
        F.sum(F.when(F.col("value") < F.col("p05"), 1).otherwise(0)).alias(
            "n_capped_low"
        ),
        F.sum(F.when(F.col("value") > F.col("p95"), 1).otherwise(0)).alias(
            "n_capped_high"
        ),
        F.round(F.avg("value"), 4).alias("mean_raw"),
        F.round(F.avg(clamped), 4).alias("mean_winsorized"),
    ).select(
        "event_type",
        F.round("p05", 4).alias("p05"),
        F.round("p95", 4).alias("p95"),
        "n_capped_low",
        "n_capped_high",
        "mean_raw",
        "mean_winsorized",
    )


@query(
    "etl_late_arriving_dim",
    survey_id="ETL-5/JN-4",
    oracle="""
        WITH dim AS (
            SELECT c_custkey, c_mktsegment FROM customer
            WHERE c_custkey % 7 <> 0
        )
        SELECT COALESCE(d.c_mktsegment, 'UNKNOWN') AS segment,
               CAST(COUNT(*) AS BIGINT)            AS n_events,
               CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
               ROUND(SUM(e.value), 4)              AS total_value
        FROM events e LEFT JOIN dim d ON e.user_id = d.c_custkey
        GROUP BY 1
    """,
)
def etl_late_arriving_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving-dimension handling: facts whose dimension member
    hasn't landed yet roll up under an explicit UNKNOWN member instead of
    silently vanishing through an inner join — the warehouse-standard
    "early-arriving fact" pattern (the UNKNOWN row is re-attributed when
    the dim catches up; meanwhile totals stay complete).

    The missing members are synthesized deterministically (every 7th
    custkey held out of the dim). Scale: dim is broadcast (bounded), the
    fact side never shuffles for the join — only the final group-by
    exchanges, and COALESCE keeps the aggregate key low-cardinality."""
    events = load_table(spark, sf_dir, "events")
    dim = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 7 != 0)
        .select("c_custkey", "c_mktsegment")
    )
    joined = events.join(
        F.broadcast(dim), events.user_id == dim.c_custkey, "left"
    )
    return joined.groupBy(
        F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


MV_SPLIT_MOD = 2  # base = even event_ids, delta = odd — groups straddle


@query(
    "etl_incremental_mv_refresh",
    survey_id="ETL-5/AG-1",
    oracle="""
        SELECT event_type, CAST(ts::TIMESTAMP AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 4)     AS total_value
        FROM events GROUP BY 1, 2
    """,
)
def etl_incremental_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a persisted additive
    rollup (count + sum per day × type) is refreshed by AGGREGATING ONLY
    THE DELTA batch and merging partial states — never recomputing the
    base — and the oracle proves the algebra by checking the merged view
    against a from-scratch aggregate over everything.

    The base/delta split deliberately straddles groups (event-id parity)
    so every output row exercises real state merging, not row routing.
    Scale: this is THE pattern that makes daily 100 TB rollups
    affordable — refresh cost is O(delta) + a view-sized merge join
    (both sides pre-aggregated; sums/counts are mergeable partials,
    exactly like Spark's own partial/final agg split). Sums merge
    UNROUNDED and round only at the edge, so merged state equals the
    one-shot aggregate to the reported precision."""
    events = load_table(spark, sf_dir, "events")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "event_type", F.to_date("ts").alias("d")
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
        )

    base_mv = rollup(events.filter(F.col("event_id") % MV_SPLIT_MOD == 0))
    delta_mv = rollup(events.filter(F.col("event_id") % MV_SPLIT_MOD != 0))
    merged = base_mv.alias("b").join(
        delta_mv.alias("dl"), ["event_type", "d"], "full_outer"
    )
    return merged.select(
        "event_type",
        "d",
        (
            F.coalesce(F.col("b.n"), F.lit(0)) + F.coalesce(F.col("dl.n"), F.lit(0))
        ).alias("n_events"),
        F.round(
            F.coalesce(F.col("b.s"), F.lit(0.0))
            + F.coalesce(F.col("dl.s"), F.lit(0.0)),
            4,
        ).alias("total_value"),
    )


@query(
    "etl_join_cardinality",
    survey_id="ETL-6/JN-1",
    oracle="""
        WITH ka AS (SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS c
                    FROM orders GROUP BY 1),
        kb AS (SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS c
               FROM lineitem GROUP BY 1),
        prod AS (SELECT ka.k, ka.c * kb.c AS p FROM ka JOIN kb USING (k))
        SELECT CAST(SUM(p) AS BIGINT)   AS predicted_rows,
               CAST(COUNT(*) AS BIGINT) AS n_matching_keys,
               CAST(MAX(p) AS BIGINT)   AS max_key_product,
               CAST((SELECT k FROM prod
                     QUALIFY ROW_NUMBER() OVER (ORDER BY p DESC, k) = 1)
                    AS BIGINT)          AS heaviest_key
        FROM prod
    """,
)
def etl_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation, exact: the planner question "how many rows
    will orders ⋈ lineitem produce, and is one key responsible" answered
    BEFORE running the join — Σ over matching keys of the per-side
    multiplicity product, plus the heaviest key (the salting/isolation
    trigger etl_skew_report generalizes).

    Scale: this never touches the join itself — each side collapses to a
    keys-sized count table (partial-agg shuffles), the product join is
    keys-sized, and the answer is a 1-row aggregate. That makes it
    affordable to run as a pre-flight check in front of any expensive
    production join; sketch variants (CMS per side) shrink the key
    tables further when even those don't fit, trading exactness."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    ka = orders.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("ca")
    )
    kb = lineitem.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("cb")
    )
    prod = ka.join(kb, "k").select("k", (F.col("ca") * F.col("cb")).alias("p"))
    return prod.agg(
        F.sum("p").alias("predicted_rows"),
        F.count(F.lit(1)).alias("n_matching_keys"),
        F.max("p").alias("max_key_product"),
        F.max_by("k", F.struct(F.col("p"), (-F.col("k")).alias("nk"))).alias(
            "heaviest_key"
        ),
    )


@query(
    "etl_medallion_pipeline",
    survey_id="ETL-1/ETL-2/SRC-2",
    oracle="""
        WITH seg AS (
            SELECT c_mktsegment AS segment,
                   CAST(COUNT(*) AS BIGINT) AS n_customers,
                   ROUND(SUM(ROUND(c_acctbal, 2)), 2) AS total_acctbal
            FROM customer GROUP BY 1
        )
        SELECT segment, n_customers, total_acctbal,
               (SELECT CAST(COUNT(*)
                       + COUNT(*) FILTER (WHERE c_custkey % 40 = 0)
                       + COUNT(*) FILTER (WHERE c_custkey % 50 = 0) AS BIGINT)
                FROM customer) AS n_bronze_rows,
               (SELECT CAST(COUNT(*) FILTER (WHERE c_custkey % 50 = 0)
                       AS BIGINT) FROM customer) AS n_quarantined,
               (SELECT CAST(COUNT(*) FILTER (WHERE c_custkey % 40 = 0)
                       AS BIGINT) FROM customer) AS n_duplicates
        FROM seg
    """,
)
def etl_medallion_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Medallion (bronze→silver→gold) lake pipeline, end to end: a dirty
    CSV landing zone — the clean extract PLUS deterministic re-sends
    (every 40th key, name re-cased) PLUS unparseable rows (every 50th
    key, garbage in the money column) — flows through typed PERMISSIVE
    ingest with quarantine (bronze), conform + keep-canonical dedup
    (silver), and the segment rollup (gold), with the audit counters
    every lakehouse dashboard shows (rows landed / quarantined /
    deduplicated) riding along. The oracle derives gold AND the audit
    numbers independently from the clean table + the same modular
    injection rules, proving no row was lost or double-counted anywhere
    in the three hops.

    Scale: each hop is the already-graded operator at its production
    shape (SRC-2 quarantine scan, ETL-4 keyed dedup agg, AG-1 rollup);
    the lone cross join attaches the 1-row audit aggregate. Bronze is
    written once per (sf, query) to the scratch dir — the landing-zone
    contract — and every downstream count is lazy against the parsed
    scan, so the pipeline is ONE job, not three."""
    from ..sources.ingest import read_csv_quarantine

    typed = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.round("c_acctbal", 2).alias("acctbal"),
    )
    as_text = lambda df: df.select(  # noqa: E731 - local shaping helper
        F.col("c_custkey").cast("string"),
        "c_name",
        "c_mktsegment",
        F.col("acctbal").cast("string"),
    )
    resent = typed.filter(F.col("c_custkey") % 40 == 0).withColumn(
        "c_name", F.upper("c_name")
    )
    garbage = typed.filter(F.col("c_custkey") % 50 == 0)
    landing = (
        as_text(typed)
        .unionByName(as_text(resent))
        .unionByName(
            as_text(garbage).withColumn("acctbal", F.lit("not-a-number"))
        )
    )
    path = store_path(spark, "scratch", sf_dir, "etl_medallion_pipeline")
    landing.write.mode("overwrite").option("header", True).csv(path)

    bronze = read_csv_quarantine(spark, path).cache()
    valid = bronze.where(F.col("_corrupt").isNull())
    silver = valid.groupBy("c_custkey").agg(
        F.min("c_name").alias("c_name"),
        F.min("c_mktsegment").alias("segment"),
        F.min("acctbal").alias("acctbal"),
    )
    gold = silver.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("acctbal"), 2).alias("total_acctbal"),
    )
    audit = bronze.agg(
        F.count(F.lit(1)).alias("n_bronze_rows"),
        F.sum(
            F.when(F.col("_corrupt").isNotNull(), 1).otherwise(0)
        ).alias("n_quarantined"),
        (
            F.sum(F.when(F.col("_corrupt").isNull(), 1).otherwise(0))
            - F.countDistinct(
                F.when(F.col("_corrupt").isNull(), F.col("c_custkey"))
            )
        ).alias("n_duplicates"),
    )
    return gold.crossJoin(F.broadcast(audit))


SAR_USER_ID = 7


@query(
    "etl_subject_access_report",
    survey_id="ETL-6/SET-1",
    oracle=f"""
        SELECT 'events' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(MIN(ts::TIMESTAMP) AS TIMESTAMP) AS first_seen,
               CAST(MAX(ts::TIMESTAMP) AS TIMESTAMP) AS last_seen
        FROM events WHERE user_id = {SAR_USER_ID}
        UNION ALL
        SELECT 'orders', CAST(COUNT(*) AS BIGINT),
               MIN(o_orderdate), MAX(o_orderdate)
        FROM orders WHERE o_custkey = {SAR_USER_ID}
        UNION ALL
        SELECT 'customer', CAST(COUNT(*) AS BIGINT),
               CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP)
        FROM customer WHERE c_custkey = {SAR_USER_ID}
    """,
)
def etl_subject_access_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR subject-access report (DSAR): everything the platform holds
    about one person, summarized per table — row counts and first/last
    activity — the read-side compliance twin of etl_user_erasure (first
    you must show what you hold, then you may have to delete it).

    Scale: each per-table probe is an id-filtered scan (at production
    layout the id is a partition/cluster key, so these prune to a few
    files — exactly what src_clustered_layout demonstrates) into a 1-row
    aggregate; the union is rows-per-table-sized."""
    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    ev = events.filter(F.col("user_id") == SAR_USER_ID).agg(
        F.lit("events").alias("table_name"),
        F.count(F.lit(1)).alias("n_rows"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
    )
    od = orders.filter(F.col("o_custkey") == SAR_USER_ID).agg(
        F.lit("orders").alias("table_name"),
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_orderdate").alias("first_seen"),
        F.max("o_orderdate").alias("last_seen"),
    )
    cu = customer.filter(F.col("c_custkey") == SAR_USER_ID).agg(
        F.lit("customer").alias("table_name"),
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(None).cast("timestamp").alias("first_seen"),
        F.lit(None).cast("timestamp").alias("last_seen"),
    )
    return ev.unionByName(od).unionByName(cu)


BACKFILL_CUTOFF_DAY = "2024-01-20"


@query(
    "etl_backfill_plan",
    survey_id="ETL-6/SRC-5",
    oracle=f"""
        SELECT CAST(ts::TIMESTAMP AS DATE) AS missing_day,
               CAST(COUNT(*) AS BIGINT)    AS n_source_rows
        FROM events
        WHERE CAST(ts::TIMESTAMP AS DATE) >= DATE '{BACKFILL_CUTOFF_DAY}'
        GROUP BY 1
    """,
)
def etl_backfill_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill planning: diff the calendar spine of the SOURCE against
    the partitions actually present in the TARGET layout and emit every
    missing day with its source row count — the plan a scheduler turns
    into per-partition backfill jobs (etl_dynamic_partition_overwrite is
    the executor of exactly one such line). Here the target is written
    short (days before the cutoff only), so the plan must be the
    remaining days, sized.

    Scale: present-partition discovery is a distinct over the target's
    partition column (partition-value-only scan); the spine is a 1-row
    bounds aggregate exploded JVM-side; the anti join and the size
    estimate run at calendar cardinality, never fact cardinality —
    except the one count-by-day over the source, a single partial-agg
    shuffle."""
    path = store_path(spark, "scratch", sf_dir, "etl_backfill_plan")
    events = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    written = events.filter(
        F.col("event_date") < F.lit(BACKFILL_CUTOFF_DAY).cast("date")
    )
    (
        written.repartition(F.col("event_date"))
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(path)
    )
    present = (
        spark.read.schema(events.schema)
        .parquet(path)
        .select("event_date")
        .distinct()
    )
    bounds = events.agg(
        F.min("event_date").alias("lo"), F.max("event_date").alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("missing_day")
    )
    missing = spine.join(
        present, spine.missing_day == present.event_date, "left_anti"
    )
    per_day = events.groupBy(F.col("event_date").alias("missing_day")).agg(
        F.count(F.lit(1)).alias("n_source_rows")
    )
    return missing.join(F.broadcast(per_day), "missing_day", "inner")


VACUUM_RETENTION_DAYS = 21  # partitions older than newest_day - 21 get swept


@query(
    "etl_vacuum_plan",
    survey_id="ETL-6/SRC-5",
    oracle=f"""
        WITH days AS (
            SELECT CAST(ts::TIMESTAMP AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT)    AS n_rows
            FROM events GROUP BY 1
        ), hi AS (SELECT MAX(day) AS newest FROM days)
        SELECT day, n_rows,
               CASE WHEN day < newest - {VACUUM_RETENTION_DAYS}
                    THEN 'delete' ELSE 'keep' END AS action
        FROM days CROSS JOIN hi
    """,
)
def etl_vacuum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention vacuum planning — the nightly lake chore that pairs with
    etl_backfill_plan (that one fills missing partitions; this one sweeps
    expired ones): write the events table day-partitioned, discover the
    partitions actually ON DISK, and emit keep/delete per partition
    against a retention watermark derived from the newest present day.
    The row counts ride along so the sweep job can log reclaimed volume
    and a misplaced watermark (deleting fat recent partitions) is visible
    in the plan BEFORE anything is removed — plans are cheap, deletes
    are not.

    Scale: partition discovery reads partition VALUES from the written
    layout's directory structure (no data pages); the per-day row counts
    are one partial-agg shuffle at calendar cardinality; the watermark is
    a 1-row max broadcast. The delete action itself is out of scope by
    design — the plan is the deliverable, exactly as with backfill."""
    path = store_path(spark, "scratch", sf_dir, "etl_vacuum_plan")
    events = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    (
        events.select("event_id", "day")
        .repartition(F.col("day"))
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(path)
    )
    on_disk = (
        spark.read.schema("event_id bigint, day date").parquet(path)
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    newest = on_disk.agg(F.max("day").alias("newest"))
    return on_disk.crossJoin(F.broadcast(newest)).select(
        "day",
        "n_rows",
        F.when(
            F.col("day")
            < F.date_sub(F.col("newest"), VACUUM_RETENTION_DAYS),
            F.lit("delete"),
        )
        .otherwise(F.lit("keep"))
        .alias("action"),
    )


@query(
    "etl_schema_drift_report",
    survey_id="ETL-6/SRC-3",
    oracle=f"""
        WITH v1 AS (
            SELECT name, type FROM parquet_schema(
                '{_drift_base()}/v1/*.parquet')
            WHERE num_children IS NULL
        ), v2 AS (
            SELECT name, type FROM parquet_schema(
                '{_drift_base()}/v2/*.parquet')
            WHERE num_children IS NULL
        )
        SELECT COALESCE(v1.name, v2.name) AS column_name,
               CASE WHEN v1.name IS NULL THEN 'added'
                    WHEN v2.name IS NULL THEN 'removed'
                    WHEN v1.type <> v2.type THEN 'type_changed'
                    ELSE 'kept' END AS change
        FROM v1 FULL OUTER JOIN v2 ON v1.name = v2.name
    """,
)
def etl_schema_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift report between two published dataset versions — the
    contract check a lake runs before swapping a consumer onto a new
    publish: which columns were added, removed, or changed PHYSICAL type.
    Two versions of the documents table are written (v2 widens doc_id
    int→bigint, drops n_chars, adds a quality double), then the report
    derives from the REAL parquet footers of both layouts — not from
    intended DDL — because drift that matters is what readers will
    actually see. The oracle reads the same footers through DuckDB's
    parquet_schema, so the classification is independently certified;
    change classes compare types WITHIN each engine (v1-vs-v2), never
    across engines, sidestepping type-name dialects.

    Scale: footer-only reads — no data pages are touched on either side;
    the report is schema-cardinality rows. Both sides resolve the layout
    directory from _drift_base() — see its docstring for the shared-path
    invariant."""
    base = _drift_base()
    # registration built the oracle path in this same process (see
    # _drift_base docstring); a mismatch here would mean the registry was
    # imported in a different process than the one executing the query
    assert base.endswith(f"_{__import__('os').getpid()}")
    _reap_dead_drift_dirs(base)
    docs = load_table(spark, sf_dir, "documents")
    v1 = docs.select(
        F.col("doc_id").cast("int").alias("doc_id"), "text", "lang", "n_chars"
    ).limit(0)
    v2 = docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "text",
        "lang",
        (F.col("n_chars") / 100.0).alias("quality"),
    ).limit(0)
    v1.coalesce(1).write.mode("overwrite").parquet(f"{base}/v1")
    v2.coalesce(1).write.mode("overwrite").parquet(f"{base}/v2")
    s1 = spark.read.parquet(f"{base}/v1").schema
    s2 = spark.read.parquet(f"{base}/v2").schema
    t1 = {f.name: f.dataType.simpleString() for f in s1.fields}
    t2 = {f.name: f.dataType.simpleString() for f in s2.fields}
    rows = []
    for name in sorted(set(t1) | set(t2)):
        if name not in t1:
            change = "added"
        elif name not in t2:
            change = "removed"
        elif t1[name] != t2[name]:
            change = "type_changed"
        else:
            change = "kept"
        rows.append((name, change))
    return spark.createDataFrame(rows, "column_name string, change string")
