"""Streaming operators (SURVEY.md §2.9, STR-1..STR-8).

Strategy per SURVEY §2.9: every streaming operator has a batch-equivalent
formulation (Spark's window/session_window functions are identical in batch
mode), graded with a full DuckDB oracle; the true ``readStream`` micro-batch
pipelines run over the deterministic chunk replay (replay.py) with
``Trigger.AvailableNow``, so even watermark semantics produce a
deterministic, oracle-checkable result.

Scale notes: all streaming state (window aggs, dedup sets, per-key
counters) lives in the executor StateStore backed by the checkpoint dir —
sized by keys-in-state, not input volume. Watermarks bound state: without
one, a 100 TB/day stream grows state forever.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import query
from ..sources import load_table
from ..sources.store import exists, remove, store_path
from ..sources.tables import data_files
from ..operators.windows import FUNNEL_ORACLE_SQL
from .replay import (
    REPLAY_CHUNKS,
    drain,
    events_replay_dir,
    ntile_chunks,
    read_events_stream,
    replay_dir,
    run_available_now,
)

WATERMARK = "10 minutes"


@query(
    "str_tumbling_window",
    survey_id="STR-1",
    oracle="""
        SELECT CAST(date_trunc('hour', ts::TIMESTAMP) AS TIMESTAMP)  AS window_start,
               CAST(date_trunc('hour', ts::TIMESTAMP) AS TIMESTAMP)
                 + INTERVAL 1 HOUR                                   AS window_end,
               event_type,
               COUNT(*)                                              AS n_events,
               ROUND(SUM(value), 2)                                  AS total_value
        FROM events
        GROUP BY 1, 2, 3
    """,
)
def str_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window aggregate (batch formulation —
    byte-identical logical plan to the streaming one in
    str_streaming_tumbling; Spark's window() is mode-agnostic)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "str_sliding_window",
    survey_id="STR-2",
    oracle="""
        WITH shifted AS (
            SELECT value,
                   make_timestamp(
                       ((epoch_us(ts::TIMESTAMP) // 1000000 // 900) * 900
                          - s.j * 900) * 1000000
                   ) AS window_start
            FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) AS s(j)
        )
        SELECT window_start,
               window_start + INTERVAL 1 HOUR AS window_end,
               COUNT(*)             AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM shifted
        GROUP BY window_start
    """,
)
def str_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: 1 hour long, sliding every 15 minutes — each event
    lands in 4 overlapping windows (the oracle materializes the same 4
    epoch-aligned starts per event)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_events",
            "total_value",
        )
    )


@query(
    "str_session_window",
    survey_id="STR-3",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts::TIMESTAMP AS ts,
                   CASE WHEN ts::TIMESTAMP
                          - LAG(ts::TIMESTAMP) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                          > INTERVAL 30 MINUTE
                        OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS is_new
            FROM events
        ), numbered AS (
            SELECT user_id, ts,
                   SUM(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS session_id
            FROM flagged
        )
        SELECT user_id,
               MIN(ts)                       AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE  AS session_end,
               COUNT(*)                      AS n_events
        FROM numbered
        GROUP BY user_id, session_id
    """,
)
def str_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window (30-min gap) — cross-checked against the
    lag+cumsum sessionization (WN-6): both define session_end as
    last-event + gap."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "str_dedup",
    survey_id="STR-5",
    oracle="""
        SELECT DISTINCT event_id, event_type FROM (
            SELECT event_id, event_type FROM events
            UNION ALL
            SELECT event_id, event_type FROM events
        )
    """,
)
def str_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup by key over a doubled input (batch dropDuplicates — the
    streaming twin dropDuplicatesWithinWatermark runs in
    str_streaming_late_drop's pipeline; within-watermark bounds the dedup
    state at scale)."""
    events = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    doubled = events.unionByName(events)
    return doubled.dropDuplicates(["event_id"])


@query(
    "str_streaming_tumbling",
    survey_id="STR-1/STR-4/SRC-7",
    oracle=f"""
        WITH wm AS (
            SELECT max(ts::TIMESTAMP) - INTERVAL 10 MINUTE AS w FROM events
        )
        SELECT CAST(date_trunc('hour', ts::TIMESTAMP) AS TIMESTAMP) AS window_start,
               COUNT(*)             AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM events
        GROUP BY 1
        HAVING window_start + INTERVAL 1 HOUR <= (SELECT w FROM wm)
    """,
)
def str_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming pipeline: readStream over the ts-ordered chunk
    replay → 10-min watermark → tumbling 1-h window agg → append-mode
    memory sink, Trigger.AvailableNow.

    Append mode only emits windows the watermark has closed, and the final
    no-data micro-batch flushes everything below max(ts) - 10min — so the
    result is deterministic and the oracle can state it exactly: all hourly
    windows whose end ≤ final watermark.
    """
    replay = events_replay_dir(spark, sf_dir)
    stream = read_events_stream(spark, replay)
    windowed = (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "n_events",
            "total_value",
        )
    )
    return run_available_now(windowed, sf_dir, "str_streaming_tumbling")


@query(
    "str_stream_static_join",
    survey_id="STR-7",
    oracle="""
        SELECT e.event_id, c.c_mktsegment
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def str_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming stream–static enrichment join: the static dim is
    re-broadcast per micro-batch, the join is stateless, append mode needs
    no watermark."""
    replay = events_replay_dir(spark, sf_dir)
    stream = read_events_stream(spark, replay)
    customer = load_table(spark, sf_dir, "customer")
    joined = stream.join(
        F.broadcast(customer), F.col("user_id") == F.col("c_custkey")
    ).select("event_id", "c_mktsegment")
    return run_available_now(joined, sf_dir, "str_stream_static_join")


STATEFUL_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)
STATEFUL_STATE_SCHEMA = T.StructType([T.StructField("count", T.LongType())])


def _count_events_stateful(key, pdf_iter, state):
    """Per-key stateful counter: state carries the running count across
    micro-batches; each batch emits the updated cumulative count."""
    count = state.get[0] if state.exists else 0
    for pdf in pdf_iter:
        count += len(pdf)
    state.update((count,))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [count]})


@query(
    "str_stateful_counter",
    survey_id="STR-6",
    oracle="""
        SELECT user_id, COUNT(*) AS n_events
        FROM events
        GROUP BY user_id
    """,
)
def str_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming custom stateful operator (applyInPandasWithState):
    per-user running counter carried in the StateStore across micro-batches.
    Every batch emits the cumulative count; the max emission per user is the
    total — which the batch-SQL oracle states exactly. Arrow-batched Python,
    the sanctioned shape for custom streaming state (SURVEY §2.9)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    replay = events_replay_dir(spark, sf_dir)
    stream = read_events_stream(spark, replay)
    counted = stream.groupBy("user_id").applyInPandasWithState(
        _count_events_stateful,
        outputStructType=STATEFUL_OUT_SCHEMA,
        stateStructType=STATEFUL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emissions = run_available_now(
        counted, sf_dir, "str_stateful_counter", output_mode="update"
    )
    return emissions.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


def _tws_available() -> bool:
    """transformWithStateInPandas speaks a protobuf protocol to its
    state server; the Python ``google.protobuf`` package is not shipped
    in this container (and installs are out of scope), so the 4.x-API
    twin below registers only where it can actually run. The gate is the
    exact import the streaming Python runner crashes on without it."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def str_stateful_counter_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME per-user running counter on the Spark 4.x
    ``transformWithStateInPandas`` API (VERDICT r3 #7) — the successor to
    applyInPandasWithState: a StatefulProcessor class with a handle-based
    state model (named ValueState/ListState/MapState variables, timers,
    TTL) instead of a single positional state tuple. Registered (same
    batch oracle as str_stateful_counter) only when _tws_available();
    tests/test_streaming_restart.py asserts the gate tracks the import
    and runs the query wherever it is available, so on a normally
    provisioned cluster (pyspark[connect] or any env with protobuf) both
    forms hash-match the identical oracle.

    Runtime notes: transformWithState requires the RocksDB state store
    provider (set for this query's lifetime, restored after — the HDFS
    provider does not implement the new operator's column-family state
    layout). On a real cluster RocksDB is also the provider you want for
    any large-state stream: state lives off-heap/on-disk per executor
    with changelog checkpointing to shared storage, so state size is
    bounded by cluster disk, not executor heap."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._count = handle.getValueState("count", "count bigint")

        def handleInputRows(self, key, rows, timer_values):
            existing = self._count.get()
            total = existing[0] if existing else 0
            for pdf in rows:
                total += len(pdf)
            self._count.update((total,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [total]})

        def close(self) -> None:
            pass

    replay = events_replay_dir(spark, sf_dir)
    stream = read_events_stream(spark, replay)
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    previous = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        counted = stream.groupBy("user_id").transformWithStateInPandas(
            RunningCount(),
            outputStructType=STATEFUL_OUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
        emissions = run_available_now(
            counted, sf_dir, "str_stateful_counter_tws", output_mode="update"
        )
    finally:
        if previous is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, previous)
    return emissions.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


if _tws_available():  # pragma: no cover — container ships no protobuf
    str_stateful_counter_tws = query(
        "str_stateful_counter_tws",
        survey_id="STR-6",
        oracle="""
            SELECT user_id, COUNT(*) AS n_events
            FROM events
            GROUP BY user_id
        """,
    )(str_stateful_counter_tws)


@query(
    "str_foreach_batch_sink",
    survey_id="STR-8",
    oracle="""
        SELECT event_id, user_id, event_type FROM events
    """,
)
def str_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming foreachBatch parquet sink with checkpointing +
    availableNow: drains the replay exactly once into parquet, then
    re-scans. Hash-matching the source table proves end-to-end
    exactly-once delivery of the whole pipeline."""
    replay = events_replay_dir(spark, sf_dir)
    stream = read_events_stream(spark, replay).select(
        "event_id", "user_id", "event_type"
    )
    root = store_path(spark, "scratch", sf_dir, "str_foreach_batch_sink")
    remove(spark, root)
    sink = f"{root}/sink"

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(sink)

    drain(stream, write_batch, f"{root}/ckpt")
    return spark.read.schema(
        "event_id bigint, user_id bigint, event_type string"
    ).parquet(sink)


@query(
    "str_stream_stream_join",
    survey_id="STR-7",
    oracle="""
        SELECT p.event_id AS purchase_id,
               c.event_id AS click_id,
               p.user_id
        FROM events p JOIN events c
          ON p.user_id = c.user_id
         AND c.ts::TIMESTAMP BETWEEN p.ts::TIMESTAMP - INTERVAL 1 HOUR
                                 AND p.ts::TIMESTAMP
        WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
)
def str_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE stream-stream inner join: purchases matched to the same user's
    clicks in the trailing hour, both sides watermarked, with the time-range
    join condition Spark needs to evict buffered rows from the StateStore.

    Inner-join matches emit as soon as both rows arrive (append mode), so
    the drained availableNow result equals the batch interval join exactly
    — the oracle states it. State size = rows inside the watermark+range
    horizon per side, not stream history; without the range condition the
    buffers grow unbounded (the canonical stream-stream join mistake).
    """
    replay = events_replay_dir(spark, sf_dir)
    purchases = (
        read_events_stream(spark, replay)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", WATERMARK)
    )
    clicks = (
        read_events_stream(spark, replay)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", WATERMARK)
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    ).select("purchase_id", "click_id", "user_id")
    return run_available_now(joined, sf_dir, "str_stream_stream_join")


@query(
    "str_streaming_session",
    survey_id="STR-3/STR-4",
    oracle="""
        WITH ordered AS (
            SELECT user_id, ts::TIMESTAMP AS ts, value,
                   CASE WHEN lag(ts::TIMESTAMP) OVER w IS NULL
                          OR ts::TIMESTAMP - lag(ts::TIMESTAMP) OVER w
                             > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id)
        ), sessions AS (
            SELECT user_id,
                   SUM(new_s) OVER (PARTITION BY user_id
                                    ORDER BY ts, value
                                    ROWS UNBOUNDED PRECEDING) AS session_id,
                   ts, value
            FROM ordered
        ), agg AS (
            SELECT user_id,
                   MIN(ts)                 AS session_start,
                   MAX(ts) + INTERVAL 30 MINUTE AS session_end,
                   COUNT(*)                AS n_events,
                   ROUND(SUM(value), 2)    AS session_value
            FROM sessions GROUP BY user_id, session_id
        )
        SELECT user_id, session_start, n_events, session_value
        FROM agg
        WHERE session_end <= (SELECT max(ts::TIMESTAMP) - INTERVAL 10 MINUTE
                              FROM events)
    """,
)
def str_streaming_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming session windows: readStream replay → 10-min watermark
    → F.session_window(ts, 30 min) agg, append mode.

    Append emits a session only once the watermark passes its end
    (last event + gap), so the drained result is exactly the sessions the
    batch WN-6 formulation closes before the final watermark — which the
    oracle states. Session-window state merges adjacent windows in the
    StateStore; watermark eviction is what bounds it."""
    replay = events_replay_dir(spark, sf_dir)
    stream = read_events_stream(spark, replay)
    sessions = (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            F.col("user_id"),
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )
    return run_available_now(sessions, sf_dir, "str_streaming_session")

# NOTE: the Spark 4.x next-generation stateful API
# (transformWithStateInPandas + StatefulProcessor with typed ValueState,
# timers, TTL) was attempted here and works API-wise, but its worker
# protocol needs google.protobuf, which this container lacks (ImportError
# in pyspark/sql/streaming/proto/StateMessage_pb2.py; no pip installs
# allowed). STR-6 therefore ships on applyInPandasWithState above —
# functionally equivalent per-key state across micro-batches.


@query(
    "str_streaming_dedup",
    survey_id="STR-5/STR-4",
    oracle="SELECT event_id, event_type FROM events",
)
def str_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming dedup: each replay chunk carries every event TWICE;
    dropDuplicatesWithinWatermark keeps the first copy and — unlike plain
    streaming dropDuplicates — evicts per-key state once the watermark
    passes the key's event time, so dedup state stays bounded by the
    late-arrival horizon instead of growing with the whole stream. The
    streaming twin of str_dedup; oracle = each event exactly once.
    """
    replay = replay_dir(
        spark,
        sf_dir,
        "events",
        lambda events: (
            c.unionByName(c)
            for c in ntile_chunks(events, REPLAY_CHUNKS, "ts", "event_id")
        ),
        "doubled",
        REPLAY_CHUNKS,
    )
    stream = read_events_stream(spark, replay)
    deduped = (
        stream.withWatermark("ts", WATERMARK)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "event_type")
    )
    return run_available_now(deduped, sf_dir, "str_streaming_dedup")


@query(
    "str_streaming_sliding",
    survey_id="STR-2/STR-4",
    oracle="""
        WITH wm AS (
            SELECT max(ts::TIMESTAMP) - INTERVAL 10 MINUTE AS w FROM events
        ), shifted AS (
            SELECT value,
                   make_timestamp(
                       ((epoch_us(ts::TIMESTAMP) // 1000000 // 900) * 900
                          - s.j * 900) * 1000000
                   ) AS window_start
            FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) AS s(j)
        )
        SELECT window_start,
               COUNT(*)             AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM shifted
        GROUP BY window_start
        HAVING window_start + INTERVAL 1 HOUR <= (SELECT w FROM wm)
    """,
)
def str_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming sliding windows (1 h long, every 15 min): readStream
    replay → watermark → overlapping window agg → append mode. Append only
    emits a window once the watermark passes its end, so the emitted set is
    exactly the windows with end ≤ final watermark — which the oracle
    states in its HAVING clause. Each event updates 4 overlapping windows'
    state; state size is bounded by (window/slide) × open windows, not by
    stream length."""
    replay = events_replay_dir(spark, sf_dir)
    stream = read_events_stream(spark, replay)
    windowed = (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "n_events",
            "total_value",
        )
    )
    return run_available_now(windowed, sf_dir, "str_streaming_sliding")


FUNNEL_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("view_us", T.LongType()),
        T.StructField("click_us", T.LongType()),
        T.StructField("purchase_us", T.LongType()),
        T.StructField("funnel_stage", T.IntegerType()),
    ]
)
FUNNEL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("v_us", T.LongType()),
        T.StructField("c_us", T.LongType()),
        T.StructField("p_us", T.LongType()),
    ]
)


def _funnel_stateful(key, pdfs, state):
    """Per-user funnel state machine: (first view, first click after it,
    first purchase after that) carried across micro-batches. Operates on
    JVM-precomputed epoch-µs longs — never on Python-side timestamps, so
    the logic is session-timezone-proof."""
    v, c, p = state.get if state.exists else (None, None, None)
    # ONE sort over the whole micro-batch: a user's rows can span several
    # Arrow chunks (maxRecordsPerBatch), and sorting each chunk alone
    # would replay events out of time order across the chunk boundary.
    # Memory is bounded by one user's rows in one micro-batch.
    chunks = [pdf for pdf in pdfs if len(pdf)]
    batch = (
        pd.concat(chunks).sort_values(["us", "event_id"])
        if chunks
        else pd.DataFrame(columns=["us", "event_id", "event_type"])
    )
    for row in batch.itertuples():
        us = int(row.us)
        if row.event_type == "view":
            if v is None:
                v = us
        elif row.event_type == "click":
            if v is not None and us > v and c is None:
                c = us
        elif row.event_type == "purchase":
            if c is not None and us > c and p is None:
                p = us
    state.update((v, c, p))
    stage = 3 if p is not None else 2 if c is not None else 1 if v is not None else 0
    yield pd.DataFrame(
        [
            {
                "user_id": key[0],
                "view_us": v,
                "click_us": c,
                "purchase_us": p,
                "funnel_stage": stage,
            }
        ]
    )


@query(
    "str_streaming_funnel",
    survey_id="STR-6/WN-7",
    oracle=FUNNEL_ORACLE_SQL,
)
def str_streaming_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming ordered funnel (applyInPandasWithState): the
    wn_event_funnel state machine runs incrementally per user over the
    time-ordered replay, its (view, click-after, purchase-after) triple
    carried in the StateStore across micro-batches — the live-dashboard
    form of the batch funnel, proven equal to it by sharing its SQL
    oracle verbatim (the replay is in event-time order, so the final
    state IS the batch answer).

    Scale: state is 3 longs per user — bounded by users, not events; in
    production the state machine is unchanged, only the source swaps from
    the bounded replay to the live landing dir. Stage values only ever
    ratchet upward, so the final emission per user is the column-wise max
    of its update-mode emissions."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    replay = events_replay_dir(spark, sf_dir)
    stream = read_events_stream(spark, replay).withColumn(
        "us", F.unix_micros("ts")
    )
    staged = stream.groupBy("user_id").applyInPandasWithState(
        _funnel_stateful,
        outputStructType=FUNNEL_OUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emissions = run_available_now(
        staged, sf_dir, "str_streaming_funnel", output_mode="update"
    )
    return emissions.groupBy("user_id").agg(
        F.max("view_us").alias("view_us"),
        F.max("click_us").alias("click_us"),
        F.max("purchase_us").alias("purchase_us"),
        F.max("funnel_stage").alias("funnel_stage"),
    )


def make_versioned_upsert(base: str):
    """foreachBatch callback factory: merge each batch's per-user
    aggregates into state version ``batch_id``.

    The merge base is DERIVED FROM batch_id, never from driver memory: a
    replayed batch k (commit failed, or the process restarted) re-reads
    v{k-1} — which can never contain batch k's rows — and rewrites v{k}
    to identical contents. A mutable last-written pointer would instead
    re-merge on top of v{k} (double count) or, after a restart, start
    from scratch. Replay idempotence is pinned by
    tests/test_streaming_restart.py."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        agg = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        prev_path = f"{base}/v{batch_id - 1}"
        if batch_id > 0 and exists(sess, prev_path):
            state = sess.read.parquet(prev_path)
            agg = (
                state.withColumnRenamed("n_events", "p_n")
                .withColumnRenamed("total_value", "p_v")
                .join(agg, "user_id", "full_outer")
                .select(
                    "user_id",
                    (F.coalesce("p_n", F.lit(0)) + F.coalesce("n_events", F.lit(0))).alias("n_events"),
                    (F.coalesce("p_v", F.lit(0.0)) + F.coalesce("total_value", F.lit(0.0))).alias("total_value"),
                )
            )
        agg.write.mode("overwrite").parquet(f"{base}/v{batch_id}")

    return upsert


@query(
    "str_foreach_batch_upsert",
    survey_id="STR-8/ETL-5",
    oracle="""
        SELECT user_id,
               COUNT(*)             AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM events
        GROUP BY user_id
    """,
)
def str_foreach_batch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent streaming UPSERT via foreachBatch + versioned state:
    each micro-batch merges its per-user aggregates into the previous
    state snapshot and writes state version ``batch_id`` — a pure
    function of (previous state, batch), so a replayed batch after a
    crash rewrites the SAME version instead of double-counting. This is
    the write-ahead-by-batchId pattern behind exactly-once aggregated
    sinks on stores without transactions (plain parquet/object storage).

    Scale: per-batch work is one map-side-combined aggregate plus a
    key-partitioned full-outer merge against a users-sized state table;
    the final state equals the batch aggregate, which the oracle states
    exactly."""
    import re as _re

    root = store_path(spark, "scratch", sf_dir, "str_foreach_batch_upsert")
    remove(spark, root)
    base = f"{root}/state"
    upsert = make_versioned_upsert(base)

    replay = events_replay_dir(spark, sf_dir)
    drain(read_events_stream(spark, replay), upsert, f"{root}/ckpt")
    # the newest on-disk version IS the recovery record — no driver state
    versions = [
        int(m.group(1))
        for f in data_files(spark, base)[1]
        if (m := _re.fullmatch(r"v(\d+)", f.getPath().getParent().getName()))
    ]
    final = spark.read.parquet(f"{base}/v{max(versions)}")
    return final.select(
        "user_id", "n_events", F.round("total_value", 2).alias("total_value")
    )


@query(
    "str_streaming_ohlc",
    survey_id="STR-1/STR-4/AG-8",
    oracle="""
        WITH wm AS (
            SELECT max(ts::TIMESTAMP) - INTERVAL 10 MINUTE AS w FROM events
        )
        SELECT CAST(date_trunc('hour', ts::TIMESTAMP) AS TIMESTAMP)
                   AS window_start,
               event_type,
               ROUND(arg_min(value, ts::TIMESTAMP), 2) AS open,
               ROUND(MAX(value), 2)                    AS high,
               ROUND(MIN(value), 2)                    AS low,
               ROUND(arg_max(value, ts::TIMESTAMP), 2) AS close,
               CAST(COUNT(*) AS BIGINT)                AS n_events
        FROM events
        GROUP BY 1, 2
        HAVING window_start + INTERVAL 1 HOUR <= (SELECT w FROM wm)
    """,
)
def str_streaming_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming OHLC bars: the candlestick downsampler
    (ag_ohlc_bars) run INCREMENTALLY — readStream replay → 10-min
    watermark → hourly window × event_type agg where min_by/max_by carry
    the (value, ts) partial states across micro-batches, append-mode
    memory sink, Trigger.AvailableNow.

    This is the live form of the monitoring rollup: state per open
    window is one OHLC tuple (constant bytes), the watermark closes and
    evicts windows as event time advances, and the oracle states the
    closed-window result exactly (every hourly bar whose end ≤ final
    watermark). min_by/max_by are mergeable aggregates, so partial
    states combine across batches exactly like sum — no re-scan of
    arrived data, which is the entire point at 100 TB/day tick volume."""
    replay = events_replay_dir(spark, sf_dir)
    stream = read_events_stream(spark, replay)
    bars = (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.round(F.min_by("value", "ts"), 2).alias("open"),
            F.round(F.max("value"), 2).alias("high"),
            F.round(F.min("value"), 2).alias("low"),
            F.round(F.max_by("value", "ts"), 2).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )
    return run_available_now(bars, sf_dir, "str_streaming_ohlc")
