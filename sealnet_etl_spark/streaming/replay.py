"""Deterministic event-replay source for Structured Streaming tests
(SURVEY.md §2.1 SRC-7, §5.2.3).

The events table is re-materialized as K timestamp-ordered parquet chunk
files written sequentially (strictly increasing mtimes), so a
``readStream`` + ``Trigger.AvailableNow`` run processes the same
micro-batch sequence every time — which is what makes watermark/state
semantics assertable. On a production cluster the same code points at a
landing directory filled by an uploader; nothing here is test-only except
the chunk writer.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..sources.store import remove, store_path, write_once
from ..sources.tables import load_table

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def replay_dir(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    chunks: Callable[[DataFrame], Iterable[DataFrame]],
    *params,
) -> str:
    """Path of a replay of ``table``: the frames ``chunks(table frame)``
    yields, written in order into one directory (one file per chunk,
    ascending mtime). It is a store tagged by the table and ``params``,
    written once per session; the build removes the path first, so a
    retry after a failed build starts clean."""

    def build(path: str) -> None:
        remove(spark, path)
        for chunk in chunks(load_table(spark, sf_dir, table)):
            chunk.coalesce(1).write.mode("append").parquet(path)

    source = f"{sf_dir}/{table}.parquet"
    return write_once(store_path(spark, "replay", source, *params), build)


def ntile_chunks(df: DataFrame, n_chunks: int, *order: str) -> Iterable[DataFrame]:
    """``df`` as n_chunks chunks in ``order`` (chunk i holds the i-th
    quantile), computed once for all chunks."""
    chunked = df.withColumn(
        "__chunk", F.ntile(n_chunks).over(Window.orderBy(*order))
    ).cache()
    for i in range(1, n_chunks + 1):
        yield chunked.filter(F.col("__chunk") == i).drop("__chunk")
    chunked.unpersist()


#: Micro-batches per bounded replay. Two chunks keep the multi-batch
#: semantics every streaming test needs (state carried across batches,
#: watermark advancing between them) at half the per-batch fixed cost of
#: the round-2 four-chunk replay; the drained availableNow result is
#: identical for any chunk count because append-mode emission depends only
#: on the FINAL watermark (max ts − delay after the no-data flush batch).
REPLAY_CHUNKS = int(os.environ.get("SPARK_GRAFT_REPLAY_CHUNKS", "2"))


def events_replay_dir(
    spark: SparkSession, sf_dir: str, n_chunks: int = REPLAY_CHUNKS
) -> str:
    """Replay the events table as n_chunks ts-ordered chunks (chunk i holds
    the i-th quantile of event time)."""
    return replay_dir(
        spark,
        sf_dir,
        "events",
        lambda events: ntile_chunks(events, n_chunks, "ts", "event_id"),
        "ntile",
        n_chunks,
    )


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming scan of the replay directory, one chunk file per
    micro-batch (maxFilesPerTrigger=1) so the batch sequence is the chunk
    sequence."""
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


#: State-store partition count for bounded replays. A streaming query runs
#: `shuffle.partitions` state tasks PER STATEFUL OPERATOR PER MICRO-BATCH —
#: at replay scale that fixed overhead dominates (32 partitions × 4 batches
#: × 2 join sides ≈ 15 s of near-empty state tasks for the stream-stream
#: join at sf0.1; 8 partitions cut it ~3×). The value binds into each
#: query's fresh checkpoint at start, so on a production cluster set
#: SPARK_GRAFT_STREAM_PARTITIONS to 2-3× total cores BEFORE first start —
#: state partitioning is hash-by-key, so the result is identical either way.
STREAM_STATE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "8"))


def run_available_now(
    stream_df: DataFrame, sf_dir: str, name: str, output_mode: str = "append"
) -> DataFrame:
    """Drain a streaming DataFrame with Trigger.AvailableNow into an
    in-memory sink and return the collected result as a batch DataFrame.

    availableNow processes every file already present then stops — the
    bounded-replay trigger that makes streaming results deterministic and
    therefore oracle-checkable (SURVEY.md §3.4/§5.2.3).
    """
    spark = stream_df.sparkSession
    root = store_path(spark, "scratch", sf_dir, name)
    remove(spark, root)
    previous = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS))
    try:
        query = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", f"{root}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
    finally:
        # the partition count is captured into the checkpoint at start;
        # restore the batch setting before anything else plans against it
        spark.conf.set("spark.sql.shuffle.partitions", previous)
    query.awaitTermination()
    return spark.table(name)


def drain(
    stream_df: DataFrame,
    process: Callable[[DataFrame, int], None],
    checkpoint: str,
) -> None:
    """Run ``process(batch_df, batch_id)`` on every micro-batch of
    ``stream_df`` under Trigger.AvailableNow, checkpointing to
    ``checkpoint``, and return once the replay is drained: the
    foreachBatch form of ``run_available_now``."""
    (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
