"""Typed loaders for the testdata star schema (SURVEY.md §1.2).

Scale notes: `spark.read.parquet` gives the vectorized columnar scan with
predicate pushdown and column pruning for free — downstream operators keep
filters sargable so row-group/page skipping applies at 100 TB. The only
table needing special handling is ``events`` (physical TIMESTAMP(NANOS),
SURVEY.md §1.3): with the legacy nanos flag its ``ts`` arrives as bigint
nanoseconds and is truncated to microseconds, matching the DuckDB oracle's
``ts::TIMESTAMP`` ns→µs truncation exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import apply_runtime_confs

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to broadcast at ANY scale factor (region /
#: nation are bounded by geography; supplier stays << autoBroadcastJoinThreshold
#: at the tested SFs). Joins against these should use F.broadcast.
BROADCAST_DIMS: frozenset[str] = frozenset({"region", "nation", "supplier"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a typed DataFrame."""
    apply_runtime_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # ns since epoch → µs timestamp; integer `div` truncates, matching
            # the oracle's ts::TIMESTAMP cast (SURVEY.md §1.3/§5.3).
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            # Newer Spark builds read TIMESTAMP(NANOS) as TIMESTAMP_NTZ (the
            # legacy nanosAsLong flag is dead); NTZ→LTZ under the UTC session
            # TZ is value-identical and restores unix_micros()/ltz-only fns.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def input_bytes(spark: SparkSession, path: str) -> int:
    """Bytes a file scan of ``path`` reads, sized through the Hadoop
    FileSystem that owns the path, so a ``file://``, ``hdfs://`` or
    ``s3a://`` URI sizes exactly like a plain local path. A file gives its
    length; a directory the recursive sum of its data files, skipping what
    Spark's file index skips (names starting with ``_`` or ``.``:
    ``_SUCCESS``, ``.crc`` checksums, ``_temporary``); a missing path 0."""
    jvm = spark.sparkContext._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
    if not fs.exists(root):
        return 0
    total = 0
    pending = [fs.getFileStatus(root)]
    while pending:
        status = pending.pop()
        if not status.isDirectory():
            total += status.getLen()
            continue
        pending.extend(
            child
            for child in fs.listStatus(status.getPath())
            if not child.getPath().getName().startswith(("_", "."))
        )
    return total


def fan_out_small_input(
    spark: SparkSession, df: DataFrame, nbytes: int
) -> DataFrame:
    """``df.repartition(defaultParallelism)`` iff an input of ``nbytes``
    scans into fewer splits than there are cores, else ``df`` unchanged.

    For kernel-fed stages (Arrow/pandas kernels, row-local assignment
    kernels, broadcast-probe sides) whose output rides the scan's
    partitioning: at bench scale a fixture is one split, which would put
    the whole stage on one core. The exchange exists only while the scan
    under-fills the cores (nbytes // maxPartitionBytes < defaultParallelism);
    at 100 TB the scan itself provides the parallelism and the gate is a
    no-op by construction. ``maxPartitionBytes`` is read through Spark's
    typed SQLConf accessor, so unit strings such as ``"128m"`` parse the
    way the file scan parses them."""
    par = spark.sparkContext.defaultParallelism
    max_split = (
        spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    )
    return df.repartition(par) if nbytes // max_split < par else df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so SQL-entry queries share plans."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
