"""Where the engine writes, and when a write is reused.

Everything the engine writes lives at

    {spark.sql.warehouse.dir}/_{kind}/{app id}/{tag}[_params]

That covers data it derives from a corpus and reuses within one session
(corpus tiles, PQ code tables, the token-count frame, persisted indexes,
eval postings, stream replays) and the per-call roots of query bodies
that write (kind ``scratch``: sinks, checkpoints, round-trip copies).
The one local path is the schema-drift layout (``ingest._drift_base``),
which its DuckDB oracle names at import, before any session exists.

The warehouse URI is used as Spark reports it, so the store sits on
whatever filesystem the warehouse does (HDFS/S3 on a cluster). The app id
keeps concurrent sessions apart. The tag names the corpus the store is
derived from, so a corpus regenerated mid-session gets a new path and is
rebuilt, never served stale, whatever form ``sf_dir`` takes.
"""

from __future__ import annotations

import hashlib
import threading
from collections.abc import Callable

from pyspark.sql import SparkSession

from .tables import data_files, hadoop_fs

#: Store paths built in this process; see ``write_once``.
_WRITTEN: set[str] = set()
_LOCK = threading.RLock()


def warehouse(spark: SparkSession) -> str:
    """The session's warehouse URI, exactly as Spark reports it."""
    return spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")


def corpus_tag(spark: SparkSession, source: str) -> str:
    """Name of the corpus at ``source`` (a file or directory): a hash of
    its Hadoop-qualified path with the newest modification time, count
    and total length of the data files a scan of it reads
    (``tables.data_files``, the rule ``input_bytes`` sizes by). A plain
    path and its ``file://`` form share one tag, two corpora that share a
    leaf name never do, and a rewrite of any data file rolls the tag."""
    qualified, files = data_files(spark, source)
    stamp = max((f.getModificationTime() for f in files), default=-1)
    nbytes = sum(f.getLen() for f in files)
    ident = f"{qualified}|{stamp}|{len(files)}|{nbytes}"
    return hashlib.md5(ident.encode()).hexdigest()[:12]


def store_path(spark: SparkSession, kind: str, source: str, *params) -> str:
    """Path of the ``kind`` store derived from ``source`` in this session,
    named by ``corpus_tag(spark, source)`` and ``params``."""
    leaf = "_".join([corpus_tag(spark, source), *map(str, params)])
    app_id = spark.sparkContext.applicationId
    return f"{warehouse(spark).rstrip('/')}/_{kind}/{app_id}/{leaf}"


def write_once(path: str, build: Callable[[str], object]) -> str:
    """Run ``build(path)`` at most once per ``path`` in this process and
    return ``path``.

    Callers pass a ``store_path``, which fully determines the content, so
    a recorded path is always current. The re-entrant lock serializes
    first writers: without it two threads that both miss the memo would
    run overlapping ``mode("overwrite")`` writes to one path and corrupt
    the store every later reader shares. A racer waits for the first
    build and then reads. A build that raises leaves the path unrecorded,
    so the next call builds again."""
    if path not in _WRITTEN:
        with _LOCK:
            if path not in _WRITTEN:
                build(path)
                _WRITTEN.add(path)
    return path


def exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists, asked of its Hadoop FileSystem."""
    fs, root = hadoop_fs(spark, path)
    return bool(fs.exists(root))


def remove(spark: SparkSession, path: str) -> None:
    """Delete ``path`` recursively through its Hadoop FileSystem; a
    missing path is fine."""
    fs, root = hadoop_fs(spark, path)
    fs.delete(root, True)
