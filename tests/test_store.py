"""The engine store (sources/store.py): a store path names its corpus, so a
corpus rewritten mid-session is rebuilt whatever form ``sf_dir`` takes;
``write_once`` builds each path once per process, also under a race, and
retries a build that raised."""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time

import pyarrow.parquet as pq
import pytest

from sealnet_etl_spark.operators.similarity import llm_topk_cosine
from sealnet_etl_spark.operators.textstats import token_counts
from sealnet_etl_spark.sources.store import (
    remove,
    store_path,
    warehouse,
    write_once,
)
from sealnet_etl_spark.sources.tables import input_bytes

from .conftest import SMOKE_SF_DIR


def _copy_corpus(dst, src: str = SMOKE_SF_DIR) -> str:
    os.makedirs(dst)
    for name in os.listdir(src):
        shutil.copyfile(os.path.join(src, name), os.path.join(dst, name))
    return str(dst)


def _halve(sf: str) -> None:
    for table in ("documents", "embeddings"):
        path = os.path.join(sf, f"{table}.parquet")
        rows = pq.read_table(path)
        pq.write_table(rows.slice(0, rows.num_rows // 2), path)


def _results(spark, sf_dir: str):
    return (
        sorted(token_counts(spark, sf_dir).collect()),
        sorted(llm_topk_cosine(spark, sf_dir).collect()),
    )


@pytest.mark.parametrize("uri", [False, True], ids=["plain", "file_uri"])
def test_regenerated_corpus_is_rebuilt(spark, tmp_path, uri):
    sf = _copy_corpus(tmp_path / "sf")
    sf_dir = f"file://{sf}" if uri else sf
    n_docs = pq.read_metadata(os.path.join(sf, "documents.parquet")).num_rows

    assert token_counts(spark, sf_dir).count() == n_docs
    assert llm_topk_cosine(spark, sf_dir).count() > 0

    _halve(sf)
    fresh = _copy_corpus(tmp_path / "fresh", sf)  # new to this session

    assert token_counts(spark, sf_dir).count() == n_docs // 2
    assert _results(spark, sf_dir) == _results(spark, fresh)


def test_write_once_builds_once_under_a_race(tmp_path):
    path = str(tmp_path / "store")
    n_threads = 8  # more racers than cores
    calls, returned = [], []
    barrier = threading.Barrier(n_threads)

    def build(p):
        calls.append(p)
        time.sleep(0.2)  # hold the build open while the racers arrive

    def first_call():
        barrier.wait()
        returned.append(write_once(path, build))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=first_call) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert calls == [path]
    assert returned == [path] * n_threads


def test_write_once_retries_a_failed_build(tmp_path):
    path = str(tmp_path / "store")

    def fail(p):
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        write_once(path, fail)
    calls = []
    write_once(path, calls.append)
    write_once(path, calls.append)
    assert calls == [path]


def test_store_path_names_the_corpus(spark, tmp_path):
    a = _copy_corpus(tmp_path / "a" / "sf")
    b = _copy_corpus(tmp_path / "b" / "sf")
    path_a = store_path(spark, "probe", f"{a}/documents.parquet")
    path_b = store_path(spark, "probe", f"{b}/documents.parquet")

    assert path_a != path_b  # same leaf name, different corpora
    assert store_path(spark, "probe", f"file://{a}/documents.parquet") == path_a
    assert store_path(spark, "probe", f"{a}/documents.parquet", "t4") == (
        path_a + "_t4"
    )
    app_id = spark.sparkContext.applicationId
    assert path_a.startswith(f"{warehouse(spark).rstrip('/')}/_probe/{app_id}/")

    spark.range(3).write.parquet(path_a)
    assert input_bytes(spark, path_a) > 0
    remove(spark, path_a)
    remove(spark, path_a)  # a missing path is fine
    assert input_bytes(spark, path_a) == 0
