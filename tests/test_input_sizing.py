"""The input sizer and the fan-out gate (sources.input_bytes /
sources.fan_out_small_input): sizing through the path's Hadoop FileSystem
is URI-safe, the gate reads maxPartitionBytes the way the file scan does,
both gate arms give identical rows, and the decision lives in one module.
The schema memo of load_table: a table's schema is inferred once per
version of it, and a new version, new inference confs or a missing table
behave as an uncached read does."""

from __future__ import annotations

import os
import re
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from sealnet_etl_spark.registry import all_queries
from sealnet_etl_spark.sources.tables import (
    fan_out_small_input,
    input_bytes,
    load_table,
)

from .conftest import SF_DIR

MAX_SPLIT = "spark.sql.files.maxPartitionBytes"


def _max_split(spark) -> int:
    return spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()


@pytest.fixture
def restore_max_split(spark):
    before = spark.conf.get(MAX_SPLIT, None)
    yield
    if before is None:
        spark.conf.unset(MAX_SPLIT)
    else:
        spark.conf.set(MAX_SPLIT, before)


def test_input_bytes_is_uri_safe(spark, tmp_path):
    for table in ("documents", "embeddings"):
        plain = f"{os.path.abspath(SF_DIR)}/{table}.parquet"
        nbytes = input_bytes(spark, plain)
        assert nbytes > 0, table
        assert input_bytes(spark, f"file://{plain}") == nbytes, table

    # a written parquet directory: _SUCCESS and the .crc checksums are
    # not data and must not count
    out = str(tmp_path / "written.parquet")
    spark.range(1000).repartition(3).write.parquet(out)
    names = os.listdir(out)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    data = sum(
        os.path.getsize(os.path.join(out, n))
        for n in names
        if n.startswith("part-")
    )
    assert input_bytes(spark, out) == data
    assert input_bytes(spark, f"file://{out}") == data
    assert input_bytes(spark, str(tmp_path / "missing.parquet")) == 0


def test_fan_out_gate_parses_unit_strings(spark, restore_max_split):
    df = spark.range(10)
    nbytes = input_bytes(spark, f"{SF_DIR}/embeddings.parquet")
    spark.conf.set(MAX_SPLIT, "128m")
    assert _max_split(spark) == 128 << 20
    # sf-scale input, 128 MiB splits: the scan under-fills the cores
    assert fan_out_small_input(spark, df, nbytes) is not df
    # an input worth one split per core needs no exchange
    par = spark.sparkContext.defaultParallelism
    assert fan_out_small_input(spark, df, par * (128 << 20)) is df


@pytest.mark.parametrize(
    "name,table",
    [
        ("llm_lsh_ann_topk", "embeddings"),
        ("llm_ivf_cell_probe", "embeddings"),
        ("llm_winnowing_fingerprints", "documents"),
    ],
)
def test_fan_out_arms_give_identical_rows(
    spark, restore_max_split, name, table
):
    """Default conf: the gate fires. maxPartitionBytes="1k": the scan
    alone fills the cores and the gate does not fire. Rows must match."""
    par = spark.sparkContext.defaultParallelism
    nbytes = input_bytes(spark, f"{SF_DIR}/{table}.parquet")
    query = all_queries()[name]

    assert nbytes // _max_split(spark) < par
    fanned = sorted(query(spark, SF_DIR).collect())

    spark.conf.set(MAX_SPLIT, "1k")
    assert nbytes // _max_split(spark) >= par
    unfanned = sorted(query(spark, SF_DIR).collect())

    assert fanned and fanned == unfanned


def test_input_sizing_lives_in_one_module():
    """Local-filesystem sizing (os.walk, getsize) and reads of
    maxPartitionBytes belong to sources/tables.py only; setting the conf
    (a scan override) is allowed anywhere. Store locations and write
    memos (the warehouse dir, ``file:`` strips, local corpus identities,
    write locks) belong to sources/ only, and so do local-filesystem
    writes, probes and listings (``shutil``, ``os.listdir``,
    ``os.path.isdir``, ``glob``, a leaf-keyed scratch root, a FileSystem
    handle of one's own)."""
    package = Path(__file__).resolve().parent.parent / "sealnet_etl_spark"
    rules = [
        (
            re.compile(
                r"os\.walk|getsize|"
                r"conf\.get\(\s*[\"']spark\.sql\.files\.maxPartitionBytes"
            ),
            "sources/tables.py",
        ),
        (
            re.compile(
                r"threading\.Lock\(|abspath|spark\.sql\.warehouse\.dir|\^file:"
            ),
            "sources/",
        ),
        (
            re.compile(
                r"shutil\.|os\.listdir|os\.path\.isdir|glob\.glob|"
                r"_scratch\(|getFileSystem"
            ),
            "sources/",
        ),
    ]
    offenders = []
    for path in sorted(package.rglob("*.py")):
        rel = path.relative_to(package).as_posix()
        text = path.read_text()
        for banned, home in rules:
            if rel.startswith(home):
                continue
            for m in banned.finditer(text):
                line = text.count("\n", 0, m.start()) + 1
                offenders.append(f"{rel}:{line}")
    assert not offenders, offenders


def _job_ids(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup())


@pytest.mark.parametrize("table", ["documents", "events"])
def test_second_load_table_starts_no_job(spark, tmp_path, table):
    """Schema inference is a Spark job; a table read again in the same
    version must not pay it, and ``events`` still gets its µs ``ts``."""
    shutil.copy(f"{SF_DIR}/{table}.parquet", tmp_path)
    first = load_table(spark, str(tmp_path), table)
    before = _job_ids(spark)
    second = load_table(spark, str(tmp_path), table)
    assert _job_ids(spark) == before
    assert second.dtypes == first.dtypes
    if table == "events":
        assert dict(second.dtypes)["ts"] == "timestamp"


@pytest.mark.parametrize("uri", [False, True], ids=["plain", "file_uri"])
def test_rewritten_table_shows_its_new_column(spark, tmp_path, uri):
    path = tmp_path / "region.parquet"
    shutil.copy(f"{SF_DIR}/region.parquet", path)
    sf_dir = f"file://{tmp_path}" if uri else str(tmp_path)
    columns = load_table(spark, sf_dir, "region").columns

    table = pq.read_table(path)
    extra = pa.array(range(table.num_rows), pa.int64())
    pq.write_table(table.append_column("r_extra", extra), path)
    rewritten = load_table(spark, sf_dir, "region")
    assert rewritten.columns == columns + ["r_extra"]
    assert sorted(r.r_extra for r in rewritten.collect()) == list(
        range(table.num_rows)
    )


def test_binary_as_string_conf_gets_its_own_schema(spark, tmp_path):
    pq.write_table(
        pa.table({"k": [1, 2], "b": pa.array([b"x", b"y"], pa.binary())}),
        tmp_path / "blobs.parquet",
    )
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key, None)
    types = []
    try:
        for value in ("false", "true"):
            spark.conf.set(key, value)
            df = load_table(spark, str(tmp_path), "blobs")
            types.append(dict(df.dtypes)["b"])
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
    assert types == ["binary", "string"]


def test_missing_table_raises_path_not_found(spark, tmp_path):
    with pytest.raises(AnalysisException) as err:
        load_table(spark, str(tmp_path), "documents")
    assert err.value.getCondition() == "PATH_NOT_FOUND"
