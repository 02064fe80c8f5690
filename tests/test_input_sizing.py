"""The input sizer and the fan-out gate (sources.input_bytes /
sources.fan_out_small_input): sizing through the path's Hadoop FileSystem
is URI-safe, the gate reads maxPartitionBytes the way the file scan does,
both gate arms give identical rows, and the decision lives in one module."""

from __future__ import annotations

import os
import re
from pathlib import Path

import pytest

from sealnet_etl_spark.registry import all_queries
from sealnet_etl_spark.sources.tables import fan_out_small_input, input_bytes

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
