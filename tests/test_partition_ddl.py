"""Filesystem-level pins for partition lifecycle DDL (partition.sql /
partition_append.sql analogs): SPLIT rewrites only the covering
fileset, EXCHANGE moves no sibling bytes, TRUNCATE is manifest-only,
and pre-op versions stay readable (time travel)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from cloudberry_spark.operators.partition_ddl import RangePartitionedTable
from tests.conftest import SF_DIR


def _file_state(root: str, d: str) -> dict[str, tuple[int, float]]:
    out = {}
    for f in os.listdir(os.path.join(root, d)):
        p = os.path.join(root, d, f)
        st = os.stat(p)
        out[f] = (st.st_size, st.st_mtime)
    return out


@pytest.fixture()
def table(spark, tmp_path):
    df = spark.range(0, 900).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 3 % 101).cast("double").alias("v"),
    )
    t = RangePartitionedTable.create(
        str(tmp_path / "pt"), df, "k", [(0, 300), (300, 600), (600, 900)]
    )
    return t


def test_split_touches_only_covering_fileset(spark, table):
    root = table.st.root
    sib = {d: _file_state(root, d)
           for k, d in table.st.manifest()["parts"].items() if k != "300_600"}
    table.split_partition(spark, value=300, at=450)
    for d, before in sib.items():
        assert _file_state(root, d) == before, f"sibling {d} was touched"
    parts = sorted(table._parts())
    assert (300, 450) in parts and (450, 600) in parts
    assert table.read(spark).count() == 900


def test_exchange_returns_displaced_rows_and_moves_no_sibling_bytes(
    spark, table
):
    root = table.st.root
    sib = {d: _file_state(root, d)
           for k, d in table.st.manifest()["parts"].items() if k != "600_900"}
    staged = spark.range(600, 900).select(
        F.col("id").cast("int").alias("k"), F.lit(-1.0).alias("v")
    )
    old = table.exchange_partition(spark, value=600, staged=staged)
    assert old.count() == 300 and old.filter("v = -1.0").count() == 0
    for d, before in sib.items():
        assert _file_state(root, d) == before
    assert table.read(spark).filter("v = -1.0").count() == 300


def test_exchange_validates_range(spark, table):
    bad = spark.range(0, 10).select(
        F.col("id").cast("int").alias("k"), F.lit(0.0).alias("v")
    )
    with pytest.raises(ValueError, match="violate range"):
        table.exchange_partition(spark, value=600, staged=bad)


def test_add_overlap_rejected(spark, table):
    df = spark.range(0, 10).select(
        F.col("id").cast("int").alias("k"), F.lit(0.0).alias("v")
    )
    with pytest.raises(ValueError, match="overlaps"):
        table.add_partition(500, 700, df)


def test_truncate_is_manifest_only_and_time_travels(spark, table):
    root = table.st.root
    v0 = table.st.current_version()
    dropped = table.st.manifest()["parts"]["0_300"]
    table.truncate_partition(0)
    # catalog-only: the fileset is still on disk ...
    assert os.path.isdir(os.path.join(root, dropped))
    # ... the current snapshot no longer reads it ...
    assert table.read(spark).count() == 600
    # ... and the pre-truncate version still does (time travel)
    assert table.st.read(spark, version=v0).count() == 900


def test_pruned_point_read_opens_one_fileset(spark, table):
    df = table.read_pruned(spark, 450)
    files = {os.path.dirname(f) for f in df.inputFiles()}
    d = table.st.manifest()["parts"]["300_600"]
    assert len(files) == 1 and d in files.pop()
    assert df.count() == 300


def test_vacuum_reclaims_a_truncated_partition(spark, table):
    dropped = table.st.manifest()["parts"]["0_300"]
    table.truncate_partition(0)
    assert table.st.vacuum(keep_versions=1) == [dropped]
    assert not os.path.exists(os.path.join(table.st.root, dropped))
    assert table.read(spark).count() == 600
