"""Warm queries reuse what the session already knows.

- Parquet written by the engine is read back with the writer's schema,
  so Spark starts no footer-reading job to infer it: snapshot-table
  manifests record the schema, ``scratch.materialize`` passes its frame's, and
  ``load_table`` infers each fixture file's schema once per version of
  the file.
- The codegen cache holds the working set of a pass of the pipeline
  operators, so a second pass compiles nothing.
- Confs that results depend on fail loudly when they cannot be set.
"""

from __future__ import annotations

import os
import shutil
import uuid
from contextlib import contextmanager

import pandas as pd
import pyspark.sql.functions as F
import pytest

from cloudberry_spark import catalog, scratch
from cloudberry_spark.catalog import load_table
from cloudberry_spark.operators.partition_ddl import RangePartitionedTable
from cloudberry_spark.session import REQUIRED_CONFS, RUNTIME_CONFS, configure_session
from cloudberry_spark.sources.snapshot import SnapshotTable
from tests.conftest import SF_DIR


@pytest.fixture()
def mat_sf(tmp_path):
    """An sf_dir for scratch.materialize whose scratch dir is removed
    afterwards."""
    sf = str(tmp_path / f"sf_{uuid.uuid4().hex[:8]}")
    yield sf
    shutil.rmtree(os.path.join(scratch.ROOT, os.path.basename(sf)), ignore_errors=True)


@contextmanager
def _job_group(spark):
    """Run the block in a fresh job group; yields a function that returns
    the ids of the Spark jobs started in the group."""
    sc = spark.sparkContext
    group = f"warm-reuse-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        yield lambda: list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _typed(spark, lo: int = 0, hi: int = 6):
    """Non-nullable columns of every kind the schema must carry."""
    return spark.range(lo, hi).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 1.25).cast("decimal(28,2)").alias("d"),
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias("dt"),
        F.timestamp_seconds(F.col("id") * 3600 + 1_700_000_000).alias("ts"),
        F.array(F.col("id").cast("string"), F.lit("x")).alias("arr"),
        F.struct(F.col("id").alias("a"), F.col("id").cast("string").alias("b")).alias("st"),
        (F.col("id") % 2).cast("string").alias("p"),
    )


def _check_readback(spark, st: SnapshotTable) -> None:
    """Reading the current version starts no Spark job, and the reader
    built from the manifest's recorded schema sees what Spark infers
    from the files, row for row."""
    m = st.manifest()
    assert "schema" in m
    with _job_group(spark) as jobs:
        got = st.read(spark)
    assert jobs() == [], f"read of {os.path.basename(st.root)} v{m['version']}"
    inferred = spark.read.parquet(*[os.path.join(st.root, d) for d in m["dirs"]])
    assert got.schema == inferred.schema
    assert sorted(got.collect()) == sorted(inferred.collect())


def test_snapshot_readbacks_use_the_recorded_schema(spark, tmp_path):
    st = SnapshotTable.init(str(tmp_path / "t"), _typed(spark))
    _check_readback(spark, st)
    st.commit_rewrite(st.read(spark).withColumn("k", F.col("k") + 100), 0)
    _check_readback(spark, st)
    st.commit_append(_typed(spark, 6, 9), 1)
    _check_readback(spark, st)
    st.commit_rewrite(st.read(spark).where(F.lit(False)), 2, label="delete-all")
    _check_readback(spark, st)
    assert st.read(spark).count() == 0
    # an append whose columns differ records no schema: inference as before
    st.commit_append(_typed(spark).drop("st"), 3)
    assert "schema" not in st.manifest()

    pt = SnapshotTable.init_partitioned(str(tmp_path / "p"), _typed(spark), "p", ["0", "1", "2"])
    _check_readback(spark, pt)
    pt.commit_partition_rewrite({"0": pt.read(spark).where("p = '0'").limit(1)}, 0)
    _check_readback(spark, pt)

    rp = RangePartitionedTable.create(str(tmp_path / "r"), _typed(spark), "k", [(0, 3), (3, 6)])
    _check_readback(spark, rp.st)
    with _job_group(spark) as jobs:
        rp.read_pruned(spark, 4)
    assert jobs() == []
    rp.add_partition(6, 9, _typed(spark, 6, 9))
    _check_readback(spark, rp.st)
    rp.split_partition(spark, value=0, at=2)
    _check_readback(spark, rp.st)
    rp.exchange_partition(spark, 4, _typed(spark, 3, 6).withColumn("p", F.lit("x")))
    _check_readback(spark, rp.st)
    rp.truncate_partition(4)
    _check_readback(spark, rp.st)


def test_range_partitioned_create_writes_every_range_in_one_job(spark, tmp_path):
    with _job_group(spark) as jobs:
        RangePartitionedTable.create(
            str(tmp_path / "r"), _typed(spark, 0, 9), "k", [(0, 3), (3, 6), (6, 9)]
        )
    assert len(jobs()) == 1


def test_materialize_reads_back_with_the_writers_schema(spark, tmp_path, mat_sf):
    df = _typed(spark)
    path = str(tmp_path / "written")
    with _job_group(spark) as write_jobs:
        df.coalesce(8).write.mode("overwrite").parquet(path)
    with _job_group(spark) as jobs:
        got = scratch.materialize(df, spark, mat_sf, "m")
    # no job beyond those of the write itself
    assert len(jobs()) == len(write_jobs())
    inferred = spark.read.parquet(scratch.path(mat_sf, "m"))
    assert got.schema == inferred.schema
    assert sorted(got.collect()) == sorted(inferred.collect()) == sorted(df.collect())


def test_second_load_table_starts_no_job(spark):
    load_table(spark, SF_DIR, "orders")
    with _job_group(spark) as jobs:
        a = load_table(spark, SF_DIR, "orders")
        b = load_table(spark, SF_DIR, "orders")
    assert jobs() == []
    # a fresh reader per call: a self-join's two sides stay distinct
    assert a is not b
    assert a.join(b, a.o_orderkey == b.o_orderkey).count() == a.count()


def test_fixture_schema_memo_follows_file_replacement(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    pd.DataFrame({"a": [1, 2]}).to_parquet(path)
    assert load_table(spark, str(tmp_path), "region").columns == ["a"]
    with _job_group(spark) as jobs:
        load_table(spark, str(tmp_path), "region")
    assert jobs() == []

    staged = str(tmp_path / "staged.parquet")
    pd.DataFrame({"a": [1, 2], "b": ["x", "y"]}).to_parquet(staged)
    os.replace(staged, path)
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]
    assert catalog._FILE_SCHEMAS[path][2].fieldNames() == ["a", "b"]


def test_pipeline_operators_warm_pass_compiles_nothing(spark):
    from cloudberry_spark.registry import all_queries

    qs = all_queries()
    names = (
        "dml_partition_confined_update",
        "ivm_incremental_refresh",
        "dedup_incremental_index_probe",
    )
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def one_pass() -> int:
        c0 = metric.getCount()
        for n in names:
            qs[n].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        return metric.getCount() - c0

    assert one_pass() > 0  # the cold pass compiles: the counter is live
    assert one_pass() == 0


class _RefusingConf:
    def __init__(self, refused):
        self.refused = refused
        self.applied = {}

    def set(self, key, value):
        if key in self.refused:
            raise RuntimeError(f"{key} is not modifiable")
        self.applied[key] = value


class _StubSession:
    def __init__(self, refused):
        self.conf = _RefusingConf(refused)


@pytest.mark.parametrize("key", sorted(REQUIRED_CONFS))
def test_configure_session_raises_when_a_result_conf_is_refused(key):
    with pytest.raises(RuntimeError, match=key):
        configure_session(_StubSession({key}))


def test_configure_session_skips_refused_knobs():
    knobs = set(RUNTIME_CONFS) - REQUIRED_CONFS
    stub = _StubSession(knobs)
    configure_session(stub)
    assert set(stub.conf.applied) == REQUIRED_CONFS


def test_configure_session_sets_shuffle_partitions_unless_set(spark):
    key = "spark.sql.shuffle.partitions"
    try:
        spark.conf.unset(key)
        configure_session(spark)
        assert spark.conf.get(key) == str(max(spark.sparkContext.defaultParallelism, 8))
        spark.conf.set(key, "5")
        configure_session(spark)
        assert spark.conf.get(key) == "5"
    finally:
        spark.conf.set(key, "8")


def test_load_events_raises_when_nanos_conf_is_refused():
    with pytest.raises(RuntimeError, match="nanosAsLong"):
        load_table(_StubSession({"spark.sql.legacy.parquet.nanosAsLong"}), SF_DIR, "events")
