"""generated.sql error-surface pins for GeneratedTable.

The reference's expected-ERROR statements exercised here:
- INSERT with an explicit (non-DEFAULT) value into a generated column
  (generated.sql:58-61);
- UPDATE SET b = 11 on a generated column (:68 — 'column b can only
  be updated to DEFAULT');
- generation expressions referencing another generated column or
  themselves (gtest_err_2a/2b, :19-20).
"""

import os

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from cloudberry_spark import scratch
from cloudberry_spark.operators.generated_cols import (
    GeneratedColumnError,
    GeneratedTable,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .appName("generated-cols")
        .getOrCreate()
    )
    yield s


def _gt(spark, tag):
    gt = GeneratedTable.create(
        spark, scratch.path(SF_DIR, f"gen_err_{tag}"), "a int, b int",
        generated={"b": "a * 2"},
    )
    gt.insert(spark, spark.createDataFrame([(1, None)], "a int, b int"))
    return gt


def test_insert_explicit_value_rejected(spark):
    gt = _gt(spark, "ins")
    with pytest.raises(GeneratedColumnError, match="non-DEFAULT"):
        gt.insert(
            spark,
            spark.createDataFrame([(3, 33)], "a int, b int"),
            explicit={"b"},
        )
    assert gt.read(spark).count() == 1  # nothing committed


def test_update_generated_column_rejected(spark):
    gt = _gt(spark, "upd")
    with pytest.raises(GeneratedColumnError, match="DEFAULT"):
        gt.update(spark, F.col("a") == 1, {"b": F.lit(11)})


def test_generated_referencing_generated_rejected(spark):
    with pytest.raises(GeneratedColumnError, match="generated column"):
        GeneratedTable.create(
            spark, scratch.path(SF_DIR, "gen_err_2b"),
            "a int, b int, c int",
            generated={"b": "a * 2", "c": "b * 3"},
        )


def test_update_recompute_follows_set(spark):
    """UPDATE SET a = 5 must recompute b = 10 in the SAME commit."""
    gt = _gt(spark, "recompute")
    gt.update(spark, F.col("a") == 1, {"a": F.lit(5)})
    rows = gt.read(spark).collect()
    assert [(r.a, r.b) for r in rows] == [(5, 10)]
