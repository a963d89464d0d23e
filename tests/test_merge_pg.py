"""merge.sql error-surface pins for the merge_pg executor.

The reference's merge.out documents two hard error classes exercised
here (happy-path blocks are driver-verified via regress_merge_*):

- "MERGE command cannot affect row a second time" when two firing
  source rows match one target row (merge.sql:301-315 /
  merge.out:436-449);
- target-column references in NOT MATCHED clauses are invalid
  (merge.sql:415-421 — 'invalid reference to FROM-clause entry for
  table "t"'); here the insert-side plan has no t columns at all, so
  Spark's analyzer raises, matching PG's loud failure.
"""

import os

import pytest
from pyspark.sql import SparkSession

from cloudberry_spark import scratch
from cloudberry_spark.operators.merge_pg import (
    MergeCardinalityError,
    merge_pg,
)
from cloudberry_spark.sources.snapshot import SnapshotTable

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .appName("merge-pg-errors")
        .getOrCreate()
    )
    yield s


def _tables(spark, tag, src_rows):
    t = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "tid int, balance int"
    )
    st = SnapshotTable.init(scratch.path(SF_DIR, f"merge_err_{tag}"), t)
    s = spark.createDataFrame(src_rows, "sid int, delta int")
    return st, s


def test_duplicate_matched_source_raises(spark):
    """merge.sql:301-307 — duplicate source row (2,5)x2 makes the
    MATCHED UPDATE hit target tid 2 twice: PG errors, so do we."""
    st, s = _tables(spark, "dup_upd", [(2, 5), (2, 5), (3, 20), (4, 40)])
    with pytest.raises(MergeCardinalityError, match="second time"):
        merge_pg(spark, st, s, "t.tid = s.sid",
                 [("matched", None, ("update", {"balance": "0"}))])
    # the failed statement must not have committed anything
    assert sorted(r.tid for r in st.read(spark).collect()) == [1, 2, 3]


def test_duplicate_matched_delete_raises(spark):
    """merge.sql:309-315 — the DELETE twin of the cardinality error."""
    st, s = _tables(spark, "dup_del", [(2, 5), (2, 5), (3, 20)])
    with pytest.raises(MergeCardinalityError):
        merge_pg(spark, st, s, "t.tid = s.sid",
                 [("matched", None, "delete")])


def test_duplicate_not_matched_sources_do_not_raise(spark):
    """merge.sql:390-400 — the cardinality rule applies only to the
    MATCHED side; duplicate unmatched source rows both insert."""
    st, s = _tables(spark, "dup_ins", [(5, 50), (5, 50)])
    merge_pg(spark, st, s, "t.tid = s.sid",
             [("not_matched", None,
               ("insert", {"tid": "s.sid", "balance": "s.delta"}))])
    assert st.read(spark).filter("tid = 5").count() == 2


def test_target_ref_in_not_matched_fails_loudly(spark):
    """merge.sql:415-421 — INSERT VALUES (t.tid, ...) in a NOT MATCHED
    clause references the target, which PG rejects; the insert-side
    anti-join here carries no t columns, so analysis fails loudly."""
    st, s = _tables(spark, "tref", [(4, 40)])
    with pytest.raises(Exception, match="t.tid|cannot be resolved|UNRESOLVED"):
        merge_pg(spark, st, s, "t.tid = s.sid",
                 [("not_matched", None,
                   ("insert", {"tid": "t.tid", "balance": "s.delta"}))])
