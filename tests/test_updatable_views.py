"""Auto-updatable view rules (operators/views.py) — the PG read-only
and partial-updatability error paths from updatable_views.sql:19-33,
each of which must fail loudly rather than route DML silently."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cloudberry_spark import scratch
from cloudberry_spark.catalog import load_table
from cloudberry_spark.operators.views import UpdatableView
from cloudberry_spark.sources.snapshot import SnapshotTable

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def base(spark):
    df = (
        load_table(spark, SF, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .limit(20)
    )
    return SnapshotTable.init(scratch.path(SF, "uv_test_base"), df)


@pytest.mark.parametrize(
    "ddl, what",
    [
        ("CREATE VIEW v AS SELECT DISTINCT c_custkey AS k FROM b", "DISTINCT"),
        (
            "CREATE VIEW v AS SELECT c_custkey AS k FROM b "
            "GROUP BY c_custkey",
            "GROUP BY",
        ),
        (
            "CREATE VIEW v AS SELECT count(*) AS n FROM b",
            "aggregate",
        ),
        (
            "CREATE VIEW v AS SELECT c_custkey AS k FROM b "
            "ORDER BY 1 LIMIT 1",
            "LIMIT",
        ),
        (
            "CREATE VIEW v AS SELECT b1.c_custkey AS k FROM b b1, b b2",
            "",  # multi-rel trips the shape regex or multi-base check
        ),
        (
            "CREATE VIEW v AS SELECT c_custkey AS k, "
            "rank() OVER (ORDER BY c_custkey) AS r FROM b",
            "window",
        ),
    ],
)
def test_read_only_views_rejected(spark, base, ddl, what):
    """updatable_views.sql:19-31 — every read-only shape raises at
    definition (PG raises at DML; definition-time is the loud-fail
    analog since only DML-bound views are created here)."""
    with pytest.raises(NotImplementedError) as ei:
        UpdatableView.create(spark, ddl, base)
    assert what.lower() in str(ei.value).lower()


def test_expression_column_not_updatable(spark, base):
    """rw_view15 (:33, 73-76): upper(b)-style expression columns may
    exist but are not INSERT/UPDATE targets."""
    v = UpdatableView.create(
        spark,
        "CREATE VIEW v AS SELECT c_custkey AS k, "
        "upper(c_name) AS uname FROM b",
        base,
    )
    with pytest.raises(NotImplementedError, match="not updatable"):
        v.update(spark, None, {"uname": "'x'"})
    rows = spark.createDataFrame([(1, "x")], "k bigint, uname string")
    with pytest.raises(NotImplementedError, match="not updatable"):
        v.insert(spark, rows)
    # the simple column remains updatable
    v.update(spark, "k = -1", {"k": "k"})


def test_check_option_rejects_invisible_rows(spark):
    """WITH CHECK OPTION (:979): inserting/updating a row the view
    cannot see raises."""
    df = (
        load_table(spark, SF, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .limit(20)
    )
    st = SnapshotTable.init(scratch.path(SF, "uv_test_chk"), df)
    v = UpdatableView.create(
        spark,
        "CREATE VIEW v AS SELECT c_custkey AS k, c_acctbal AS bal "
        "FROM b WHERE c_acctbal > 0 WITH CHECK OPTION",
        st,
    )
    bad = spark.createDataFrame([(999, -5.0)], "k bigint, bal double")
    with pytest.raises(ValueError, match="check option"):
        v.insert(spark, bad)
    with pytest.raises(ValueError, match="check option"):
        v.update(spark, None, {"bal": "-1.0"})


def test_view_read_applies_qual_and_rename(spark, base):
    v = UpdatableView.create(
        spark,
        "CREATE VIEW v AS SELECT c_custkey AS k, c_acctbal AS bal "
        "FROM b WHERE c_acctbal > 0",
        base,
    )
    df = v.read(spark)
    assert df.columns == ["k", "bal"]
    assert df.filter(F.col("bal") <= 0).count() == 0
