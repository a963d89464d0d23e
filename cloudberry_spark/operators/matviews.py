"""Materialized-view lifecycle: REFRESH, WITH NO DATA, staleness tracking.

Reference: src/test/regress/sql/matview_data.sql — Cloudberry tracks
every matview's freshness in ``gp_matview_aux.datastatus``: 'u' (up to
date) after REFRESH, flipped to expired by any base-table DML that
changes rows (INSERT of zero rows keeps it fresh — matview_data.sql:43
"insert but no rows changes"), restored by the next REFRESH; an
unpopulated matview (CREATE ... WITH NO DATA, matview.c) cannot be
scanned until refreshed.

Spark-first analog: the matview is itself a snapshot table, created
empty with its defining query's columns (PG creates the heap even WITH
NO DATA). REFRESH commits the defining query's result over the
SnapshotTable base as a rewrite, so a reader of the old contents is
never torn, and records the base's manifest version. ``datastatus`` is
then a pure metadata comparison — current base version vs refreshed-at
version — the same O(1) check the reference's aux table provides.
Zero-row appends skip the commit entirely (SnapshotTable versions move
only when data moves), which reproduces the reference's zero-row-insert
freshness rule with no content hashing.

At 100 TB: refresh cost is the defining query itself; staleness checks
never touch data. The AQUMV rewrites (operators/rewrites.py) answer
queries FROM these matviews; this module owns their lifecycle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudberry_spark import scratch
from cloudberry_spark.catalog import load_table
from cloudberry_spark.registry import register
from cloudberry_spark.sources.snapshot import SnapshotTable


class UnpopulatedMatviewError(RuntimeError):
    """PG: ERROR: materialized view "mv" has not been populated."""


class MatView:
    def __init__(
        self,
        table: SnapshotTable,
        base: SnapshotTable,
        define: Callable[[DataFrame], DataFrame],
    ):
        self.table = table
        self.base = base
        self.define = define
        self.refreshed_at: int | None = None

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        base: SnapshotTable,
        define: Callable[[DataFrame], DataFrame],
        with_no_data: bool = False,
    ) -> "MatView":
        empty = define(base.read(spark)).limit(0)
        mv = cls(SnapshotTable.init(root, empty), base, define)
        if not with_no_data:
            mv.refresh(spark)
        return mv

    def refresh(self, spark: SparkSession) -> None:
        v = self.base.current_version()
        rows = self.define(self.base.read(spark, v))
        self.table.commit_rewrite(rows, self.table.current_version(), "refresh")
        self.refreshed_at = v

    def datastatus(self) -> str:
        """'x' unpopulated | 'u' up to date | 'e' expired — the
        gp_matview_aux.datastatus analog as a version comparison."""
        if self.refreshed_at is None:
            return "x"
        return "u" if self.base.current_version() == self.refreshed_at else "e"

    def read(self, spark: SparkSession) -> DataFrame:
        if self.refreshed_at is None:
            raise UnpopulatedMatviewError(
                "materialized view has not been populated"
            )
        return self.table.read(spark)


def _append_nonempty(spark: SparkSession, st: SnapshotTable, rows: DataFrame) -> None:
    """INSERT that skips the commit when zero rows arrive — versions move
    only when data moves (matview_data.sql:43's freshness rule)."""
    from cloudberry_spark.operators.dml import insert_into

    if rows.limit(1).count():
        insert_into(spark, st, rows)


@register(
    "regress_matview_datastatus",
    oracle="""
        SELECT * FROM (VALUES
          ('01_created',        'mv0', 'u'),
          ('01_created',        'mv1', 'u'),
          ('02_insert',         'mv0', 'e'),
          ('02_insert',         'mv1', 'e'),
          ('03_refreshed',      'mv0', 'u'),
          ('03_refreshed',      'mv1', 'u'),
          ('04_insert_0_rows',  'mv0', 'u'),
          ('04_insert_0_rows',  'mv1', 'u'),
          ('05_update',         'mv0', 'e'),
          ('05_update',         'mv1', 'e'),
          ('06_refreshed',      'mv0', 'u'),
          ('06_refreshed',      'mv1', 'u'),
          ('07_delete',         'mv0', 'e'),
          ('07_delete',         'mv1', 'e')
        ) v(step, mvname, datastatus)
        ORDER BY step, mvname
    """,
    doc="matview_data.sql:14-63 — the datastatus ledger through the "
    "file's scenario: fresh after CREATE, expired by INSERT, restored "
    "by REFRESH, *kept fresh by a zero-row INSERT* (:43), expired by "
    "UPDATE and DELETE. Oracle is the reference's own expected "
    "statuses ('u'/'e'), since the ledger is engine metadata.",
    tags=("regress", "matview"),
)
def regress_matview_datastatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cloudberry_spark.operators.dml import delete_from, update_table

    t1_seed = spark.range(1, 6).select(
        F.col("id").cast("int").alias("a"),
        (F.col("id") + 1).cast("int").alias("b"),
    ).unionAll(
        spark.range(1, 4).select(
            F.col("id").cast("int").alias("a"),
            (F.col("id") + 1).cast("int").alias("b"),
        )
    )
    st = SnapshotTable.init(scratch.path(sf_dir, "matview_t1"), t1_seed)
    mv0 = MatView.create(
        spark, scratch.path(sf_dir, "matview_mv0"), st, lambda df: df
    )
    mv1 = MatView.create(
        spark,
        scratch.path(sf_dir, "matview_mv1"),
        st,
        lambda df: df.groupBy("a").agg(
            F.count("*").alias("cnt"), F.sum("b").alias("sum_b")
        ),
    )
    ledger: list[tuple[str, str, str]] = []

    def snap(step: str) -> None:
        ledger.append((step, "mv0", mv0.datastatus()))
        ledger.append((step, "mv1", mv1.datastatus()))

    snap("01_created")
    _append_nonempty(
        spark, st, spark.createDataFrame([(1, 2)], "a int, b int")
    )
    snap("02_insert")
    mv0.refresh(spark)
    mv1.refresh(spark)
    snap("03_refreshed")
    empty = spark.createDataFrame([], "a int, b int")
    _append_nonempty(spark, st, empty)
    snap("04_insert_0_rows")
    update_table(spark, st, F.col("a") == 1, {"a": F.lit(10)})
    snap("05_update")
    mv0.refresh(spark)
    mv1.refresh(spark)
    snap("06_refreshed")
    delete_from(spark, st, F.col("a") == 10)
    snap("07_delete")
    return spark.createDataFrame(
        ledger, "step string, mvname string, datastatus string"
    ).orderBy("step", "mvname")


@register(
    "regress_matview_no_data_refresh",
    oracle="""
        SELECT 'unpopulated_scan' AS step, 'error' AS outcome, CAST(NULL AS BIGINT) AS n
        UNION ALL
        SELECT 'after_refresh', 'ok',
               (SELECT COUNT(*) FROM (SELECT DISTINCT o_orderpriority FROM orders) d)
        ORDER BY step
    """,
    doc="matview_data.sql / PG matview.c — CREATE MATERIALIZED VIEW ... "
    "WITH NO DATA: scanning before the first REFRESH is an error; after "
    "REFRESH the matview serves its defining aggregate.",
    tags=("regress", "matview"),
)
def regress_matview_no_data_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    st = SnapshotTable.init(scratch.path(sf_dir, "matview_orders"), orders)
    mv = MatView.create(
        spark,
        scratch.path(sf_dir, "matview_prio"),
        st,
        lambda df: df.groupBy("o_orderpriority").agg(F.count("*").alias("n")),
        with_no_data=True,
    )
    rows = []
    try:
        mv.read(spark).count()
        rows.append(("unpopulated_scan", "ok", None))
    except UnpopulatedMatviewError:
        rows.append(("unpopulated_scan", "error", None))
    mv.refresh(spark)
    rows.append(("after_refresh", "ok", mv.read(spark).count()))
    return spark.createDataFrame(
        rows, "step string, outcome string, n long"
    ).orderBy("step")
