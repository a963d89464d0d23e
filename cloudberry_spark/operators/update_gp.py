"""update.sql ports: the PG UPDATE battery over SnapshotTable.

Reference: src/test/regress/sql/update.sql — SET DEFAULT, target
aliases, VALUES in FROM, multiple-set-clause syntax, uncorrelated and
correlated row subselects in SET, NULL-fill when the subselect returns
no rows. Each ``regress_upd_*`` query replays the statement sequence
from the seed to its checkpoint through real SnapshotTable commits
(every UPDATE is the reference's SplitUpdate delete+insert,
nodeSplitUpdate.c) and the ORACLE is the literal expected rows from
expected/update.out (cited per block) — direct reference parity.

Exclusions (MIGRATION.md): ON CONFLICT DO UPDATE blocks — they are
expected-ERROR in the reference itself ('modification of distribution
columns in OnConflictUpdate is not supported', update.out:215+); the
generic upsert path is covered by dml_snapshot_merge_upsert and the
regress_merge_* battery. The TOAST repeat('x',10000) and
system-column RETURNING blocks are physical-storage introspection.

The correlated row-subselect `SET (b,a) = (SELECT a+1,b FROM i WHERE
i.a=o.a AND i.b=o.b AND i.c IS NOT DISTINCT FROM o.c)` matches each
row to ITSELF, so it lowers to a row-local swap — the same
simplification ORCA's subquery unnesting produces. The uncorrelated
one-row subselect is evaluated once and applied as constants (PG
evaluates it once per statement too; at scale it is a broadcast).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudberry_spark import scratch
from cloudberry_spark.operators.dml import insert_into, update_table
from cloudberry_spark.registry import register
from cloudberry_spark.sources.snapshot import SnapshotTable

#: update_test's column DEFAULTs (update.sql:5-9): a DEFAULT 10, b/c none
_A_DEFAULT = 10


def _seed(spark: SparkSession, sf_dir: str, tag: str) -> SnapshotTable:
    df = spark.createDataFrame(
        [(5, 10, "foo"), (10, 15, None)], "a int, b int, c string"
    )
    return SnapshotTable.init(scratch.path(sf_dir, f"upd_{tag}"), df)


def _replay(spark: SparkSession, st: SnapshotTable, upto: int) -> None:
    """Replay update.sql's statement sequence up to step ``upto``."""
    if upto >= 1:  # :21 UPDATE SET a = DEFAULT, b = DEFAULT
        update_table(
            spark, st, F.lit(True),
            {"a": F.lit(_A_DEFAULT), "b": F.lit(None).cast("int")},
        )
    if upto >= 2:  # :26 UPDATE ... AS t SET b = 10 WHERE t.a = 10
        update_table(spark, st, F.col("a") == 10, {"b": F.lit(10)})
    if upto >= 3:  # :30 UPDATE t SET b = t.b + 10 WHERE t.a = 10
        update_table(
            spark, st, F.col("a") == 10, {"b": F.col("b") + 10}
        )
    if upto >= 4:  # :37 UPDATE SET a=v.i FROM (VALUES(100,20)) v WHERE b=v.j
        update_table(spark, st, F.col("b") == 20, {"a": F.lit(100)})
    if upto >= 5:  # :49 INSERT INTO update_test SELECT a, b+1, c
        cur = st.read(spark)
        insert_into(
            spark, st,
            cur.select("a", (F.col("b") + 1).alias("b"), "c"),
        )
    if upto >= 6:  # :52 SET (c,b,a) = ('bugle', b+11, DEFAULT) WHERE c='foo'
        update_table(
            spark, st, F.col("c") == "foo",
            {"c": F.lit("bugle"), "b": F.col("b") + 11,
             "a": F.lit(_A_DEFAULT)},
        )
    if upto >= 7:  # :54 SET (c,b) = ('car', a+b), a = a + 1 WHERE a = 10
        update_table(
            spark, st, F.col("a") == 10,
            {"c": F.lit("car"), "b": F.col("a") + F.col("b"),
             "a": F.col("a") + 1},
        )
    if upto >= 8:  # :61 uncorrelated one-row subselect WHERE a=100 AND b=20
        row = (
            st.read(spark)
            .filter((F.col("b") == 41) & (F.col("c") == "car"))
            .select("a", "b").collect()
        )
        newb, newa = (row[0]["a"], row[0]["b"]) if row else (None, None)
        update_table(
            spark, st, (F.col("a") == 100) & (F.col("b") == 20),
            {"b": F.lit(newb), "a": F.lit(newa)},
        )
    if upto >= 9:  # :66 correlated self-row swap (row-local lowering)
        update_table(
            spark, st, F.lit(True),
            {"b": F.col("a") + 1, "a": F.col("b")},
        )


def _upd(name: str, upto: int, expected: str, doc: str) -> None:
    @register(name, oracle=expected, doc=doc, tags=("regress", "update"))
    def _q(spark: SparkSession, sf_dir: str) -> DataFrame:
        st = _seed(spark, sf_dir, name)
        _replay(spark, st, upto)
        return st.read(spark).orderBy("a", "b", "c")

    _q.__name__ = name


_upd(
    "regress_upd_set_default",
    1,
    "SELECT * FROM (VALUES (10, CAST(NULL AS INT), 'foo'),"
    " (10, CAST(NULL AS INT), CAST(NULL AS VARCHAR)))"
    " t(a, b, c) ORDER BY a, b, c",
    "update.sql:21 — UPDATE SET a = DEFAULT, b = DEFAULT (a's column "
    "default is 10, b has none -> NULL). Expected update.out:24-28.",
)

_upd(
    "regress_upd_alias_then_incr",
    3,
    "SELECT * FROM (VALUES (10, 20, 'foo'),"
    " (10, 20, CAST(NULL AS VARCHAR))) t(a, b, c) ORDER BY a, b, c",
    "update.sql:26-30 — aliased target UPDATE then self-referencing "
    "increment (b = t.b + 10). Expected update.out:40-45.",
)

_upd(
    "regress_upd_values_in_from",
    4,
    "SELECT * FROM (VALUES (100, 20, 'foo'),"
    " (100, 20, CAST(NULL AS VARCHAR))) t(a, b, c) ORDER BY a, b, c",
    "update.sql:37-38 — UPDATE ... FROM (VALUES(100,20)) AS v(i,j) "
    "WHERE b = v.j. Expected update.out:52-57.",
)

_upd(
    "regress_upd_multiset_clause",
    6,
    "SELECT * FROM (VALUES (10, 31, 'bugle'), (10, 32, 'bugle'),"
    " (100, 20, CAST(NULL AS VARCHAR)), (100, 21, CAST(NULL AS"
    " VARCHAR))) t(a, b, c) ORDER BY a, b, c",
    "update.sql:49-52 — INSERT SELECT doubling the table, then the "
    "multiple-set-clause form SET (c,b,a) = ('bugle', b+11, DEFAULT). "
    "Expected update.out:80-87.",
)

_upd(
    "regress_upd_multiset_mixed",
    7,
    "SELECT * FROM (VALUES (11, 41, 'car'), (11, 42, 'car'),"
    " (100, 20, CAST(NULL AS VARCHAR)), (100, 21, CAST(NULL AS"
    " VARCHAR))) t(a, b, c) ORDER BY a, b, c",
    "update.sql:54 — mixed multi-set and scalar set in one statement: "
    "SET (c,b) = ('car', a+b), a = a + 1 (all RHS over the OLD row). "
    "Expected update.out:90-97.",
)

_upd(
    "regress_upd_uncorrelated_rowsub",
    8,
    "SELECT * FROM (VALUES (11, 41, 'car'), (11, 42, 'car'),"
    " (41, 11, CAST(NULL AS VARCHAR)), (100, 21, CAST(NULL AS"
    " VARCHAR))) t(a, b, c) ORDER BY a, b, c",
    "update.sql:61-63 — SET (b,a) = (one-row uncorrelated subselect): "
    "the (100,20) row takes the (41,11) swap. Expected "
    "update.out:106-113.",
)

_upd(
    "regress_upd_correlated_self_swap",
    9,
    "SELECT * FROM (VALUES (11, 42, CAST(NULL AS VARCHAR)),"
    " (21, 101, CAST(NULL AS VARCHAR)), (41, 12, 'car'),"
    " (42, 12, 'car')) t(a, b, c) ORDER BY a, b, c",
    "update.sql:66-68 — correlated row subselect matching each row to "
    "itself: SET (b,a) = (SELECT a+1, b ...), the row-local swap. "
    "Expected update.out:119-126.",
)


# ---------------------------------------------------------------------------
# insert.sql: DEFAULT-in-target-list and VALUES-with-subselect blocks
# (src/test/regress/sql/insert.sql:10-35; expected/insert.out:18-25,
# :56-66). The NOT NULL violation (DEFAULT into col2) is expected-ERROR
# in the reference and pinned in tests/test_merge_pg.py-adjacent DML
# tests; column-count mismatches are parse errors on both engines. The
# fillfactor/TOAST/field-indirection/domain/rules tiers are physical
# or type-system machinery with no Spark analog (MIGRATION.md).
# ---------------------------------------------------------------------------

_INS_DEFAULTS = {"col3": "testing"}


def _ins_seed(spark: SparkSession, sf_dir: str, tag: str) -> SnapshotTable:
    df = spark.createDataFrame([], "col1 int, col2 int, col3 string")
    return SnapshotTable.init(scratch.path(sf_dir, f"ins_{tag}"), df)


def _ins(spark: SparkSession, st: SnapshotTable, rows) -> None:
    """INSERT with DEFAULT fill: None in col3 position means DEFAULT
    ('testing'); col1 has no default (NULL)."""
    filled = [
        (c1, c2, _INS_DEFAULTS["col3"] if c3 is None else c3)
        for c1, c2, c3 in rows
    ]
    insert_into(
        spark, st,
        st.read(spark).sparkSession.createDataFrame(
            filled, "col1 int, col2 int, col3 string"),
    )


@register(
    "regress_ins_defaults",
    oracle="SELECT * FROM (VALUES (CAST(NULL AS INT), 3, 'testing'),"
    " (CAST(NULL AS INT), 5, 'testing'), (CAST(NULL AS INT), 5, 'test'),"
    " (CAST(NULL AS INT), 7, 'testing')) t(col1, col2, col3)"
    " ORDER BY col2, col3",
    doc="insert.sql:11-17 — DEFAULT in the target list: omitted col1 "
    "(no default) -> NULL, omitted/DEFAULT col3 -> 'testing'; the "
    "all-DEFAULT statement violates col2's NOT NULL and is "
    "expected-ERROR in the reference (skipped, like the rolled-back "
    "error statements in the merge ports). Expected insert.out:18-25.",
    tags=("regress", "insert"),
)
def regress_ins_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = _ins_seed(spark, sf_dir, "defaults")
    _ins(spark, st, [(None, 3, None)])
    _ins(spark, st, [(None, 5, None)])
    _ins(spark, st, [(None, 5, "test")])
    _ins(spark, st, [(None, 7, None)])
    return st.read(spark).orderBy("col2", "col3")


@register(
    "regress_ins_values_subselects",
    oracle="SELECT * FROM (VALUES (CAST(NULL AS INT), 3, 'testing'),"
    " (CAST(NULL AS INT), 5, 'testing'), (CAST(NULL AS INT), 5, 'test'),"
    " (CAST(NULL AS INT), 7, 'testing'), (10, 20, '40'),"
    " (-1, 2, 'testing'), (2, 3, 'values are fun!'))"
    " t(col1, col2, col3) ORDER BY col1 NULLS LAST, col2, col3",
    doc="insert.sql:31-35 — multi-row VALUES mixing literals, DEFAULT, "
    "and scalar subselects ((select 2), (select i from (values(3)) "
    "foo(i))). Expected insert.out:56-66.",
    tags=("regress", "insert"),
)
def regress_ins_values_subselects(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    st = _ins_seed(spark, sf_dir, "valsub")
    for r in [(None, 3, None), (None, 5, None), (None, 5, "test"),
              (None, 7, None)]:
        _ins(spark, st, [r])
    # the scalar subselects evaluate to constants at statement level
    sub2 = spark.sql("SELECT 2").collect()[0][0]
    sub3 = spark.sql(
        "SELECT i FROM (VALUES (3)) AS foo(i)").collect()[0][0]
    _ins(spark, st, [(10, 20, "40"), (-1, 2, None),
                     (sub2, sub3, "values are fun!")])
    return st.read(spark).orderBy(
        F.col("col1").asc_nulls_last(), "col2", "col3"
    )
