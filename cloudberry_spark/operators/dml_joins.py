"""qp_dml_joins.sql ports — DML whose WHERE/SET spans a join.

Reference: src/test/regress/sql/qp_dml_joins.sql (1,728 lines; 76
UPDATE/DELETE statements over the dml_heap_* / dml_ao_* / dml_co_*
table family — same data, different storage AMs, which Spark+Parquet
collapses into one). The ported shapes:

- UPDATE ... FROM with an equality fromlist (qp_dml_joins.sql:1346)
- UPDATE ... FROM (VALUES ...) v(i,j) with SET referencing the source
  (:1353) — the general theta form via operators/dml.py update_join
- DELETE ... USING (SELECT ... join ...) subquery source (:969)
- DELETE ... USING two tables with split join keys (:990)

Each runs through the copy-on-write SnapshotTable machinery and
reports the post-DML table state as aggregates; NULL-keyed rows ride
along in the fixtures (a NULL join key matches nothing, so those rows
must survive updates and deletes — the semantics the oracles spell
with NOT EXISTS, never NOT IN).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudberry_spark import scratch
from cloudberry_spark.operators.dml import (
    delete_using,
    update_from,
    update_join,
)
from cloudberry_spark.registry import register
from cloudberry_spark.sources.snapshot import SnapshotTable
from cloudberry_spark.sql.pgcompat import translate_pg_sql

#: fixture generators, shared verbatim with the oracles
_R_SQL = """
SELECT CAST(i AS INT) AS a, CAST(i * 3 AS INT) AS b, 'r' AS c,
       CAST(i % 6 AS INT) AS d
FROM generate_series(1, 100) AS gs(i)
UNION ALL
SELECT * FROM (VALUES (CAST(NULL AS INT), CAST(1 AS INT), 'rn', 0),
                      (1, NULL, 'rn', 0),
                      (NULL, NULL, 'rn', 0)) v(a, b, c, d)
"""
_S_SQL = """
SELECT CAST(i AS INT) AS a, CAST(i * 3 AS INT) AS b, 's' AS c,
       CAST(i % 6 AS INT) AS d
FROM generate_series(1, 100) AS gs(i)
UNION ALL
SELECT * FROM (VALUES (CAST(NULL AS INT), CAST(1 AS INT), 'sn', 0),
                      (0, 1, 'sn', 0)) v(a, b, c, d)
"""
_P_SQL = """
SELECT CAST(i AS INT) AS a, CAST(i * 2 AS INT) AS b, 'p' AS c,
       CAST(i % 6 AS INT) AS d
FROM generate_series(1, 50) AS gs(i)
"""


def _fixture(spark: SparkSession, sql: str) -> DataFrame:
    return spark.sql(translate_pg_sql(sql))


def _state(df: DataFrame) -> DataFrame:
    return df.groupBy("c").agg(
        F.count("*").alias("n"),
        F.sum("a").cast("bigint").alias("sum_a"),
        F.sum("b").cast("bigint").alias("sum_b"),
    ).orderBy("c")


_STATE_SQL = """
SELECT c, count(*) AS n, CAST(sum(a) AS BIGINT) AS sum_a,
       CAST(sum(b) AS BIGINT) AS sum_b
FROM after GROUP BY c ORDER BY c
"""


@register(
    "regress_qpdml_join_update",
    oracle=f"""
WITH r AS ({_R_SQL}), s AS ({_S_SQL}), after AS (
    SELECT CASE WHEN EXISTS (SELECT 1 FROM s WHERE s.a = r.a)
                THEN r.a + 1 ELSE r.a END AS a, b, c, d
    FROM r
)
{_STATE_SQL}
""",
    doc="qp_dml_joins.sql:1346 — UPDATE r SET a = r.a + 1 FROM s "
    "WHERE r.a = s.a through the snapshot update_from path "
    "(membership join on the key, broadcastable); NULL-keyed rows "
    "match nothing and survive unchanged. Post-state aggregated by "
    "row class.",
    tags=("dml", "qpdml"),
)
def regress_qpdml_join_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = SnapshotTable.init(
        scratch.path(sf_dir, "qpdml_upd"), _fixture(spark, _R_SQL)
    )
    update_from(
        spark, st, _fixture(spark, _S_SQL), ["a"],
        {"a": F.col("a") + 1},
    )
    return _state(st.read(spark))


@register(
    "regress_qpdml_join_update_values",
    oracle=f"""
WITH r AS ({_R_SQL}), after AS (
    SELECT CASE WHEN b = 21 THEN 101 ELSE a END AS a, b, c, d FROM r
)
{_STATE_SQL}
""",
    doc="qp_dml_joins.sql:1353 — UPDATE r SET a = v.i + 1 FROM "
    "(VALUES (100, 21)) v(i, j) WHERE r.b = v.j: a VALUES fromlist "
    "whose SET references the SOURCE column, through update_join "
    "(general theta form; multi-match fails loudly where PG would "
    "pick an arbitrary row). Fixture j shifted 20->21 so the update "
    "is live (b is a multiple of 3).",
    tags=("dml", "qpdml"),
)
def regress_qpdml_join_update_values(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    st = SnapshotTable.init(
        scratch.path(sf_dir, "qpdml_updv"), _fixture(spark, _R_SQL)
    )
    vals = spark.createDataFrame([(100, 21)], "i int, j int")
    update_join(
        spark, st, vals,
        F.col("b") == F.col("src_j"),
        {"a": F.col("src_i") + 1},
    )
    return _state(st.read(spark))


@register(
    "regress_qpdml_join_delete",
    oracle=f"""
WITH r AS ({_R_SQL}), s AS ({_S_SQL}), foo AS (
    SELECT r.a FROM r, s WHERE r.a = s.a
), after AS (
    SELECT * FROM r
    WHERE NOT EXISTS (SELECT 1 FROM foo WHERE foo.a = r.a)
)
{_STATE_SQL}
""",
    doc="qp_dml_joins.sql:969 — DELETE FROM r USING (SELECT r.a FROM "
    "r, s WHERE r.a = s.a) foo WHERE r.a = foo.a: a join subquery as "
    "the USING source, anti-joined away; NULL keys survive (NOT "
    "EXISTS, not NOT IN, is the faithful spelling).",
    tags=("dml", "qpdml"),
)
def regress_qpdml_join_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = SnapshotTable.init(
        scratch.path(sf_dir, "qpdml_del"), _fixture(spark, _R_SQL)
    )
    r = st.read(spark)
    s = _fixture(spark, _S_SQL)
    foo = r.alias("r").join(
        s.alias("s"), F.col("r.a") == F.col("s.a")
    ).select(F.col("r.a").alias("a"))
    delete_using(spark, st, foo, ["a"])
    return _state(st.read(spark))


@register(
    "regress_qpdml_delete_multi_using",
    oracle=f"""
WITH r AS ({_R_SQL}), s AS ({_S_SQL}), p AS ({_P_SQL}), after AS (
    SELECT * FROM r
    WHERE NOT EXISTS (SELECT 1 FROM s, p
                      WHERE r.a = s.b AND r.b = p.a)
)
{_STATE_SQL}
""",
    doc="qp_dml_joins.sql:990 — DELETE FROM r USING s, p WHERE "
    "r.a = s.b AND r.b = p.a: two USING relations with split join "
    "keys; the key-pair set is the s x p cross restricted by the "
    "quals, anti-joined against r on (a, b).",
    tags=("dml", "qpdml"),
)
def regress_qpdml_delete_multi_using(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    st = SnapshotTable.init(
        scratch.path(sf_dir, "qpdml_delm"), _fixture(spark, _R_SQL)
    )
    s = _fixture(spark, _S_SQL)
    p = _fixture(spark, _P_SQL)
    pairs = (
        s.select(F.col("b").alias("a"))
        .crossJoin(p.select(F.col("a").alias("b")))
        .distinct()
    )
    delete_using(spark, st, pairs, ["a", "b"])
    return _state(st.read(spark))
