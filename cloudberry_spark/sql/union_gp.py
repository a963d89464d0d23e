"""union_gp.sql ports — the GPDB-added UNION battery.

Reference: src/test/regress/sql/union_gp.sql (756 lines): type
resolution across UNION branches (NULL literals, text-vs-name,
unknown literals, typmod differences), MPP-21075 qual pushdown below
a union, MPP-22266 DISTINCT-inside-set-op combinations, the N-ary /
binary UNION [ALL] matrices over differently-distributed inputs
(hash(a) / hash(b) / random / constant-CTE — the branch-order
permutations exist to exercise Motion planning; results are
order-insensitive so one representative per matrix carries the
result content, and the union-branch distribution axis is
plan-audited elsewhere: rpt_tpch broadcast pins, regress_jua_*),
EXCEPT symmetric difference, cross-width column unification
(smallint/int/bigint branches), a union view, wCTE
UPDATE-RETURNING feeding EXCEPT (github #1240), and CTAS-over-UNION
typmod resolution (#1431).

Exclusions (MIGRATION.md): count_operator EXPLAIN-text scrapers
(plpython over EXPLAIN — plan assertions live in tests/test_plans.py
instead), gp_distribution_policy numsegments system-table surgery,
external-web-table branch (covered by sources/external EXECUTE
family), pg_attribute atttypmod introspection, and
information_schema.sql_identifier domain-type preservation (PG
domain machinery).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudberry_spark import scratch
from cloudberry_spark.registry import register
from cloudberry_spark.sql.regress import register_regress

_PRELUDE = """
WITH T_a1(a1, a2) AS (
  SELECT CAST(i AS INT), CAST(i % 5 AS INT)
  FROM generate_series(1, 10) t(i)
),
T_b2(b1, b2) AS (
  SELECT CAST(i AS INT), CAST(i % 5 AS INT)
  FROM generate_series(1, 20) t(i)
),
T_random(c1, c2) AS (
  SELECT CAST(i AS INT), CAST(i % 5 AS INT)
  FROM generate_series(1, 30) t(i)
),
union_quals1(a, b) AS (
  SELECT CAST(i AS INT), CAST(i % 2 AS INT)
  FROM generate_series(1, 10) t(i)
),
union_quals2(a, b) AS (
  SELECT CAST(i % 2 AS INT), CAST(i AS INT)
  FROM generate_series(1, 10) t(i)
),
t1_setop(a) AS (VALUES (1), (2), (3)),
t2_setop(a) AS (VALUES (3), (4), (5)),
t1_ncols(a, b, c, d) AS (
  SELECT CAST(1 AS INT), CAST(11 AS INT), 'one', DATE '2001-01-01'
),
t2_ncols(a, b, c, d) AS (
  SELECT CAST(2 AS SMALLINT), CAST(22 AS BIGINT), 'two', DATE '2002-02-02'
  UNION ALL
  SELECT CAST(4 AS SMALLINT), CAST(44 AS BIGINT), 'four', DATE '2004-04-04'
)
"""


def _ugp(name: str, sql: str, doc: str, oracle: str | None = "same") -> None:
    register_regress(
        name, sql, doc, tags=("union_gp",), oracle=oracle,
        prelude=_PRELUDE,
    )


_ugp(
    "regress_ugp_union_null_distinct",
    "select 1 AS x union select distinct CAST(NULL AS INT)",
    "union_gp.sql:10 — int unified with a typed NULL under UNION "
    "distinct: two rows (1, NULL).",
)

_ugp(
    "regress_ugp_union_3col_nulls",
    "select 1 a, CAST(NULL AS INT) b, CAST(NULL AS INT) c"
    " UNION SELECT 2, 3, NULL UNION SELECT 3, NULL, 4",
    "union_gp.sql:12 — NULL slots in different columns per branch.",
)

_ugp(
    "regress_ugp_union_ctas_dedup",
    "SELECT * FROM (SELECT 1 AS a, 2 AS b UNION SELECT 1, 1"
    " UNION SELECT 1, 1) union_ctas",
    "union_gp.sql:41-42 — CTAS body: 3-branch UNION dedups to 2 rows.",
)

_ugp(
    "regress_ugp_quals_below_union",
    "SELECT * FROM (SELECT a, b from union_quals1 UNION"
    " SELECT b, a from union_quals2) as foo(a,b)"
    " where a > b order by a",
    "union_gp.sql:48 (MPP-21075) — qual above a UNION pushes into "
    "both branches (Catalyst PushProjectionThroughUnion + filter "
    "pushdown does this natively).",
)

_ugp(
    "regress_ugp_window_branch_qual",
    "SELECT * FROM (SELECT a, CAST(max(b) over() AS INT) from"
    " union_quals1 UNION SELECT * from union_quals2) as foo(a,b)"
    " where b > 6 order by a,b",
    "union_gp.sql:49 (MPP-21075) — a window function inside one "
    "branch blocks pushdown into that branch; the qual still filters "
    "above it.",
)

_ugp(
    "regress_ugp_distinct_in_branch",
    "select * from ((select 1 AS x, 'A' AS y from"
    " (select distinct 'B' AS z) as foo) union (select 1, 'C')) as bar",
    "union_gp.sql:53 (MPP-22266) — DISTINCT in a branch's FROM "
    "subquery under a UNION.",
)

_ugp(
    "regress_ugp_distinct_over_union",
    "select distinct a from (select 'A' union select 'B') as foo(a)",
    "union_gp.sql:58 (MPP-22266) — DISTINCT over an already-distinct "
    "UNION.",
)

_ugp(
    "regress_ugp_distinct_nested_three_deep",
    "select distinct a from (select distinct 'A' from"
    " (select 'C' from (select distinct 'D') as bar1 ) as bar"
    " union select distinct 'B') as foo(a)",
    "union_gp.sql:63 (MPP-22266) — DISTINCTs at three nesting levels "
    "around a UNION.",
)

_ugp(
    "regress_ugp_nary_union_all",
    "SELECT x AS v FROM ((select a1 AS x from T_a1)"
    " UNION ALL (select b1 from T_b2)"
    " UNION ALL (select c1 from T_random)"
    " UNION ALL (select d1 from (VALUES (100), (200), (300))"
    " T_constant(d1))) u order by 1",
    "union_gp.sql:161-171 — the N-ary UNION ALL matrix: 4 branches "
    "with hash(a1)/hash(b2)/random/constant distributions (10+20+30+3 "
    "= 63 rows). Branch-order permutations collapse: the result "
    "multiset is order-invariant.",
)

_ugp(
    "regress_ugp_nary_union_distinct",
    "SELECT x AS v FROM ((select a1 AS x from T_a1)"
    " UNION (select b1 from T_b2)"
    " UNION (select c1 from T_random)"
    " UNION (select d1 from (VALUES (100), (200), (300))"
    " T_constant(d1))) u order by 1",
    "union_gp.sql:333-347 — the N-ary UNION (distinct) twin: 33 "
    "distinct values.",
)

_ugp(
    "regress_ugp_binary_union_all_star",
    "(select a1 AS x, a2 AS y from T_a1) UNION ALL"
    " (select * from T_b2) order by 1, 2",
    "union_gp.sql:424-430 — binary UNION ALL of whole rows across "
    "different hash distributions.",
)

_ugp(
    "regress_ugp_pullup_distkey_typmod",
    "with base as (select a, b from (SELECT 'foo' AS a, 'bar' AS b)"
    " pullup_distkey_test union all select 'xx' as a, 'bar' as b)"
    " select a from base union all select a from base where a = 'foo'"
    " order by 1",
    "union_gp.sql:91-101 — distribution-key expression pulled up "
    "through UNION ALL branches with different typmods (varchar vs "
    "varchar(30)); the CTE is consumed twice.",
)

_ugp(
    "regress_ugp_except_symdiff",
    "SELECT a FROM ((SELECT a FROM t1_setop EXCEPT SELECT a FROM"
    " t2_setop) UNION (SELECT a FROM t2_setop EXCEPT SELECT a FROM"
    " t1_setop)) u ORDER BY a",
    "union_gp.sql:574-577 — symmetric difference as UNION of two "
    "EXCEPTs ({1,2} ∪ {4,5}).",
)

_ugp(
    "regress_ugp_ncols_cross_width",
    "select b AS v from t1_ncols union all select a from t2_ncols"
    " order by 1",
    "union_gp.sql:590 — int column unioned with smallint: branch "
    "type unification across widths.",
)

_ugp(
    "regress_ugp_ncols_mixed_union",
    "select a+100 AS v1, CAST(b AS BIGINT) AS v2, d from t1_ncols"
    " union select b, a+200, d from t2_ncols order by 1",
    "union_gp.sql:591 — mixed-width arithmetic branches: int+100 vs "
    "bigint, bigint vs smallint+200 (unified to bigint).",
)

_ugp(
    "regress_ugp_ncols_union_view",
    "select c, a AS av FROM (select 1 AS id, a, b, c, d from t1_ncols"
    " union all select 2, * from t2_ncols) v1_ncols order by 1, 2",
    "union_gp.sql:582-592 — a view over a UNION ALL of tables with "
    "different column types/distributions, projected down.",
)

_ugp(
    "regress_ugp_cte_union_selfjoin",
    "with cte1(aa, b, c, d) as (select a*100, CAST(b AS BIGINT), c, d"
    " from t1_ncols union select * from t2_ncols)"
    " select CAST(floor(x.aa / 100.0) AS INT) aaa, x.c AS xc, y.c AS yc"
    " from cte1 x join cte1 y on x.aa = y.aa order by 1, 2, 3",
    "union_gp.sql:594-595 — a UNION CTE self-joined on the unified "
    "key; PG integer division spelled floor() (the uniform port "
    "adaptation).",
)

_ugp(
    "regress_ugp_ctas_union_typmod",
    "select id, name from (select 1 AS id, CAST('a' AS VARCHAR(1))"
    " AS name union all select 1, CAST('ab' AS VARCHAR(2)))"
    " union_ctas_result order by name",
    "union_gp.sql:726-738 (issue #1431) — CTAS over UNION ALL with "
    "different typmods must resolve to unbounded varchar: 'ab' is "
    "NOT truncated to the first branch's varchar(1).",
)


# -- github #1240: wCTE UPDATE ... RETURNING feeding EXCEPT ------------------


@register(
    "regress_ugp_update_returning_except",
    oracle="""
    WITH r_1240(a) AS (SELECT * FROM generate_series(1, 10)),
    p1_1240(a) AS (SELECT * FROM generate_series(1, 3)),
    updated AS (SELECT a + 1 AS a FROM r_1240 WHERE a < 5)
    SELECT CAST(a AS INT) AS a FROM (SELECT a FROM updated
    EXCEPT SELECT a FROM p1_1240) t ORDER BY a
    """,
    doc="union_gp.sql:712-717 (github #1240) — wCTE `UPDATE ... "
    "RETURNING *` feeding an EXCEPT: the RETURNING set is the four "
    "updated rows (2,3,4,5); EXCEPT the replicated p1 (1,2,3) leaves "
    "{4,5}. Spark side runs a REAL SnapshotTable update commit and "
    "reads back the touched rows (update_table returns no rows, so "
    "the RETURNING set is the post-image filtered to the predicate's "
    "key range — the same rows PG returns).",
    tags=("regress", "union_gp", "dml"),
)
def regress_ugp_update_returning_except(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cloudberry_spark.operators.dml import update_table
    from cloudberry_spark.sources.snapshot import SnapshotTable

    r = spark.range(1, 11).selectExpr("CAST(id AS INT) AS a")
    st = SnapshotTable.init(scratch.path(sf_dir, "ugp_r1240"), r)
    update_table(
        spark, st, F.col("a") < 5, {"a": F.col("a") + F.lit(1)}
    )
    # RETURNING *: the post-image of the rows the predicate touched
    # (originals 1..4 -> 2..5)
    returning = st.read(spark).filter("a BETWEEN 2 AND 5")
    p1 = spark.range(1, 4).selectExpr("CAST(id AS INT) AS a")
    return returning.exceptAll(p1).distinct().orderBy("a")
