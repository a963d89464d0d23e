"""aqumv.sql ports — the answer-query-using-materialized-views battery
run through the general rewriter in operators/aqumv.py.

Reference: src/test/regress/sql/aqumv.sql (982 lines). Each port
builds the file's base table (aqumv_t1: 1..1000 doubled; aqumv_t2/3/4:
1..100 plus a NULL-bearing row), materializes the file's matview
definition to scratch parquet, and answers the file's query through
``AqumvCatalog.answer`` — the result must equal the base-table
computation (the DuckDB oracle), which is exactly the on/off pairing
the reference file runs (enable_answer_query_using_materialized_views
= off vs on must produce identical rows).

The answered plan scans ONLY the matview parquet — pinned in
tests/test_plans.py::test_aqumv_answers_from_mv.

Exclusions (MIGRATION.md): EXPLAIN-only candidate-choice probes (the
choice is asserted by the plan test + the candidates port returning
correct rows), the WITH NO DATA refresh lifecycle (covered by
regress_matview_datastatus), gp_matview_aux catalog introspection,
volatile-HAVING negative probes (random() — correctly rejected:
nondeterministic exprs are not derivable), and the plpgsql
aqumv_func (IMMUTABLE `i + j`, inlined as the expression itself —
functions/plpgsql.py would compile it to the same).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from cloudberry_spark import scratch
from cloudberry_spark.operators.aqumv import AqumvCatalog
from cloudberry_spark.registry import register

_DUCK_T1 = """
WITH aqumv_t1(c1, c2, c3) AS (
  SELECT CAST(i AS INT), CAST(i + 1 AS INT), CAST(i + 2 AS INT)
  FROM generate_series(1, 1000) t(i), (VALUES (1), (2)) dup(x)
)
"""

_DUCK_T2 = """
WITH aqumv_t2(c1, c2, c3) AS (
  SELECT CAST(i AS INT), CAST(i + 1 AS INT), CAST(i + 2 AS INT)
  FROM generate_series(1, 100) t(i)
  UNION ALL SELECT 91, NULL, 95
)
"""


def _t1(spark: SparkSession) -> DataFrame:
    # aqumv.sql:5-6 — 1..1000 inserted, then doubled by self-insert
    return spark.range(1, 1001).selectExpr(
        "CAST(id AS INT) AS c1", "CAST(id + 1 AS INT) AS c2",
        "CAST(id + 2 AS INT) AS c3",
    ).unionAll(
        spark.range(1, 1001).selectExpr(
            "CAST(id AS INT) AS c1", "CAST(id + 1 AS INT) AS c2",
            "CAST(id + 2 AS INT) AS c3",
        )
    )


def _t2(spark: SparkSession) -> DataFrame:
    # aqumv.sql:168-170 — 1..100 plus a NULL c2 row
    return spark.range(1, 101).selectExpr(
        "CAST(id AS INT) AS c1", "CAST(id + 1 AS INT) AS c2",
        "CAST(id + 2 AS INT) AS c3",
    ).unionAll(
        spark.sql("SELECT 91, CAST(NULL AS INT), 95")
    )


def _cat1(spark: SparkSession, sf_dir: str, name: str,
          select, where) -> AqumvCatalog:
    cat = AqumvCatalog(spark, _t1(spark), "aqumv_t1")
    cat.create_mv(name, select, where, scratch.path(sf_dir, f"aqumv/{name}"))
    return cat


def _cat2(spark: SparkSession, sf_dir: str, name: str,
          select, where) -> AqumvCatalog:
    cat = AqumvCatalog(spark, _t2(spark), "aqumv_t2")
    cat.create_mv(name, select, where, scratch.path(sf_dir, f"aqumv/{name}"))
    return cat


@register(
    "regress_aqumv_proj_reorder",
    oracle=_DUCK_T1 + """
SELECT c3, c2, c1, c2 AS c2_again FROM aqumv_t1 WHERE c1 = 2
""",
    doc="aqumv.sql:18-33 (mvt1_0) — projection reorder + duplicate "
    "column answered from a same-predicate matview.",
    tags=("rewrite", "aqumv", "matview"),
)
def regress_aqumv_proj_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _cat1(spark, sf_dir, "mvt1_0",
                [("mc1", "c1"), ("mc2", "c2"), ("mc3", "c3")],
                ["c1 = 2"])
    return cat.answer(
        [("c3", "c3"), ("c2", "c2"), ("c1", "c1"), ("c2_again", "c2")],
        where=["c1 = 2"],
    )


@register(
    "regress_aqumv_nonvar_exprs",
    oracle=_DUCK_T1 + """
SELECT c2, 200 AS k, 1 AS one, sqrt(100) AS ten
FROM aqumv_t1 WHERE c1 = 4
""",
    doc="aqumv.sql:48-60 (mvt1_nonvar_expr) — constants and "
    "variable-free expressions (200, 1, sqrt(100)) in the query are "
    "derivable from ANY matching matview regardless of its stored "
    "constants.",
    tags=("rewrite", "aqumv", "matview"),
)
def regress_aqumv_nonvar_exprs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _cat1(spark, sf_dir, "mvt1_nonvar",
                [("mc2", "c2"), ("mc_const_1", "1"),
                 ("mc_sqrt_100", "sqrt(100)")],
                ["c1 = 4"])
    return cat.answer(
        [("c2", "c2"), ("k", "200"), ("one", "1"), ("ten", "sqrt(100)")],
        where=["c1 = 4"],
    )


@register(
    "regress_aqumv_func_has_var",
    oracle=_DUCK_T1 + """
SELECT c2, c1 + c3 AS mc_func_res FROM aqumv_t1 WHERE c1 = 5
""",
    doc="aqumv.sql:62-77 (mvt1_func_has_var) — an IMMUTABLE function "
    "of base columns stored in the matview (aqumv_func(i,j) = i+j, "
    "inlined) matched against the same expression in the query: the "
    "base columns themselves are NOT stored, so the rewrite must "
    "match the whole expression subtree.",
    tags=("rewrite", "aqumv", "matview"),
)
def regress_aqumv_func_has_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _cat1(spark, sf_dir, "mvt1_func",
                [("mc2", "c2"), ("mc_func_res", "c1 + c3")],
                ["c1 = 5"])
    return cat.answer(
        [("c2", "c2"), ("mc_func_res", "c1 + c3")],
        where=["c1 = 5"],
    )


@register(
    "regress_aqumv_pred_subsumption",
    oracle=_DUCK_T1 + """
SELECT c1, c2 FROM aqumv_t1 WHERE c1 < 5 AND c1 > 1 AND c2 = 4
""",
    doc="aqumv.sql:78-91 (mvt1_2) — the query's conjuncts contain the "
    "matview's (reordered: c1<5 AND c1>1 vs the stored c1>1 AND "
    "c1<5); the extra c2 = 4 becomes a post-qual on the matview.",
    tags=("rewrite", "aqumv", "matview"),
)
def regress_aqumv_pred_subsumption(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _cat1(spark, sf_dir, "mvt1_2",
                [("mc2", "c2"), ("mc1", "c1")],
                ["c1 > 1", "c1 < 5"])
    return cat.answer(
        [("c1", "c1"), ("c2", "c2")],
        where=["c1 < 5", "c1 > 1", "c2 = 4"],
    )


@register(
    "regress_aqumv_derived_exprs",
    oracle=_DUCK_T1 + """
SELECT c1 + 1 AS col1, c2, c3 + 1 AS col2
FROM aqumv_t1 WHERE c1 > 5 AND c1 < 10
""",
    doc="aqumv.sql:90-102 (mvt1_3) — the matview stores (c2, c1, "
    "c3+1); the query's c1+1 recomputes from the stored c1 while "
    "c3+1 must match the stored expression subtree (c3 itself is "
    "not available).",
    tags=("rewrite", "aqumv", "matview"),
)
def regress_aqumv_derived_exprs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _cat1(spark, sf_dir, "mvt1_3",
                [("mc2", "c2"), ("mc1", "c1"), ("mc3", "c3 + 1")],
                ["c1 > 5", "c1 < 10"])
    return cat.answer(
        [("col1", "c1 + 1"), ("c2", "c2"), ("col2", "c3 + 1")],
        where=["c1 > 5", "c1 < 10"],
    )


@register(
    "regress_aqumv_expr_tree",
    oracle=_DUCK_T1 + """
SELECT c1, sqrt(abs(abs(c2) - c1 - 1) + abs(c2)) + 1 AS e1,
       abs(c2) + 1 AS e2
FROM aqumv_t1 WHERE c1 > 10 AND c1 < 15
""",
    doc="aqumv.sql:103-117 (mvt1_4) — nested expression-tree "
    "derivation: the query composes sqrt(mc4 + mc3) + 1 from the "
    "stored subtrees mc3 = abs(c2) and mc4 = abs(abs(c2) - c1 - 1), "
    "substituted longest-first.",
    tags=("rewrite", "aqumv", "matview"),
)
def regress_aqumv_expr_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _cat1(spark, sf_dir, "mvt1_4",
                [("mc1", "c1"), ("mc2", "c2"), ("mc3", "abs(c2)"),
                 ("mc4", "abs(abs(c2) - c1 - 1)")],
                ["c1 > 10", "c1 < 15"])
    return cat.answer(
        [("c1", "c1"),
         ("e1", "sqrt(abs(abs(c2) - c1 - 1) + abs(c2)) + 1"),
         ("e2", "abs(c2) + 1")],
        where=["c1 > 10", "c1 < 15"],
    )


@register(
    "regress_aqumv_post_quals",
    oracle=_DUCK_T1 + """
SELECT c1, sqrt(abs(abs(c2) - c1 - 1) + abs(c2)) + 1 AS e1,
       abs(c2) + 1 AS e2
FROM aqumv_t1
WHERE c1 > 20 AND c1 < 30 AND sqrt(abs(c2) + 1) > abs(c1) + 2
""",
    doc="aqumv.sql:118-145 (mvt1_post_quals) — a residual predicate "
    "built from DERIVED expressions (sqrt(abs(c2)+1) > abs(c1)+2) "
    "evaluated as a post-qual over the matview (empty by design at "
    "this range: sqrt(~x) grows slower than x).",
    tags=("rewrite", "aqumv", "matview", "may_be_empty"),
)
def regress_aqumv_post_quals(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _cat1(spark, sf_dir, "mvt1_pq",
                [("mc1", "c1"), ("mc2", "c2"), ("mc3", "abs(c2)"),
                 ("mc4", "abs(abs(c2) - c1 - 1)")],
                ["c1 > 20", "c1 < 30"])
    return cat.answer(
        [("c1", "c1"),
         ("e1", "sqrt(abs(abs(c2) - c1 - 1) + abs(c2)) + 1"),
         ("e2", "abs(c2) + 1")],
        where=["c1 > 20", "c1 < 30", "sqrt(abs(c2) + 1) > abs(c1) + 2"],
    )


@register(
    "regress_aqumv_candidates",
    oracle=_DUCK_T1 + """
SELECT sqrt(abs(abs(c2) - c1 - 1) + abs(c2)) AS e
FROM aqumv_t1 WHERE c1 > 30 AND c1 < 40 AND sqrt(abs(c2)) > 5.8
""",
    doc="aqumv.sql:146-167 (candidate_0/1/2) — three valid matviews "
    "(one needs mc4 it lacks, one matches both predicates, one "
    "subsumes with c1 < 500): the rewriter must pick the tightest "
    "candidate and still return the right rows.",
    tags=("rewrite", "aqumv", "matview"),
)
def regress_aqumv_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = AqumvCatalog(spark, _t1(spark), "aqumv_t1")
    cat.create_mv("cand0", [("mc1", "c1"), ("mc2", "c2"),
                            ("mc3", "abs(c2)")],
                  ["c1 > 30"], scratch.path(sf_dir, "aqumv/cand0"))
    cat.create_mv("cand1", [("mc1", "c1"), ("mc2", "c2"),
                            ("mc3", "abs(c2)"),
                            ("mc4", "abs(abs(c2) - c1 - 1)")],
                  ["c1 > 30", "c1 < 40"], scratch.path(sf_dir, "aqumv/cand1"))
    cat.create_mv("cand2", [("mc1", "c1"), ("mc2", "c2"),
                            ("mc3", "abs(c2)"),
                            ("mc4", "abs(abs(c2) - c1 - 1)")],
                  ["c1 > 30", "c1 < 500"], scratch.path(sf_dir, "aqumv/cand2"))
    return cat.answer(
        [("e", "sqrt(abs(abs(c2) - c1 - 1) + abs(c2))")],
        where=["c1 > 30", "c1 < 40", "sqrt(abs(c2)) > 5.8"],
    )


@register(
    "regress_aqumv_agg_battery",
    oracle=_DUCK_T2 + """
SELECT count(c1) AS n1, CAST(sum(c2) AS BIGINT) AS s2, avg(c3) AS a3,
       count(c1) + 1 AS n1p, count(c2) AS nc2, count(*) AS nstar,
       max(c1) AS mx, min(c3) AS mn
FROM aqumv_t2 WHERE c1 > 90
""",
    doc="aqumv.sql:168-230 (mvt2_0) — plain aggregates computed OVER "
    "the matview rows (count skips the stored NULL c2; count(*) does "
    "not; count(c1)+1 composes above the aggregate).",
    tags=("rewrite", "aqumv", "matview"),
)
def regress_aqumv_agg_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _cat2(spark, sf_dir, "mvt2_0",
                [("mc1", "c1"), ("mc2", "c2"), ("mc3", "c3")],
                ["c1 > 90"])
    return cat.answer(
        [("n1", "count(c1)"), ("s2", "CAST(sum(c2) AS BIGINT)"),
         ("a3", "avg(c3)"), ("n1p", "count(c1) + 1"),
         ("nc2", "count(c2)"), ("nstar", "count(*)"),
         ("mx", "max(c1)"), ("mn", "min(c3)")],
        where=["c1 > 90"],
    )


@register(
    "regress_aqumv_agg_filter",
    oracle=_DUCK_T2 + """
SELECT CAST(sum(c2) AS BIGINT) AS s, CAST(sum(c2) FILTER (WHERE c2 > 95)
       AS BIGINT) AS sf
FROM aqumv_t2 WHERE c1 > 90
""",
    doc="aqumv.sql:197-204 — FILTER'd aggregate over the matview: the "
    "filter predicate itself must be derivable.",
    tags=("rewrite", "aqumv", "matview"),
)
def regress_aqumv_agg_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _cat2(spark, sf_dir, "mvt2_f",
                [("mc1", "c1"), ("mc2", "c2"), ("mc3", "c3")],
                ["c1 > 90"])
    return cat.answer(
        [("s", "CAST(sum(c2) AS BIGINT)"),
         ("sf", "CAST(sum(c2) FILTER (WHERE c2 > 95) AS BIGINT)")],
        where=["c1 > 90"],
    )


@register(
    "regress_aqumv_groupby",
    oracle=_DUCK_T2 + """
SELECT c1, c3, count(c2) AS n FROM aqumv_t2 WHERE c1 > 90
GROUP BY c1, c3
""",
    doc="aqumv.sql (mvt3_0) — GROUP BY over matview columns with a "
    "NULL-skipping count (the (91, NULL, 95) row groups separately).",
    tags=("rewrite", "aqumv", "matview"),
)
def regress_aqumv_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _cat2(spark, sf_dir, "mvt3_0",
                [("mc1", "c1"), ("mc2", "c2"), ("mc3", "c3")],
                ["c1 > 90"])
    return cat.answer(
        [("c1", "c1"), ("c3", "c3"), ("n", "count(c2)")],
        where=["c1 > 90"], group_by="c1, c3",
    )


@register(
    "regress_aqumv_rollup_cube",
    oracle=_DUCK_T2 + """
SELECT 'gs' AS arm, c1, c3, count(c2) AS n FROM aqumv_t2 WHERE c1 > 90
GROUP BY GROUPING SETS ((c1), (c3))
UNION ALL
SELECT 'rollup', c1, c3, count(c2) FROM aqumv_t2 WHERE c1 > 90
GROUP BY ROLLUP (c1, c3)
UNION ALL
SELECT 'cube', c1, c3, count(c2) FROM aqumv_t2 WHERE c1 > 90
GROUP BY CUBE (c1, c3)
""",
    doc="aqumv.sql (mvt3_0 grouping tiers) — GROUPING SETS / ROLLUP / "
    "CUBE rewritten structurally over the matview.",
    tags=("rewrite", "aqumv", "matview"),
)
def regress_aqumv_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _cat2(spark, sf_dir, "mvt3_g",
                [("mc1", "c1"), ("mc2", "c2"), ("mc3", "c3")],
                ["c1 > 90"])
    gs = cat.answer(
        [("arm", "'gs'"), ("c1", "c1"), ("c3", "c3"), ("n", "count(c2)")],
        where=["c1 > 90"], group_by="GROUPING SETS ((c1), (c3))",
    )
    ru = cat.answer(
        [("arm", "'rollup'"), ("c1", "c1"), ("c3", "c3"),
         ("n", "count(c2)")],
        where=["c1 > 90"], group_by="ROLLUP (c1, c3)",
    )
    cu = cat.answer(
        [("arm", "'cube'"), ("c1", "c1"), ("c3", "c3"),
         ("n", "count(c2)")],
        where=["c1 > 90"], group_by="CUBE (c1, c3)",
    )
    return gs.unionAll(ru).unionAll(cu)


@register(
    "regress_aqumv_having",
    oracle=_DUCK_T2 + """
SELECT c1, c3, avg(c2) AS a FROM aqumv_t2 WHERE c1 > 90
GROUP BY c1, c3 HAVING avg(c2) > 95
""",
    doc="aqumv.sql (mvt4_0) — HAVING over an aggregate of matview "
    "columns.",
    tags=("rewrite", "aqumv", "matview"),
)
def regress_aqumv_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _cat2(spark, sf_dir, "mvt4_0",
                [("mc1", "c1"), ("mc2", "c2"), ("mc3", "c3")],
                ["c1 > 90"])
    return cat.answer(
        [("c1", "c1"), ("c3", "c3"), ("a", "avg(c2)")],
        where=["c1 > 90"], group_by="c1, c3", having="avg(c2) > 95",
    )


@register(
    "regress_aqumv_order_limit",
    oracle=_DUCK_T2 + """
SELECT c1, c2 FROM aqumv_t2 WHERE c1 > 90 AND c2 IS NOT NULL
ORDER BY c2 DESC LIMIT 5
""",
    doc="aqumv.sql ORDER BY/LIMIT tier — sort key derived from the "
    "matview, NULL-filtering residual qual, top-k above the "
    "substituted relation.",
    tags=("rewrite", "aqumv", "matview"),
)
def regress_aqumv_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _cat2(spark, sf_dir, "mvt4_ol",
                [("mc1", "c1"), ("mc2", "c2"), ("mc3", "c3")],
                ["c1 > 90"])
    return cat.answer(
        [("c1", "c1"), ("c2", "c2")],
        where=["c1 > 90", "c2 IS NOT NULL"],
        order_by="c2 DESC", limit=5,
    )
