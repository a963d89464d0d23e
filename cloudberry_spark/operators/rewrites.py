"""Plan rewrites Catalyst does not perform: eager aggregation below joins.

The reference pushes aggregation below a join when the group-by keys
functionally determine the join key (ORCA
/root/reference/src/backend/gporca/libgpopt/src/xforms/CXformEagerAgg.cpp,
CXformPushGbBelowJoin.cpp; planner GUC gp_enable_agg_pushdown,
src/backend/utils/misc/guc_gp.c:283, optimizer/plan/initsplan.c:382).
SURVEY.md §4.1 marks this as the one correctness-neutral rewrite
Catalyst lacks, so the engine exposes it as an explicit operator.

Why it matters at 100 TB: joining a 6B-row fact table to orders and THEN
aggregating shuffles every fact row through the join. Pre-aggregating
the fact side on the join key first shrinks the join input to one row
per key (lineitem 6B → orders-cardinality 1.5B partials at SF1000)
before any wide exchange, and the join's shuffle moves partial sums, not
raw rows. Legal whenever the aggregate is decomposable (sum/count/min/
max/avg-as-sum+count) and the final GROUP BY columns come from the other
side — the same precondition ORCA checks.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudberry_spark import scratch
from cloudberry_spark.catalog import load_table
from cloudberry_spark.operators.tpch import dsum_combine, dsum_split
from cloudberry_spark.registry import register
from cloudberry_spark.sql.sqltext import depth_at, open_parens


def eager_agg_join(
    fact: DataFrame,
    dim: DataFrame,
    join_key: str,
    partials: dict[str, Column],
    group_cols: list[str],
    finals: dict[str, Column],
) -> DataFrame:
    """Pre-aggregate ``fact`` on the join key, join, then finalize.

    ``partials``: per-join-key partial aggregates over the fact side.
    ``finals``: final aggregates over the partial columns, grouped by
    ``group_cols`` (columns of ``dim``). Equivalent to joining raw and
    aggregating once iff every partial is decomposable — the caller's
    contract, as in ORCA's CXformEagerAgg applicability check.
    """
    pre = fact.groupBy(join_key).agg(
        *[c.alias(name) for name, c in partials.items()]
    )
    return (
        dim.join(pre, join_key)
        .groupBy(*group_cols)
        .agg(*[c.alias(name) for name, c in finals.items()])
    )


_EAGER_ORACLE = """
SELECT o_orderpriority,
       (CAST(sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                      AS DECIMAL(38,0))) AS DOUBLE) / 100.0) AS sum_price,
       sum(l_quantity)             AS sum_qty,
       count(*)                    AS n_items,
       count(DISTINCT o_orderkey)  AS n_orders
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register(
    "agg_eager_pushdown",
    oracle=_EAGER_ORACLE,
    doc="Eager aggregation below the orders⋈lineitem join: lineitem is "
    "pre-aggregated per l_orderkey before joining, so the join input is "
    "one partial row per order instead of every line item. Oracle is the "
    "naive join-then-aggregate SQL — proves the rewrite is semantics-"
    "preserving (ORCA CXformEagerAgg equivalent).",
    tags=("aggregate", "rewrite"),
)
def agg_eager_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    # Money sums ride the split-long exact path through BOTH aggregation
    # levels: partials per order stay plain longs, the DECIMAL
    # recombination runs only on the 5 output rows — accumulation order
    # can no longer perturb the result (numeric.c-exact semantics).
    hi, lo = dsum_split(F.col("l_extendedprice"), scale=2)
    out = eager_agg_join(
        fact=lineitem.select(
            F.col("l_orderkey").alias("o_orderkey"),
            hi.alias("price_hi"),
            lo.alias("price_lo"),
            "l_quantity",
        ),
        dim=orders.select("o_orderkey", "o_orderpriority"),
        join_key="o_orderkey",
        partials={
            "p_price_hi": F.sum("price_hi"),
            "p_price_lo": F.sum("price_lo"),
            "p_qty": F.sum("l_quantity"),
            "p_cnt": F.count(F.lit(1)),
        },
        group_cols=["o_orderpriority"],
        finals={
            "sum_price": dsum_combine(
                F.sum("p_price_hi"), F.sum("p_price_lo"), scale=2
            ),
            "sum_qty": F.sum("p_qty"),
            "n_items": F.sum("p_cnt"),
            # every pre-agg row IS one distinct order: distinct-count
            # collapses to a plain count after the pushdown.
            "n_orders": F.count(F.lit(1)),
        },
    )
    return out.orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# AQUMV: answer-query-using-materialized-view (rollup compatibility)
# ---------------------------------------------------------------------------


def rollup_from_matview(mv: DataFrame, keep_keys: list[str]) -> DataFrame:
    """Answer a coarser aggregate from a finer matview.

    Valid when the query's GROUP BY is a subset of the matview's and its
    aggregates are derivable from the matview's partials: sum←sum(sum),
    count←sum(count), min←min(min), max←max(max), avg←sum(sum)/sum(count)
    — the compatibility check aqumv.c performs against the view's target
    list before substituting the view for the base relation.

    Money partials are stored SCALED (split-long hi/lo per dsum_split) so
    the rollup re-aggregation is integer-exact: a matview holding rounded
    doubles would re-introduce accumulation-order drift at every refresh.
    """
    sum_price = dsum_combine(
        F.sum("s_price_hi"), F.sum("s_price_lo"), scale=2
    )
    return mv.groupBy(*keep_keys).agg(
        sum_price.alias("sum_price"),
        F.sum("n_rows").alias("n_rows"),
        F.min("min_disc").alias("min_disc"),
        F.max("max_disc").alias("max_disc"),
        (sum_price / F.sum("n_rows")).alias("avg_price"),
    )


@register(
    "aqumv_rollup_answer",
    oracle="""
    SELECT l_returnflag,
           (CAST(sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                          AS DECIMAL(38,0))) AS DOUBLE) / 100.0) AS sum_price,
           count(*) AS n_rows,
           min(l_discount) AS min_disc,
           max(l_discount) AS max_disc,
           (CAST(sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                          AS DECIMAL(38,0))) AS DOUBLE) / 100.0) / count(*)
               AS avg_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="AQUMV (optimizer/plan/aqumv.c, GUC guc_gp.c:476): answer a "
    "query from a materialized view instead of the base table. The "
    "matview holds partials grouped by (l_returnflag, l_linestatus); "
    "the query wants only l_returnflag, so it is answered by rolling "
    "the matview's partials up — never touching lineitem. The oracle "
    "computes from the base table, proving the rewrite is lossless. "
    "At 100 TB the matview is ~|group keys| rows, so the answered "
    "query reads KBs instead of the fact table; the same partial "
    "algebra drives ivm_incremental_refresh (streaming/ivm.py).",
    tags=("rewrite", "aqumv", "matview"),
)
def aqumv_rollup_answer(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    li = load_table(spark, sf_dir, "lineitem")
    mv_path = scratch.path(sf_dir, "aqumv_mv")
    # matview definition: finer grouping with decomposable partials;
    # money partials stored as exact split longs (see rollup_from_matview)
    p_hi, p_lo = dsum_split(F.col("l_extendedprice"), scale=2)
    (
        li.withColumn("price_hi", p_hi)
        .withColumn("price_lo", p_lo)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("price_hi").alias("s_price_hi"),
            F.sum("price_lo").alias("s_price_lo"),
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_discount").alias("min_disc"),
            F.max("l_discount").alias("max_disc"),
        )
        .write.mode("overwrite")
        .parquet(mv_path)
    )
    mv = spark.read.parquet(mv_path)
    return rollup_from_matview(mv, ["l_returnflag"]).orderBy("l_returnflag")


@register(
    "aqumv_filter_subsumption",
    oracle="""
    SELECT o_orderpriority AS col_pri, o_orderkey, 200 AS c_const,
           round(o_totalprice, 2) AS price
    FROM orders
    WHERE o_totalprice > 150000 AND o_orderpriority <> '1-URGENT'
    ORDER BY o_orderkey
    """,
    doc="AQUMV filter subsumption + projection permutation (optimizer/"
    "plan/aqumv.c; src/test/regress/sql/aqumv.sql:24-66): the matview "
    "stores `WHERE o_totalprice > 100000`; the query's stricter "
    "predicate (> 150000 AND priority filter) is answered by "
    "RE-FILTERING the view — valid because the query predicate "
    "implies the view predicate — with columns permuted, renamed and "
    "a constant injected (aqumv.sql's `select c2, 200` class). The "
    "oracle computes from the base table, proving losslessness; at "
    "scale the view is the (much smaller) hot slice.",
    tags=("rewrite", "aqumv", "matview"),
)
def aqumv_filter_subsumption(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    mv_path = scratch.path(sf_dir, "aqumv_filter_mv")
    (
        orders.where(F.col("o_totalprice") > 100000)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .write.mode("overwrite")
        .parquet(mv_path)
    )
    mv = spark.read.parquet(mv_path)
    return (
        mv.where(
            (F.col("o_totalprice") > 150000)
            & (F.col("o_orderpriority") != "1-URGENT")
        )
        .select(
            F.col("o_orderpriority").alias("col_pri"),
            "o_orderkey",
            F.lit(200).alias("c_const"),
            F.round("o_totalprice", 2).alias("price"),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# Join below UNION ALL (ORCA CXformPushJoinBelowUnionAll;
# qp_join_union_all.sql — GUC optimizer_enable_push_join_below_union_all)
# ---------------------------------------------------------------------------


def push_join_below_union(
    parts: list[DataFrame], other: DataFrame, on: list[str] | str,
    how: str = "inner", broadcast_other: bool = True,
) -> DataFrame:
    """Distribute a join over a UNION ALL: (A ∪ B) ⋈ C  ≡  (A⋈C) ∪ (B⋈C).

    Legal for inner joins and for outer joins preserving the union side
    (the per-branch join sees exactly the branch's rows, so
    null-extension happens per branch identically). Why it wins at
    100 TB (the reference's intuition, qp_join_union_all.sql:11-16):
    each branch keeps its own physical options — a branch colocated or
    broadcastable against C joins with no exchange, instead of the
    unioned whole being shuffled as one undifferentiated relation; and
    a selective join on C prunes each branch BEFORE the union
    materializes. Spark's Catalyst does not perform this rewrite."""
    if how not in ("inner", "left", "left_semi", "left_anti", "semi",
                   "anti", "leftsemi", "leftanti", "left_outer"):
        # right/full would null-extend (or duplicate unmatched) C rows
        # once PER BRANCH — not equivalent to joining the union.
        raise ValueError(
            f"push_join_below_union: join type {how!r} does not "
            "distribute over UNION ALL (only inner and union-side-"
            "preserving joins do)")
    rhs = F.broadcast(other) if broadcast_other else other
    joined = [p.join(rhs, on, how) for p in parts]
    out = joined[0]
    for j in joined[1:]:
        out = out.unionByName(j)
    return out


_JUA_PRELUDE = """
WITH dist_small_1(c1) AS (
  SELECT CAST(i AS INT) FROM generate_series(1, 1000) AS t(i)
),
dist_small_2(c1) AS (
  SELECT CAST(i AS INT) FROM generate_series(1, 1000) AS t(i)
),
dist_large_1(c1) AS (
  SELECT CAST(i % 3000 AS INT) FROM generate_series(1, 9000) AS t(i)
)
"""


def _jua_frames(spark: SparkSession):
    s1 = spark.range(1, 1001).select(F.col("id").cast("int").alias("c1"))
    s2 = spark.range(1, 1001).select(F.col("id").cast("int").alias("c1"))
    large = spark.range(1, 9001).select(
        (F.col("id") % 3000).cast("int").alias("c1"))
    return s1, s2, large


@register(
    "regress_jua_push_inner_join",
    oracle=f"""
        {_JUA_PRELUDE}
        SELECT u.c1, COUNT(*) AS n FROM (
          SELECT c1 FROM dist_small_1 UNION ALL SELECT c1 FROM dist_small_2
        ) u JOIN dist_large_1 l ON u.c1 = l.c1
        GROUP BY u.c1 HAVING COUNT(*) > 3 ORDER BY u.c1
    """,
    doc="qp_join_union_all.sql (join of union all with distributed "
    "table): the inner join DISTRIBUTES over the union "
    "(CXformPushJoinBelowUnionAll) — each small branch joins the "
    "large side independently (broadcast per branch, plan-pinned in "
    "tests/test_plans.py), equivalent to the naive union-then-join "
    "oracle.",
    tags=("regress", "join-union-all", "rewrite"),
)
def regress_jua_push_inner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    s1, s2, large = _jua_frames(spark)
    pushed = push_join_below_union([s1, s2], large, "c1")
    return (
        pushed.groupBy("c1").agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 3).orderBy("c1")
    )


@register(
    "regress_jua_push_left_join",
    oracle=f"""
        {_JUA_PRELUDE}
        SELECT CAST(SUM(CASE WHEN l.c1 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS unmatched,
               CAST(COUNT(*) AS BIGINT) AS total
        FROM (
          SELECT c1 FROM dist_small_1 UNION ALL SELECT c1 FROM dist_small_2
        ) u LEFT JOIN (SELECT DISTINCT c1 FROM dist_large_1 WHERE c1 <= 500) l
        ON u.c1 = l.c1
    """,
    doc="qp_join_union_all.sql (outer-join variant): LEFT JOIN also "
    "distributes over the union-side branches — null-extension "
    "happens per branch identically, so unmatched counts equal the "
    "naive form.",
    tags=("regress", "join-union-all", "rewrite"),
)
def regress_jua_push_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    s1, s2, large = _jua_frames(spark)
    # branch joins need an unambiguous probe column: alias the dim side
    d = (large.where(F.col("c1") <= 500).select("c1").distinct()
         .select(F.col("c1").alias("__r")))
    joined = [
        p.join(F.broadcast(d), p["c1"] == F.col("__r"), "left")
        for p in (s1, s2)
    ]
    out = joined[0].unionByName(joined[1])
    return out.agg(
        F.sum(F.when(F.col("__r").isNull(), 1).otherwise(0)).alias("unmatched"),
        F.count(F.lit(1)).alias("total"),
    )


# ---------------------------------------------------------------------------
# Pair-explosion elimination for set-consumed self-join CTEs (the
# TPC-DS q95 ws_wh class; ORCA would reach this via its semi-join +
# groupby transforms, gporca CXformInnerJoin2SemiJoin family)
# ---------------------------------------------------------------------------

_SELFJOIN_CTE_RE = re.compile(
    r"with\s+(\w+)\s+as\s*\(\s*"
    r"select\s+(\w+)\.(\w+)\s*(?:,\s*\w+\.(\w+)\s+(\w+)\s*)?"
    r"(?:,\s*\w+\.(\w+)\s+(\w+)\s*)?"
    r"from\s+(\w+)\s+(\w+)\s*,\s*\8\s+(\w+)\s+"
    r"where\s+\w+\.(\w+)\s*=\s*\w+\.\11\s+"
    r"and\s+\w+\.(\w+)\s*<>\s*\w+\.\12\s*\)",
    re.I,
)


def rewrite_selfjoin_distinct_in(sql: str) -> str:
    """Rewrite a `WITH c AS (SELECT a.k,... FROM t a, t b WHERE
    a.k = b.k AND a.w <> b.w)` CTE into
    `SELECT k FROM t GROUP BY k HAVING count(DISTINCT w) > 1`
    when the CTE is consumed ONLY as a set (IN subqueries projecting
    the join key k). The shapes are equivalent there: a key joins a
    <>-pair with itself iff it has >= 2 distinct w values, and IN
    ignores multiplicity.

    Why it matters at 100 TB: the naive self-join materializes
    sum(n_k^2) pairs over key-group sizes n_k — 100M+ rows at the
    K=100 soak (501 rows/key), unbounded at real scale — while the
    aggregate is one pass with partial (map-side) count-distinct.
    TPC-DS q95's ws_wh (tpcds_q95.sql) is the canonical instance.

    Guards (all must hold, else the text returns unchanged):
    - the CTE matches the exact self-join shape above;
    - its non-key output aliases are never referenced downstream;
    - every downstream reference to the CTE sits inside an
      IN (SELECT ...) subquery, so set semantics apply.
    """
    m = _SELFJOIN_CTE_RE.search(sql)
    if not m:
        return sql
    cte, key = m.group(1), m.group(3)
    tbl, jkey, neq = m.group(8), m.group(11), m.group(12)
    rest = sql[m.end():]
    # non-key outputs (wh1/wh2) must be dead downstream
    for alias in (m.group(5), m.group(7)):
        if alias and re.search(rf"\b{alias}\b", rest, flags=re.I):
            return sql
    # every CTE reference must live inside an IN (...) subquery
    for ref in re.finditer(rf"\b{cte}\b", rest, flags=re.I):
        before = rest[: ref.start()].lower()
        depth = depth_at(before, len(before))
        if depth < 1 or before.rstrip().rfind("in") < 0:
            return sql
        # one of the unclosed parens must be an IN (select ...)
        if not any(
            re.search(r"\bin\s*$", before[:i].rstrip())
            for i in open_parens(before, len(before))
        ):
            return sql
    repl = (
        f"with {cte} as (\n"
        f" select {key}\n"
        f" from {tbl}\n"
        f" group by {key}\n"
        f" having count(distinct {neq}) > 1)"
    )
    return sql[: m.start()] + repl + rest
