"""Randomized differential testing (SURVEY.md §5, adopted strategy #3):
hypothesis generates queries from a dialect-portable SQL subset; each
runs on Spark AND DuckDB and must match row-for-row.

This is the generative version of pg_regress: instead of 623 hand-written
.sql files, a constrained grammar over the lineitem/orders fixtures
explores predicate/aggregate/grouping combinations the hand-written
suite doesn't. derandomize=True keeps runs reproducible (same corpus
every CI run — golden behavior, like checked-in expected/ files).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cloudberry_spark.catalog import ensure_views
from tests.conftest import SF_DIR, assert_matches_oracle

NUM_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
INT_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"]
STR_PREDS = [
    "l_returnflag = 'A'",
    "l_returnflag <> 'N'",
    "l_linestatus = 'O'",
    "l_returnflag IN ('A', 'R')",
]
DATE_PREDS = [
    "l_shipdate >= TIMESTAMP '1994-01-01'",
    "l_shipdate < TIMESTAMP '1997-06-01'",
]
OPS = ["<", "<=", ">", ">=", "<>"]
GROUPS = [None, "l_returnflag", "l_linestatus", "l_linenumber"]
AGGS = ["count(*)", "sum", "avg", "min", "max"]


@st.composite
def predicates(draw) -> str:
    kind = draw(st.sampled_from(["num", "int", "str", "date"]))
    if kind == "num":
        col = draw(st.sampled_from(NUM_COLS))
        op = draw(st.sampled_from(OPS))
        if col == "l_quantity":
            val = draw(st.integers(1, 50))
        elif col in ("l_discount", "l_tax"):
            val = round(draw(st.sampled_from([0.01, 0.03, 0.05, 0.07, 0.09])), 2)
        else:
            val = draw(st.integers(1000, 90000))
        return f"{col} {op} {val}"
    if kind == "int":
        col = draw(st.sampled_from(INT_COLS))
        op = draw(st.sampled_from(OPS))
        return f"{col} {op} {draw(st.integers(1, 5000))}"
    if kind == "str":
        return draw(st.sampled_from(STR_PREDS))
    return draw(st.sampled_from(DATE_PREDS))


@st.composite
def agg_queries(draw) -> str:
    preds = draw(st.lists(predicates(), min_size=1, max_size=3))
    conj = draw(st.sampled_from([" AND ", " OR "])).join(f"({p})" for p in preds)
    group = draw(st.sampled_from(GROUPS))
    agg = draw(st.sampled_from(AGGS))
    col = draw(st.sampled_from(NUM_COLS))
    expr = "count(*)" if agg == "count(*)" else f"{agg}({col})"
    if group is None:
        return f"SELECT count(*) AS n, {expr} AS v FROM lineitem WHERE {conj}"
    return (
        f"SELECT {group} AS g, count(*) AS n, {expr} AS v "
        f"FROM lineitem WHERE {conj} GROUP BY {group}"
    )


@st.composite
def join_queries(draw) -> str:
    pred = draw(predicates())
    group = draw(st.sampled_from(["o_orderpriority", "o_orderstatus"]))
    how = draw(st.sampled_from(["JOIN", "LEFT JOIN"]))
    return (
        f"SELECT {group} AS g, count(*) AS n, "
        f"round(sum(o_totalprice), 2) AS v "
        f"FROM orders {how} lineitem ON l_orderkey = o_orderkey "
        f"AND ({pred}) GROUP BY {group}"
    )


COMMON = dict(
    deadline=None,
    max_examples=20,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@settings(**COMMON)
@given(sql=agg_queries())
def test_random_agg_query_matches(sql, spark, ddb):
    ensure_views(spark, SF_DIR)
    assert_matches_oracle(spark.sql(sql), ddb, sql, name=sql)


@settings(**COMMON)
@given(sql=join_queries())
def test_random_join_query_matches(sql, spark, ddb):
    ensure_views(spark, SF_DIR)
    assert_matches_oracle(spark.sql(sql), ddb, sql, name=sql)


@st.composite
def window_queries(draw) -> str:
    """Window functions over a provably TOTAL order (the fixture has
    duplicate (orderkey, linenumber) pairs, but no full-row dupes, so
    the 5-column key is unique) — the subtle
    frame/ordering semantics the hand-written suite samples only
    pointwise."""
    agg = draw(st.sampled_from(["sum", "avg", "min", "max", "count"]))
    col = draw(st.sampled_from(NUM_COLS))
    part = draw(st.sampled_from(["l_returnflag", "l_linestatus"]))
    lo = draw(st.integers(0, 5))
    hi = draw(st.integers(0, 3))
    frame = draw(
        st.sampled_from(
            [
                f"ROWS BETWEEN {lo} PRECEDING AND CURRENT ROW",
                f"ROWS BETWEEN {lo} PRECEDING AND {hi} FOLLOWING",
                "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
            ]
        )
    )
    rank_fn = draw(st.sampled_from(["row_number()", "rank()", "dense_rank()"]))
    pred = draw(predicates())
    # round(...,4): windowed running sums accumulate cross-engine
    # float noise, and any finer discretization sits on boundary cliffs
    # (see the COVERAGE "discretization at float boundaries" note).
    # 4-decimal absolute rounding is the comparison-stable middle ground
    # for ROWS frames over these magnitudes. The DOUBLE cast fixes the
    # output type: round(count(..)) is BIGINT on Spark, DOUBLE on DuckDB.
    return (
        f"SELECT l_orderkey, l_linenumber, "
        f"CAST(round({agg}({col}) OVER w, 4) AS DOUBLE) AS wv, "
        f"{rank_fn} OVER (PARTITION BY {part} "
        f"ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_quantity, l_discount) AS rk "
        f"FROM lineitem WHERE {pred} "
        f"WINDOW w AS (PARTITION BY {part} "
        f"ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_quantity, l_discount {frame})"
    )


@st.composite
def having_subquery_queries(draw) -> str:
    """GROUP BY ... HAVING plus an IN/NOT IN subquery — the semi/anti
    join rewrite path (subselect.c:1521) under generated predicates."""
    pred = draw(predicates())
    inq = draw(st.sampled_from(["IN", "NOT IN"]))
    n_min = draw(st.integers(1, 30))
    return (
        f"SELECT l_returnflag, l_linenumber, count(*) AS n, "
        f"round(sum(l_quantity), 4) AS sq "
        f"FROM lineitem WHERE l_orderkey {inq} "
        f"(SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F') "
        f"AND ({pred}) "
        f"GROUP BY l_returnflag, l_linenumber HAVING count(*) > {n_min}"
    )


@settings(**COMMON)
@given(sql=window_queries())
def test_random_window_query_matches(sql, spark, ddb):
    ensure_views(spark, SF_DIR)
    assert_matches_oracle(spark.sql(sql), ddb, sql, name=sql)


@settings(**COMMON)
@given(sql=having_subquery_queries())
def test_random_having_subquery_matches(sql, spark, ddb):
    ensure_views(spark, SF_DIR)
    assert_matches_oracle(spark.sql(sql), ddb, sql, name=sql)


@st.composite
def setop_queries(draw) -> str:
    """Set operations between two filtered projections — nodeSetOp.c's
    INTERSECT/EXCEPT [ALL] and UNION dedup under generated predicates."""
    p1, p2 = draw(predicates()), draw(predicates())
    op = draw(
        st.sampled_from(
            ["UNION", "UNION ALL", "INTERSECT", "INTERSECT ALL", "EXCEPT", "EXCEPT ALL"]
        )
    )
    return (
        f"SELECT l_returnflag AS rf, l_linenumber AS ln FROM lineitem WHERE {p1} "
        f"{op} "
        f"SELECT l_returnflag, l_linenumber FROM lineitem WHERE {p2}"
    )


@st.composite
def grouping_sets_queries(draw) -> str:
    """GROUPING SETS / ROLLUP / CUBE with grouping() disambiguation
    (planner.c preprocess_grouping_sets path) under generated predicates."""
    pred = draw(predicates())
    form = draw(
        st.sampled_from(
            [
                "GROUPING SETS ((l_returnflag), (l_linestatus), ())",
                "GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag))",
                "ROLLUP (l_returnflag, l_linestatus)",
                "CUBE (l_returnflag, l_linestatus)",
            ]
        )
    )
    agg = draw(st.sampled_from(["sum(l_quantity)", "count(*)", "avg(l_discount)"]))
    # "OR l_orderkey = 1" keeps the input non-empty: on EMPTY input
    # PG/DuckDB emit the global () grouping-set row (SQL standard),
    # Spark emits 0 rows — documented divergence in COVERAGE.md. The
    # DOUBLE cast fixes the output type: round(count(*)) is BIGINT on
    # Spark, DOUBLE on DuckDB.
    return (
        f"SELECT l_returnflag, l_linestatus, "
        f"grouping(l_returnflag) AS g_rf, grouping(l_linestatus) AS g_ls, "
        f"CAST(round({agg}, 4) AS DOUBLE) AS v "
        f"FROM lineitem WHERE ({pred}) OR l_orderkey = 1 GROUP BY {form}"
    )


@settings(**COMMON)
@given(sql=setop_queries())
def test_random_setop_query_matches(sql, spark, ddb):
    ensure_views(spark, SF_DIR)
    assert_matches_oracle(spark.sql(sql), ddb, sql, name=sql)


@settings(**COMMON)
@given(sql=grouping_sets_queries())
def test_random_grouping_sets_matches(sql, spark, ddb):
    ensure_views(spark, SF_DIR)
    assert_matches_oracle(spark.sql(sql), ddb, sql, name=sql)


@st.composite
def dqa_queries(draw) -> str:
    """Distinct-qualified aggregates — the reference's 3-stage TupleSplit
    plans (cdbgroupingpaths.c DQAType, nodeTupleSplit.c) vs Catalyst's
    RewriteDistinctAggregates expand — single and multi-DQA mixes."""
    pred = draw(predicates())
    group = draw(st.sampled_from(["l_returnflag", "l_linestatus", None]))
    d1 = draw(st.sampled_from(["l_partkey", "l_suppkey", "l_quantity"]))
    d2 = draw(st.sampled_from(["l_orderkey", "l_linenumber"]))
    aggs = (
        f"count(DISTINCT {d1}) AS nd1, count(DISTINCT {d2}) AS nd2, "
        f"round(sum(DISTINCT l_quantity), 4) AS sd, count(*) AS n"
    )
    if group is None:
        return f"SELECT {aggs} FROM lineitem WHERE {pred}"
    return f"SELECT {group} AS g, {aggs} FROM lineitem WHERE {pred} GROUP BY {group}"


@st.composite
def outer_join_queries(draw) -> str:
    """RIGHT/FULL outer joins with an ON-clause predicate — the
    null-extension semantics corner (predicate in ON vs WHERE differs
    for outer joins; both engines must agree row for row)."""
    pred = draw(predicates())
    how = draw(st.sampled_from(["RIGHT JOIN", "FULL JOIN"]))
    return (
        f"SELECT o_orderstatus AS g, count(*) AS n, count(l_orderkey) AS n_li "
        f"FROM lineitem {how} orders ON l_orderkey = o_orderkey AND ({pred}) "
        f"GROUP BY o_orderstatus"
    )


@settings(**COMMON)
@given(sql=dqa_queries())
def test_random_dqa_query_matches(sql, spark, ddb):
    ensure_views(spark, SF_DIR)
    assert_matches_oracle(spark.sql(sql), ddb, sql, name=sql)


@settings(**COMMON)
@given(sql=outer_join_queries())
def test_random_outer_join_matches(sql, spark, ddb):
    ensure_views(spark, SF_DIR)
    assert_matches_oracle(spark.sql(sql), ddb, sql, name=sql)


@st.composite
def scalar_exprs(draw, depth: int = 0) -> str:
    """Random scalar expression tree over DOUBLE-cast measures —
    execExprInterp.c vs Catalyst codegen, value for value. All leaves
    cast to DOUBLE (int overflow wraps in Spark but errors in DuckDB);
    round() excluded (HALF_UP vs half-even on doubles); div-by-zero is
    NULL on both engines. The caller casts the result to DOUBLE:
    floor()/ceil() are BIGINT on Spark, DOUBLE on DuckDB."""
    leaves = [
        "CAST(l_quantity AS DOUBLE)",
        "CAST(l_extendedprice AS DOUBLE)",
        "CAST(l_discount AS DOUBLE)",
        "CAST(l_tax AS DOUBLE)",
        "CAST(l_linenumber AS DOUBLE)",
        "1.5",
        "0.0",
        "-2.0",
    ]
    if depth >= 3 or draw(st.booleans()):
        return draw(st.sampled_from(leaves))
    a = draw(scalar_exprs(depth=depth + 1))
    b = draw(scalar_exprs(depth=depth + 1))
    form = draw(
        st.sampled_from(
            [
                "({a} + {b})",
                "({a} - {b})",
                "({a} * {b})",
                "({a} / nullif({b}, 0.0))",
                "abs({a})",
                "floor({a})",
                "ceil({a})",
                "least({a}, {b})",
                "greatest({a}, {b})",
                "coalesce(nullif({a}, 0.0), {b})",
                "(CASE WHEN {a} > {b} THEN {a} ELSE {b} END)",
            ]
        )
    )
    return form.format(a=a, b=b)


@settings(**COMMON)
@given(expr=scalar_exprs())
def test_random_scalar_expr_matches(expr, spark, ddb):
    sql = (
        f"SELECT l_orderkey, l_linenumber, CAST({expr} AS DOUBLE) AS v "
        f"FROM lineitem WHERE l_orderkey < 300 "
        f"ORDER BY l_orderkey, l_linenumber"
    )
    ensure_views(spark, SF_DIR)
    assert_matches_oracle(spark.sql(sql), ddb, sql, name=sql)


@st.composite
def datetime_exprs(draw) -> str:
    """Datetime arithmetic fuzz: date_trunc units x interval offsets x
    extract fields (adt/timestamp.c vs Catalyst datetime rules). 'week'
    is included deliberately — both engines truncate to ISO Monday; the
    oracle catches any regression in that assumption."""
    unit = draw(st.sampled_from(["year", "quarter", "month", "week", "day"]))
    field = draw(st.sampled_from(["year", "quarter", "month", "day", "doy"]))
    n = draw(st.integers(1, 400))
    iunit = draw(st.sampled_from(["DAY", "MONTH"]))
    sign = draw(st.sampled_from(["+", "-"]))
    pred = draw(predicates())
    return (
        f"SELECT l_orderkey, l_linenumber, "
        f"CAST(date_trunc('{unit}', l_shipdate {sign} INTERVAL {n} {iunit}) "
        f"  AS TIMESTAMP) AS dt, "
        f"CAST(extract({field} FROM l_shipdate {sign} INTERVAL {n} {iunit}) "
        f"  AS BIGINT) AS f "
        f"FROM lineitem WHERE {pred} "
        f"ORDER BY l_orderkey, l_linenumber"
    )


@settings(**COMMON)
@given(sql=datetime_exprs())
def test_random_datetime_expr_matches(sql, spark, ddb):
    ensure_views(spark, SF_DIR)
    assert_matches_oracle(spark.sql(sql), ddb, sql, name=sql)


@st.composite
def decimal_window_queries(draw) -> str:
    """Windowed sums over DECIMAL-cast measures compared EXACTLY (no
    rounding): decimal accumulation is associative, so any cross-engine
    mismatch is a real bug, not float summation order. Protects the
    fix class of tpch_q7 / win_running_and_moving (double running sums
    diverge in the last ulp — DuckDB windows aggregate via segment
    trees) by fuzzing the exact-accumulation alternative."""
    col = draw(st.sampled_from(["l_extendedprice", "l_quantity", "l_tax"]))
    part = draw(st.sampled_from(["l_returnflag", "l_linestatus"]))
    lo = draw(st.integers(0, 6))
    frame = draw(
        st.sampled_from(
            [
                "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
                f"ROWS BETWEEN {lo} PRECEDING AND CURRENT ROW",
            ]
        )
    )
    pred = draw(predicates())
    return (
        f"SELECT l_orderkey, l_linenumber, "
        f"CAST(sum(CAST({col} AS DECIMAL(18,2))) OVER "
        f"(PARTITION BY {part} ORDER BY l_orderkey, l_linenumber, "
        f"l_extendedprice, l_quantity, l_discount {frame}) AS DOUBLE) AS rt "
        f"FROM lineitem WHERE {pred} "
        f"ORDER BY l_orderkey, l_linenumber"
    )


@settings(**COMMON)
@given(sql=decimal_window_queries())
def test_random_decimal_window_matches(sql, spark, ddb):
    ensure_views(spark, SF_DIR)
    assert_matches_oracle(spark.sql(sql), ddb, sql, name=sql)


@st.composite
def fixed_point_money_queries(draw) -> str:
    """Fuzz the fixed-point money-sum macro (round->BIGINT->DECIMAL(38,0)
    sum, operators/tpch.py dsum): random money expression x scale x
    predicate x grouping. Guards the invariant the TPC-H suite now
    rides: the scaled double product always rounds to the same integer
    on both engines. Dialect-portable text — one SQL for both."""
    expr, scale = draw(
        st.sampled_from(
            [
                ("l_extendedprice", 2),
                ("l_discount", 2),
                ("l_tax", 2),
                ("l_extendedprice * (1 - l_discount)", 4),
                ("l_extendedprice * l_discount", 4),
                ("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6),
                ("l_extendedprice * l_quantity", 2),
            ]
        )
    )
    f = 10 ** scale
    msum = (
        f"(CAST(sum(CAST(CAST(round(({expr}) * {f}) AS BIGINT) "
        f"AS DECIMAL(38,0))) AS DOUBLE) / {f}.0)"
    )
    pred = draw(predicates())
    grp = draw(st.sampled_from(GROUPS))
    if grp is None:
        return f"SELECT {msum} AS m, count(*) AS n FROM lineitem WHERE {pred}"
    return (
        f"SELECT {grp} AS g, {msum} AS m, count(*) AS n "
        f"FROM lineitem WHERE {pred} GROUP BY {grp} ORDER BY {grp}"
    )


@settings(**COMMON)
@given(sql=fixed_point_money_queries())
def test_random_fixed_point_money_matches(sql, spark, ddb):
    ensure_views(spark, SF_DIR)
    assert_matches_oracle(spark.sql(sql), ddb, sql, name=sql)


@st.composite
def date_bin_queries(draw):
    """Fuzz arbitrary-origin time bucketing (scalar_date_bin arithmetic)
    across strides and origins: integer-microsecond pmod on Spark vs
    positive-modulo on DuckDB must agree for every (stride, origin),
    including origins AFTER some events (negative deltas)."""
    stride_s = draw(st.sampled_from([60, 300, 900, 3600, 21600, 86400]))
    origin = draw(
        st.sampled_from(
            [
                "2024-01-01 00:00:00",
                "2024-01-01 00:07:30",
                "2024-01-15 13:00:05",
                "2024-02-01 00:00:00",  # after most January events
            ]
        )
    )
    us = stride_s * 1_000_000
    spark_sql = f"""
        SELECT CAST(timestamp_micros(
                 unix_micros(CAST(ts AS TIMESTAMP))
                 - pmod(unix_micros(CAST(ts AS TIMESTAMP))
                        - unix_micros(TIMESTAMP '{origin}'), {us})
               ) AS TIMESTAMP_NTZ) AS bin_start,
               count(*) AS n
        FROM events GROUP BY 1 ORDER BY 1 LIMIT 30
    """
    duck_sql = f"""
        SELECT make_timestamp(
                 epoch_us(ts)
                 - ((epoch_us(ts) - epoch_us(TIMESTAMP '{origin}'))
                     % {us} + {us}) % {us}
               ) AS bin_start,
               count(*) AS n
        FROM events GROUP BY 1 ORDER BY 1 LIMIT 30
    """
    return spark_sql, duck_sql


@settings(**COMMON)
@given(pair=date_bin_queries())
def test_random_date_bin_matches(pair, spark, ddb):
    spark_sql, duck_sql = pair
    ensure_views(spark, SF_DIR)
    assert_matches_oracle(spark.sql(spark_sql), ddb, duck_sql, name=spark_sql)


@st.composite
def pgcompat_queries(draw) -> tuple[str, str]:
    """Random PG-dialect text through the translate_pg_sql frontend.

    Returns (pg_text, duckdb_text): the Spark side runs the PG text
    through the shim; the oracle text differs only where DuckDB's own
    dialect diverges from PG (its `~` and SIMILAR TO are full-match
    plain regex, so the oracle spells regexp_matches / the converted
    anchored pattern — conversions mirrored from sql/pgcompat.py)."""
    from cloudberry_spark.sql.pgcompat import similar_to_regex

    regex = draw(st.sampled_from(["^s", "ing$", "w.d", "[aeiou][aeiou]"]))
    simpat = draw(st.sampled_from(["%a%", "(s|b)%", "%ing", "w_d%"]))
    size_lo = draw(st.integers(1, 40))
    neg = draw(st.booleans())
    kind = draw(st.sampled_from(["regex", "regex_ci", "similar"]))
    if kind == "regex":
        op = "!~" if neg else "~"
        pg_pred = f"p_name {op} '{regex}'"
        duck_pred = f"{'NOT ' if neg else ''}regexp_matches(p_name, '{regex}')"
    elif kind == "regex_ci":
        op = "!~*" if neg else "~*"
        pg_pred = f"p_name {op} '{regex.upper()}'"
        duck_pred = (
            f"{'NOT ' if neg else ''}"
            f"regexp_matches(lower(p_name), lower('{regex.upper()}'))"
        )
    else:
        op = "NOT SIMILAR TO" if neg else "SIMILAR TO"
        pg_pred = f"p_name {op} '{simpat}'"
        rx = similar_to_regex(simpat)
        duck_pred = (
            f"{'NOT ' if neg else ''}regexp_matches(p_name, '{rx}')"
        )
    agg = draw(
        st.sampled_from(
            [
                "count(*)::int8",
                "max(p_name)",
                "string_agg(p_brand, ',' ORDER BY p_partkey)",
            ]
        )
    )
    body = (
        "SELECT p_brand AS g, {agg} AS v FROM part "
        "WHERE ({pred}) AND p_size::int8 > {lo} "
        "GROUP BY p_brand ORDER BY g"
    )
    pg = body.format(agg=agg, pred=pg_pred, lo=size_lo)
    duck = body.format(agg=agg, pred=duck_pred, lo=size_lo)
    return pg, duck


@settings(
    max_examples=20,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pair=pgcompat_queries())
def test_random_pgcompat_frontend_matches(pair, spark, ddb):
    """Generative fuzz of the PG-dialect frontend itself: random
    predicate/aggregate combinations in PG spelling must translate to
    Spark SQL that matches DuckDB running the PG-equivalent text."""
    from cloudberry_spark.sql.pgcompat import translate_pg_sql

    pg, duck = pair
    ensure_views(spark, SF_DIR)
    df = spark.sql(translate_pg_sql(pg))
    assert_matches_oracle(df, ddb, duck, name=pg[:80])
