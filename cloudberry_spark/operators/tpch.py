"""TPC-H-style query suite, adapted to the reduced fixture schema.

The reference ships a TPC-H-ish regression corpus ("mpph" schema,
/root/reference/src/test/regress/sql/bb_mpph.sql:13-110) and publishes
TPC-H 1TB numbers (contrib/pax_storage/doc/performance.md) — this module
is the equivalent headline suite. Queries are *adapted*: the fixtures
lack partsupp, l_commitdate/receiptdate/shipmode, p_container/p_mfgr,
c_phone/address (FIXTURES.md), so q2/q4/q9/q11/q12/q16/q19/q20/q21/q22
keep their plan shape (the operators being exercised) with predicates
rewritten against available columns.

Plan-shape notes (what each query exercises, per SURVEY.md §2):
- scan+filter+project+partial/final hash agg: q1, q6
- join chains w/ broadcastable dims + selective filters: q3, q5, q7-q10
- semi/anti/NOT-IN (LASJ_NOTIN, nodes.h:1026): q4, q16, q18, q20-q22
- correlated scalar subqueries (cdbsubselect.c decorrelation): q2, q17
- left outer + grouped count: q13 / CTE + scalar subquery: q15
- OR-of-ANDs pushdown: q19 / group-HAVING vs global aggregate: q11

Scale: dims that are bounded at any SF (region=5, nation=25 rows) get
explicit broadcast hints; everything else is left to AQE, which converts
shuffle joins to broadcast at runtime when a side is small — the dynamic
version of cdbpath_motion_for_join (/root/reference/src/backend/cdb/
cdbpath.c:1365).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudberry_spark.catalog import dim, load_table
from cloudberry_spark.registry import register, register_sql


#: divmod radix for dsum's overflow-safe split-long accumulation.
_DSUM_RADIX = 1_000_000


def dsum(col, scale: int = 4):
    """Exact fixed-point sum of a monetary expression, read back as DOUBLE.

    TPC-H money columns are DECIMAL(15,2) by spec; summing them as
    doubles makes the result depend on accumulation order, which differs
    across engines (Spark partial aggregation vs DuckDB's orders) — at
    some scale every such sum lands on an 8-significant-digit rounding
    boundary and flakes the differential check. The exact path here:

      floor(expr * 10^s + 0.5) -> BIGINT -> split hi/lo -> two LONG
        sums -> hi*RADIX + lo recombined in DECIMAL -> /10^s

    Each addend's true value has <= s decimals (2 for prices, 4 for
    price*(1-disc), 6 for *(1+tax)) and scaled is < 2^53, so the double
    product sits within ~1e-5 of its true integer k — and
    floor(x + 0.5) recovers k exactly whenever |x - k| < 0.5, on every
    engine. floor, NOT round(): Spark's Round on DoubleType routes
    through java BigDecimal per row (measured 2.4x on q1's whole
    aggregation); floor is a single fused instruction. The half-up vs
    half-even difference is unreachable — true values are never at
    .5. The DuckDB oracle keeps round(); both recover the same k.
    Summation is then integer arithmetic: associative,
    order-independent, bit-identical.

    The accumulators are PLAIN LONGS, not a DECIMAL(38,0) column: a
    decimal-38 sum drops Spark's hash aggregate out of the codegen
    long-sum fast path into per-row java BigDecimal adds (measured 3x
    on TPC-H q1). Splitting scaled into (hi, lo) = divmod(scaled,
    10^6) keeps both long sums overflow-safe to ~10^12 rows per group
    (hi, lo < 10^6 when scaled < 10^12, so each sum < 10^18 < 2^63);
    the single recombination hi_sum*10^6 + lo_sum runs in DECIMAL on
    the handful of OUTPUT rows only. The DuckDB oracle keeps its
    straightforward decimal sum — both engines produce the same exact
    integer, hence the same correctly-rounded double.
    """
    f = 10 ** scale
    scaled = F.floor(col * F.lit(f) + F.lit(0.5)).cast("bigint")
    lo = F.pmod(scaled, F.lit(_DSUM_RADIX))
    # scaled - lo is an exact multiple of the radix and < 2^53, so the
    # double division below is exact.
    hi = ((scaled - lo) / F.lit(_DSUM_RADIX)).cast("bigint")
    total = (
        F.sum(hi).cast("decimal(38,0)") * _DSUM_RADIX
        + F.sum(lo).cast("decimal(38,0)")
    )
    return total.cast("double") / F.lit(float(f))

def dsum_split(col, scale: int = 4):
    """Row-level (hi, lo) split of a money expression for TWO-LEVEL exact
    sums (partial aggregate below a join, matview partials + rollup).

    Same scaling/recovery contract as :func:`dsum`; returns the split
    columns so callers can ``F.sum(hi)``/``F.sum(lo)`` at each level —
    partials stay plain longs (codegen fast path, overflow-safe to
    ~10^12 rows/group) and only :func:`dsum_combine` touches DECIMAL,
    on output rows. This is how eager-agg pushdown and AQUMV keep their
    partial algebra exact across re-aggregation, mirroring the
    reference's numeric partials (utils/adt/numeric.c int128 accum).
    """
    f = 10 ** scale
    scaled = F.floor(col * F.lit(f) + F.lit(0.5)).cast("bigint")
    lo = F.pmod(scaled, F.lit(_DSUM_RADIX))
    hi = ((scaled - lo) / F.lit(_DSUM_RADIX)).cast("bigint")
    return hi, lo


def dsum_combine(hi_sum, lo_sum, scale: int = 4):
    """Finalize a split-long exact sum: DECIMAL recombination -> DOUBLE."""
    total = (
        hi_sum.cast("decimal(38,0)") * _DSUM_RADIX
        + lo_sum.cast("decimal(38,0)")
    )
    return total.cast("double") / F.lit(float(10 ** scale))


# --------------------------------------------------------------------------
# q1 — pricing summary report: the flagship full-scan aggregation.
# --------------------------------------------------------------------------


@register(
    "tpch_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity)                                       AS sum_qty,
           (CAST(sum(CAST(CAST(round((l_extendedprice) * 100) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 100.0) AS sum_base_price,
           (CAST(sum(CAST(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0) AS sum_disc_price,
           (CAST(sum(CAST(CAST(round((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 1000000) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0)
               AS sum_charge,
           avg(l_quantity)                                       AS avg_qty,
           (CAST(sum(CAST(CAST(round((l_extendedprice) * 100) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 100.0) / count(*) AS avg_price,
           (CAST(sum(CAST(CAST(round((l_discount) * 100) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 100.0) / count(*) AS avg_disc,
           count(*)                                              AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="Pricing summary: scan → filter → 2-phase hash agg → sort. "
    "Reference: nodeAgg.c multiphase agg (cdbgroupingpaths.c:1-45).",
    tags=("tpch", "agg", "bench"),
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.where(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            dsum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            dsum(disc_price, 4).alias("sum_disc_price"),
            dsum(disc_price * (1 + F.col("l_tax")), 6).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            (dsum(F.col("l_extendedprice"), 2) / F.count(F.lit(1)))
            .alias("avg_price"),
            (dsum(F.col("l_discount"), 2) / F.count(F.lit(1)))
            .alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# q3 — shipping priority: join chain + top-k (TakeOrderedAndProject).
# --------------------------------------------------------------------------


@register(
    "tpch_q3",
    oracle="""
    SELECT l_orderkey,
           (CAST(sum(CAST(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="Shipping priority: selective dim filter → join chain → agg → top-k "
    "(Spark TakeOrderedAndProject ≙ bounded sort, nodeSort.c:59).",
    tags=("tpch", "join", "topk", "bench"),
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# q5 — local supplier volume: 6-way join with replicated-dim broadcasts.
# --------------------------------------------------------------------------


@register(
    "tpch_q5",
    oracle="""
    SELECT n_name,
           (CAST(sum(CAST(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'EUROPE'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    doc="Local supplier volume: 6-way join; region/nation broadcast "
    "(≙ DISTRIBUTED REPLICATED, gp_distribution_policy.h:56).",
    tags=("tpch", "join", "bench"),
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = dim(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    nation = dim(spark, sf_dir, "nation")
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            supplier,
            (li.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(nation, supplier.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


# --------------------------------------------------------------------------
# q6 — forecasting revenue change: pure scan-filter-agg (pushdown showcase).
# --------------------------------------------------------------------------


@register(
    "tpch_q6",
    oracle="""
    SELECT (CAST(sum(CAST(CAST(round((l_extendedprice * l_discount) * 10000) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="Forecast revenue: every predicate reaches the parquet scan "
    "(PushedFilters), single partial+final agg, no shuffle of data rows.",
    tags=("tpch", "scan", "bench"),
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), 4).alias(
                "revenue"
            )
        )
    )


# --------------------------------------------------------------------------
# q10 — returned-item reporting (DataFrame API, broadcast nation).
# --------------------------------------------------------------------------


@register(
    "tpch_q10",
    oracle="""
    SELECT c_custkey, c_name,
           (CAST(sum(CAST(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0) AS revenue,
           c_acctbal, n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1996-10-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
      AND l_returnflag = 'R' AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="Returned items: fact-fact join + broadcast dim + grouped top-k.",
    tags=("tpch", "join", "topk", "bench"),
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    nation = dim(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Remaining suite: dialect-portable SQL shared verbatim with the oracle.
# --------------------------------------------------------------------------

register_sql(
    "tpch_q2",
    """
    SELECT s_acctbal, s_name, n_name, s_suppkey
    FROM supplier, nation, region
    WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'EUROPE'
      AND s_acctbal = (SELECT max(s2.s_acctbal)
                       FROM supplier s2, nation n2, region r2
                       WHERE s2.s_nationkey = n2.n_nationkey
                         AND n2.n_regionkey = r2.r_regionkey
                         AND r2.r_name = 'EUROPE')
    ORDER BY s_suppkey
    """,
    doc="q2 adapted (no partsupp): scalar subquery in predicate — "
    "max-per-region supplier. Exercises uncorrelated scalar subquery "
    "(subselect.c SS_process_sublinks).",
    tags=("tpch", "subquery"),
)

register_sql(
    "tpch_q4",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="q4 adapted (no commitdate): EXISTS → left-semi join "
    "(convert_EXISTS_sublink_to_join, subselect.c:1665).",
    tags=("tpch", "semijoin"),
)

register_sql(
    "tpch_q7",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(sum(CAST(volume AS DECIMAL(38,0))) AS DOUBLE) / 10000.0
               AS revenue
    FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(extract(year FROM l_shipdate) AS INT) AS l_year,
                 CAST(round((l_extendedprice * (1 - l_discount)) * 10000)
                      AS BIGINT) AS volume
          FROM supplier, lineitem, orders, customer, nation n1, nation n2
          WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
            AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
            AND c_nationkey = n2.n_nationkey
            AND ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_13')
              OR (n1.n_name = 'NATION_13' AND n2.n_name = 'NATION_12'))
            AND l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                               AND TIMESTAMP '1997-12-31') shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    doc="q7 volume shipping: self-joined dim (nation n1/n2), disjunctive "
    "join filter, derived-table agg.",
    tags=("tpch", "join"),
)

register_sql(
    "tpch_q8",
    """
    SELECT o_year,
           CAST(sum(CASE WHEN nation = 'NATION_1'
                         THEN CAST(volume AS DECIMAL(38,0))
                         ELSE 0 END) AS DOUBLE)
             / CAST(sum(CAST(volume AS DECIMAL(38,0))) AS DOUBLE)
             AS mkt_share
    FROM (SELECT CAST(extract(year FROM o_orderdate) AS INT) AS o_year,
                 CAST(round((l_extendedprice * (1 - l_discount)) * 10000)
                      AS BIGINT) AS volume,
                 n2.n_name AS nation
          FROM part, supplier, lineitem, orders, customer, nation n1,
               nation n2, region
          WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
            AND l_orderkey = o_orderkey AND o_custkey = c_custkey
            AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
            AND r_name = 'EUROPE' AND s_nationkey = n2.n_nationkey
            AND o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                                AND TIMESTAMP '1997-12-31'
            AND p_type = 'ECONOMY') all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
    doc="q8 market share: 8-way join, conditional aggregation ratio.",
    tags=("tpch", "join"),
)

register_sql(
    "tpch_q9",
    """
    SELECT nation, o_year,
           (CAST(sum(CAST(CAST(round((amount) * 10000) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0) AS sum_profit
    FROM (SELECT n_name AS nation,
                 CAST(extract(year FROM o_orderdate) AS INT) AS o_year,
                 l_extendedprice * (1 - l_discount)
                   - 0.5 * p_retailprice * l_quantity AS amount
          FROM part, supplier, lineitem, orders, nation
          WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
            AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
            AND p_name LIKE '%o%') profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    doc="q9 adapted (cost = 0.5*retailprice for missing ps_supplycost): "
    "product-profit rollup, LIKE pushdown.",
    tags=("tpch", "join", "bench"),
)

register_sql(
    "tpch_q11",
    """
    SELECT l_partkey AS ps_partkey,
           (CAST(sum(CAST(CAST(round((l_extendedprice * l_quantity) * 100) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 100.0) AS part_value
    FROM lineitem, supplier, nation
    WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      AND n_name = 'NATION_12'
    GROUP BY l_partkey
    HAVING (CAST(sum(CAST(CAST(round((l_extendedprice * l_quantity) * 100) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 100.0) >
           (SELECT (CAST(sum(CAST(CAST(round((l_extendedprice * l_quantity) * 100) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 100.0) * 0.001
            FROM lineitem, supplier, nation
            WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
              AND n_name = 'NATION_12')
    ORDER BY part_value DESC, ps_partkey
    """,
    doc="q11 adapted (lineitem as partsupp proxy): HAVING vs global scalar "
    "subquery aggregate.",
    tags=("tpch", "subquery"),
)

register_sql(
    "tpch_q12",
    """
    SELECT l_returnflag,
           count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT','2-HIGH'))
             AS high_line_count,
           count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT','2-HIGH'))
             AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="q12 adapted (no shipmode): FILTER-qualified counts "
    "(≙ conditional aggregation).",
    tags=("tpch", "agg"),
)

register_sql(
    "tpch_q13",
    """
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT OUTER JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
          GROUP BY c_custkey) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    doc="q13 customer distribution: left outer join with ON-clause filter, "
    "double aggregation.",
    tags=("tpch", "outerjoin", "bench"),
)

register_sql(
    "tpch_q14",
    """
    SELECT 100.00 *
           CAST(sum(CASE WHEN p_type = 'PROMO'
                    THEN CAST(CAST(round((l_extendedprice * (1 - l_discount))
                                         * 10000) AS BIGINT)
                              AS DECIMAL(38,0)) ELSE 0 END) AS DOUBLE)
           / (CAST(sum(CAST(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0) / 10000.0 AS promo_revenue
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1996-09-01'
      AND l_shipdate <  TIMESTAMP '1996-10-01'
    """,
    doc="q14 promo revenue: conditional-aggregation ratio over a join.",
    tags=("tpch", "agg"),
)

register_sql(
    "tpch_q15",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             (CAST(sum(CAST(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0)
                 AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier, revenue
    WHERE s_suppkey = supplier_no
      AND total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
    doc="q15 top supplier: CTE reused twice (≙ ShareInputScan, "
    "nodeShareInputScan.c:347; Catalyst ReuseExchange/CTE inlining).",
    tags=("tpch", "cte"),
)

register_sql(
    "tpch_q16",
    """
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    doc="q16 adapted: NOT IN anti-join (LASJ_NOTIN null semantics, "
    "nodes.h:1026) + distinct-qualified aggregate (TupleSplit 3-stage DQA, "
    "cdbgroupingpaths.c:74; Catalyst RewriteDistinctAggregates).",
    tags=("tpch", "antijoin", "dqa"),
)

register_sql(
    "tpch_q17",
    """
    SELECT (CAST(sum(CAST(CAST(round((l_extendedprice) * 100) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 100.0) / 7.0 AS avg_yearly
    FROM lineitem l1, part
    WHERE p_partkey = l1.l_partkey AND p_brand = 'Brand#3' AND p_size = 5
      AND l1.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                           FROM lineitem l2
                           WHERE l2.l_partkey = l1.l_partkey)
    """,
    doc="q17 small-quantity-order: correlated scalar subquery → "
    "decorrelated join (cdbsubselect.c:62; Catalyst DecorrelateInnerQuery).",
    tags=("tpch", "subquery", "bench"),
)

register_sql(
    "tpch_q16_mpph_outer_anti",
    """
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    LEFT JOIN supplier
      ON l_suppkey = s_suppkey AND s_acctbal < 0
    WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      AND s_suppkey IS NULL
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    doc="q16 spelled as bb_mpph.sql's mpph16 variant "
    "(src/test/regress/sql/bb_mpph.sql:815-838): the NOT IN anti-join "
    "hand-rewritten as LEFT JOIN ... IS NULL — the two plans must "
    "produce identical rows (here the filtered supplier side has no "
    "NULL keys, so LASJ and outer-null agree).",
    tags=("tpch", "antijoin", "dqa"),
)

register_sql(
    "tpch_q17_mpph_derived",
    """
    SELECT (CAST(sum(CAST(CAST(round((l_extendedprice) * 100) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 100.0) / 7.0 AS avg_yearly
    FROM lineitem l1,
         (SELECT p_partkey AS x_partkey,
                 0.2 * avg(l_quantity) AS x_avg_20
          FROM part, lineitem
          WHERE p_partkey = l_partkey
            AND p_brand = 'Brand#3' AND p_size = 5
          GROUP BY p_partkey) x
    WHERE x_partkey = l1.l_partkey AND l1.l_quantity < x_avg_20
    """,
    doc="q17 spelled as bb_mpph.sql's mpph17 variant (bb_mpph.sql:"
    "870-890): the correlated scalar subquery hand-decorrelated into "
    "a derived per-part aggregate joined back — must match tpch_q17 "
    "exactly (the rewrite the reference's planner performs "
    "internally, cdbsubselect.c).",
    tags=("tpch", "subquery"),
)

register_sql(
    "tpch_q18",
    """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           sum(l_quantity) AS sum_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING sum(l_quantity) > 180)
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    doc="q18 large-volume customer: IN over grouped-HAVING subquery → "
    "semi join (convert_ANY_sublink_to_join, subselect.c:1521).",
    tags=("tpch", "semijoin", "bench"),
)

register_sql(
    "tpch_q19",
    """
    SELECT (CAST(sum(CAST(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0) AS revenue
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
            AND l_quantity BETWEEN 1 AND 11)
        OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
            AND l_quantity BETWEEN 10 AND 20)
        OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
            AND l_quantity BETWEEN 20 AND 30))
    """,
    doc="q19 adapted: disjunction-of-conjunctions over a join — exercises "
    "CNF extraction for scan pushdown.",
    tags=("tpch", "scan"),
)

register_sql(
    "tpch_q20",
    """
    SELECT s_name, s_acctbal
    FROM supplier
    WHERE s_suppkey IN (SELECT l_suppkey
                        FROM lineitem JOIN part ON p_partkey = l_partkey
                        WHERE p_type = 'PROMO'
                          AND l_shipdate >= TIMESTAMP '1996-01-01'
                          AND l_shipdate <  TIMESTAMP '1997-01-01'
                        GROUP BY l_suppkey
                        HAVING sum(l_quantity) > 100)
    ORDER BY s_name
    """,
    doc="q20 adapted (no partsupp): semi join against grouped subquery.",
    tags=("tpch", "semijoin"),
)

register_sql(
    "tpch_q21",
    """
    SELECT s_name, count(*) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
      AND s_nationkey = n_nationkey AND n_name = 'NATION_12'
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
    doc="q21 adapted (shipdate for commit/receipt): stacked EXISTS + "
    "NOT EXISTS correlated semi/anti joins on the same fact.",
    tags=("tpch", "antijoin"),
)

register_sql(
    "tpch_q22",
    """
    SELECT cntrycode, count(*) AS numcust,
           (CAST(sum(CAST(CAST(round((c_acctbal) * 100) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 100.0) AS totacctbal
    FROM (SELECT substr(c_name, length(c_name), 1) AS cntrycode, c_acctbal
          FROM customer
          WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                             WHERE c_acctbal > 0)
            AND NOT EXISTS (SELECT 1 FROM orders
                            WHERE o_custkey = c_custkey
                              AND o_orderdate >= TIMESTAMP '2000-01-01')) custsale
    GROUP BY cntrycode
    ORDER BY cntrycode
    """,
    doc="q22 adapted (c_name suffix for phone prefix): scalar-subquery "
    "predicate + NOT EXISTS anti join.",
    tags=("tpch", "antijoin"),
)
