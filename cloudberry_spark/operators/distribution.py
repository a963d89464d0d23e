"""Distribution-aware execution: skew mitigation and co-located joins —
the engine's expression of the reference's DISTRIBUTED BY / Motion
machinery (SURVEY.md §1.1, §2.9) as *physical layout tools*.

Reference mapping:
- ``DISTRIBUTED BY (k)`` hash distribution
  (/root/reference/src/include/catalog/gp_distribution_policy.h:30-39,
  CdbHash routing in src/backend/cdb/cdbhash.c): Spark bucketed tables —
  both sides bucketed by the join key join WITHOUT an exchange, the
  exact benefit of co-located distribution in the reference
  (cdbpath_motion_for_join's no-motion fast path, cdb/cdbpath.c:1365).
- Skewed keys: the reference relies on static hash distribution and
  suffers on skew; Spark gets AQE skew-join splitting for joins, and
  for high-cardinality-skewed *aggregation* the classic salt/unsalt
  two-stage shape below. At 100 TB a 5-distinct-key groupBy without
  salting funnels everything through 5 reducers; with SALT_BUCKETS=32
  it spreads to 160 and the final stage merges 160 tiny partials.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudberry_spark import scratch
from cloudberry_spark.catalog import load_table
from cloudberry_spark.registry import register, register_sql

SALT_BUCKETS = 32


def salted_groupby_sum(
    df: DataFrame, key: str, value: str, n_salts: int = SALT_BUCKETS
) -> DataFrame:
    """Two-stage salted aggregation: (key, salt) partial → key final.

    Stage 1 shuffles on (key, salt) — n_salts× the reducer fan-out of a
    naive groupBy — stage 2 merges n_salts partials per key. Only worth
    it when |keys| ≪ cores; for sum/count-class (commutative,
    associative) aggregates only.
    """
    salt = (F.rand(seed=42) * n_salts).cast("int")
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(key, "__salt")
        .agg(F.sum(value).alias("__psum"), F.count("*").alias("__pcnt"))
    )
    return partial.groupBy(key).agg(
        F.sum("__psum").alias("sum_value"), F.sum("__pcnt").alias("n_rows")
    )


@register(
    "skew_salted_agg",
    oracle="""
        SELECT event_type,
               round(sum(value), 4) AS sum_value,
               count(*) AS n_rows
        FROM events
        GROUP BY event_type
    """,
    doc="Salted two-stage aggregation over a 5-distinct-key groupBy "
    "(the skew shape where static MPP hash distribution degrades; "
    "gp_distribution_policy has no answer, salting is ours).",
    tags=("distribution", "skew", "agg"),
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = salted_groupby_sum(ev, "event_type", "value")
    return out.select(
        "event_type", F.round("sum_value", 4).alias("sum_value"), "n_rows"
    )


@register(
    "bucket_colocated_join",
    oracle="""
        SELECT o_orderpriority,
               count(*) AS n_lines,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        WHERE o_orderkey % 3 = 0
        GROUP BY o_orderpriority
    """,
    doc="Co-located join via bucketing — DISTRIBUTED BY (orderkey) on "
    "both sides (gp_distribution_policy.h:30; no-Motion join path, "
    "cdbpath.c:1365): both tables bucketed by the join key, so the join "
    "runs with zero shuffle of either side. tests/test_plans.py asserts "
    "the exchange-free plan.",
    tags=("distribution", "bucketing", "join"),
)
def bucket_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import re

    n_buckets = 8
    db = "cb_buckets"
    # Keep managed-table storage inside the repo scratch area regardless
    # of the host session's warehouse default.
    loc = scratch.path(sf_dir, "warehouse")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")
    tag = re.sub(r"[^a-z0-9]", "_", os.path.basename(os.path.normpath(sf_dir)))
    t_orders, t_lineitem = f"{db}.orders_b_{tag}", f"{db}.lineitem_b_{tag}"

    od = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 0)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 3 == 0)
    for df, name, key in ((od, t_orders, "o_orderkey"), (li, t_lineitem, "l_orderkey")):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        # A fresh session's in-memory catalog doesn't know tables written
        # by earlier sessions; clear the physical location too.
        import shutil

        shutil.rmtree(
            os.path.join(loc, name.split(".")[1]), ignore_errors=True
        )
        (
            df.write.mode("overwrite")
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    j = spark.table(t_orders).join(
        spark.table(t_lineitem),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
    )


register_sql(
    "sql_distribute_sort_by",
    """
    SELECT /*+ REPARTITION(8) */ l_returnflag, l_orderkey, l_quantity
    FROM lineitem
    WHERE l_orderkey < 500
    DISTRIBUTE BY l_returnflag SORT BY l_returnflag, l_orderkey, l_quantity
    """,
    oracle="""
    SELECT l_returnflag, l_orderkey, l_quantity
    FROM lineitem
    WHERE l_orderkey < 500
    """,
    doc="DISTRIBUTE BY / SORT BY — Spark SQL's literal spelling of the "
    "reference's DISTRIBUTED BY policy (gp_distribution_policy.h:30 + "
    "per-segment ORDER): rows hash-route on the distribution key and "
    "sort within each partition, exactly a Motion HASH + per-QE sort. "
    "Content is order-insensitively identical to the plain SELECT "
    "(the oracle); the clause controls PHYSICAL layout only.",
    tags=("distribution", "sql", "layout"),
)


@register(
    "ddl_rebucket_expand",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders
    WHERE o_orderkey % 5 = 0
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="Cluster expansion / resharding (gpexpand parity — the "
    "reference redistributes every table when segments are added; "
    "utils/gpexpand): the bucketed table is rewritten from 4 to 8 "
    "buckets with one distributed read-shuffle-write, and the "
    "audit aggregation over the re-bucketed table must be IDENTICAL "
    "to the base table (integer cents, bit-exact) — resharding "
    "moves rows, never changes them. On Spark, 'adding segments' "
    "is just this rewrite: bucket count is physical layout, not "
    "cluster topology, which is why the operation is an online "
    "rewrite instead of the reference's cluster-wide maintenance "
    "window.",
    tags=("distribution", "bucketing", "ddl"),
)
def ddl_rebucket_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import re
    import shutil

    db = "cb_buckets"
    loc = scratch.path(sf_dir, "warehouse")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")
    tag = re.sub(r"[^a-z0-9]", "_", os.path.basename(os.path.normpath(sf_dir)))
    t4, t8 = f"{db}.orders_rb4_{tag}", f"{db}.orders_rb8_{tag}"

    od = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 5 == 0)
    for name, n_buckets, src in ((t4, 4, None), (t8, 8, t4)):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(os.path.join(loc, name.split(".")[1]), ignore_errors=True)
        base = od if src is None else spark.table(src)
        (
            base.write.mode("overwrite")
            .bucketBy(n_buckets, "o_orderkey")
            .sortBy("o_orderkey")
            .saveAsTable(name)
        )
    return (
        spark.table(t8)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
            ).cast("bigint").alias("total_cents"),
        )
        .orderBy("o_orderpriority")
    )
