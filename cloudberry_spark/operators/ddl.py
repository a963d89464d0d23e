"""DDL & query-lifecycle surface: CTAS, views, parameterized SQL.

Reference mapping:
- ``CREATE TABLE AS SELECT`` (/root/reference/src/backend/commands/
  createas.c) → ``df.write.saveAsTable`` / ``spark.sql("CREATE TABLE AS
  ...")`` into the scratch-located database.
- views (rewrite/view expansion in the analyzer) → temp views; Catalyst
  inlines them exactly like the PG rewriter.
- extended-protocol prepared statements (SURVEY §3.2,
  tcop/postgres.c:2114 exec_parse_message / exec_bind_message) →
  ``spark.sql(query, args={...})`` named-parameter binding; plan caching
  is Catalyst's job, as plan caching was the PG plancache's.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudberry_spark import scratch
from cloudberry_spark.catalog import load_table
from cloudberry_spark.registry import register


@register(
    "ddl_ctas_and_view",
    oracle="""
        SELECT o_orderpriority, n_orders, round(avg_price, 4) AS avg_price
        FROM (
            SELECT o_orderpriority, count(*) AS n_orders,
                   avg(o_totalprice) AS avg_price
            FROM orders
            WHERE o_orderkey % 2 = 0
            GROUP BY o_orderpriority
        ) v
        WHERE n_orders > 0
    """,
    doc="CTAS + view expansion (commands/createas.c; PG rewriter): "
    "materialize an aggregate as a table, define a view over it, query "
    "the view.",
    tags=("ddl", "ctas", "view"),
)
def ddl_ctas_and_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    db = "cb_ddl"
    loc = scratch.path(sf_dir, "ddl_warehouse")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    tbl = f"{db}.orders_agg_{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    shutil.rmtree(os.path.join(loc, tbl.split(".")[1]), ignore_errors=True)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("__ddl_orders")
    spark.sql(
        f"""
        CREATE TABLE {tbl} USING parquet AS
        SELECT o_orderpriority, count(*) AS n_orders,
               avg(o_totalprice) AS avg_price
        FROM __ddl_orders
        WHERE o_orderkey % 2 = 0
        GROUP BY o_orderpriority
        """
    )
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW ddl_v AS SELECT * FROM {tbl}"
    )
    return spark.sql(
        """
        SELECT o_orderpriority, n_orders, round(avg_price, 4) AS avg_price
        FROM ddl_v WHERE n_orders > 0
        """
    )


@register(
    "sql_parameterized",
    oracle="""
        SELECT l_returnflag,
               count(*) AS n,
               round(sum(l_extendedprice), 2) AS total
        FROM lineitem
        WHERE l_quantity >= 30.0 AND l_shipdate >= TIMESTAMP '1995-06-01'
        GROUP BY l_returnflag
    """,
    doc="Prepared-statement binding (tcop/postgres.c:2114 "
    "exec_parse/bind/execute): named parameters via spark.sql(args=...) "
    "— plan once, bind per execution.",
    tags=("ddl", "prepared", "lifecycle"),
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT l_returnflag,
               count(*) AS n,
               round(sum(l_extendedprice), 2) AS total
        FROM lineitem
        WHERE l_quantity >= :min_qty AND l_shipdate >= :min_date
        GROUP BY l_returnflag
        """,
        args={"min_qty": 30.0, "min_date": "1995-06-01 00:00:00"},
    )


@register(
    "ddl_analyze_stats",
    oracle="SELECT count(*) AS n_rows FROM orders",
    doc="ANALYZE parity (commands/analyze.c → pg_class.reltuples / "
    "pg_statistic): saveAsTable + ANALYZE TABLE COMPUTE STATISTICS "
    "writes row-count/size stats into the catalog, which is what "
    "activates CBO join reordering (SURVEY §4.1 — "
    "optimizer/path/allpaths.c DP search needs cardinalities; Spark's "
    "CostBasedJoinReorder needs these stats the same way). The query "
    "reads the optimizer-visible row count back out of the catalog "
    "relation's plan statistics and checks it against the true COUNT(*).",
    tags=("ddl", "stats", "cbo"),
)
def ddl_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    db = "cb_ddl"
    loc = scratch.path(sf_dir, "ddl_warehouse")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    tbl = f"{db}.stats_demo_{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    # the location may survive a previous session whose catalog forgot it
    shutil.rmtree(os.path.join(loc, tbl.split(".")[1]), ignore_errors=True)
    orders.write.mode("overwrite").saveAsTable(tbl)
    spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS")
    # the row count the OPTIMIZER sees (catalog stats), not a recount
    # the exact catalog statistic ("N bytes, M rows"), not a recount —
    # (optimizedPlan().stats() displays the same number but rounded to 3
    # significant digits, so it can't be compared exactly)
    stat = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}")
        .where(F.col("col_name") == "Statistics")
        .select(F.regexp_extract("data_type", r"(\d+) rows", 1).cast("bigint").alias("n_rows"))
    )
    return stat


@register(
    "ddl_column_profile",
    oracle="""
        SELECT count(*) AS n_rows,
               count(DISTINCT o_orderpriority) AS ndv_priority,
               count(DISTINCT o_custkey) AS ndv_custkey,
               CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS nulls_price,
               round(min(o_totalprice), 2) AS min_price,
               round(max(o_totalprice), 2) AS max_price,
               min(o_orderdate) AS min_date,
               max(o_orderdate) AS max_date
        FROM orders
    """,
    doc="Column profiling — the pg_statistic / ANALYZE FOR ALL COLUMNS "
    "surface (commands/analyze.c compute_scalar_stats: null fraction, "
    "n_distinct, min/max) as one exact aggregation pass. These are the "
    "numbers the CBO consumes (ddl_analyze_stats stores the table-level "
    "subset in the catalog); profiling at 100 TB is one scan with "
    "partial aggs — the exchange carries a single row of statistics.",
    tags=("ddl", "stats", "profiling"),
)
def ddl_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    return od.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_orderpriority").alias("ndv_priority"),
        F.countDistinct("o_custkey").alias("ndv_custkey"),
        F.sum(F.when(F.col("o_totalprice").isNull(), 1).otherwise(0)).alias(
            "nulls_price"
        ),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.min("o_orderdate").alias("min_date"),
        F.max("o_orderdate").alias("max_date"),
    )


@register(
    "ddl_stats_ext_columns",
    oracle="""
        SELECT 'n_nationkey' AS col,
               CAST(min(n_nationkey) AS BIGINT) AS stat_min,
               CAST(max(n_nationkey) AS BIGINT) AS stat_max,
               CAST(0 AS BIGINT) AS stat_nulls
        FROM nation
        UNION ALL
        SELECT 'n_regionkey',
               CAST(min(n_regionkey) AS BIGINT),
               CAST(max(n_regionkey) AS BIGINT),
               CAST(0 AS BIGINT)
        FROM nation
        ORDER BY col
    """,
    doc="Extended per-column statistics (stats_ext.sql / commands/"
    "statscmds.c CREATE STATISTICS class; PG's compute_scalar_stats "
    "min/max/null-fraction per attribute): ANALYZE TABLE ... COMPUTE "
    "STATISTICS FOR ALL COLUMNS writes per-column min/max/null-count "
    "into the catalog — the multi-column cardinality inputs Spark's "
    "CostBasedJoinReorder consumes (the join-order flip itself is "
    "plan-pinned by tests/test_plans.py::test_cbo_join_reorder_with_"
    "stats). The query reads the catalog's stored stats back via "
    "DESCRIBE EXTENDED and checks them against the exact aggregates; "
    "min/max/null-count are exact in the catalog (distinct_count is "
    "HLL-approximate and deliberately not compared).",
    tags=("ddl", "stats", "cbo"),
)
def ddl_stats_ext_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = load_table(spark, sf_dir, "nation")
    db = "cb_ddl"
    loc = scratch.path(sf_dir, "ddl_warehouse")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    tbl = f"{db}.stats_ext_{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    shutil.rmtree(os.path.join(loc, tbl.split(".")[1]), ignore_errors=True)
    nat.select("n_nationkey", "n_regionkey").write.mode(
        "overwrite"
    ).saveAsTable(tbl)
    spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS FOR ALL COLUMNS")

    def col_stats(col: str) -> DataFrame:
        d = spark.sql(f"DESCRIBE EXTENDED {tbl} {col}")
        # rows are (info_name, info_value); pivot the three exact stats
        return d.groupBy().pivot(
            "info_name", ["min", "max", "num_nulls"]
        ).agg(F.first("info_value")).select(
            F.lit(col).alias("col"),
            F.col("min").cast("bigint").alias("stat_min"),
            F.col("max").cast("bigint").alias("stat_max"),
            F.col("num_nulls").cast("bigint").alias("stat_nulls"),
        )

    return (
        col_stats("n_nationkey")
        .unionAll(col_stats("n_regionkey"))
        .orderBy("col")
    )


@register(
    "ddl_storage_compression",
    oracle="""
        WITH agg AS (
          SELECT COUNT(*) AS n,
                 CAST(ROUND(SUM(l_extendedprice), 2) AS DOUBLE) AS price_sum,
                 COUNT(DISTINCT l_returnflag) AS flags
          FROM lineitem
        )
        SELECT codec, n, price_sum, flags
        FROM (VALUES ('gzip'), ('snappy'), ('zstd')) c(codec), agg
        ORDER BY codec
    """,
    doc="AOCO_Compression.sql:194-201 / rle.sql — per-column ENCODING "
    "(compresstype=zlib|rle_type|zstd, blocksize) as the parquet "
    "storage model: the same lineitem slice written under gzip, snappy "
    "and zstd column compression (PG's zlib≙gzip; rle_type is parquet's "
    "built-in RLE_DICTIONARY encoding, always on for low-cardinality "
    "columns — tests/test_operators_misc.py::test_storage_compression_"
    "encodings pins both the codec metadata and the dictionary encoding "
    "per column chunk). Returns identical content aggregates per codec: "
    "compression must never change query results.",
    tags=("ddl", "storage"),
)
def ddl_storage_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_returnflag", "l_shipdate"
    )
    frames = []
    base = scratch.path(sf_dir, "storage_codecs")
    for codec in ("gzip", "snappy", "zstd"):
        path = os.path.join(base, codec)
        li.write.mode("overwrite").option("compression", codec).parquet(path)
        back = spark.read.parquet(path)
        frames.append(
            back.agg(
                F.lit(codec).alias("codec"),
                F.count("*").alias("n"),
                F.round(F.sum("l_extendedprice"), 2)
                .cast("double")
                .alias("price_sum"),
                F.countDistinct("l_returnflag").alias("flags"),
            ).select("codec", "n", "price_sum", "flags")
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionAll(f)
    return out.orderBy("codec")
