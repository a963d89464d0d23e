"""COPY in/out, external tables and reject-limit handling, Spark-first.

Reference surface being re-expressed (not ported):
- COPY FROM/TO — bulk CSV/text load-unload, parallel ``ON SEGMENT``
  (/root/reference/src/backend/commands/copy.c:1243,
  copyfrom.c / copyto.c). Spark: distributed ``df.write.csv`` /
  ``spark.read.csv`` — every task is a "segment" writer/reader, so the
  parallel path is the only path.
- Single-row-error handling ``SEGMENT REJECT LIMIT``
  (/root/reference/src/backend/cdb/cdbsreh.c:392): Spark's PERMISSIVE
  parse mode + ``columnNameOfCorruptRecord`` keeps bad rows as data
  (≙ error table), DROPMALFORMED discards (≙ reject limit), FAILFAST
  errors (≙ no reject clause).
- External web tables over gpfdist/http/file URLs
  (/root/reference/src/backend/access/external/external.c:382-505):
  Spark data-source reads over a path/URL; JSONL here stands in for the
  text-protocol feed.

Scale: writers shard by partition (one file per task — the exact
``COPY ON SEGMENT`` layout); readers split files by
``spark.sql.files.maxPartitionBytes``, so a single 10 TB CSV still
parallelizes. Parquet remains the engine-native format; CSV/JSON are
interchange only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from cloudberry_spark import scratch
from cloudberry_spark.catalog import load_table
from cloudberry_spark.operators.tpch import dsum
from cloudberry_spark.registry import register

def copy_to(df: DataFrame, path: str, fmt: str = "csv", **options: str) -> None:
    """COPY TO: distributed unload. ``header`` defaults on for CSV."""
    w = df.write.mode("overwrite")
    if fmt == "csv":
        w = w.option("header", "true")
    for k, v in options.items():
        w = w.option(k, v)
    w.format(fmt).save(path)


def copy_from(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "csv",
    mode: str = "PERMISSIVE",
    **options: str,
) -> DataFrame:
    """COPY FROM: declared-schema bulk read; ``mode`` is the reject policy."""
    r = spark.read.schema(schema).option("mode", mode)
    if fmt == "csv":
        r = r.option("header", "true")
    for k, v in options.items():
        r = r.option(k, v)
    return r.format(fmt).load(path)


@register(
    "copy_csv_roundtrip",
    oracle="""
        SELECT l_returnflag,
               count(*) AS n_rows,
               round(sum(l_quantity), 4) AS sum_qty,
               (CAST(sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 100.0) AS sum_price
        FROM lineitem
        WHERE l_orderkey % 7 = 0
        GROUP BY l_returnflag
    """,
    doc="COPY TO csv → COPY FROM csv → aggregate; proves a lossless "
    "distributed CSV unload/load path (copy.c:1243 ON SEGMENT shape).",
    tags=("source", "copy", "csv"),
)
def copy_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 7 == 0)
    path = scratch.path(sf_dir, "lineitem_csv")
    copy_to(li, path, "csv")
    back = copy_from(spark, path, li.schema, "csv")
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        dsum(F.col("l_extendedprice"), scale=2).alias("sum_price"),
    )


@register(
    "copy_jsonl_external",
    oracle="""
        SELECT o_orderpriority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS sum_total
        FROM orders
        WHERE o_orderkey % 5 = 0
        GROUP BY o_orderpriority
    """,
    doc="JSONL external-table feed (external.c:382 web-table analog): "
    "unload orders as JSON lines, re-read with declared schema, aggregate.",
    tags=("source", "external", "json"),
)
def copy_jsonl_external(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 5 == 0)
    path = scratch.path(sf_dir, "orders_jsonl")
    copy_to(od, path, "json")
    back = copy_from(spark, path, od.schema, "json")
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
    )


REJECT_SCHEMA = StructType(
    [
        StructField("l_orderkey", LongType()),
        StructField("l_linenumber", IntegerType()),
        StructField("l_quantity", DoubleType()),
        StructField("_rejected", StringType()),
    ]
)


@register(
    "copy_reject_limit",
    oracle="""
        SELECT count(*) FILTER (WHERE l_orderkey % 10 <> 3) AS n_good,
               count(*) FILTER (WHERE l_orderkey % 10 = 3) AS n_rejected,
               round(sum(l_quantity) FILTER (WHERE l_orderkey % 10 <> 3), 4)
                   AS sum_good_qty
        FROM lineitem
    """,
    doc="SEGMENT REJECT LIMIT (cdbsreh.c:392): deterministically corrupt "
    "l_quantity on ~10%% of rows, bulk-load PERMISSIVE, count the error "
    "table vs clean rows.",
    tags=("source", "copy", "reject"),
)
def copy_reject_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Render rows as raw CSV text, corrupting the numeric field on the
    # l_orderkey%10==3 slice — a reproducible "dirty feed".
    lines = li.select(
        F.concat_ws(
            ",",
            F.col("l_orderkey"),
            F.col("l_linenumber"),
            F.when(F.col("l_orderkey") % 10 == 3, F.lit("<corrupt>")).otherwise(
                F.col("l_quantity").cast("string")
            ),
        ).alias("value")
    )
    path = scratch.path(sf_dir, "lineitem_dirty_csv")
    lines.write.mode("overwrite").text(path)
    parsed = (
        spark.read.schema(REJECT_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_rejected")
        .csv(path)
    )
    return parsed.agg(
        F.count(F.when(F.col("_rejected").isNull(), 1)).alias("n_good"),
        F.count(F.when(F.col("_rejected").isNotNull(), 1)).alias("n_rejected"),
        F.round(F.sum("l_quantity"), 4).alias("sum_good_qty"),
    )


@register(
    "sink_partitioned_parquet",
    oracle="""
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders
        WHERE year(o_orderdate) = 1995
        GROUP BY o_orderpriority
    """,
    doc="DISTRIBUTED BY + partitioned write (gp_distribution_policy.h:30 "
    "as physical layout): hive-partition orders by year, read back one "
    "partition — scan must prune to it (partition pruning ≙ "
    "gp_partition elimination).",
    tags=("sink", "partitioning", "pruning"),
)
def sink_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    path = scratch.path(sf_dir, "orders_by_year")
    od.write.mode("overwrite").partitionBy("o_year").parquet(path)
    back = spark.read.parquet(path).filter(F.col("o_year") == 1995)
    return back.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


@register(
    "copy_orc_roundtrip",
    oracle="""
        SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sum_qty
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="ORC interchange: write lineitem columns to ORC (zstd), read back "
    "and aggregate. The reference's pluggable table-AM surface "
    "(appendonlyam_handler.c / aocsam_handler.c) maps to Spark's "
    "pluggable columnar formats; ORC is the second columnar format "
    "beside parquet, exercised end-to-end.",
    tags=("source", "sink", "orc"),
)
def copy_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity"
    )
    path = scratch.path(sf_dir, "lineitem_orc")
    li.write.mode("overwrite").option("compression", "zstd").orc(path)
    back = spark.read.orc(path)
    return (
        back.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("sum_qty"))
        .orderBy("l_returnflag")
    )


@register(
    "scan_dpp_join",
    oracle="""
        SELECT o_year, count(*) AS n_orders
        FROM (SELECT year(o_orderdate) AS o_year FROM orders) o
        JOIN (VALUES (1994, 'keep'), (1995, 'keep'), (1997, 'drop')) d(y, tag)
          ON o.o_year = d.y AND d.tag = 'keep'
        GROUP BY o_year ORDER BY o_year
    """,
    doc="Join-driven dynamic partition pruning (PartitionSelector, "
    "executor/nodePartitionSelector.c:20): orders hive-partitioned by "
    "year joins a filtered dim on the partition column; the fact scan "
    "must prune to the dim's surviving years at runtime "
    "(dynamicpruningexpression in the scan's PartitionFilters — "
    "asserted in tests/test_plans.py::test_dpp_prunes_fact_scan).",
    tags=("source", "partitioning", "pruning", "dpp"),
)
def scan_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    path = scratch.path(sf_dir, "orders_by_year_dpp")
    od.write.mode("overwrite").partitionBy("o_year").parquet(path)
    fact = spark.read.parquet(path)
    # The dim must be a file scan (not a LogicalRDD): a parquet-backed dim
    # has an exact sizeInBytes at planning time, so the planner knows it is
    # broadcastable and inserts the DPP subquery (reuseBroadcastOnly)
    # deterministically; a createDataFrame dim's unknown size makes the
    # pruningHasBenefit heuristic flip under JVM state.
    dim_path = scratch.path(sf_dir, "dpp_dim_years")
    spark.createDataFrame(
        [(1994, "keep"), (1995, "keep"), (1997, "drop")], ["y", "tag"]
    ).coalesce(1).write.mode("overwrite").parquet(dim_path)
    dim = spark.read.parquet(dim_path).where(F.col("tag") == "keep")
    return (
        fact.join(dim, fact.o_year == dim.y)
        .groupBy(F.col("o_year").cast("bigint").alias("o_year"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_year")
    )


@register(
    "sink_range_sorted_parquet",
    oracle="""
        SELECT count(*) AS n,
               (CAST(sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 100.0) AS sum_price
        FROM lineitem
        WHERE l_shipdate >= DATE '1995-06-01' AND l_shipdate < DATE '1995-09-01'
    """,
    doc="Range-distributed, sorted layout: repartitionByRange(l_shipdate) "
    "+ sortWithinPartitions before the parquet write gives every file a "
    "narrow shipdate min/max band, so a date-range scan row-group-skips "
    "everything outside the band (the columnar analog of the reference's "
    "range partitioning + brin-style pruning). Readback aggregates a "
    "3-month window; the pushed filter hits the sorted stats.",
    tags=("sink", "partitioning", "sorted"),
)
def sink_range_sorted_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_shipdate", "l_extendedprice"
    )
    path = scratch.path(sf_dir, "lineitem_range_sorted")
    (
        li.repartitionByRange(8, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path).where(
        (F.col("l_shipdate") >= F.lit("1995-06-01"))
        & (F.col("l_shipdate") < F.lit("1995-09-01"))
    )
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("l_extendedprice"), scale=2).alias("sum_price"),
    )


@register(
    "sink_compact_small_files",
    oracle="""
        SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sum_qty
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="Small-files compaction — the maintenance op behind the "
    "reference's VACUUM of append-optimized segfiles (access/appendonly/"
    "appendonlyam_handler.c compaction; each AO table tolerates ≤128 "
    "segfiles before writes degrade): a fragmented landing directory "
    "(64 tiny files from over-parallel ingest) is rewritten to "
    "size-targeted files with repartition(4). At 100 TB the 'many tiny "
    "files' failure mode dominates scan setup cost (one task per file); "
    "compaction restores maxPartitionBytes-sized scans. The readback "
    "aggregate proves the rewrite lost nothing, and the test asserts "
    "the file count actually dropped.",
    tags=("sink", "maintenance", "compaction"),
)
def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity"
    )
    frag = scratch.path(sf_dir, "lineitem_fragmented")
    li.repartition(64).write.mode("overwrite").parquet(frag)
    compacted = scratch.path(sf_dir, "lineitem_compacted")
    spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(
        compacted
    )
    back = spark.read.parquet(compacted)
    return (
        back.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("sum_qty"))
        .orderBy("l_returnflag")
    )


@register(
    "sink_dynamic_partition_overwrite",
    oracle="""
        WITH base AS (
            SELECT year(o_orderdate) AS o_year, o_orderpriority
            FROM orders
        ), corrected AS (
            SELECT o_year, o_orderpriority FROM base WHERE o_year <> 1995
            UNION ALL
            SELECT o_year, '9-REDACTED' AS o_orderpriority
            FROM base WHERE o_year = 1995
        )
        SELECT o_year, o_orderpriority, count(*) AS n
        FROM corrected GROUP BY o_year, o_orderpriority
        ORDER BY o_year, o_orderpriority
    """,
    doc="Dynamic partition overwrite (partitionOverwriteMode=dynamic): "
    "rewriting ONE year's partition replaces only that directory and "
    "leaves every other partition untouched — the Spark form of the "
    "reference's partition-wise load / ALTER TABLE EXCHANGE PARTITION "
    "(commands/tablecmds_gp.c legacy partition DDL). The backfill "
    "pattern at 100 TB: correcting one day of a year-partitioned fact "
    "table writes 1/365th of the data. Static overwrite mode would "
    "truncate the whole table first; the readback aggregate proves the "
    "untouched partitions survived.",
    tags=("sink", "partitioning", "overwrite", "dml"),
)
def sink_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("o_year"), "o_orderpriority"
    )
    path = scratch.path(sf_dir, "orders_dpo")
    od.write.mode("overwrite").partitionBy("o_year").parquet(path)
    saved = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # backfill: redact priorities for 1995 only; other years untouched
        (
            od.where(F.col("o_year") == 1995)
            .withColumn("o_orderpriority", F.lit("9-REDACTED"))
            .write.mode("overwrite")
            .partitionBy("o_year")
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", saved)
    back = spark.read.parquet(path)
    return (
        back.groupBy(
            F.col("o_year").cast("bigint").alias("o_year"), "o_orderpriority"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_year", "o_orderpriority")
    )


@register(
    "scan_schema_evolution",
    oracle="""
        SELECT o_orderpriority,
               count(*) AS n,
               (CAST(sum(CAST(CAST(round(CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice ELSE 0 END * 100) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 100.0) AS sum_new
        FROM orders
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="Schema evolution on read (ALTER TABLE ADD COLUMN parity, "
    "commands/tablecmds.c — PG backfills nothing and treats missing as "
    "NULL; parquet mergeSchema does exactly that): v1 files carry "
    "(o_orderkey, o_orderpriority), later v2 files add o_totalprice; "
    "one mergeSchema read unifies both generations, old files "
    "producing NULL for the new column. The aggregate sums the new "
    "column — non-NULL only for rows written after the 'DDL'.",
    tags=("source", "schema-evolution", "ddl"),
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    path = scratch.path(sf_dir, "orders_evolving")
    # generation 1: before the ADD COLUMN
    (
        od.where(F.col("o_orderkey") % 2 == 1)
        .select("o_orderkey", "o_orderpriority")
        .write.mode("overwrite")
        .parquet(path)
    )
    # generation 2: schema grew a column
    (
        od.where(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .write.mode("append")
        .parquet(path)
    )
    back = spark.read.option("mergeSchema", "true").parquet(path)
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.coalesce(F.col("o_totalprice"), F.lit(0.0)), scale=2).alias(
                "sum_new"
            ),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "scan_file_metadata",
    oracle="""
        SELECT CAST(4 AS BIGINT) AS n_files, count(*) AS n_rows,
               count(*) / 4.0 AS avg_rows_per_file
        FROM lineitem WHERE l_orderkey % 11 = 0
    """,
    doc="Physical row provenance via the hidden _metadata column "
    "(closest Spark analog of the reference's TID/ctid addressing, "
    "nodeTidscan.c — SURVEY marks Tid scans n/a; file+offset is the "
    "columnar world's row address): write 4 files, read back grouping "
    "by _metadata.file_path. Provenance columns cost nothing unless "
    "selected (generated at scan time, not stored).",
    tags=("source", "metadata", "provenance"),
)
def scan_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 11 == 0)
    path = scratch.path(sf_dir, "lineitem_4files")
    li.select("l_orderkey", "l_quantity").repartition(4).write.mode(
        "overwrite"
    ).parquet(path)
    back = spark.read.parquet(path)
    per_file = back.groupBy(F.col("_metadata.file_path").alias("f")).agg(
        F.count(F.lit(1)).alias("rows_in_file")
    )
    return per_file.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("rows_in_file").alias("n_rows"),
        (F.sum("rows_in_file") / F.count(F.lit(1))).alias("avg_rows_per_file"),
    )


@register(
    "scan_glob_paths",
    oracle="""
        SELECT year(o_orderdate) AS o_year, count(*) AS n
        FROM orders
        WHERE year(o_orderdate) IN (1995, 1997)
        GROUP BY o_year ORDER BY o_year
    """,
    doc="Glob-pattern path selection (external.c URL wildcards / "
    "gpfdist multi-file feeds): a year-partitioned layout scanned "
    "through the brace glob o_year={1995,1997} — partition selection "
    "expressed in the PATH, before the planner even sees a filter "
    "(listing-time pruning, zero data files opened outside the glob).",
    tags=("source", "glob", "partitioning"),
)
def scan_glob_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    path = scratch.path(sf_dir, "orders_by_year_glob")
    od.write.mode("overwrite").partitionBy("o_year").parquet(path)
    back = spark.read.option("basePath", path).parquet(
        path + "/o_year={1995,1997}"
    )
    return (
        back.groupBy(F.col("o_year").cast("bigint").alias("o_year"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_year")
    )


# ---------------------------------------------------------------------------
# EXECUTE command external source (pipe-a-program)
# ---------------------------------------------------------------------------


def execute_pipe(
    df: DataFrame, cmd: str, out_schema: StructType, to_line: list
) -> DataFrame:
    """External ``EXECUTE command`` source: stream rows through an OS
    program, one process per partition, and parse its stdout back into
    a DataFrame.

    Re-expresses the reference's EXECUTE-type external tables
    (src/backend/access/external/external.c:382-505: every segment runs
    the command and ingests its stdout). Spark shape: serialize each row
    to one text line, ``rdd.pipe(cmd)`` — the task-per-partition analog
    of command-per-segment — then ``from_csv`` the output lines. The
    pipe is the ONLY imperative hop; both serialization and re-parsing
    stay in DataFrame land, so column pruning happens before the pipe
    and the parsed side gets a real schema (not a blob).
    """
    lines = df.select(
        F.concat_ws(",", *[F.col(c).cast("string") for c in to_line]).alias("line")
    )
    piped = lines.rdd.map(lambda r: r[0]).pipe(cmd)
    out = piped.map(lambda s: (s,)).toDF(["line"])
    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in out_schema)
    return out.select(
        F.from_csv(F.col("line"), ddl).alias("r")
    ).select("r.*")


@register(
    "copy_execute_pipe",
    oracle="""
    SELECT CAST(n_nationkey * 2 AS BIGINT) AS key2,
           lower(n_name) AS lname,
           CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation
    ORDER BY key2
    """,
    doc="EXECUTE-command external table (external.c:382-505 URL type "
    "EXECUTE; one command per segment == rdd.pipe, one process per "
    "task): nation rows piped through a deterministic awk transform "
    "(double the key, lowercase the name) and re-parsed with a typed "
    "schema. The oracle computes the same transform in SQL.",
    tags=("source", "external", "pipe"),
)
def copy_execute_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    out_schema = StructType(
        [
            StructField("key2", LongType()),
            StructField("lname", StringType()),
            StructField("n_regionkey", LongType()),
        ]
    )
    piped = execute_pipe(
        nation,
        "awk -F, '{print $1 * 2 \",\" tolower($2) \",\" $3}'",
        out_schema,
        ["n_nationkey", "n_name", "n_regionkey"],
    )
    return piped.orderBy("key2")


# ---------------------------------------------------------------------------
# JDBC foreign scan (postgres_fdw-class source)
# ---------------------------------------------------------------------------


def _derby_url(sf_dir: str) -> str:
    return f"jdbc:derby:{scratch.path(sf_dir, 'derbydb')};create=true"


_DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@register(
    "fdw_jdbc",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation
    WHERE n_regionkey <= 2
    ORDER BY n_nationkey
    """,
    doc="JDBC foreign scan (contrib/postgres_fdw + nodeForeignscan.c): "
    "nation is seeded into an embedded Derby database over JDBC write, "
    "then read back with spark.read.jdbc — a real external-RDBMS "
    "round-trip (Derby ships in Spark's classpath). The filter is "
    "pushed into the remote scan as WHERE in the generated SQL "
    "(JDBCRelation pushes catalyst predicates), matching the "
    "reference's remote-qual shipping. At scale: partitionColumn/"
    "lowerBound/upperBound splits the remote read across executors.",
    tags=("source", "fdw", "jdbc"),
)
def fdw_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    url = _derby_url(sf_dir)
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    (
        nation.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "nation_fdw")
        .option("driver", _DERBY_DRIVER)
        .mode("overwrite")
        .save()
    )
    remote = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "nation_fdw")
        .option("driver", _DERBY_DRIVER)
        .load()
    )
    return (
        remote.where(F.col("n_regionkey") <= 2)
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    )


def zorder_key(a, b, bits: int = 16):
    """Morton (Z-order) interleave of two non-negative ints, JVM-side.

    bit i of a lands at position 2i, bit i of b at 2i+1 — a pure
    shift/or expression tree (whole-stage codegen), no UDF. Clamp/scale
    inputs to [0, 2^bits) before calling.
    """
    # bit positions are disjoint, so + is bitwise-or here (PySpark's `|`
    # on Columns is logical, not bitwise)
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(a.cast("long"), i) % 2, 2 * i)
            + F.shiftleft(F.shiftright(b.cast("long"), i) % 2, 2 * i + 1)
        )
    return z


@register(
    "sink_zorder_cluster",
    oracle="""
        SELECT count(*) AS n,
               sum(l_quantity) AS sum_qty,
               (CAST(sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 100.0) AS sum_price
        FROM lineitem
        WHERE l_suppkey BETWEEN 10 AND 20
          AND l_partkey BETWEEN 100 AND 300
    """,
    doc="Z-order (Morton-curve) clustered layout: l_suppkey and "
    "l_partkey bits are interleaved into one clustering key "
    "(shift/or expression tree, codegen'd — no UDF), the table is "
    "range-partitioned and sorted by it, and written to parquet. "
    "Because the curve preserves locality in BOTH dimensions, a "
    "conjunctive range predicate on either column row-group-skips — "
    "the multi-column data-skipping layout (the reference's multi-col "
    "btree CLUSTER analog; same idea as Delta/Iceberg Z-ORDER "
    "OPTIMIZE). Readback aggregates a 2-D box; the oracle recomputes "
    "from the raw table.",
    tags=("sink", "partitioning", "zorder"),
)
def sink_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_partkey", "l_quantity", "l_extendedprice"
    )
    # Normalize both dimensions to a common 8-bit width first: raw
    # domains of very different size would let the wide column's high
    # bits dominate the curve and destroy locality in the narrow one.
    ranges = li.agg(
        F.min("l_suppkey").alias("s_lo"),
        F.max("l_suppkey").alias("s_hi"),
        F.min("l_partkey").alias("p_lo"),
        F.max("l_partkey").alias("p_hi"),
    )
    scaled = li.crossJoin(F.broadcast(ranges))

    def norm8(c, lo, hi):
        return (
            (c - F.col(lo)) * 255 / F.greatest(F.col(hi) - F.col(lo), F.lit(1))
        ).cast("long")

    z = zorder_key(
        norm8(F.col("l_suppkey"), "s_lo", "s_hi"),
        norm8(F.col("l_partkey"), "p_lo", "p_hi"),
        bits=8,
    )
    path = scratch.path(sf_dir, "lineitem_zorder")
    (
        scaled.withColumn("zkey", z)
        .repartitionByRange(8, "zkey")
        .sortWithinPartitions("zkey")
        .select("l_suppkey", "l_partkey", "l_quantity", "l_extendedprice")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path).where(
        F.col("l_suppkey").between(10, 20)
        & F.col("l_partkey").between(100, 300)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_quantity").alias("sum_qty"),
        dsum(F.col("l_extendedprice"), scale=2).alias("sum_price"),
    )


@register(
    "sink_multilevel_partitions",
    oracle="""
        SELECT o_orderpriority, count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total
        FROM orders
        WHERE year(o_orderdate) = 1996 AND month(o_orderdate) IN (1, 2, 3)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    doc="Multi-level partitioning (SURVEY §1.1; reference "
    "tablecmds_gp.c multi-level range/list partitions): hive-partition "
    "orders by (year, month), read back one quarter — both partition "
    "levels prune at the directory listing, so the scan touches 3 of "
    "the ~80 leaf directories. The subdirectory-per-level layout IS "
    "the reference's partition hierarchy, and pruning on a prefix of "
    "the levels (year only) or the full path (year+month) both work.",
    tags=("sink", "partitioning", "pruning"),
)
def sink_multilevel_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = (
        load_table(spark, sf_dir, "orders")
        .withColumn("o_year", F.year("o_orderdate"))
        .withColumn("o_month", F.month("o_orderdate"))
    )
    path = scratch.path(sf_dir, "orders_by_year_month")
    od.write.mode("overwrite").partitionBy("o_year", "o_month").parquet(path)
    back = spark.read.parquet(path).filter(
        (F.col("o_year") == 1996) & (F.col("o_month").isin(1, 2, 3))
    )
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "copy_fixedwidth_parse",
    oracle="""
    SELECT CAST(n_nationkey AS INT) AS nationkey,
           trim(n_name) AS name,
           CAST(n_regionkey AS INT) AS regionkey
    FROM nation ORDER BY 1
    """,
    doc="Fixed-width external format round trip (the reference ships a "
    "gpfdist fixedwidth formatter — contrib/formatter_fixedwidth/"
    "fixedwidth.c — for mainframe-style feeds): unload nation as "
    "padded fixed-width text lines (rpad to 5/20/5 column widths via "
    "format_string, a distributed text write), re-read with "
    "spark.read.text, and parse by byte position with substring — "
    "the formatter is three projection expressions, fully codegen, "
    "no Python. The oracle is the original table: the round trip "
    "must be lossless.",
    tags=("source", "external", "fixedwidth"),
)
def copy_fixedwidth_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = load_table(spark, sf_dir, "nation")
    path = scratch.path(sf_dir, "nation_fixedwidth")
    lines = nat.select(
        F.format_string(
            "%-5d%-20s%-5d",
            F.col("n_nationkey").cast("int"),
            F.col("n_name"),
            F.col("n_regionkey").cast("int"),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(path)
    back = spark.read.text(path)
    return (
        back.select(
            F.trim(F.substring("value", 1, 5)).cast("int").alias("nationkey"),
            F.trim(F.substring("value", 6, 20)).alias("name"),
            F.trim(F.substring("value", 26, 5)).cast("int").alias("regionkey"),
        )
        .orderBy("nationkey")
    )
