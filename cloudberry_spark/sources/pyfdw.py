"""Custom Python DataSource — the FDW / external-web-table parity.

The reference's foreign-data-wrapper surface (ForeignScan over
gp_exttable_fdw / file_fdw / gpfdist text feeds,
/root/reference/src/backend/access/external/external.c:382-505 URL
scans, contrib FDWs) lets arbitrary protocol handlers present rows as a
table, scanned IN PARALLEL by segments. Spark 4's Python DataSource API
is the same extension point: a pure-Python reader declaring its own
partitioning, planned like any other scan (one task per
InputPartition ≙ one segment per gpfdist slice).

``TextFeedDataSource`` is a gpfdist-style line-protocol reader: a
directory of text files, one InputPartition per file, rows parsed by
the Python reader itself (delimiter option, header skip, typed by the
declared schema). No JVM CSV machinery is involved — this IS a foreign
protocol handler, not a format alias.

Scale: partition-per-file parallelism; each task streams its file
lazily (generator — no file-sized buffers). At 100 TB the same class
points at an object-store prefix and the planner fans one task per
object, exactly how gpfdist fans segments across feed URLs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from cloudberry_spark import scratch
from cloudberry_spark.catalog import load_table
from cloudberry_spark.registry import register


class TextFeedDataSource(DataSource):
    """gpfdist-analog: parse a directory of delimited text files."""

    @classmethod
    def name(cls) -> str:
        return "textfeed"

    def schema(self) -> str:
        return self.options.get(
            "feedschema", "l_orderkey bigint, l_linenumber int, l_quantity double"
        )

    def reader(self, schema):  # noqa: ANN001 - API signature
        return _TextFeedReader(self.options)


class _TextFeedReader(DataSourceReader):
    def __init__(self, options) -> None:  # noqa: ANN001
        self.path = options["path"]
        self.delim = options.get("delim", ",")

    def partitions(self):
        files = sorted(
            os.path.join(self.path, f)
            for f in os.listdir(self.path)
            if not f.startswith(("_", "."))
        )
        return [InputPartition(f) for f in files]

    def read(self, partition):  # noqa: ANN001
        with open(partition.value, encoding="utf-8") as fh:
            for line in fh:
                k, ln, q = line.rstrip("\n").split(self.delim)
                yield int(k), int(ln), float(q)


def register_fdw(spark: SparkSession) -> None:
    """Idempotently register the foreign protocol handler."""
    try:
        spark.dataSource.register(TextFeedDataSource)
    except Exception:
        pass  # already registered in this session


@register(
    "fdw_python_textfeed",
    oracle="""
        SELECT l_returnflag_grp AS grp, count(*) AS n, sum(l_quantity) AS sum_qty
        FROM (SELECT l_orderkey % 4 AS l_returnflag_grp, l_quantity
              FROM lineitem WHERE l_orderkey % 3 = 0) t
        GROUP BY grp ORDER BY grp
    """,
    doc="ForeignScan via a custom Python DataSource (FDW parity, "
    "external.c gpfdist feeds): unload a lineitem slice as raw "
    "delimited text, then scan it back through the pure-Python "
    "'textfeed' protocol handler — partition-per-file parallel, "
    "Python-side parsing — and aggregate. Oracle recomputes from the "
    "native table, proving the foreign protocol is lossless.",
    tags=("source", "fdw", "python-datasource"),
)
def fdw_python_textfeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 3 == 0)
    feed = scratch.path(sf_dir, "textfeed_lineitem")
    (
        li.select(
            F.concat_ws(
                ",",
                F.col("l_orderkey"),
                F.col("l_linenumber"),
                F.col("l_quantity").cast("string"),
            ).alias("value")
        )
        .repartition(8)
        .write.mode("overwrite")
        .text(feed)
    )
    register_fdw(spark)
    back = spark.read.format("textfeed").option("path", feed).load()
    return (
        back.select((F.col("l_orderkey") % 4).alias("grp"), "l_quantity")
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("sum_qty"))
        .orderBy("grp")
    )
