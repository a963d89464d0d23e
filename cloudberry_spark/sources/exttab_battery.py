"""External-table battery: the reference's own external_table.sql
error/format/reject corpus over the Spark reader surface.

Reference: src/test/regress/sql/external_table.sql (3,744 lines) +
gpcopy.sql's FILL MISSING FIELDS. The repo's external-source family
(sources/external.py) was built from SURVEY; this module drains the
reference battery's distinct behaviors, each as an oracled query:

* format options — DELIMITER, NULL AS (ext_mpp17980 :347-349), HEADER,
  FILL MISSING FIELDS (gpcopy.sql:362): Spark csv reader options
  (sep/nullValue/header/PERMISSIVE short-row padding) are the same
  knobs fileam.c parses.
* SEGMENT REJECT LIMIT — row form (exttab_basic_1 limit-2/1-error
  proceeds vs exttab_basic_3 limit-2/6-errors aborts, :436-480) and
  PERCENT form (:314-318): the read proceeds while the malformed-row
  count stays under the limit and fails LOUDLY once it is reached
  (cdbsreh.c "segment reject limit reached"), never silently dropping
  beyond it.
* LOG ERRORS ≙ error table — gp_read_error_log (:486-525): rejected
  raw lines persist next to the table, accumulate across reads, and
  DROP EXTERNAL TABLE discards them.
* EXECUTE ON semantics (:3613-3646): ON COORDINATOR runs the command
  once (single partition pipe), ON ALL SEGMENTS once per segment
  (per-partition pipe) — the row multiplicity IS the semantic.

At 100 TB: all of these are reader-side policies evaluated inside the
scan task (Spark PERMISSIVE mode tags corrupt rows per-batch); the
reject-limit check is one count aggregate over the corrupt-record
column, and the error log is an append of the already-materialized
reject rows — no second pass over the data.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from cloudberry_spark import scratch
from cloudberry_spark.registry import register


class RejectLimitReached(RuntimeError):
    """PG: ERROR: segment reject limit reached (cdbsreh.c)."""


_SCHEMA = StructType(
    [
        StructField("i", IntegerType()),
        StructField("j", StringType()),
        StructField("_rejected", StringType()),
    ]
)


def _write_lines(spark: SparkSession, path: str, lines: list[str]) -> None:
    spark.createDataFrame([(x,) for x in lines], "value string").coalesce(
        1
    ).write.mode("overwrite").text(path)


def read_exttab(
    spark: SparkSession,
    path: str,
    limit: int,
    percent: bool = False,
    error_log: str | None = None,
) -> DataFrame:
    """TEXT-format external scan with SEGMENT REJECT LIMIT semantics."""
    raw = (
        spark.read.schema(_SCHEMA)
        .option("sep", "|")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_rejected")
        .csv(path)
    )
    # Spark requires materialization for corrupt-record-only reads
    # (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN); a reject
    # feed is by definition small relative to the scan, and caching it
    # also makes the limit check + error-log append one-pass.
    raw = raw.cache()
    agg = raw.agg(
        F.count(F.lit(1)).alias("n"), F.count("_rejected").alias("bad")
    ).first()
    n, bad = agg["n"], agg["bad"]
    over = (bad * 100 > limit * n) if percent else (bad >= limit)
    if error_log is not None and bad:
        raw.where(F.col("_rejected").isNotNull()).select(
            F.col("_rejected").alias("rawline")
        ).write.mode("append").parquet(error_log)
    if over:
        raise RejectLimitReached(
            f"segment reject limit reached ({bad} rejects)"
        )
    return raw.where(F.col("_rejected").isNull()).select("i", "j")


GOOD = ["1|one", "2|two", "3|three", "4|four", "5|five", "6|six"]
FEW_ERRORS = GOOD[:5] + ["oops"]                       # 1 malformed row
MORE_ERRORS = GOOD[:4] + [f"bad{k}" for k in range(6)]  # 6 malformed rows


@register(
    "regress_exttab_null_as",
    oracle="""
        SELECT * FROM (VALUES
            (1, CAST(NULL AS INT), 100),
            (2, 7, CAST(NULL AS INT)),
            (3, 8, 300)
        ) t(id, id1, id2) ORDER BY id
    """,
    doc="external_table.sql:347-349 ext_mpp17980 FORMAT 'CSV' "
    "(DELIMITER ',' NULL ' '): single-space cells read as SQL NULL "
    "(Spark csv nullValue), other cells parse normally.",
    tags=("source", "exttab"),
)
def regress_exttab_null_as(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch.path(sf_dir, "exttab_null_as")
    _write_lines(spark, path, ["1, ,100", "2,7, ", "3,8,300"])
    return (
        spark.read.schema("id int, id1 int, id2 int")
        .option("sep", ",")
        .option("nullValue", " ")
        .csv(path)
        .orderBy("id")
    )


@register(
    "regress_exttab_header_skip",
    oracle="""
        SELECT * FROM (VALUES (1, 'one'), (2, 'two'), (3, 'three'))
        t(i, j) ORDER BY i
    """,
    doc="external_table.sql FORMAT ... (HEADER): the first line of "
    "each file is column headers, skipped by the scan (Spark csv "
    "header option), with the declared schema still authoritative.",
    tags=("source", "exttab"),
)
def regress_exttab_header_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch.path(sf_dir, "exttab_header")
    _write_lines(spark, path, ["i|j", "1|one", "2|two", "3|three"])
    return (
        spark.read.schema("i int, j string")
        .option("sep", "|")
        .option("header", "true")
        .csv(path)
        .orderBy("i")
    )


@register(
    "regress_exttab_fill_missing",
    oracle="""
        SELECT * FROM (VALUES
            (1, 'one', 10),
            (2, 'two', CAST(NULL AS INT)),
            (3, CAST(NULL AS STRING), CAST(NULL AS INT))
        ) t(i, j, k) ORDER BY i
    """,
    doc="gpcopy.sql:362 FILL MISSING FIELDS: short rows pad their "
    "missing trailing attributes with NULL instead of erroring "
    "(Spark PERMISSIVE csv does exactly this).",
    tags=("source", "exttab"),
)
def regress_exttab_fill_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch.path(sf_dir, "exttab_fill")
    _write_lines(spark, path, ["1|one|10", "2|two", "3"])
    return (
        spark.read.schema("i int, j string, k int")
        .option("sep", "|")
        .option("mode", "PERMISSIVE")
        .csv(path)
        .orderBy("i")
    )


@register(
    "regress_exttab_reject_limit_rows",
    oracle="""
        SELECT * FROM (VALUES
            (1, 'limit 2, 1 bad row', 'ok: 5 good rows'),
            (2, 'limit 2, 6 bad rows', 'ERROR: segment reject limit reached'),
            (3, 'limit 100, 6 bad rows', 'ok: 4 good rows')
        ) t(stage, event, detail) ORDER BY stage
    """,
    doc="external_table.sql:436-484 exttab_basic_1/_3/_4 — SEGMENT "
    "REJECT LIMIT row form: under the limit the scan yields the good "
    "rows; reaching the limit aborts the whole statement loudly; a "
    "generous limit lets the same dirty file through.",
    tags=("source", "exttab", "reject"),
)
def regress_exttab_reject_limit_rows(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    few = scratch.path(sf_dir, "exttab_few_errors")
    more = scratch.path(sf_dir, "exttab_more_errors")
    _write_lines(spark, few, FEW_ERRORS)
    _write_lines(spark, more, MORE_ERRORS)
    rows = []

    def attempt(stage: int, event: str, path: str, limit: int) -> None:
        try:
            n = read_exttab(spark, path, limit).count()
            rows.append((stage, event, f"ok: {n} good rows"))
        except RejectLimitReached:
            rows.append((stage, event, "ERROR: segment reject limit reached"))

    attempt(1, "limit 2, 1 bad row", few, 2)
    attempt(2, "limit 2, 6 bad rows", more, 2)
    attempt(3, "limit 100, 6 bad rows", more, 100)
    return spark.createDataFrame(
        rows, "stage int, event string, detail string"
    ).orderBy("stage")


@register(
    "regress_exttab_reject_limit_percent",
    oracle="""
        SELECT * FROM (VALUES
            (1, '10 percent, 5 pct bad', 'ok: 95 good rows'),
            (2, '10 percent, 15 pct bad', 'ERROR: segment reject limit reached')
        ) t(stage, event, detail) ORDER BY stage
    """,
    doc="external_table.sql:314-318 SEGMENT REJECT LIMIT 10 PERCENT: "
    "the limit is a malformed-row FRACTION — 5%% dirty proceeds, 15%% "
    "aborts loudly.",
    tags=("source", "exttab", "reject"),
)
def regress_exttab_reject_limit_percent(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    five = scratch.path(sf_dir, "exttab_5pct")
    fifteen = scratch.path(sf_dir, "exttab_15pct")
    _write_lines(
        spark, five,
        [f"{k}|v{k}" for k in range(95)] + [f"bad{k}" for k in range(5)])
    _write_lines(
        spark, fifteen,
        [f"{k}|v{k}" for k in range(85)] + [f"bad{k}" for k in range(15)])
    rows = []

    def attempt(stage: int, event: str, path: str) -> None:
        try:
            n = read_exttab(spark, path, 10, percent=True).count()
            rows.append((stage, event, f"ok: {n} good rows"))
        except RejectLimitReached:
            rows.append((stage, event, "ERROR: segment reject limit reached"))

    attempt(1, "10 percent, 5 pct bad", five)
    attempt(2, "10 percent, 15 pct bad", fifteen)
    return spark.createDataFrame(
        rows, "stage int, event string, detail string"
    ).orderBy("stage")


@register(
    "regress_exttab_error_log",
    oracle="""
        SELECT * FROM (VALUES
            (1, 'scan limit 100', 'ok: 4 good rows, log has 6'),
            (2, 'scan again limit 100', 'ok: 4 good rows, log has 12'),
            (3, 'drop external table', 'log cleared'),
            (4, 'log rows after drop', '0')
        ) t(stage, event, detail) ORDER BY stage
    """,
    doc="external_table.sql:486-525 LOG ERRORS + gp_read_error_log: "
    "rejected raw lines persist beside the table, ACCUMULATE across "
    "scans (exttab_basic_4 then _5: 'additional rows'), and DROP "
    "EXTERNAL TABLE discards the log.",
    tags=("source", "exttab", "reject"),
)
def regress_exttab_error_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    more = scratch.path(sf_dir, "exttab_more_errors_log")
    log = scratch.path(sf_dir, "exttab_error_log_tbl")
    shutil.rmtree(log, ignore_errors=True)
    _write_lines(spark, more, MORE_ERRORS)
    rows = []
    n1 = read_exttab(spark, more, 100, error_log=log).count()
    c1 = spark.read.parquet(log).count()
    rows.append((1, "scan limit 100", f"ok: {n1} good rows, log has {c1}"))
    n2 = read_exttab(spark, more, 100, error_log=log).count()
    c2 = spark.read.parquet(log).count()
    rows.append((2, "scan again limit 100", f"ok: {n2} good rows, log has {c2}"))
    shutil.rmtree(log, ignore_errors=True)  # DROP EXTERNAL TABLE
    rows.append((3, "drop external table", "log cleared"))
    rows.append((4, "log rows after drop",
                 "0" if not os.path.exists(log) else "leftover"))
    return spark.createDataFrame(
        rows, "stage int, event string, detail string"
    ).orderBy("stage")


@register(
    "regress_exttab_execute_on",
    oracle="""
        SELECT * FROM (VALUES
            ('coordinator', 1),
            ('all segments', 8)
        ) t(mode, invocations) ORDER BY mode
    """,
    doc="external_table.sql:3613-3646 EXECUTE ON COORDINATOR vs ON ALL "
    "SEGMENTS: the command runs once vs once per segment — modeled as "
    "an rdd.pipe over 1 vs 8 partitions (sources/external.py "
    "execute_pipe), each invocation emitting one marker row.",
    tags=("source", "exttab", "execute"),
)
def regress_exttab_execute_on(spark: SparkSession, sf_dir: str) -> DataFrame:
    def run(mode: str, parts: int):
        piped = (
            spark.sparkContext.parallelize(range(parts), parts)
            .pipe("echo RUN")
            .filter(lambda x: x.strip() == "RUN")
        )
        return spark.createDataFrame(
            piped.map(lambda x: (mode, x)), "mode string, marker string"
        ).groupBy("mode").agg(F.count(F.lit(1)).cast("int").alias("invocations"))

    return run("coordinator", 1).unionByName(run("all segments", 8)).orderBy("mode")
