"""partition_pruning.sql ports: list-partition static pruning.

Reference: src/test/regress/sql/partition_pruning.sql (1,051 lines) —
the list-partitioned pruning battery over ``pt_lt_tab`` (5 list
partitions of 10 col2 values each) and ``pt_lt_tab_df`` (same + a
DEFAULT partition holding 51..60 and all-NULL rows), sweeping
predicate classes (=, <>, range AND/OR, BETWEEN, IS NULL, mixed
partition+distribution keys, boolean non-partition quals) across a
matrix of per-partition index configurations.

Spark-first mapping: LIST partitioning → value directories
(``partitionBy("col2")`` parquet layout; NULL rows land in the Hive
default-partition directory). Spark's scan prunes directories from
col2 predicates at planning time — the same static partition
selection the reference's EXPLAINs verify, at finer (per-value)
granularity. The index-configuration axis collapses by design: no
indexes here (COVERAGE.md — parquet min/max + pruning serve that
role), and the reference's own expected output is identical across
all index permutations of each SELECT (the battery re-runs the same
queries under each config). Files-actually-read counts are pinned in
tests/test_plans.py::test_list_partition_pruning_matrix.

The dropped-column coda (partition_pruning.sql:386-400: ALTER TABLE
DROP col1/col4 then re-prune) is covered by the qpdc battery's
dropped-column scans plus ``regress_ppr_dropped_col`` (post-drop
projection re-pruned on col2).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudberry_spark import scratch
from cloudberry_spark.registry import register

#: (lo, hi, col3) bands — partition_pruning.sql:57-76 INSERT blocks
_BANDS = [
    (1, 3, "a"), (4, 6, "b"), (7, 10, "c"),
    (11, 13, "e"), (14, 16, "f"), (17, 20, "g"),
    (21, 23, "i"), (24, 26, "k"), (27, 30, "h"),
    (31, 33, "m"), (34, 36, "o"), (37, 40, "n"),
    (41, 43, "p"), (44, 46, "s"), (47, 50, "q"),
]
#: default-partition extras — :118-121
_DF_BANDS = _BANDS + [(51, 53, "u"), (54, 56, "x"), (57, 60, "w")]


def _rows(bands):
    out = []
    for lo, hi, c3 in bands:
        for i in range(lo, hi + 1):
            out.append((i, i, c3, i <= 20 or i >= 51))
    return out


def _case_sql(bands) -> str:
    whens = " ".join(
        f"WHEN i BETWEEN {lo} AND {hi} THEN '{c3}'" for lo, hi, c3 in bands
    )
    return f"CASE {whens} END"


def _oracle_prelude(df_variant: bool) -> str:
    bands = _DF_BANDS if df_variant else _BANDS
    hi = 60 if df_variant else 50
    base = (
        f"SELECT CAST(i AS INT) AS col1, CAST(i AS INT) AS col2,\n"
        f"       {_case_sql(bands)} AS col3,\n"
        f"       (i <= 20 OR i >= 51) AS col4\n"
        f"FROM generate_series(1, {hi}) t(i)"
    )
    if df_variant:
        base += (
            "\nUNION ALL\n"
            "SELECT CAST(NULL AS INT), CAST(NULL AS INT),"
            " CAST(NULL AS VARCHAR), CAST(NULL AS BOOLEAN)"
            "\nFROM generate_series(1, 3)"
        )
        name = "pt_lt_tab_df"
    else:
        name = "pt_lt_tab"
    return f"WITH {name} AS (\n{base}\n)\n"


def _fixture(spark: SparkSession, sf_dir: str, df_variant: bool) -> DataFrame:
    name = "pt_lt_tab_df" if df_variant else "pt_lt_tab"
    path = scratch.path(sf_dir, f"ppr_{name}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        rows = _rows(_DF_BANDS if df_variant else _BANDS)
        if df_variant:
            rows = rows + [(None, None, None, None)] * 3
        df = spark.createDataFrame(
            rows, "col1 int, col2 int, col3 string, col4 boolean"
        )
        (
            df.repartition("col2")
            .write.mode("overwrite").partitionBy("col2").parquet(path)
        )
    out = spark.read.parquet(path)
    # partitionBy moved col2 to the end; restore declared column order
    return out.select("col1", "col2", "col3", "col4")


def _ppr(name: str, predicate: str, doc: str, df_variant: bool = False,
         select: str = "*", extra_tags: tuple = ()) -> None:
    tab = "pt_lt_tab_df" if df_variant else "pt_lt_tab"
    body = (
        f"SELECT {select} FROM {tab} WHERE {predicate} "
        f"ORDER BY col2, col3 LIMIT 5"
    )

    @register(
        name,
        oracle=_oracle_prelude(df_variant) + body,
        doc=doc,
        tags=("regress", "partition_pruning") + extra_tags,
    )
    def _q(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = _fixture(spark, sf_dir, df_variant)
        cols = (
            df.columns if select == "*"
            else [c.strip() for c in select.split(",")]
        )
        return (
            df.filter(predicate)
            .select(*cols)
            .orderBy(F.col("col2").asc_nulls_last(), "col3")
            .limit(5)
        )

    _q.__name__ = name


_ppr(
    "regress_ppr_col1_lt",
    "col1 < 10",
    "partition_pruning.sql:154 — predicate on the NON-partition "
    "distribution key: no directory pruning, row filter only.",
)

_ppr(
    "regress_ppr_col2_eq",
    "col2 = 25",
    "partition_pruning.sql:178 — equality on the partition key prunes "
    "to exactly one value directory (files-read pinned in "
    "test_plans.py).",
)

_ppr(
    "regress_ppr_col2_neq",
    "col2 <> 10",
    "partition_pruning.sql:180 — <> excludes one directory (and NULLs).",
)

_ppr(
    "regress_ppr_col2_band",
    "col2 > 10 AND col2 < 50",
    "partition_pruning.sql:182 — AND range band.",
)

_ppr(
    "regress_ppr_col2_or",
    "col2 > 10 OR col2 = 50",
    "partition_pruning.sql:184 — OR of range and equality.",
)

_ppr(
    "regress_ppr_col2_between",
    "col2 BETWEEN 10 AND 50",
    "partition_pruning.sql:186 — BETWEEN over the partition key.",
)

_ppr(
    "regress_ppr_mixed_and",
    "col2 > 10 AND col1 = 10",
    "partition_pruning.sql:203 — partition key AND distribution key "
    "(empty result: col1=10 only exists at col2=10).",
    extra_tags=("may_be_empty",),
)

_ppr(
    "regress_ppr_mixed_or",
    "col2 > 10.00 OR col1 = 50",
    "partition_pruning.sql:205 — OR across partition and "
    "non-partition keys disables directory pruning (the col1 arm can "
    "match anywhere).",
)

_ppr(
    "regress_ppr_df_gt51",
    "col2 > 51",
    "partition_pruning.sql:315 — beyond the last list partition: only "
    "default-partition rows (52..60).",
    df_variant=True,
)

_ppr(
    "regress_ppr_df_eq50",
    "col2 = 50",
    "partition_pruning.sql:317 — equality at the last regular "
    "partition's boundary value on the default-partition variant.",
    df_variant=True,
)

_ppr(
    "regress_ppr_df_null",
    "col2 IS NULL",
    "partition_pruning.sql:330 — IS NULL prunes to the default "
    "(Hive null) partition directory: the three all-NULL rows.",
    df_variant=True,
)

_ppr(
    "regress_ppr_col4_false",
    "col4 = False",
    "partition_pruning.sql:396 — boolean non-partition qual: full "
    "scan with a row filter (the battery's post-DROP-column rerun "
    "returns the same rows).",
)

_ppr(
    "regress_ppr_dropped_col",
    "col2 > 41",
    "partition_pruning.sql:398-400 — pruning still works after ALTER "
    "TABLE DROP col1: projection without the dropped column, "
    "directory pruning unchanged.",
    select="col2, col3, col4",
)
