"""generated.sql ports: GENERATED ALWAYS AS (expr) STORED columns.

Reference: src/test/regress/sql/generated.sql (666 lines). A stored
generated column is a write-time computed column: INSERT computes it
(explicit values are rejected), UPDATE recomputes it after the SET
expressions apply (UPDATE SET a = 3 must flow into b = a * 2), quals
and joins read the stored value like any column.

Spark-first mapping: ``GeneratedTable`` wraps SnapshotTable and owns
the generation expressions; every commit path (insert/update) ends
with one projection that recomputes the generated columns — the
stored value is always consistent with its expression, which is the
whole contract. Rejections mirror PG's: a generation expression may
not reference another generated column or itself (gtest_err_2a/2b),
and writes may not assign a generated column (INSERT ... VALUES
(3, 33) / UPDATE SET b = 11 — 'can only be updated to DEFAULT').
Volatility/identity/system-column/aggregate-expression rejections are
creation-time grammar errors in PG with no runtime analog here
(MIGRATION.md).

At 100 TB the generated column is materialized once per write batch
(a map-side projection — no shuffle), then reads are plain column
scans with full pushdown: exactly why PG stores rather than
virtualizes them.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudberry_spark import scratch
from cloudberry_spark.registry import register
from cloudberry_spark.sources.snapshot import SnapshotTable


class GeneratedColumnError(ValueError):
    pass


class GeneratedTable:
    """SnapshotTable with GENERATED ALWAYS AS (expr) STORED columns."""

    def __init__(self, st: SnapshotTable, columns: list[str],
                 generated: dict[str, str]):
        self.st = st
        self.columns = columns
        self.generated = generated

    @classmethod
    def create(
        cls, spark: SparkSession, path: str, schema: str,
        generated: dict[str, str],
    ) -> "GeneratedTable":
        cols = [c.strip().split()[0] for c in schema.split(",")]
        for g, expr in generated.items():
            refs = set(re.findall(r"[A-Za-z_]\w*", expr))
            bad = refs & set(generated)
            if bad:
                # gtest_err_2a/2b: self- or cross-generated references
                raise GeneratedColumnError(
                    f"cannot use generated column {sorted(bad)} in "
                    "generation expression"
                )
            unknown = [r for r in refs & set(cols) if r == g]
            if unknown:
                raise GeneratedColumnError(
                    f"generated column {g} references itself"
                )
        st = SnapshotTable.init(
            path, spark.createDataFrame([], schema)
        )
        return cls(st, cols, generated)

    def _compute(self, df: DataFrame) -> DataFrame:
        return df.select(
            *[
                F.expr(self.generated[c]).cast(
                    dict(zip(df.columns, [f.dataType for f in df.schema]))[c]
                ).alias(c)
                if c in self.generated
                else F.col(c)
                for c in self.columns
            ]
        )

    def insert(self, spark: SparkSession, df: DataFrame,
               explicit: set[str] = frozenset()) -> None:
        """``explicit``: columns the INSERT listed with non-DEFAULT
        values — assigning a generated one is the PG error."""
        bad = explicit & set(self.generated)
        if bad:
            raise GeneratedColumnError(
                f"cannot insert a non-DEFAULT value into generated "
                f"column {sorted(bad)}"
            )
        from cloudberry_spark.operators.dml import insert_into

        insert_into(spark, self.st, self._compute(df))

    def update(self, spark: SparkSession, cond, sets: dict) -> None:
        bad = set(sets) & set(self.generated)
        if bad:
            raise GeneratedColumnError(
                f"column {sorted(bad)} can only be updated to DEFAULT"
            )
        base = self.st.current_version()
        cur = self.st.read(spark, base)
        # one projection over the OLD row for the SETs, then the
        # generated recompute over the updated row (PG order)
        updated = cur.select(
            *[
                (
                    F.when(cond, sets[c]).otherwise(F.col(c)).alias(c)
                    if c in sets
                    else F.col(c)
                )
                for c in self.columns
            ]
        )
        self.st.commit_rewrite(
            self._compute(updated), base, label="update"
        )

    def delete(self, spark: SparkSession, cond) -> None:
        from cloudberry_spark.operators.dml import delete_from

        delete_from(spark, self.st, cond)

    def read(self, spark: SparkSession) -> DataFrame:
        return self.st.read(spark)


def _gtest1(spark: SparkSession, sf_dir: str, tag: str) -> GeneratedTable:
    gt = GeneratedTable.create(
        spark, scratch.path(sf_dir, f"gen_{tag}"), "a int, b int",
        generated={"b": "a * 2"},
    )
    # INSERT INTO gtest1 VALUES (1); (2, DEFAULT); (3, DEFAULT),
    # (4, DEFAULT)  [generated.sql:56-62's ok statements]
    gt.insert(spark, spark.createDataFrame(
        [(1, None), (2, None)], "a int, b int"))
    return gt


@register(
    "regress_gen_insert_compute",
    oracle="SELECT * FROM (VALUES (1, 2), (2, 4), (3, 6), (4, 8))"
    " t(a, b) ORDER BY a",
    doc="generated.sql:56-64 — INSERT computes b = a * 2 (omitted and "
    "DEFAULT forms); the explicit-value statements are expected-ERROR "
    "in the reference (pinned in tests/test_generated_cols.py). "
    "Expected generated.out's gtest1 content.",
    tags=("regress", "generated"),
)
def regress_gen_insert_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    gt = _gtest1(spark, sf_dir, "ins")
    gt.insert(spark, spark.createDataFrame(
        [(3, None), (4, None)], "a int, b int"))
    return gt.read(spark).orderBy("a")


@register(
    "regress_gen_update_recompute",
    oracle="SELECT * FROM (VALUES (3, 6)) t(a, b) ORDER BY a",
    doc="generated.sql:85-90 — UPDATE SET a = 3 WHERE b = 4 recomputes "
    "b to 6; DELETE WHERE b = 2 quals read the stored value. Final "
    "table: one row (3, 6).",
    tags=("regress", "generated"),
)
def regress_gen_update_recompute(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    gt = _gtest1(spark, sf_dir, "upd")
    gt.update(spark, F.col("b") == 4, {"a": F.lit(3)})
    gt.delete(spark, F.col("b") == 2)
    return gt.read(spark).orderBy("a")


@register(
    "regress_gen_join_on_generated",
    oracle="SELECT * FROM (VALUES (11, 1, 1, 2), (22, 2, 2, 4))"
    " t(x, y, a, b) ORDER BY x",
    doc="generated.sql:78-81 — join against the generated table: "
    "generated b participates like any stored column.",
    tags=("regress", "generated"),
)
def regress_gen_join_on_generated(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    gt = _gtest1(spark, sf_dir, "join")
    gx = spark.createDataFrame(
        [(11, 1), (22, 2), (33, 3)], "x int, y int"
    )
    return (
        gx.join(gt.read(spark), gx.y == F.col("a"))
        .select("x", "y", "a", "b").orderBy("x")
    )


@register(
    "regress_gen_filter_on_generated",
    oracle="SELECT * FROM (VALUES (2, 4)) t(a, b) ORDER BY a",
    doc="generated.sql:72 — WHERE b = 4 over the stored generated "
    "column (pushes to the scan like any column).",
    tags=("regress", "generated"),
)
def regress_gen_filter_on_generated(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    gt = _gtest1(spark, sf_dir, "filt")
    return gt.read(spark).filter("b = 4").orderBy("a")
