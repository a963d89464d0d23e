"""ALTER TABLE semantics over snapshot tables — the alter_table.sql
slice (type rewrites vs metadata-only changes, SET/DROP DEFAULT,
ADD CONSTRAINT ... NOT VALID / VALIDATE).

Reference: src/test/regress/sql/alter_table.sql (3,208 lines). The
slices ported here are the first-week-DBA surface the r9 verdict
called out:

* ALTER COLUMN TYPE, two regimes (tablecmds.c ATPrepAlterColumnType):
  binary-coercible widenings (float->double precision, int4->int8,
  varchar->text; alter_table.sql:3176 float2double_table, :1643
  test_type_diff2 int_four::int8) are CATALOG-ONLY — no table rewrite;
  anything else (int<->text with USING, :2194/:2217 comment_test)
  rewrites the whole table through the cast expression.
* SET / DROP DEFAULT (:2126 tt8): pure catalog edits that affect only
  FUTURE inserts — existing rows never change (contrast ADD COLUMN
  DEFAULT, which backfills: operators/qpdc_runtime.py).
* ADD CONSTRAINT CHECK [NOT VALID] / VALIDATE CONSTRAINT
  (:399-415 attmp3): plain ADD scans and fails loudly on violating
  data; NOT VALID skips the scan; VALIDATE scans — fails while a
  violating row exists, succeeds after it is deleted, and is
  idempotent once valid.

Spark-first mapping: the table is a SnapshotTable; "catalog-only"
means the logical->physical column map / type map / default / named-
constraint state changes while the manifest keeps pointing at the
SAME filesets (tests/test_alter_table.py pins byte-identical files);
a rewrite is one copy-on-write commit whose job is the cast itself.
Reads apply the catalog: scan-time CAST for widened columns (parquet
float files read under a double schema), declared defaults filled at
insert time only. At 100 TB the widening path is free and the rewrite
path is one full-scan write — exactly the reference's cost model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudberry_spark import scratch
from cloudberry_spark.registry import register
from cloudberry_spark.sources.snapshot import SnapshotTable


class CheckViolation(RuntimeError):
    """PG: ERROR: check constraint ... is violated by some row."""


class AlterTable:
    """Minimal ALTER TABLE catalog over a SnapshotTable: column spark
    types, insert-time defaults, named check constraints."""

    def __init__(self, spark: SparkSession, root: str, schema: str):
        self.spark = spark
        self.cols = [
            (c.split()[0], c.split()[1]) for c in schema.split(",")
        ]
        self.defaults: dict[str, str] = {}
        self.checks: dict[str, tuple[str, bool]] = {}  # name -> (expr, valid)
        self.snap = SnapshotTable.init(
            root,
            spark.createDataFrame([], ", ".join(f"{c} {t}" for c, t in self.cols)),
        )
        self.rewrites = 0  # how many type changes took the rewrite path

    def read(self) -> DataFrame:
        df = self.snap.read(self.spark)
        # scan-time CAST: files may predate a widening (float files
        # under a double catalog type) — the catalog wins at read
        return df.select(
            *[F.col(c).cast(t).alias(c) for c, t in self.cols]
        )

    def insert(self, rows: list[dict]) -> None:
        sel = []
        for r in rows:
            cells = []
            for c, t in self.cols:
                lit = r.get(c, self.defaults.get(c, "NULL"))
                cells.append(f"CAST({lit} AS {t}) AS {c}")
            sel.append("SELECT " + ", ".join(cells))
        batch = self.spark.sql(" UNION ALL ".join(sel))
        for name, (expr, valid) in self.checks.items():
            if valid and batch.where(
                ~F.coalesce(F.expr(expr), F.lit(False))
            ).count():
                raise CheckViolation(name)
        self.snap.commit_append(batch, self.snap.current_version(), "insert")

    def delete_where(self, pred: str) -> None:
        self.snap.commit_rewrite(
            self.read().where(~F.coalesce(F.expr(pred), F.lit(False))),
            self.snap.current_version(),
            "delete",
        )

    # -- ALTER COLUMN TYPE ------------------------------------------------

    #: binary-coercible widenings (pg_cast CASTMETHOD_BINARY analogs in
    #: the Spark/parquet type system): catalog-only, files untouched.
    WIDENINGS = {("float", "double"), ("int", "bigint"), ("long", "bigint")}

    def alter_type(self, col: str, new_t: str, using: str | None = None) -> str:
        old_t = dict(self.cols)[col]
        self.cols = [(c, new_t if c == col else t) for c, t in self.cols]
        if (old_t, new_t) in self.WIDENINGS and using is None:
            return "metadata-only"
        # rewrite: one copy-on-write commit through the cast/USING expr
        expr = using or f"CAST({col} AS {new_t})"
        cur = self.snap.read(self.spark)
        self.snap.commit_rewrite(
            cur.withColumn(col, F.expr(expr).cast(new_t)),
            self.snap.current_version(),
            f"altertype-{col}",
        )
        self.rewrites += 1
        return "rewrite"

    # -- defaults / constraints --------------------------------------------

    def set_default(self, col: str, lit: str | None) -> None:
        if lit is None:
            self.defaults.pop(col, None)
        else:
            self.defaults[col] = lit

    def add_check(self, name: str, expr: str, not_valid: bool = False) -> None:
        if name in self.checks:
            raise CheckViolation(f"constraint {name} already exists")
        if not not_valid and self.read().where(
            ~F.coalesce(F.expr(expr), F.lit(False))
        ).count():
            raise CheckViolation(name)
        self.checks[name] = (expr, not not_valid)

    def validate(self, name: str) -> None:
        expr, valid = self.checks[name]
        if valid:  # already validated: no scan (idempotent success)
            return
        if self.read().where(~F.coalesce(F.expr(expr), F.lit(False))).count():
            raise CheckViolation(name)
        self.checks[name] = (expr, True)


def _ledger(spark: SparkSession, rows: list[tuple[int, str, str]]) -> DataFrame:
    return spark.createDataFrame(
        rows, "stage int, event string, detail string"
    ).orderBy("stage")


@register(
    "ddl_alter_type_widen_metadata_only",
    oracle="""
        SELECT * FROM (VALUES
            (1, 'alter c1 float->double', 'metadata-only'),
            (2, 'alter n int->bigint', 'metadata-only'),
            (3, 'rows', '3'),
            (4, 'sum_c1', '7.5'),
            (5, 'rewrites', '0')
        ) t(stage, event, detail) ORDER BY stage
    """,
    doc="alter_table.sql:3176 float2double_table (issue 16805) + :1643 "
    "test_type_diff2 int_four::int8 — binary-coercible ALTER COLUMN "
    "TYPE widenings are catalog-only: the float-written files stay on "
    "disk byte-identical (tests/test_alter_table.py) and reads cast at "
    "scan under the new catalog type; zero rewrite commits.",
    tags=("ddl", "alter-table"),
)
def ddl_alter_type_widen_metadata_only(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    t = AlterTable(
        spark, scratch.path(sf_dir, "alter_widen"), "c1 float, c2 float, n int"
    )
    t.insert([{"c1": "1.25", "c2": "0.5", "n": "1"},
              {"c1": "2.5", "c2": "1.5", "n": "2"},
              {"c1": "3.75", "c2": "2.0", "n": "3"}])
    r1 = t.alter_type("c1", "double")
    r2 = t.alter_type("n", "bigint")
    df = t.read()
    n = df.count()
    total = df.agg(F.sum("c1").alias("s")).limit(1)
    # fold the aggregate into the ledger without a driver collect
    agg_row = total.select(
        F.lit(4).alias("stage"),
        F.lit("sum_c1").alias("event"),
        F.col("s").cast("string").alias("detail"),
    )
    ledger = _ledger(
        spark,
        [
            (1, "alter c1 float->double", r1),
            (2, "alter n int->bigint", r2),
            (3, "rows", str(n)),
            (5, "rewrites", str(t.rewrites)),
        ],
    )
    return ledger.unionByName(agg_row).orderBy("stage")


@register(
    "ddl_alter_type_rewrite_text",
    oracle="""
        SELECT * FROM (VALUES
            (1, 'alter id int->text', 'rewrite'),
            (2, 'text order', '1|10|11|2'),
            (3, 'alter id text->int using', 'rewrite'),
            (4, 'int order', '1|2|10|11'),
            (5, 'rewrites', '2')
        ) t(stage, event, detail) ORDER BY stage
    """,
    doc="alter_table.sql:2194/:2217 comment_test id SET DATA TYPE text "
    "then back via USING id::integer — non-coercible type changes take "
    "the rewrite path (one copy-on-write commit through the cast); the "
    "round trip flips sort semantics (text '10' < '2') and back.",
    tags=("ddl", "alter-table"),
)
def ddl_alter_type_rewrite_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = AlterTable(spark, scratch.path(sf_dir, "alter_rewrite"), "id int, v int")
    t.insert([{"id": str(i), "v": str(i * 10)} for i in (1, 2, 10, 11)])
    r1 = t.alter_type("id", "string")
    text_order = t.read().orderBy("id").agg(
        F.concat_ws("|", F.collect_list("id")).alias("o"))
    r2 = t.alter_type("id", "int", using="CAST(id AS INT)")
    int_order = t.read().orderBy("id").agg(
        F.concat_ws("|", F.collect_list("id")).alias("o"))
    ledger = _ledger(
        spark,
        [(1, "alter id int->text", r1),
         (3, "alter id text->int using", r2),
         (5, "rewrites", str(t.rewrites))],
    )
    return (
        ledger.unionByName(
            text_order.select(F.lit(2).alias("stage"),
                              F.lit("text order").alias("event"),
                              F.col("o").alias("detail")))
        .unionByName(
            int_order.select(F.lit(4).alias("stage"),
                             F.lit("int order").alias("event"),
                             F.col("o").alias("detail")))
        .orderBy("stage")
    )


@register(
    "ddl_alter_set_drop_default",
    oracle="""
        SELECT * FROM (VALUES
            (1, 1, CAST(NULL AS INT)),
            (2, 2, 0),
            (3, 3, 0),
            (4, 4, CAST(NULL AS INT)),
            (5, 5, 7)
        ) t(stage, a, f) ORDER BY stage
    """,
    doc="alter_table.sql:2126 tt8 ALTER COLUMN f SET DEFAULT 0 (+ DROP "
    "DEFAULT): defaults are catalog edits affecting only FUTURE "
    "inserts — the pre-SET row keeps NULL, rows inserted under the "
    "default get 0, the post-DROP row is NULL again, and an explicit "
    "value always wins. Existing files are never touched "
    "(tests/test_alter_table.py).",
    tags=("ddl", "alter-table"),
)
def ddl_alter_set_drop_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = AlterTable(spark, scratch.path(sf_dir, "alter_default"), "a int, f int")
    t.insert([{"a": "1"}])                      # pre-SET: NULL
    t.set_default("f", "0")
    t.insert([{"a": "2"}])                      # default 0
    t.insert([{"a": "3"}])                      # default 0
    t.set_default("f", None)                    # DROP DEFAULT
    t.insert([{"a": "4"}])                      # NULL again
    t.insert([{"a": "5", "f": "7"}])            # explicit wins
    return (
        t.read()
        .select(F.col("a").alias("stage"), "a", "f")
        .orderBy("stage")
    )


@register(
    "ddl_alter_add_check_validate",
    oracle="""
        SELECT * FROM (VALUES
            (1, 'add check b>10', 'ERROR: check constraint violated'),
            (2, 'add check b>10 not valid', 'ok'),
            (3, 'validate b_greater_than_ten', 'ERROR: check constraint violated'),
            (4, 'delete not b>10', 'ok'),
            (5, 'validate b_greater_than_ten', 'ok'),
            (6, 'validate b_greater_than_ten', 'ok'),
            (7, 'insert b=5 under valid check', 'ERROR: check constraint violated'),
            (8, 'final rows', '2')
        ) t(stage, event, detail) ORDER BY stage
    """,
    doc="alter_table.sql:399-415 attmp3 — ADD CONSTRAINT CHECK fails "
    "loudly on violating data; NOT VALID skips the scan; VALIDATE "
    "fails while the violating row exists, succeeds after DELETE, and "
    "is idempotent; a validated check then enforces future inserts.",
    tags=("ddl", "alter-table"),
)
def ddl_alter_add_check_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = AlterTable(spark, scratch.path(sf_dir, "alter_check"), "a int, b int")
    t.insert([{"a": "1", "b": "20"}, {"a": "2", "b": "30"},
              {"a": "5", "b": "5"}])
    rows: list[tuple[int, str, str]] = []

    def attempt(stage: int, event: str, fn) -> None:
        try:
            fn()
            rows.append((stage, event, "ok"))
        except CheckViolation:
            rows.append((stage, event, "ERROR: check constraint violated"))

    attempt(1, "add check b>10",
            lambda: t.add_check("b_greater_than_ten", "b > 10"))
    attempt(2, "add check b>10 not valid",
            lambda: t.add_check("b_greater_than_ten", "b > 10", not_valid=True))
    attempt(3, "validate b_greater_than_ten",
            lambda: t.validate("b_greater_than_ten"))
    attempt(4, "delete not b>10", lambda: t.delete_where("NOT b > 10"))
    attempt(5, "validate b_greater_than_ten",
            lambda: t.validate("b_greater_than_ten"))
    attempt(6, "validate b_greater_than_ten",
            lambda: t.validate("b_greater_than_ten"))
    attempt(7, "insert b=5 under valid check",
            lambda: t.insert([{"a": "9", "b": "5"}]))
    rows.append((8, "final rows", str(t.read().count())))
    return _ledger(spark, rows)


@register(
    "ddl_alter_fk_not_valid_validate",
    oracle="""
        SELECT * FROM (VALUES
            (1, 'add fk not valid', 'ok'),
            (2, 'validate attmpconstr', 'ERROR: foreign key violated'),
            (3, 'delete a=5', 'ok'),
            (4, 'validate attmpconstr', 'ok'),
            (5, 'validate attmpconstr', 'ok')
        ) t(stage, event, detail) ORDER BY stage
    """,
    doc="alter_table.sql:383-395 attmp3 FOREIGN KEY ... NOT VALID then "
    "VALIDATE: the set-based referential scan (operators/security.py "
    "semantics) fails while the orphan a=5 exists, succeeds after its "
    "deletion, idempotently.",
    tags=("ddl", "alter-table"),
)
def ddl_alter_fk_not_valid_validate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    t = AlterTable(spark, scratch.path(sf_dir, "alter_fk"), "a int, b int")
    t.insert([{"a": "1", "b": "20"}, {"a": "2", "b": "30"},
              {"a": "5", "b": "50"}])
    referenced = spark.createDataFrame([(1,), (2,), (3,)], "ra int")
    rows: list[tuple[int, str, str]] = []
    fk_valid = {"v": False}

    def validate() -> None:
        if fk_valid["v"]:
            return
        refs = F.broadcast(
            referenced.select(F.col("ra").alias("__ref")).distinct())
        orphans = (
            t.read().join(refs, F.col("a") == F.col("__ref"), "left_anti").count()
        )
        if orphans:
            raise CheckViolation("attmpconstr")
        fk_valid["v"] = True

    def attempt(stage: int, event: str, fn) -> None:
        try:
            fn()
            rows.append((stage, event, "ok"))
        except CheckViolation:
            rows.append((stage, event, "ERROR: foreign key violated"))

    attempt(1, "add fk not valid", lambda: None)  # NOT VALID: no scan
    attempt(2, "validate attmpconstr", validate)
    attempt(3, "delete a=5", lambda: t.delete_where("a = 5"))
    attempt(4, "validate attmpconstr", validate)
    attempt(5, "validate attmpconstr", validate)
    return _ledger(spark, rows)
