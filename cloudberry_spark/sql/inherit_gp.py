"""inherit.sql ports — the table-inheritance battery over
operators/inherit.py.

Reference: src/test/regress/sql/inherit.sql (1,122 lines). The ported
tiers reproduce the file's a/b/c/d diamond (d INHERITS (b, c, a)) and
its scan/ONLY/UPDATE sequences; every oracle is the reference's OWN
expected output (expected/inherit.out, cited per query) spelled as a
VALUES relation — data, operations, and results all the reference's.

Exclusions (MIGRATION.md): pg_class/tableoid joins (the relname
provenance column IS the tableoid readout), ALTER TABLE
add/drop-column propagation through hierarchies (the qpdc battery
covers column-epoch semantics), constraint/trigger inheritance, and
the legacy inheritance-as-partitioning tiers (the partition_* family
is the modern surface)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from cloudberry_spark import scratch
from cloudberry_spark.operators.inherit import InheritanceCatalog
from cloudberry_spark.registry import register


def _fixture(spark: SparkSession, sf_dir: str, name: str) -> InheritanceCatalog:
    """inherit.sql:1-28 — the a/b/c/d diamond with six rows each."""
    cat = InheritanceCatalog(spark, scratch.path(sf_dir, f"inherit/{name}"))
    cat.create("a", ["aa"])
    cat.create("b", ["bb"], parents=["a"])
    cat.create("c", ["cc"], parents=["a"])
    cat.create("d", ["dd"], parents=["b", "c", "a"])
    for tbl, ch in (("a", "a"), ("b", "b"), ("c", "c"), ("d", "d")):
        cat.insert(tbl, "aa", [ch * n for n in range(3, 9)])
    return cat


def _vals(ch: str) -> str:
    return ", ".join(f"('{ch * n}')" for n in range(3, 9))


@register(
    "regress_inh_scan_diamond",
    oracle=f"""
SELECT * FROM (
  SELECT 'a' AS relname, aa FROM (VALUES {_vals('a')}) t(aa)
  UNION ALL SELECT 'b', aa FROM (VALUES {_vals('b')}) t(aa)
  UNION ALL SELECT 'c', aa FROM (VALUES {_vals('c')}) t(aa)
  UNION ALL SELECT 'd', aa FROM (VALUES {_vals('d')}) t(aa)
) z ORDER BY relname, aa
""",
    doc="inherit.sql:29 / expected/inherit.out:60-87 — a parent scan "
    "includes every descendant's rows exactly ONCE even though d "
    "inherits from a through three paths (b, c, and directly): 24 "
    "rows, not 24 + duplicates.",
    tags=("regress", "inherit", "ddl"),
)
def regress_inh_scan_diamond(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _fixture(spark, sf_dir, "scan")
    return cat.scan("a").orderBy("relname", "aa")


@register(
    "regress_inh_scan_mid_level",
    oracle=f"""
SELECT * FROM (
  SELECT 'b' AS relname, aa, CAST(NULL AS VARCHAR) AS bb
  FROM (VALUES {_vals('b')}) t(aa)
  UNION ALL SELECT 'd', aa, CAST(NULL AS VARCHAR)
  FROM (VALUES {_vals('d')}) t(aa)
) z ORDER BY relname, aa
""",
    doc="inherit.sql:30 / inherit.out:88-103 — scanning the mid-level "
    "b projects b's column set (aa, bb) over b plus d; d's rows "
    "appear once despite the diamond.",
    tags=("regress", "inherit", "ddl"),
)
def regress_inh_scan_mid_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _fixture(spark, sf_dir, "mid")
    return cat.scan("b").orderBy("relname", "aa")


@register(
    "regress_inh_only_scans",
    oracle=f"""
SELECT * FROM (
  SELECT 'only_a' AS arm, 'a' AS relname, aa
  FROM (VALUES {_vals('a')}) t(aa)
  UNION ALL SELECT 'only_b', 'b', aa FROM (VALUES {_vals('b')}) t(aa)
  UNION ALL SELECT 'only_d', 'd', aa FROM (VALUES {_vals('d')}) t(aa)
) z ORDER BY arm, aa
""",
    doc="inherit.sql:33-36 / inherit.out:116-155 — ONLY restricts the "
    "scan to the named physical table: 6 rows each, no descendants.",
    tags=("regress", "inherit", "ddl"),
)
def regress_inh_only_scans(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _fixture(spark, sf_dir, "only")
    import pyspark.sql.functions as F

    a = cat.scan("a", only=True).select(
        F.lit("only_a").alias("arm"), "relname", "aa")
    b = cat.scan("b", only=True).select(
        F.lit("only_b").alias("arm"), "relname", "aa")
    d = cat.scan("d", only=True).select(
        F.lit("only_d").alias("arm"), "relname", "aa")
    return a.unionAll(b).unionAll(d).orderBy("arm", "aa")


@register(
    "regress_inh_update_routing",
    oracle=f"""
SELECT * FROM (
  SELECT 'a' AS relname, aa
  FROM (VALUES ('zzzz'), ('zzzzz'), ('zzzzzz'), ('zzzzzz'),
               ('zzzzzz'), ('zzzzzz')) t(aa)
  UNION ALL SELECT 'b', aa FROM (VALUES {_vals('b')}) t(aa)
  UNION ALL SELECT 'c', aa FROM (VALUES {_vals('c')}) t(aa)
  UNION ALL SELECT 'd', aa FROM (VALUES {_vals('d')}) t(aa)
) z ORDER BY relname, aa
""",
    doc="inherit.sql:37-41 / inherit.out:156-184 — the file's update "
    "sequence: parent UPDATEs route through the hierarchy (but only "
    "a's own rows match the aaa%% patterns), ONLY UPDATEs touch the "
    "named table; final state is the reference's expected 24 rows "
    "(zzzz, zzzzz, 4x zzzzzz in a; b/c/d untouched).",
    tags=("regress", "inherit", "dml"),
)
def regress_inh_update_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _fixture(spark, sf_dir, "upd")
    cat.update("a", {"aa": "'zzzz'"}, "aa = 'aaaa'")
    cat.update("a", {"aa": "'zzzzz'"}, "aa = 'aaaaa'", only=True)
    cat.update("b", {"aa": "'zzz'"}, "aa = 'aaa'")
    cat.update("b", {"aa": "'zzz'"}, "aa = 'aaa'", only=True)
    cat.update("a", {"aa": "'zzzzzz'"}, "aa LIKE 'aaa%'")
    return cat.scan("a").orderBy("relname", "aa")


@register(
    "regress_inh_update_child_propagates",
    oracle=f"""
SELECT * FROM (
  SELECT 'a' AS relname, aa FROM (VALUES {_vals('a')}) t(aa)
  UNION ALL SELECT 'b', aa FROM (VALUES ('new'), ('new'), ('new'),
                                        ('new'), ('new'), ('new')) t(aa)
  UNION ALL SELECT 'c', aa FROM (VALUES {_vals('c')}) t(aa)
  UNION ALL SELECT 'd', aa FROM (VALUES ('new'), ('new'), ('new'),
                                        ('new'), ('new'), ('new')) t(aa)
) z ORDER BY relname, aa
""",
    doc="inherit.sql:52 / inherit.out:252+ — UPDATE b SET aa='new' "
    "(no WHERE) rewrites b AND its descendant d, leaving a and c "
    "untouched: inheritance routing is downward from the UPDATE "
    "target, not hierarchy-wide.",
    tags=("regress", "inherit", "dml"),
)
def regress_inh_update_child_propagates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cat = _fixture(spark, sf_dir, "updb")
    cat.update("b", {"aa": "'new'"})
    return cat.scan("a").orderBy("relname", "aa")


@register(
    "regress_inh_delete_routing",
    oracle="""
SELECT * FROM (
  SELECT 'after_parent_del' AS arm, CAST(18 AS BIGINT) AS n
  UNION ALL SELECT 'after_only_del', CAST(17 AS BIGINT)
) z ORDER BY arm
""",
    doc="inherit.sql DELETE tier — DELETE FROM a WHERE aa LIKE 'ccc%' "
    "reaches c through the hierarchy (24 -> 18 rows); DELETE ONLY a "
    "WHERE aa = 'aaa' removes just a's own matching row (17).",
    tags=("regress", "inherit", "dml"),
)
def regress_inh_delete_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    cat = _fixture(spark, sf_dir, "del")
    cat.delete("a", "aa LIKE 'ccc%'")
    n1 = cat.scan("a").count()
    cat.delete("a", "aa = 'aaa'", only=True)
    n2 = cat.scan("a").count()
    return spark.createDataFrame(
        [("after_parent_del", n1), ("after_only_del", n2)],
        schema="arm STRING, n BIGINT",
    ).orderBy("arm")
