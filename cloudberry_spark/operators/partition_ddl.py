"""Partition lifecycle DDL — ADD / SPLIT / EXCHANGE / TRUNCATE PARTITION.

Reference: src/test/regress/sql/partition.sql (ALTER TABLE ... EXCHANGE
PARTITION FOR(v) WITH TABLE t at :77-131, SPLIT PARTITION FOR (v) AT (x)
INTO (a, b) at :141) and partition_append.sql — Greenplum's partition
lifecycle over range-partitioned heaps, where every operation is
metadata surgery on the partition catalog plus (for SPLIT only) a
rewrite of the ONE affected leaf; sibling leaves are never touched
(cdbpartition.c).

Spark-first analog: a range-partitioned snapshot table
(sources/snapshot.py) whose manifest ``parts`` map each range [lo, hi),
keyed ``<lo>_<hi>``, to an immutable parquet fileset. Every operation
is one snapshot commit, so it rides the same optimistic protocol, and
vacuum reclaims the filesets it drops. The operations preserve the
reference's cost model exactly:

- CREATE:   one write splits the seed rows into every range's fileset.
- ADD:      one new fileset written + a manifest commit; siblings
            untouched.
- EXCHANGE: the staged table's fileset becomes the partition's, the
            old one is returned as a standalone table (PG swaps the two
            relfilenodes); zero data rewritten beyond the staged write.
- SPLIT:    the one affected fileset is re-read and written, in one
            write, as the two halves' filesets; siblings byte-identical.
- TRUNCATE: manifest drops the part — catalog-only; the files stay on
            disk for old-version readers (time travel) until vacuum,
            like PG keeping the old relfilenode until commit.

Readers prune at the manifest: a key predicate resolves to the covering
range's fileset only (the planner-level PartitionSelector analog — at
100 TB a point lookup opens one fileset, never the table).

tests/test_partition_ddl.py pins the untouched-siblings, catalog-only
truncate, and time-travel properties at the filesystem level.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudberry_spark import scratch
from cloudberry_spark.catalog import load_table
from cloudberry_spark.registry import register
from cloudberry_spark.sources.snapshot import SnapshotTable


def _range(key: str) -> tuple[int, int]:
    """The range [lo, hi) of the part key ``<lo>_<hi>``."""
    lo, hi = key.split("_")
    return int(lo), int(hi)


class RangePartitionedTable:
    """Range partitioning [lo, hi) on one integer key over a partitioned
    SnapshotTable: the manifest's ``parts`` are keyed ``<lo>_<hi>``."""

    def __init__(self, st: SnapshotTable, key: str):
        self.st = st
        self.key = key

    # -- helpers --------------------------------------------------------

    def _parts(self) -> dict[tuple[int, int], str]:
        """(lo, hi) -> fileset dir of every range of the current version."""
        return {_range(k): d for k, d in self.st.manifest()["parts"].items()}

    def _covering(self, version: int | None, value: int) -> tuple[str, dict]:
        """The key of the part whose range covers ``value``, and the
        version's parts."""
        parts = self.st.manifest(version)["parts"]
        for k in parts:
            lo, hi = _range(k)
            if lo <= value < hi:
                return k, parts
        raise KeyError(f"no partition covers {value}")

    def _split(
        self, df: DataFrame, bounds: list[tuple[int, int]]
    ) -> tuple[DataFrame, Column, list[str]]:
        """The split write of ``df`` into one part per range of ``bounds``."""
        k = F.col(self.key)
        by = F.lit(None).cast("string")
        for lo, hi in bounds:
            by = F.when((k >= lo) & (k < hi), f"{lo}_{hi}").otherwise(by)
        return df, by, [f"{lo}_{hi}" for lo, hi in bounds]

    # -- lifecycle ------------------------------------------------------

    @classmethod
    def create(
        cls,
        root: str,
        df: DataFrame,
        key: str,
        bounds: list[tuple[int, int]],
    ) -> "RangePartitionedTable":
        """CREATE TABLE ... PARTITION BY RANGE (key) (START..END..):
        routes the seed rows to one fileset per declared range, in one
        write; rows outside every range are rejected implicitly (no
        default)."""
        t = cls(SnapshotTable(root), key)
        t.st._commit(None, "create", {}, split=t._split(df, bounds))
        return t

    def read(self, spark: SparkSession) -> DataFrame:
        return self.st.read(spark)

    def read_pruned(self, spark: SparkSession, value: int) -> DataFrame:
        """Point read: opens ONLY the covering range's fileset (manifest
        pruning — the PartitionSelector analog)."""
        k, parts = self._covering(None, value)
        return self.st.read(spark, dirs=[parts[k]])

    def add_partition(self, lo: int, hi: int, df: DataFrame) -> None:
        """ALTER TABLE ... ADD PARTITION START(lo) END(hi): new fileset +
        manifest commit; overlap with an existing range is an error (PG
        overlapping-partition check)."""
        base = self.st.current_version()
        parts = self.st.manifest(base)["parts"]
        for plo, phi in map(_range, parts):
            if lo < phi and plo < hi:
                raise ValueError(
                    f"partition [{lo},{hi}) overlaps existing [{plo},{phi})"
                )
        rows = df.filter((F.col(self.key) >= lo) & (F.col(self.key) < hi))
        self.st._commit(base, "add", {**parts, f"{lo}_{hi}": rows})

    def exchange_partition(
        self, spark: SparkSession, value: int, staged: DataFrame
    ) -> DataFrame:
        """ALTER TABLE ... EXCHANGE PARTITION FOR(value) WITH TABLE s
        (partition.sql:77-131): the staged rows become the partition;
        the displaced rows are RETURNED as the standalone table (PG
        swaps relfilenodes both ways). Rows in the staged table outside
        the partition's range are a validation error."""
        base = self.st.current_version()
        k, parts = self._covering(base, value)
        lo, hi = _range(k)
        bad = staged.filter(
            (F.col(self.key) < lo) | (F.col(self.key) >= hi)
        ).count()
        if bad:
            raise ValueError(
                f"{bad} staged rows violate range [{lo},{hi}) "
                "(PG exchange validation scan)"
            )
        # the displaced fileset is immutable and survives the commit
        # (time travel), so a lazy reader over it is safe
        old = self.st.read(spark, base, dirs=[parts[k]])
        self.st._commit(base, "exchange", {**parts, k: staged})
        return old

    def split_partition(self, spark: SparkSession, value: int, at: int) -> None:
        """ALTER TABLE ... SPLIT PARTITION FOR(value) AT (at) INTO (a, b)
        (partition.sql:141): rewrite the ONE covering fileset, in one
        write, into [lo, at) and [at, hi); every sibling fileset is
        untouched."""
        base = self.st.current_version()
        k, parts = self._covering(base, value)
        lo, hi = _range(k)
        if not (lo < at < hi):
            raise ValueError(f"split point {at} outside ({lo},{hi})")
        src = self.st.read(spark, base, dirs=[parts.pop(k)])
        split = self._split(src, [(lo, at), (at, hi)])
        self.st._commit(base, "split", parts, split=split)

    def truncate_partition(self, value: int) -> None:
        """ALTER TABLE ... TRUNCATE PARTITION FOR(value): manifest-only —
        the fileset leaves the current snapshot but stays on disk for
        time-travel readers (vacuum reclaims it later)."""
        base = self.st.current_version()
        k, parts = self._covering(base, value)
        del parts[k]
        if not parts:
            raise ValueError("cannot truncate the only partition")
        self.st._commit(base, "truncate", parts)



@register(
    "ddl_part_split_exchange",
    oracle="""
        WITH base AS (
          SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 1500
        ), exchanged AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey >= 500 AND o_orderkey < 1000
                      THEN o_totalprice + 1000.0 ELSE o_totalprice END AS o_totalprice
          FROM base
        )
        SELECT CASE WHEN o_orderkey < 250 THEN 'p0a'
                    WHEN o_orderkey < 500 THEN 'p0b'
                    WHEN o_orderkey < 1000 THEN 'p1'
                    ELSE 'p2' END AS part,
               COUNT(*) AS n,
               CAST(ROUND(SUM(o_totalprice), 2) AS DOUBLE) AS total
        FROM exchanged
        GROUP BY 1 ORDER BY 1
    """,
    doc="partition.sql:77-141 — SPLIT PARTITION AT + EXCHANGE PARTITION "
    "FOR over a range-partitioned lakehouse table: split [0,2500) at "
    "1250, exchange [2500,5000) with a repriced staged table, verify "
    "per-partition counts/sums (bounds sized to the sf0.001 key span so "
    "every partition is live at every fixture scale). Siblings stay "
    "byte-identical (tests/test_partition_ddl.py).",
    tags=("ddl", "partition_lifecycle"),
)
def ddl_part_split_exchange(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    base = orders.filter(F.col("o_orderkey") < 1500)
    t = RangePartitionedTable.create(
        scratch.path(sf_dir, "part_ddl_split_exchange"),
        base,
        "o_orderkey",
        [(0, 500), (500, 1000), (1000, 1500)],
    )
    t.split_partition(spark, value=0, at=250)
    staged = base.filter(
        (F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 1000)
    ).withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
    t.exchange_partition(spark, value=500, staged=staged)
    df = t.read(spark)
    return (
        df.withColumn(
            "part",
            F.when(F.col("o_orderkey") < 250, "p0a")
            .when(F.col("o_orderkey") < 500, "p0b")
            .when(F.col("o_orderkey") < 1000, "p1")
            .otherwise("p2"),
        )
        .groupBy("part")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).cast("double").alias("total"),
        )
        .orderBy("part")
    )


@register(
    "ddl_part_add_truncate",
    oracle="""
        SELECT CASE WHEN o_orderkey < 1000 THEN 'kept' ELSE 'added' END AS part,
               COUNT(*) AS n
        FROM orders
        WHERE o_orderkey >= 500 AND o_orderkey < 1500
        GROUP BY 1 ORDER BY 1
    """,
    doc="partition_append.sql — ADD PARTITION (new fileset, siblings "
    "untouched) then TRUNCATE PARTITION (manifest-only: the truncated "
    "fileset stays on disk and the pre-truncate version still reads it "
    "via time travel). Returns the surviving per-class counts.",
    tags=("ddl", "partition_lifecycle"),
)
def ddl_part_add_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    base = orders.filter(F.col("o_orderkey") < 1000)
    t = RangePartitionedTable.create(
        scratch.path(sf_dir, "part_ddl_add_trunc"),
        base,
        "o_orderkey",
        [(0, 500), (500, 1000)],
    )
    t.add_partition(1000, 1500, orders)
    t.truncate_partition(0)  # drops [0,500) from the current snapshot
    df = t.read(spark)
    return (
        df.withColumn(
            "part",
            F.when(F.col("o_orderkey") < 1000, "kept").otherwise("added"),
        )
        .groupBy("part")
        .agg(F.count("*").alias("n"))
        .orderBy("part")
    )
