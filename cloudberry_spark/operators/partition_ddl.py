"""Partition lifecycle DDL — ADD / SPLIT / EXCHANGE / TRUNCATE PARTITION.

Reference: src/test/regress/sql/partition.sql (ALTER TABLE ... EXCHANGE
PARTITION FOR(v) WITH TABLE t at :77-131, SPLIT PARTITION FOR (v) AT (x)
INTO (a, b) at :141) and partition_append.sql — Greenplum's partition
lifecycle over range-partitioned heaps, where every operation is
metadata surgery on the partition catalog plus (for SPLIT only) a
rewrite of the ONE affected leaf; sibling leaves are never touched
(cdbpartition.c).

Spark-first analog: a range-partitioned lakehouse table whose manifest
maps each range [lo, hi) to an immutable parquet fileset dir, riding
SnapshotTable's optimistic-commit protocol (sources/snapshot.py). The
operations preserve the reference's cost model exactly:

- ADD:      one new dir written + a manifest commit; siblings untouched.
- EXCHANGE: the staged table's fileset becomes the partition's dir, the
            old dir is returned as a standalone table (PG swaps the two
            relfilenodes); zero data rewritten beyond the staged write.
- SPLIT:    the one affected dir is re-read and written as two dirs
            filtered at the split point; siblings byte-identical.
- TRUNCATE: manifest drops the dir — catalog-only; the files stay on
            disk for old-version readers (time travel) until vacuum,
            like PG keeping the old relfilenode until commit.

Readers prune at the manifest: a key predicate resolves to the covering
range dirs only (the planner-level PartitionSelector analog — at 100 TB
a point lookup opens one fileset, never the table).

tests/test_partition_ddl.py pins the untouched-siblings, catalog-only
truncate, and time-travel properties at the filesystem level.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudberry_spark import scratch
from cloudberry_spark.catalog import load_table
from cloudberry_spark.registry import register
from cloudberry_spark.sources.snapshot import SnapshotTable, _schema_after


class RangePartitionedTable:
    """Range partitioning [lo, hi) on one integer key over a
    SnapshotTable manifest: each manifest dir is ``part-<lo>_<hi>-v<n>``.
    """

    def __init__(self, st: SnapshotTable, key: str):
        self.st = st
        self.key = key

    # -- helpers --------------------------------------------------------

    @staticmethod
    def _dirname(lo: int, hi: int, version: int) -> str:
        return f"part-{lo}_{hi}-v{version}"

    _DIR_RE = re.compile(r"^part-(-?\d+)_(-?\d+)-v\d+$")

    @classmethod
    def _bounds(cls, d: str) -> tuple[int, int]:
        m = cls._DIR_RE.match(d)
        if not m:
            raise ValueError(f"unparseable partition dir name: {d!r}")
        return int(m.group(1)), int(m.group(2))

    def _parts(self) -> dict[tuple[int, int], str]:
        return {self._bounds(d): d for d in self.st.manifest()["dirs"]}

    def _commit(self, dirs: list[str], base: int, *written: DataFrame) -> None:
        """Commit ``dirs`` as version base+1; ``written`` are the frames
        this change wrote its new filesets from."""
        schema = _schema_after(self.st.manifest(base), written)
        self.st._write_manifest(
            base + 1, parent=base, dirs=sorted(dirs), schema=schema
        )
        self.st._flip(base + 1)

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
        routes the seed rows to one fileset per declared range; rows
        outside every range are rejected implicitly (no default)."""
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        st = SnapshotTable(root)
        os.makedirs(st._manifest_dir, exist_ok=True)
        dirs = []
        for lo, hi in bounds:
            d = cls._dirname(lo, hi, 0)
            df.filter((F.col(key) >= lo) & (F.col(key) < hi)).write.mode(
                "overwrite"
            ).parquet(os.path.join(root, d))
            dirs.append(d)
        st._write_manifest(
            0, parent=None, dirs=sorted(dirs), schema=df.schema.jsonValue()
        )
        st._flip(0)
        return cls(st, key)

    def read(self, spark: SparkSession) -> DataFrame:
        return self.st.read(spark)

    def read_pruned(self, spark: SparkSession, value: int) -> DataFrame:
        """Point read: opens ONLY the covering range's fileset (manifest
        pruning — the PartitionSelector analog)."""
        for (lo, hi), d in self._parts().items():
            if lo <= value < hi:
                return self.st.read(spark, dirs=[d])
        raise KeyError(f"no partition covers {value}")

    def add_partition(self, lo: int, hi: int, df: DataFrame) -> None:
        """ALTER TABLE ... ADD PARTITION START(lo) END(hi): new fileset +
        manifest commit; overlap with an existing range is an error (PG
        overlapping-partition check)."""
        base = self.st.current_version()
        parts = self._parts()
        for plo, phi in parts:
            if lo < phi and plo < hi:
                raise ValueError(
                    f"partition [{lo},{hi}) overlaps existing [{plo},{phi})"
                )
        d = self._dirname(lo, hi, base + 1)
        df.filter((F.col(self.key) >= lo) & (F.col(self.key) < hi)).write.mode(
            "overwrite"
        ).parquet(os.path.join(self.st.root, d))
        self._commit(list(parts.values()) + [d], base, df)

    def exchange_partition(
        self, spark: SparkSession, value: int, staged: DataFrame
    ) -> DataFrame:
        """ALTER TABLE ... EXCHANGE PARTITION FOR(value) WITH TABLE s
        (partition.sql:77-131): the staged rows become the partition;
        the displaced rows are RETURNED as the standalone table (PG
        swaps relfilenodes both ways). Rows in the staged table outside
        the partition's range are a validation error."""
        base = self.st.current_version()
        parts = self._parts()
        for (lo, hi), d in parts.items():
            if lo <= value < hi:
                bad = staged.filter(
                    (F.col(self.key) < lo) | (F.col(self.key) >= hi)
                ).count()
                if bad:
                    raise ValueError(
                        f"{bad} staged rows violate range [{lo},{hi}) "
                        "(PG exchange validation scan)"
                    )
                # the displaced fileset is immutable and survives the
                # commit (time travel), so a lazy reader over it is safe
                old = self.st.read(spark, base, dirs=[d])
                nd = self._dirname(lo, hi, base + 1)
                staged.write.mode("overwrite").parquet(
                    os.path.join(self.st.root, nd)
                )
                dirs = [x for x in parts.values() if x != d] + [nd]
                self._commit(dirs, base, staged)
                return old
        raise KeyError(f"no partition covers {value}")

    def split_partition(self, spark: SparkSession, value: int, at: int) -> None:
        """ALTER TABLE ... SPLIT PARTITION FOR(value) AT (at) INTO (a, b)
        (partition.sql:141): rewrite the ONE covering fileset into
        [lo, at) and [at, hi); every sibling fileset is untouched."""
        base = self.st.current_version()
        parts = self._parts()
        for (lo, hi), d in parts.items():
            if lo <= value < hi:
                if not (lo < at < hi):
                    raise ValueError(f"split point {at} outside ({lo},{hi})")
                src = self.st.read(spark, base, dirs=[d])
                d1 = self._dirname(lo, at, base + 1)
                d2 = self._dirname(at, hi, base + 1)
                src.filter(F.col(self.key) < at).write.mode("overwrite").parquet(
                    os.path.join(self.st.root, d1)
                )
                src.filter(F.col(self.key) >= at).write.mode(
                    "overwrite"
                ).parquet(os.path.join(self.st.root, d2))
                dirs = [x for x in parts.values() if x != d] + [d1, d2]
                self._commit(dirs, base, src)
                return
        raise KeyError(f"no partition covers {value}")

    def truncate_partition(self, value: int) -> None:
        """ALTER TABLE ... TRUNCATE PARTITION FOR(value): manifest-only —
        the dir leaves the current snapshot but stays on disk for
        time-travel readers (vacuum reclaims it later)."""
        base = self.st.current_version()
        parts = self._parts()
        for (lo, hi), d in parts.items():
            if lo <= value < hi:
                dirs = [x for x in parts.values() if x != d]
                if not dirs:
                    raise ValueError("cannot truncate the only partition")
                self._commit(dirs, base)
                return
        raise KeyError(f"no partition covers {value}")




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
