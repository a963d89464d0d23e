"""Table inheritance — INHERITS hierarchies, ONLY scans, DML routing.

Reference: src/test/regress/sql/inherit.sql (1,122 lines;
backend/catalog/heap.c + optimizer/util/inherit.c): a child table
extends its parents' column sets, a parent scan includes every
descendant's rows exactly once (even through diamond multi-parent
paths — d INHERITS (b, c, a) appears ONCE in a's scan), ``ONLY``
restricts to the named table, ``tableoid`` exposes which physical
table each row lives in, and UPDATE/DELETE against a parent route to
every descendant unless ONLY.

Spark-first: each table in the hierarchy is its own snapshot table
(sources/snapshot.py); a scan is the union of the (deduplicated)
descendant tables' current snapshots projected to the scanned table's
column set with a ``relname`` provenance literal per branch — Catalyst
prunes unreferenced branches and the union reads stay
partition-parallel per table. DML is the snapshot DML of
operators/dml.py on each affected table: INSERT an append commit,
UPDATE a conditional-projection rewrite, DELETE an anti-filter rewrite
— no row-at-a-time driver work at any scale.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudberry_spark.operators.dml import delete_from, insert_into, update_table
from cloudberry_spark.sources.snapshot import SnapshotTable


@dataclass
class InhTable:
    name: str
    columns: list[str]          # full column set (inherited + own)
    parents: list[str]
    st: SnapshotTable


@dataclass
class InheritanceCatalog:
    spark: SparkSession
    base: str
    tables: dict[str, InhTable] = field(default_factory=dict)

    def __post_init__(self) -> None:
        shutil.rmtree(self.base, ignore_errors=True)

    # -- DDL ---------------------------------------------------------------

    def create(self, name: str, own_cols: list[str],
               parents: list[str] = ()) -> None:
        cols: list[str] = []
        for p in parents:
            for c in self.tables[p].columns:
                if c not in cols:
                    cols.append(c)
        for c in own_cols:
            if c not in cols:
                cols.append(c)
        # empty table with the full schema (all STRING for the battery)
        schema = ", ".join(f"{c} STRING" for c in cols)
        st = SnapshotTable.init(
            os.path.join(self.base, name),
            self.spark.createDataFrame([], schema=schema),
        )
        self.tables[name] = InhTable(name, cols, list(parents), st)

    def _children(self, name: str) -> list[str]:
        return [t.name for t in self.tables.values() if name in t.parents]

    def descendants(self, name: str) -> list[str]:
        """name plus every descendant, each once (diamond paths dedup
        — PG scans each physical relation a single time)."""
        seen: list[str] = []

        def walk(n: str) -> None:
            if n in seen:
                return
            seen.append(n)
            for c in self._children(n):
                walk(c)

        walk(name)
        return seen

    # -- DML ---------------------------------------------------------------

    def insert(self, name: str, col: str, values: list[str]) -> None:
        t = self.tables[name]
        df = self.spark.createDataFrame(
            [(v,) for v in values], schema=f"{col} STRING"
        )
        full = df.select(
            *[
                F.col(c) if c == col else F.lit(None).cast("string").alias(c)
                for c in t.columns
            ]
        )
        insert_into(self.spark, t.st, full)

    def update(self, name: str, set_exprs: dict[str, str],
               where: str | None = None, only: bool = False) -> None:
        sets = {c: F.expr(e) for c, e in set_exprs.items()}
        for tn in [name] if only else self.descendants(name):
            update_table(self.spark, self.tables[tn].st, F.expr(where or "true"), sets)

    def delete(self, name: str, where: str | None = None,
               only: bool = False) -> None:
        for tn in [name] if only else self.descendants(name):
            delete_from(self.spark, self.tables[tn].st, F.expr(where or "true"))

    # -- scans ---------------------------------------------------------

    def scan(self, name: str, only: bool = False) -> DataFrame:
        """SELECT relname (tableoid provenance), <cols of name> FROM
        [ONLY] name."""
        t = self.tables[name]
        parts = []
        for tn in ([name] if only else self.descendants(name)):
            src = self.tables[tn].st.read(self.spark)
            parts.append(
                src.select(
                    F.lit(tn).alias("relname"),
                    *[F.col(c) for c in t.columns],
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        return out
