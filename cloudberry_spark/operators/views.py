"""Auto-updatable views — DML routed through a simple view to its base
table (SURVEY.md §2.1 ModifyTable surface; updatable_views.sql).

Reference: PG/GPDB auto-updatable view rules live in
src/backend/rewrite/rewriteHandler.c (view_query_is_auto_updatable,
~):
a view is updatable iff it has exactly one base relation and no
DISTINCT / GROUP BY / HAVING / aggregates / window functions / set
operations / WITH / LIMIT / OFFSET / VALUES / SRFs / subquery range
tables (src/test/regress/sql/updatable_views.sql:19-31 enumerates the
read-only cases). Expression output columns (upper(b)) are allowed but
not individually updatable (:33, rw_view15); WITH CHECK OPTION (:979)
makes INSERT/UPDATE reject rows not visible through the view.

Spark realization: the view is a parsed (select-list, where) overlay on
a SnapshotTable; DML statements written against view column names are
rewritten to base-table expressions and routed to the copy-on-write
primitives in operators/dml.py — exactly PG's rewrite-to-base
approach, minus rules/triggers. Non-auto-updatable view shapes raise
NotImplementedError at definition or at the offending DML, mirroring
PG's error paths (tests/test_updatable_views.py pins each).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudberry_spark import scratch
from cloudberry_spark.catalog import load_table
from cloudberry_spark.operators.dml import (
    delete_from,
    insert_into,
    update_table,
)
from cloudberry_spark.registry import register
from cloudberry_spark.sources.snapshot import SnapshotTable
from cloudberry_spark.sql.sqltext import split_top

#: constructs that make a view read-only, per
#: rewriteHandler.c view_query_is_auto_updatable
_RO_PATTERNS = [
    (r"\bDISTINCT\b", "DISTINCT"),
    (r"\bGROUP\s+BY\b", "GROUP BY"),
    (r"\bHAVING\b", "HAVING"),
    (r"\bUNION\b|\bINTERSECT\b|\bEXCEPT\b", "set operations"),
    (r"\bOVER\s*\(", "window functions"),
    (r"\bLIMIT\b", "LIMIT"),
    (r"\bOFFSET\b", "OFFSET"),
    (r"^\s*WITH\b", "WITH"),
    (r"\b(count|sum|avg|min|max|stddev|variance)\s*\(", "aggregate functions"),
]

_VIEW_RE = re.compile(
    r"CREATE\s+VIEW\s+([A-Za-z_]\w*)\s+AS\s+SELECT\s+(.*?)\s+FROM\s+"
    r"([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)"
    r"(?:\s+WHERE\s+(.*?))?\s*(WITH\s+CHECK\s+OPTION)?\s*;?\s*$",
    re.I | re.S,
)


class UpdatableView:
    """A parsed auto-updatable view over one SnapshotTable."""

    def __init__(
        self,
        name: str,
        base: SnapshotTable,
        cols: dict[str, str],
        where: str | None,
        check_option: bool,
    ):
        self.name = name
        self.base = base
        self.cols = cols  # view col -> base expression (SQL text)
        self.where = where  # base-namespace predicate or None
        self.check_option = check_option

    # -- definition ------------------------------------------------------

    @classmethod
    def create(
        cls, spark: SparkSession, ddl: str, base: SnapshotTable
    ) -> "UpdatableView":
        body = re.sub(
            r"^\s*CREATE\s+VIEW\s+\w*\s+AS\s*", "", ddl.strip(), flags=re.I
        )
        for pat, what in _RO_PATTERNS:
            if re.search(pat, body, re.I):
                raise NotImplementedError(
                    f"view is not auto-updatable: {what} not supported "
                    "(rewriteHandler.c view_query_is_auto_updatable)"
                )
        m = _VIEW_RE.match(ddl.strip())
        if not m:
            raise NotImplementedError(
                "auto-updatable views: unsupported view shape (only "
                "CREATE VIEW v AS SELECT cols FROM one_table [WHERE "
                "qual] [WITH CHECK OPTION])"
            )
        name, sel, rels, where, check = m.groups()
        if "," in rels:
            raise NotImplementedError(
                f"view {name} is not auto-updatable: multiple base "
                "relations"
            )
        if re.search(r"\(\s*SELECT\b", sel, re.I) or re.search(
            r"\bSELECT\b", where or "", re.I
        ):
            raise NotImplementedError(
                f"view {name} is not auto-updatable: subqueries in the "
                "view definition"
            )
        cols: dict[str, str] = {}
        for it in split_top(sel):
            it = it.strip()
            am = re.match(r"(.+?)\s+AS\s+([A-Za-z_]\w*)$", it, re.I)
            if am:
                expr, out = am.group(1).strip(), am.group(2)
            elif re.fullmatch(r"[A-Za-z_]\w*", it):
                expr, out = it, it
            elif it == "*":
                for f in base.read(spark).schema.fieldNames():
                    cols[f] = f
                continue
            else:
                raise NotImplementedError(
                    f"view {name}: expression column {it!r} needs an "
                    "AS alias"
                )
            if out in cols:
                # repeated output names shadow; PG keeps both but DML
                # addressing would be ambiguous — fail loudly
                raise NotImplementedError(
                    f"view {name}: duplicate output column {out}"
                )
            cols[out] = expr
        return cls(name, base, cols, where, bool(check))

    # -- helpers ---------------------------------------------------------

    def _to_base(self, expr: str) -> str:
        """Rewrite a view-namespace SQL expression to base namespace."""

        def repl(m: re.Match) -> str:
            w = m.group(0)
            sub = self.cols.get(w) or self.cols.get(w.lower())
            return f"({sub})" if sub is not None else w

        return re.sub(r"\b[A-Za-z_]\w*\b", repl, expr)

    def _updatable_col(self, col: str) -> str:
        base_expr = self.cols.get(col)
        if base_expr is None:
            raise NotImplementedError(
                f"view {self.name} has no column {col}"
            )
        if not re.fullmatch(r"[A-Za-z_]\w*", base_expr):
            raise NotImplementedError(
                f"view {self.name}: column {col} is an expression "
                f"({base_expr}) and not updatable (updatable_views.sql "
                "rw_view15 'should fail' cases)"
            )
        return base_expr

    def _visible(self) -> F.Column:
        return (
            F.expr(self.where) if self.where else F.lit(True)
        )

    # -- reads -----------------------------------------------------------

    def read(self, spark: SparkSession) -> DataFrame:
        df = self.base.read(spark)
        if self.where:
            df = df.filter(F.expr(self.where))
        return df.select(
            *[F.expr(e).alias(c) for c, e in self.cols.items()]
        )

    # -- DML -------------------------------------------------------------

    def insert(self, spark: SparkSession, rows: DataFrame) -> None:
        """INSERT INTO view (cols...) — unmentioned base columns get
        NULL; expression columns cannot be targets."""
        base_df = self.base.read(spark)
        mapped: dict[str, F.Column] = {}
        for c in rows.columns:
            mapped[self._updatable_col(c)] = F.col(c)
        out = rows.select(
            *[
                (
                    mapped[f.name].cast(f.dataType)
                    if f.name in mapped
                    else F.lit(None).cast(f.dataType)
                ).alias(f.name)
                for f in base_df.schema.fields
            ]
        )
        if self.check_option and self.where:
            bad = out.filter(~F.coalesce(F.expr(self.where), F.lit(False)))
            if bad.limit(1).count() > 0:
                raise ValueError(
                    f"new row violates check option for view "
                    f"{self.name} (WITH CHECK OPTION)"
                )
        insert_into(spark, self.base, out)

    def update(
        self, spark: SparkSession, where: str | None, sets: dict[str, str]
    ) -> None:
        """UPDATE view SET col=expr WHERE qual — only view-visible rows
        are touched (PG applies the view qual before the DML qual)."""
        cond = self._visible()
        if where:
            cond = cond & F.expr(self._to_base(where))
        assigns = {
            self._updatable_col(c): F.expr(self._to_base(e))
            for c, e in sets.items()
        }
        if self.check_option and self.where:
            base_df = self.base.read(spark)
            probe = base_df.filter(cond)
            for bcol, expr in assigns.items():
                probe = probe.withColumn(bcol, expr)
            bad = probe.filter(
                ~F.coalesce(F.expr(self.where), F.lit(False))
            )
            if bad.limit(1).count() > 0:
                raise ValueError(
                    f"new row violates check option for view "
                    f"{self.name} (WITH CHECK OPTION)"
                )
        update_table(spark, self.base, cond, assigns)

    def delete(self, spark: SparkSession, where: str | None) -> None:
        cond = self._visible()
        if where:
            cond = cond & F.expr(self._to_base(where))
        delete_from(spark, self.base, cond)


# ---------------------------------------------------------------------------
# registered queries
# ---------------------------------------------------------------------------


def _cust_view(
    spark: SparkSession, sf_dir: str, tag: str, ddl: str
) -> UpdatableView:
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
        .filter(F.col("c_custkey") % 4 == 0)
    )
    st = SnapshotTable.init(scratch.path(sf_dir, f"dml_view_{tag}"), cust)
    return UpdatableView.create(spark, ddl, st)


_POS_VIEW = """
CREATE VIEW cust_pos AS
SELECT c_custkey AS k, c_name AS name, c_acctbal AS bal
FROM cust_base WHERE c_acctbal > 0
"""


@register(
    "dml_view_insert_simple",
    oracle="""
        WITH base AS (
            SELECT c_custkey, c_name, c_nationkey, c_acctbal
            FROM customer WHERE c_custkey % 4 = 0
        ), after_insert AS (
            SELECT c_custkey, c_name, c_acctbal FROM base
            UNION ALL
            SELECT * FROM (VALUES (1000001, 'Customer#1000001', 111.25),
                                  (1000002, 'Customer#1000002', 222.5))
                         v(c_custkey, c_name, c_acctbal)
        )
        SELECT count(*) AS n,
               CAST(sum(c_custkey) AS BIGINT) AS key_sum,
               round(sum(c_acctbal), 2) AS bal_sum
        FROM after_insert
    """,
    doc="updatable_views.sql DML-through-view, INSERT: rows written "
    "against the view's renamed columns (k, name, bal) route to base "
    "columns; unmentioned base columns (c_nationkey) become NULL — "
    "PG's rewrite-to-base path (rewriteHandler.c). Aggregated over "
    "the post-insert base table.",
    tags=("dml", "view"),
)
def dml_view_insert_simple(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _cust_view(spark, sf_dir, "ins", _POS_VIEW)
    rows = spark.createDataFrame(
        [(1000001, "Customer#1000001", 111.25),
         (1000002, "Customer#1000002", 222.5)],
        "k bigint, name string, bal double",
    )
    v.insert(spark, rows)
    return (
        v.base.read(spark)
        .agg(
            F.count("*").alias("n"),
            F.sum("c_custkey").cast("bigint").alias("key_sum"),
            F.round(F.sum("c_acctbal"), 2).alias("bal_sum"),
        )
    )


@register(
    "dml_view_update_filtered",
    oracle="""
        WITH base AS (
            SELECT c_custkey, c_name, c_nationkey, c_acctbal
            FROM customer WHERE c_custkey % 4 = 0
        ), updated AS (
            SELECT c_custkey,
                   CASE WHEN c_acctbal > 0 AND c_custkey % 10 = 0
                        THEN round(c_acctbal * 2, 2)
                        ELSE c_acctbal END AS c_acctbal
            FROM base
        )
        SELECT count(*) AS n, round(sum(c_acctbal), 2) AS bal_sum,
               round(max(c_acctbal), 2) AS bal_max
        FROM updated
    """,
    doc="updatable_views.sql DML-through-view, UPDATE: SET bal = "
    "round(bal * 2, 2) WHERE k % 10 = 0 written in VIEW column names; "
    "the view qual (c_acctbal > 0) confines the update to "
    "view-visible rows, per PG — negative-balance rows with matching "
    "keys stay untouched.",
    tags=("dml", "view"),
)
def dml_view_update_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _cust_view(spark, sf_dir, "upd", _POS_VIEW)
    v.update(spark, "k % 10 = 0", {"bal": "round(bal * 2, 2)"})
    return v.base.read(spark).agg(
        F.count("*").alias("n"),
        F.round(F.sum("c_acctbal"), 2).alias("bal_sum"),
        F.round(F.max("c_acctbal"), 2).alias("bal_max"),
    )


@register(
    "dml_view_delete_where",
    oracle="""
        WITH base AS (
            SELECT c_custkey, c_name, c_nationkey, c_acctbal
            FROM customer WHERE c_custkey % 4 = 0
        ), remaining AS (
            SELECT * FROM base
            WHERE NOT (c_acctbal > 0 AND c_custkey % 3 = 0)
        )
        SELECT count(*) AS n,
               CAST(sum(c_custkey) AS BIGINT) AS key_sum,
               round(sum(c_acctbal), 2) AS bal_sum
        FROM remaining
    """,
    doc="updatable_views.sql DML-through-view, DELETE: WHERE k % 3 = 0 "
    "against the view deletes only view-visible rows (bal > 0); "
    "negative-balance rows survive even when their key matches — the "
    "view qual composes with the DML qual, per PG.",
    tags=("dml", "view"),
)
def dml_view_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _cust_view(spark, sf_dir, "del", _POS_VIEW)
    v.delete(spark, "k % 3 = 0")
    return v.base.read(spark).agg(
        F.count("*").alias("n"),
        F.sum("c_custkey").cast("bigint").alias("key_sum"),
        F.round(F.sum("c_acctbal"), 2).alias("bal_sum"),
    )


@register(
    "dml_view_check_option",
    oracle="""
        WITH base AS (
            SELECT c_custkey, c_name, c_nationkey, c_acctbal
            FROM customer WHERE c_custkey % 4 = 0
        ), after AS (
            SELECT c_custkey, c_name, c_acctbal FROM base
            UNION ALL
            SELECT 2000001, 'Customer#2000001', 500.75
        )
        SELECT count(*) AS n, round(sum(c_acctbal), 2) AS bal_sum
        FROM after
    """,
    doc="updatable_views.sql WITH CHECK OPTION (:979): an INSERT of a "
    "row visible through the view (bal > 0) succeeds; the rejection "
    "path (negative bal raises) is pinned in "
    "tests/test_updatable_views.py.",
    tags=("dml", "view"),
)
def dml_view_check_option(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _cust_view(
        spark,
        sf_dir,
        "chk",
        _POS_VIEW.rstrip() + " WITH CHECK OPTION",
    )
    ok = spark.createDataFrame(
        [(2000001, "Customer#2000001", 500.75)],
        "k bigint, name string, bal double",
    )
    v.insert(spark, ok)
    return v.base.read(spark).agg(
        F.count("*").alias("n"),
        F.round(F.sum("c_acctbal"), 2).alias("bal_sum"),
    )


class StackedView:
    """A view over another view — the WITH LOCAL/CASCADED CHECK OPTION
    tier (updatable_views.sql:1030-1120; rewriteTargetView's
    WithCheckOption accumulation):

    * CASCADED (the bare ``WITH CHECK OPTION``): this view's qual AND
      every underlying view's qual are enforced, each violation named
      after the view whose qual failed (the -5 insert through rw_view2
      errors on "rw_view1");
    * LOCAL: this view's qual, plus underlying quals only where the
      underlying view declares its OWN option (the -10 insert lands in
      the base but outside both views).

    Columns pass through 1:1 (the battery's SELECT * shapes), so DML
    maps straight onto the bottom SnapshotTable.
    """

    def __init__(self, name: str, under, where: str | None,
                 check: str | None = None):
        self.name = name
        self.under = under  # UpdatableView | StackedView
        self.where = where  # base-namespace predicate
        self.check = check  # None | 'local' | 'cascaded'

    # -- chain helpers ---------------------------------------------------

    def _levels(self) -> list[tuple[str, str | None, str | None]]:
        """(name, where, check) from THIS view down to the bottom."""
        out = [(self.name, self.where, self.check)]
        u = self.under
        while isinstance(u, StackedView):
            out.append((u.name, u.where, u.check))
            u = u.under
        out.append((
            u.name, u.where, "cascaded" if u.check_option else None))
        return out

    def _base(self) -> SnapshotTable:
        u = self.under
        while isinstance(u, StackedView):
            u = u.under
        return u.base

    def _enforced(self) -> list[tuple[str, str]]:
        """Ordered (viewname, qual) pairs to check, BOTTOM-most first
        (PG names the deepest failing view)."""
        out: list[tuple[str, str]] = []
        cascade = False
        for name, where, check in self._levels():
            owns = check in ("local", "cascaded")
            if (owns or cascade) and where:
                out.append((name, where))
            cascade = cascade or check == "cascaded"
        return list(reversed(out))

    # -- reads / DML -----------------------------------------------------

    def read(self, spark: SparkSession) -> DataFrame:
        df = self._base().read(spark)
        for _name, where, _check in reversed(self._levels()):
            if where:
                df = df.filter(F.expr(where))
        return df

    def insert(self, spark: SparkSession, rows: DataFrame) -> None:
        base_df = self._base().read(spark)
        out = rows.select(
            *[
                (F.col(f.name).cast(f.dataType)
                 if f.name in rows.columns
                 else F.lit(None).cast(f.dataType)).alias(f.name)
                for f in base_df.schema.fields
            ]
        )
        for vname, qual in self._enforced():
            bad = out.filter(~F.coalesce(F.expr(qual), F.lit(False)))
            if bad.limit(1).count() > 0:
                raise ValueError(
                    f'new row violates check option for view "{vname}"'
                )
        insert_into(spark, self._base(), out)

    def update(self, spark: SparkSession, where: str | None,
               sets: dict[str, str]) -> None:
        cond = F.lit(True)
        for _n, q, _c in self._levels():
            if q:
                cond = cond & F.expr(q)
        if where:
            cond = cond & F.expr(where)
        assigns = {c: F.expr(e) for c, e in sets.items()}
        probe = self._base().read(spark).filter(cond)
        for c, e in assigns.items():
            probe = probe.withColumn(c, e)
        for vname, qual in self._enforced():
            bad = probe.filter(~F.coalesce(F.expr(qual), F.lit(False)))
            if bad.limit(1).count() > 0:
                raise ValueError(
                    f'new row violates check option for view "{vname}"'
                )
        update_table(spark, self._base(), cond, assigns)


def _chain_fixture(spark: SparkSession, sf_dir: str, tag: str,
                   check: str) -> "StackedView":
    st = SnapshotTable.init(
        scratch.path(sf_dir, f"uv_chain_{tag}"),
        spark.createDataFrame([], "a INT"),
    )
    v1 = UpdatableView(
        "rw_view1", st, {"a": "a"}, "a > 0", check_option=False)
    return StackedView("rw_view2", v1, "a < 10", check=check)


@register(
    "regress_uv_cascaded_chain",
    oracle="""
SELECT * FROM (VALUES
  ('insert -5',  'ERROR rw_view1'),
  ('insert 5',   'ok'),
  ('insert 15',  'ERROR rw_view2'),
  ('update -10', 'ERROR rw_view1'),
  ('update +10', 'ERROR rw_view2'),
  ('base', '5')
) t(op, outcome)
""",
    doc="updatable_views.sql:1040-1060 — implicitly CASCADED check "
        "option on a view-over-view chain: BOTH quals enforced, each "
        "violation named after the view whose qual failed (the -5 "
        "insert errors on rw_view1 even though the DML targets "
        "rw_view2); final base holds only the 5 row "
        "(expected/updatable_views.out).",
    tags=("dml", "view"),
)
def regress_uv_cascaded_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    v2 = _chain_fixture(spark, sf_dir, "casc", "cascaded")
    out = []

    def try_op(label, fn):
        try:
            fn()
            out.append((label, "ok"))
        except ValueError as ex:
            m = re.search(r'view "(\w+)"', str(ex))
            out.append((label, f"ERROR {m.group(1)}"))

    mk = lambda v: spark.createDataFrame([(v,)], "a INT")  # noqa: E731
    try_op("insert -5", lambda: v2.insert(spark, mk(-5)))
    try_op("insert 5", lambda: v2.insert(spark, mk(5)))
    try_op("insert 15", lambda: v2.insert(spark, mk(15)))
    try_op("update -10",
           lambda: v2.update(spark, None, {"a": "a - 10"}))
    try_op("update +10",
           lambda: v2.update(spark, None, {"a": "a + 10"}))
    base = [str(r.a) for r in
            v2._base().read(spark).orderBy("a").collect()]
    out.append(("base", ",".join(base)))
    return spark.createDataFrame(out, "op STRING, outcome STRING")


@register(
    "regress_uv_local_chain",
    oracle="""
SELECT * FROM (VALUES
  ('insert -10', 'ok'),
  ('insert 20',  'ERROR rw_view2'),
  ('base', '-10')
) t(op, outcome)
""",
    doc="updatable_views.sql:1062-1075 — LOCAL check option: only "
        "rw_view2's own qual is enforced (rw_view1 declares none), so "
        "the -10 insert succeeds and lands in the base OUTSIDE both "
        "views; 20 still violates rw_view2.",
    tags=("dml", "view"),
)
def regress_uv_local_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    v2 = _chain_fixture(spark, sf_dir, "local", "local")
    out = []
    try:
        v2.insert(spark, spark.createDataFrame([(-10,)], "a INT"))
        out.append(("insert -10", "ok"))
    except ValueError as ex:
        m = re.search(r'view "(\w+)"', str(ex))
        out.append(("insert -10", f"ERROR {m.group(1)}"))
    try:
        v2.insert(spark, spark.createDataFrame([(20,)], "a INT"))
        out.append(("insert 20", "ok"))
    except ValueError as ex:
        m = re.search(r'view "(\w+)"', str(ex))
        out.append(("insert 20", f"ERROR {m.group(1)}"))
    base = [str(r.a) for r in
            v2._base().read(spark).orderBy("a").collect()]
    out.append(("base", ",".join(base)))
    return spark.createDataFrame(out, "op STRING, outcome STRING")
