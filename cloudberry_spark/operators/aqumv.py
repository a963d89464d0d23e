"""AQUMV — answer-query-using-materialized-view, the general rewriter.

Reference: the reference's planner feature (optimizer/plan/aqumv.c,
GUC enable_answer_query_using_materialized_views) exercised by
src/test/regress/sql/aqumv.sql (982 lines): given a materialized view
``SELECT exprs FROM base WHERE preds`` and a user query over the same
base table, substitute the (tiny) matview for the (huge) base relation
whenever

1. **predicate containment** — every MV predicate conjunct is matched
   by some query conjunct (so the MV misses no required row), matched
   at Catalyst-canonicalized level (commuted comparisons unify:
   ``c1 > 5`` == ``5 < c1``); and
2. **derivability** — every query expression (projection, residual
   qual, group key, aggregate argument, HAVING, ORDER BY) can be
   rebuilt from the MV's target list: stored expression subtrees are
   substituted longest-first by their MV columns (aqumv.c's
   target-list walk), bare base columns map through stored column
   aliases, and anything left referencing the base relation rejects
   the MV.

Residual query conjuncts beyond the MV's become post-quals on the MV
(aqumv.sql's post_quals tier); aggregates/GROUP BY/ROLLUP/CUBE/HAVING
apply above the substituted relation (its agg tiers). Among several
valid candidates the rewriter keeps the one whose predicate set
matches the query's most tightly (its candidate tier).

Spark-first: expression equivalence is decided by Catalyst itself —
each expression is resolved against the base view and compared via
``canonicalized`` (predicates) or rewritten through resolved ``.sql()``
text (projections), so the matcher inherits Spark's own cast
insertion and operator normalization rather than re-implementing a
parser. The answered DataFrame scans ONLY the matview parquet — at
100 TB that is the difference between reading KBs and the fact table
(plan-pinned in tests/test_plans.py::test_aqumv_answers_from_mv).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from cloudberry_spark.sql.sqltext import (
    CONSTRUCTS,
    EXPR,
    GroupItem,
    group_items,
    split_top,
)


def _analyzed_exprs(df: DataFrame):
    return df._jdf.queryExecution().analyzed().expressions()


def _resolve(spark: SparkSession, rel: str, expr: str):
    """Resolve one expression against relation ``rel``; return the
    analyzed child (unwrapping the alias)."""
    df = spark.sql(f"SELECT ({expr}) AS __e FROM {rel}")
    return _analyzed_exprs(df).apply(0).child()


def canon_key(spark: SparkSession, rel: str, expr: str) -> str:
    """Catalyst-canonicalized identity of ``expr`` over ``rel``."""
    return _resolve(spark, rel, expr).canonicalized().toString()


def resolved_sql(spark: SparkSession, rel: str, expr: str) -> str:
    """Deterministic resolved SQL text of ``expr`` over ``rel``."""
    return _resolve(spark, rel, expr).sql()


class NotAnswerable(Exception):
    """The query cannot be answered from any registered matview."""


@dataclass
class MatView:
    """One materialized view over a base relation."""

    name: str
    select: list[tuple[str, str]]          # (mv_col, base_expr_sql)
    where: list[str]                       # conjuncts over the base
    df: DataFrame
    #: resolved-sql of each stored expr -> mv column (longest first)
    _subst: list[tuple[str, str]] = field(default_factory=list)
    _pred_keys: set[str] = field(default_factory=set)

    def bind(self, spark: SparkSession, rel: str) -> None:
        pairs = []
        for c, e in self.select:
            resolved = _resolve(spark, rel, e)
            # variable-free stored exprs (constants, sqrt(100)) are
            # trivially recomputable and their resolved text ("1")
            # substring-matches everywhere — never substitute them
            if resolved.references().isEmpty():
                continue
            pairs.append((resolved.sql(), c))
        self._subst = sorted(pairs, key=lambda p: -len(p[0]))
        self._pred_keys = {canon_key(spark, rel, p) for p in self.where}


class AqumvCatalog:
    """Registered matviews over one base relation + the rewriter."""

    def __init__(self, spark: SparkSession, base: DataFrame, rel: str):
        self.spark = spark
        self.rel = rel
        base.createOrReplaceTempView(rel)
        self.mvs: list[MatView] = []

    def create_mv(self, name: str, select: list[tuple[str, str]],
                  where: list[str], path: str) -> MatView:
        proj = ", ".join(f"({e}) AS {c}" for c, e in select)
        cond = " AND ".join(f"({p})" for p in where) or "true"
        self.spark.sql(
            f"SELECT {proj} FROM {self.rel} WHERE {cond}"
        ).write.mode("overwrite").parquet(path)
        mv = MatView(name, select, where, self.spark.read.parquet(path))
        mv.bind(self.spark, self.rel)
        self.mvs.append(mv)
        return mv

    # -- the rewrite ------------------------------------------------------

    def _rewrite_expr(self, mv: MatView, expr: str) -> str:
        """Rebuild ``expr`` over the MV's columns, or raise."""
        text = resolved_sql(self.spark, self.rel, expr)
        for stored_sql, mv_col in mv._subst:
            text = text.replace(stored_sql, mv_col)
        # validate: parses over the MV and references only its columns
        try:
            probe = mv.df.selectExpr(f"({text}) AS __p")
            refs = probe._jdf.queryExecution().analyzed().expressions() \
                .apply(0).references().toSeq()
            names = {refs.apply(i).name() for i in range(refs.size())}
        except Exception as exc:  # unparseable after substitution
            raise NotAnswerable(f"{expr!r}: {exc}") from exc
        missing = names - {c for c, _ in mv.select}
        if missing:
            raise NotAnswerable(
                f"{expr!r} still references base columns {missing} "
                f"not stored in {mv.name}"
            )
        return text

    def _match(self, mv: MatView, where: list[str]) -> list[str] | None:
        """Return residual query conjuncts if MV predicates are
        contained in the query's; None if the MV is unusable."""
        residual = []
        q_keys = {}
        for p in where:
            q_keys[canon_key(self.spark, self.rel, p)] = p
        if not mv._pred_keys <= set(q_keys):
            return None  # MV may be missing rows the query needs
        for key, p in q_keys.items():
            if key not in mv._pred_keys:
                residual.append(p)
        return residual

    def answer(
        self,
        select: list[tuple[str, str]],
        where: list[str] = (),
        group_by: str | None = None,
        having: str | None = None,
        order_by: str | None = None,
        limit: int | None = None,
    ) -> DataFrame:
        """Answer the query from the best matching matview.

        ``select`` is (alias, expr) over the BASE table; ``group_by``
        may be a plain list, ``GROUPING SETS(...)``, ``ROLLUP(...)``
        or ``CUBE(...)`` text; all texts are in base-table terms and
        are rewritten into MV terms.
        """
        where = list(where)
        best: tuple[int, MatView, list[str]] | None = None
        errors = []
        for mv in self.mvs:
            residual = self._match(mv, where)
            if residual is None:
                errors.append(f"{mv.name}: predicates not contained")
                continue
            try:
                probe_exprs = [e for _, e in select]
                probe_exprs += residual
                if group_by:
                    probe_exprs.append(
                        _strip_grouping(group_by)
                    )
                for e in probe_exprs:
                    for part in filter(None, map(str.strip, split_top(e))):
                        self._rewrite_expr(mv, part)
            except NotAnswerable as exc:
                errors.append(str(exc))
                continue
            # tightness: more matched (= fewer residual) conjuncts wins,
            # then fewer stored columns (narrower MV)
            score = (len(residual), len(mv.select))
            if best is None or score < (best[0], len(best[1].select)):
                best = (len(residual), mv, residual)
        if best is None:
            raise NotAnswerable("; ".join(errors))
        _, mv, residual = best

        def rw(e: str) -> str:
            return ", ".join(
                self._rewrite_expr(mv, p)
                for p in filter(None, map(str.strip, split_top(e)))
            )

        proj = ", ".join(f"{rw(e)} AS {a}" for a, e in select)
        mv.df.createOrReplaceTempView(f"__aqumv_{mv.name}")
        sql = [f"SELECT {proj} FROM __aqumv_{mv.name}"]
        if residual:
            sql.append(
                "WHERE " + " AND ".join(f"({rw(p)})" for p in residual)
            )
        if group_by:
            sql.append("GROUP BY " + _rewrite_grouping(group_by, rw))
        if having:
            sql.append(f"HAVING ({rw(having)})")
        if order_by:
            items = []
            for it in filter(None, map(str.strip, split_top(order_by))):
                expr_part, _, suffix = _split_order_item(it)
                items.append((rw(expr_part) + " " + suffix).strip())
            sql.append("ORDER BY " + ", ".join(items))
        if limit is not None:
            sql.append(f"LIMIT {limit}")
        return self.spark.sql("\n".join(sql))


def _split_order_item(item: str) -> tuple[str, None, str]:
    """Split one ORDER BY item into (expression, None, direction
    suffix) — ASC/DESC/NULLS FIRST|LAST are keywords, not part of the
    rewritable expression."""
    import re

    m = re.match(
        r"(.*?)((?:\s+(?:ASC|DESC))?(?:\s+NULLS\s+(?:FIRST|LAST))?)\s*$",
        item.strip(), flags=re.I | re.S,
    )
    return m.group(1).strip(), None, m.group(2).strip()


def _strip_grouping(group_by: str) -> str:
    """The flat item list of a grouping clause (plain / GROUPING SETS /
    ROLLUP / CUBE) — for derivability probing."""
    return ", ".join(e for it in group_items(group_by) for e in it.exprs())


def _rewrite_grouping(group_by: str, rw) -> str:
    """Rewrite a grouping clause (plain / GROUPING SETS / ROLLUP /
    CUBE) item by item, preserving structure."""

    def one(it: GroupItem) -> str:
        if it.kind in CONSTRUCTS:
            return f"{it.kind}({', '.join(map(one, it.args))})"
        if it.kind == EXPR:
            return rw(it.text)
        return "(" + rw(", ".join(it.members)) + ")"

    return ", ".join(map(one, group_items(group_by)))
