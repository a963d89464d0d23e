"""merge.sql ports: full PG MERGE semantics over SnapshotTable.

Reference: src/test/regress/sql/merge.sql (1,713 lines, 124 MERGE
statements; expected/merge.out) — PG15's MERGE battery as adopted by
the reference. The happy-path block families are registered below as
``regress_merge_*`` queries whose ORACLES are the literal rows from
the reference's own expected/merge.out (cited per block), so the
driver hash-verifies direct reference parity. Error-surface blocks
(duplicate source match, target refs in NOT MATCHED) are pinned in
tests/test_merge_pg.py.

``merge_pg`` generalizes operators/dml.py's merge_into_multi to the
full statement shape (nodeModifyTable.c ExecMerge):

- ordered WHEN clause list mixing MATCHED and NOT MATCHED kinds;
- AND-qualifiers on any clause (first passing clause fires; a NULL
  qualifier does not fire — the row falls through);
- actions: UPDATE SET (expressions over t/s), DELETE, DO NOTHING,
  INSERT (VALUES / column list / DEFAULT fill);
- the "MERGE command cannot affect row a second time" error when two
  firing source rows hit one target row (ExecMergeMatched's
  TM_SelfModified case) — detected with one aggregation over the
  firing pairs, not a row-by-row check.

Scale shape: ONE inner join on the merge condition for the matched
side, one anti join for the insert side, one anti join for untouched
target rows — all on the same key, so a cluster plans a single
shuffle of each input (the reference motions source rows to target
segments identically). The clause logic is row-local projections.
The target-row identity column is a monotonically_increasing_id
pinned by a persist; at warehouse scale the file+offset provenance
(_metadata, sources/external.scan_file_metadata) plays this role.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudberry_spark import scratch
from cloudberry_spark.registry import register
from cloudberry_spark.sources.snapshot import SnapshotTable

#: WHEN clause: (kind, qualifier SQL over t/s or None, action).
#: action: "delete" | "do_nothing" | ("update", {col: sql_expr})
#:         | ("insert", {col: sql_expr})
When = tuple


class MergeCardinalityError(ValueError):
    """PG: MERGE command cannot affect row a second time."""


def merge_pg(
    spark: SparkSession,
    table: SnapshotTable,
    source: DataFrame,
    on: str,
    whens: list[When],
    defaults: dict[str, str] | None = None,
) -> None:
    """Execute one MERGE statement with PG clause semantics (see
    module docstring). ``on`` and every qualifier/assignment are SQL
    expressions over aliases ``t`` (target) and ``s`` (source)."""
    base = table.current_version()
    tgt = table.read(spark, base)
    tcols = tgt.columns
    ttypes = {f.name: f.dataType for f in tgt.schema.fields}
    t = tgt.withColumn("__tid", F.monotonically_increasing_id()).alias("t")
    t = t.persist()
    t.count()  # pin ids before reuse across branches
    try:
        s = source.alias("s")
        cond = F.expr(on)

        m_whens = [(q, a) for k, q, a in whens if k == "matched"]
        nm_whens = [(q, a) for k, q, a in whens if k == "not_matched"]

        # ---- matched side: one inner join, first-match-wins index ----
        pairs = t.join(s, cond, "inner")
        fire = None
        for i, (q, _a) in enumerate(m_whens, 1):
            c = (
                F.lit(True)
                if q is None
                else F.coalesce(F.expr(q), F.lit(False))
            )
            fire = F.when(c, F.lit(i)) if fire is None else fire.when(c, F.lit(i))
        fire_idx = fire.otherwise(F.lit(0)) if fire is not None else F.lit(0)
        firing = pairs.withColumn("__fidx", fire_idx).filter(
            F.col("__fidx") > 0
        )
        firing = firing.persist()
        if m_whens:
            dup = (
                firing.groupBy("__tid").count().filter("count > 1").limit(1)
            )
            if dup.count() > 0:
                raise MergeCardinalityError(
                    "MERGE command cannot affect row a second time"
                )

        parts: list[DataFrame] = []
        for i, (_q, a) in enumerate(m_whens, 1):
            if a == "delete":
                continue
            sub = firing.filter(F.col("__fidx") == i)
            if a == "do_nothing":
                parts.append(
                    sub.select(*[F.col(f"t.{c}").alias(c) for c in tcols])
                )
            else:
                _, sets = a
                parts.append(
                    sub.select(
                        *[
                            (
                                F.expr(sets[c]).cast(ttypes[c])
                                if c in sets
                                else F.col(f"t.{c}")
                            ).alias(c)
                            for c in tcols
                        ]
                    )
                )

        untouched = t.join(
            firing.select("t.__tid").withColumnRenamed("__tid", "__fid"),
            F.col("t.__tid") == F.col("__fid"),
            "left_anti",
        ).select(*tcols)

        # ---- not-matched side: anti join + first-match-wins ----
        inserts: list[DataFrame] = []
        if nm_whens:
            remaining = s.join(t, cond, "left_anti")
            for q, a in nm_whens:
                c = (
                    F.lit(True)
                    if q is None
                    else F.coalesce(F.expr(q), F.lit(False))
                )
                take = remaining.filter(c)
                remaining = remaining.filter(~c)
                if a == "do_nothing":
                    continue
                _, vals = a
                dflt = defaults or {}
                inserts.append(
                    take.select(
                        *[
                            (
                                F.expr(vals[c])
                                if c in vals
                                else (
                                    F.expr(dflt[c])
                                    if c in dflt
                                    else F.lit(None)
                                )
                            )
                            .cast(ttypes[c])
                            .alias(c)
                            for c in tcols
                        ]
                    )
                )

        out = untouched
        for p in parts + inserts:
            out = out.unionByName(p)
        table.commit_rewrite(out, base, label="merge")
    finally:
        t.unpersist()


# ---------------------------------------------------------------------------
# merge.sql fixtures: target (1,10)(2,20)(3,30); source (2,5)(3,20)(4,40)
# (state after merge.sql:254-255,336 — the battery's working set)
# ---------------------------------------------------------------------------

_TGT = [(1, 10), (2, 20), (3, 30)]
_SRC = [(2, 5), (3, 20), (4, 40)]


def _setup(spark: SparkSession, sf_dir: str, tag: str,
           tgt_rows=None, src_rows=None):
    t = spark.createDataFrame(tgt_rows or _TGT, "tid int, balance int")
    s = spark.createDataFrame(src_rows or _SRC, "sid int, delta int")
    st = SnapshotTable.init(scratch.path(sf_dir, f"merge_{tag}"), t)
    return st, s


def _out(st: SnapshotTable, spark: SparkSession) -> DataFrame:
    return st.read(spark).orderBy("tid")


def _reg(name: str, expected: str, doc: str, extra_tags: tuple = ()):
    """expected: DuckDB VALUES literal copied from expected/merge.out."""

    def deco(fn):
        @register(name, oracle=expected, doc=doc,
                  tags=("regress", "merge") + extra_tags)
        def _q(spark: SparkSession, sf_dir: str) -> DataFrame:
            return fn(spark, sf_dir)

        _q.__name__ = name
        return fn

    return deco


@_reg(
    "regress_merge_update_join",
    "SELECT * FROM (VALUES (1, 10), (2, 0), (3, 0)) AS t(tid, balance)"
    " ORDER BY tid",
    "merge.sql:260-266 (equivalent of an UPDATE join): WHEN MATCHED "
    "UPDATE SET balance = 0. Expected merge.out:363-369.",
)
def _m_update_join(spark, sf_dir):
    st, s = _setup(spark, sf_dir, "upd_join")
    merge_pg(spark, st, s, "t.tid = s.sid",
             [("matched", None, ("update", {"balance": "0"}))])
    return _out(st, spark)


@_reg(
    "regress_merge_delete_join",
    "SELECT * FROM (VALUES (1, 10)) AS t(tid, balance) ORDER BY tid",
    "merge.sql:270-276 (equivalent of a DELETE join): WHEN MATCHED "
    "DELETE. Expected merge.out:379-383.",
)
def _m_delete_join(spark, sf_dir):
    st, s = _setup(spark, sf_dir, "del_join")
    merge_pg(spark, st, s, "t.tid = s.sid", [("matched", None, "delete")])
    return _out(st, spark)


@_reg(
    "regress_merge_do_nothing",
    "SELECT * FROM (VALUES (1, 10), (2, 20), (3, 30)) AS t(tid, balance)"
    " ORDER BY tid",
    "merge.sql:279-285: WHEN MATCHED DO NOTHING leaves every row "
    "intact. Expected merge.out:392-398.",
)
def _m_do_nothing(spark, sf_dir):
    st, s = _setup(spark, sf_dir, "do_nothing")
    merge_pg(spark, st, s, "t.tid = s.sid",
             [("matched", None, "do_nothing")])
    return _out(st, spark)


@_reg(
    "regress_merge_insert_const",
    "SELECT * FROM (VALUES (1, 10), (2, 20), (3, 30),"
    " (4, CAST(NULL AS INT))) AS t(tid, balance) ORDER BY tid",
    "merge.sql:288-294: WHEN NOT MATCHED INSERT VALUES (4, NULL) — "
    "constant insert for the one unmatched source row. Expected "
    "merge.out:407-414.",
)
def _m_insert_const(spark, sf_dir):
    st, s = _setup(spark, sf_dir, "ins_const")
    merge_pg(spark, st, s, "t.tid = s.sid",
             [("not_matched", None,
               ("insert", {"tid": "4", "balance": "CAST(NULL AS INT)"}))])
    return _out(st, spark)


@_reg(
    "regress_merge_multi_action",
    "SELECT * FROM (VALUES (1, 10), (2, 0), (3, 0), (4, 4))"
    " AS t(tid, balance) ORDER BY tid",
    "merge.sql:345-353 (multiple actions): NOT MATCHED INSERT (4,4) + "
    "MATCHED UPDATE SET balance = 0, and the clause-order-swapped "
    "twin is equivalent. Expected merge.out:511-524.",
)
def _m_multi_action(spark, sf_dir):
    st, s = _setup(spark, sf_dir, "multi_act")
    merge_pg(spark, st, s, "t.tid = s.sid", [
        ("not_matched", None, ("insert", {"tid": "4", "balance": "4"})),
        ("matched", None, ("update", {"balance": "0"})),
    ])
    return _out(st, spark)


@_reg(
    "regress_merge_update_expr",
    "SELECT * FROM (VALUES (1, 10), (2, 25), (3, 50))"
    " AS t(tid, balance) ORDER BY tid",
    "merge.sql:370-376 (column references): UPDATE SET balance = "
    "t.balance + s.delta. Expected merge.out:548-554.",
)
def _m_update_expr(spark, sf_dir):
    st, s = _setup(spark, sf_dir, "upd_expr")
    merge_pg(spark, st, s, "t.tid = s.sid",
             [("matched", None,
               ("update", {"balance": "t.balance + s.delta"}))])
    return _out(st, spark)


@_reg(
    "regress_merge_insert_select",
    "SELECT * FROM (VALUES (1, 10), (2, 20), (3, 30), (4, 40))"
    " AS t(tid, balance) ORDER BY tid",
    "merge.sql:380-386 (equivalent of an INSERT SELECT): NOT MATCHED "
    "INSERT VALUES (s.sid, s.delta). Expected merge.out:564-571.",
)
def _m_insert_select(spark, sf_dir):
    st, s = _setup(spark, sf_dir, "ins_sel")
    merge_pg(spark, st, s, "t.tid = s.sid",
             [("not_matched", None,
               ("insert", {"tid": "s.sid", "balance": "s.delta"}))])
    return _out(st, spark)


@_reg(
    "regress_merge_insert_dup_sources",
    "SELECT * FROM (VALUES (1, 10), (2, 20), (3, 30), (4, 40),"
    " (5, 50), (5, 50)) AS t(tid, balance) ORDER BY tid",
    "merge.sql:390-400: duplicate NOT MATCHED source rows both insert "
    "(cardinality error applies only to MATCHED). Expected "
    "merge.out:585-594.",
)
def _m_insert_dups(spark, sf_dir):
    st, s = _setup(spark, sf_dir, "ins_dups",
                   src_rows=_SRC + [(5, 50), (5, 50)])
    merge_pg(spark, st, s, "t.tid = s.sid",
             [("not_matched", None,
               ("insert", {"tid": "s.sid", "balance": "s.delta"}))])
    return _out(st, spark)


@_reg(
    "regress_merge_insert_collist",
    "SELECT * FROM (VALUES (1, 10), (2, 20), (3, 30), (4, 40))"
    " AS t(tid, balance) ORDER BY tid",
    "merge.sql:406-412: INSERT with an explicit column list "
    "(tid, balance) VALUES (s.sid, s.delta). Expected "
    "merge.out:605-612.",
)
def _m_insert_collist(spark, sf_dir):
    st, s = _setup(spark, sf_dir, "ins_collist")
    merge_pg(spark, st, s, "t.tid = s.sid",
             [("not_matched", None,
               ("insert", {"tid": "s.sid", "balance": "s.delta"}))])
    return _out(st, spark)


@_reg(
    "regress_merge_upsert_classic",
    "SELECT * FROM (VALUES (1, 10), (2, 25), (3, 50), (4, 40))"
    " AS t(tid, balance) ORDER BY tid",
    "merge.sql:433-441 (the classic UPSERT): MATCHED UPDATE balance "
    "+= delta, NOT MATCHED INSERT (s.sid, s.delta). Expected "
    "merge.out:636-643.",
)
def _m_upsert(spark, sf_dir):
    st, s = _setup(spark, sf_dir, "upsert")
    merge_pg(spark, st, s, "t.tid = s.sid", [
        ("matched", None, ("update", {"balance": "t.balance + s.delta"})),
        ("not_matched", None,
         ("insert", {"tid": "s.sid", "balance": "s.delta"})),
    ])
    return _out(st, spark)


@_reg(
    "regress_merge_upsert_with_delete",
    "SELECT * FROM (VALUES (1, 10), (2, 15), (4, 40))"
    " AS t(tid, balance) ORDER BY tid",
    "merge.sql:622-636 (classic UPSERT with a DELETE): prior UPDATE "
    "sets tid 3's balance to 0; then MATCHED AND t.balance > s.delta "
    "UPDATE, MATCHED DELETE, NOT MATCHED INSERT — 3-way clause "
    "arbitration (tid 2 updates 20->15, tid 3 deletes, 4 inserts). "
    "Expected merge.out:918-923.",
)
def _m_upsert_delete(spark, sf_dir):
    st, s = _setup(spark, sf_dir, "upsert_del",
                   tgt_rows=[(1, 10), (2, 20), (3, 0)])
    merge_pg(spark, st, s, "t.tid = s.sid", [
        ("matched", "t.balance > s.delta",
         ("update", {"balance": "t.balance - s.delta"})),
        ("matched", None, "delete"),
        ("not_matched", None,
         ("insert", {"tid": "s.sid", "balance": "s.delta"})),
    ])
    return _out(st, spark)


@_reg(
    "regress_merge_source_constant",
    "SELECT * FROM (VALUES (1, 10), (2, 20), (3, 30), (9, 57))"
    " AS t(tid, balance) ORDER BY tid",
    "merge.sql:745-751 (source constants): USING (SELECT 9 AS sid, "
    "57 AS delta). Expected merge.out:1007-1014.",
)
def _m_source_const(spark, sf_dir):
    st, _ = _setup(spark, sf_dir, "src_const")
    s = spark.createDataFrame([(9, 57)], "sid int, delta int")
    merge_pg(spark, st, s, "t.tid = s.sid",
             [("not_matched", None,
               ("insert", {"tid": "s.sid", "balance": "s.delta"}))])
    return _out(st, spark)


@_reg(
    "regress_merge_source_query",
    "SELECT * FROM (VALUES (1, 10), (2, 20), (3, 30), (4, 40))"
    " AS t(tid, balance) ORDER BY tid",
    "merge.sql:755-761 (source query): USING (SELECT sid, delta FROM "
    "source WHERE delta > 0). Expected merge.out:1017-1030.",
)
def _m_source_query(spark, sf_dir):
    st, s = _setup(spark, sf_dir, "src_query")
    merge_pg(spark, st, s.filter("delta > 0"), "t.tid = s.sid",
             [("not_matched", None,
               ("insert", {"tid": "s.sid", "balance": "s.delta"}))])
    return _out(st, spark)


@_reg(
    "regress_merge_self_merge",
    "SELECT * FROM (VALUES (1, 20), (2, 40), (3, 60))"
    " AS t(tid, balance) ORDER BY tid",
    "merge.sql:775-783 (self-merge): USING target itself, every row "
    "matches and doubles. Expected merge.out:1055-1076.",
)
def _m_self_merge(spark, sf_dir):
    st, _ = _setup(spark, sf_dir, "self_merge")
    s = st.read(spark).selectExpr("tid AS sid", "balance AS delta")
    merge_pg(spark, st, s, "t.tid = s.sid", [
        ("matched", None, ("update", {"balance": "t.balance + s.delta"})),
        ("not_matched", None,
         ("insert", {"tid": "s.sid", "balance": "s.delta"})),
    ])
    return _out(st, spark)


@_reg(
    "regress_merge_source_groupby_having",
    "SELECT * FROM (VALUES (1, 10), (2, 20), (3, 30), (4, 40))"
    " AS t(tid, balance) ORDER BY tid",
    "merge.sql:794-806: USING a grouped/HAVING source subquery "
    "(max(delta) per sid HAVING count(*) = 1). Expected "
    "merge.out:1094-1112.",
)
def _m_source_groupby(spark, sf_dir):
    st, s = _setup(spark, sf_dir, "src_gb")
    grouped = (
        s.groupBy("sid")
        .agg(F.max("delta").alias("delta"), F.count("*").alias("n"))
        .filter("n = 1").drop("n")
    )
    merge_pg(spark, st, grouped, "t.tid = s.sid",
             [("not_matched", None,
               ("insert", {"tid": "s.sid", "balance": "s.delta"}))])
    return _out(st, spark)


# -- the wq (conditional WHEN clause) family ---------------------------------


@_reg(
    "regress_merge_wq_insert_default",
    "SELECT * FROM (VALUES (1, -1)) AS t(tid, balance) ORDER BY tid",
    "merge.sql:464-469 (conditional WHEN battery setup): INSERT (tid) "
    "VALUES (s.sid) fills balance from its column DEFAULT -1. "
    "Expected merge.out:687-691.",
)
def _m_wq_default(spark, sf_dir):
    # empty target with the wq_target schema
    t0 = spark.createDataFrame([], "tid int, balance int")
    st = SnapshotTable.init(scratch.path(sf_dir, "merge_wq_default"), t0)
    s = spark.createDataFrame([(100, 1)], "balance int, sid int")
    merge_pg(spark, st, s, "t.tid = s.sid",
             [("not_matched", None, ("insert", {"tid": "s.sid"}))],
             defaults={"balance": "-1"})
    return _out(st, spark)


@_reg(
    "regress_merge_wq_false_condition",
    "SELECT tid, balance FROM (VALUES (0, 0)) AS t(tid, balance)"
    " WHERE 1 = 0",
    "merge.sql:473-477: WHEN NOT MATCHED AND FALSE never fires — "
    "table stays empty. Expected merge.out:699-701 (0 rows).",
    extra_tags=("may_be_empty",),
)
def _m_wq_false(spark, sf_dir):
    t0 = spark.createDataFrame([], "tid int, balance int")
    st = SnapshotTable.init(scratch.path(sf_dir, "merge_wq_false"), t0)
    s = spark.createDataFrame([(100, 1)], "balance int, sid int")
    merge_pg(spark, st, s, "t.tid = s.sid",
             [("not_matched", "FALSE", ("insert", {"tid": "s.sid"}))],
             defaults={"balance": "-1"})
    return _out(st, spark)


@_reg(
    "regress_merge_wq_cond_chain",
    "SELECT * FROM (VALUES (1, 299)) AS t(tid, balance) ORDER BY tid",
    "merge.sql:480-549 replayed as the file does (COMMITTED "
    "sequence): insert via s.balance = 100 (-1); MATCHED AND "
    "s.balance = 100 (+100 -> 99); MATCHED AND t.balance = 100 (no "
    "fire); AND t.balance = 99 AND s.balance > 100 (no fire); AND "
    "t.balance = 99 AND s.balance = 100 (+100 -> 199); OR chain "
    "fires (+100 -> 299). Expected merge.out:813-817.",
)
def _m_wq_chain(spark, sf_dir):
    t0 = spark.createDataFrame([], "tid int, balance int")
    st = SnapshotTable.init(scratch.path(sf_dir, "merge_wq_chain"), t0)
    s = spark.createDataFrame([(100, 1)], "balance int, sid int")
    on = "t.tid = s.sid"
    upd = ("update", {"balance": "t.balance + s.balance"})
    merge_pg(spark, st, s, on,
             [("not_matched", "s.balance = 100", ("insert", {"tid": "s.sid"}))],
             defaults={"balance": "-1"})
    merge_pg(spark, st, s, on, [("matched", "s.balance = 100", upd)])
    merge_pg(spark, st, s, on, [("matched", "t.balance = 100", upd)])
    merge_pg(spark, st, s, on,
             [("matched", "t.balance = 99 AND s.balance > 100", upd)])
    merge_pg(spark, st, s, on,
             [("matched", "t.balance = 99 AND s.balance = 100", upd)])
    merge_pg(spark, st, s, on,
             [("matched", "t.balance = 199 OR s.balance > 100", upd)])
    return _out(st, spark)
