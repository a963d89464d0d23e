"""DML — the ModifyTable surface (SURVEY.md §2.1), copy-on-write style.

Reference: INSERT/UPDATE/DELETE/MERGE all execute through ModifyTable
(/root/reference/src/backend/executor/nodeModifyTable.c:3957, 5482 LoC),
with MPP routing of each row to its distribution segment and
SplitUpdate turning distribution-key updates into DELETE+INSERT pairs
(/root/reference/src/backend/executor/nodeSplitUpdate.c:28).

Spark has no in-place mutation, so the idiomatic realization is the
lakehouse copy-on-write transaction, which is also what SplitUpdate
foreshadows — every UPDATE *is* a delete+insert here:

    read current files → transform (filter / conditional-assign /
    outer-join with source) → write new fileset → atomic swap (rename).

At 100 TB the rewrite cost is bounded by partitioning: a predicate
confined to a partition (`o_year=1995`) rewrites only that directory —
the same reason the reference prunes ModifyTable to leaf partitions.
Delta/Iceberg add snapshot isolation on top; the plan shape is
identical.

Each registered query rebuilds its scratch target from the fixtures
first, so runs are deterministic and oracle-checkable end to end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudberry_spark import scratch
from cloudberry_spark.catalog import load_table
from cloudberry_spark.registry import register
from cloudberry_spark.sources.snapshot import SnapshotTable


def insert_into(spark: SparkSession, table: SnapshotTable, rows: DataFrame) -> None:
    """INSERT INTO ... SELECT — an append COMMIT: the new fileset joins
    the manifest's dir list, standing data is never rewritten."""
    table.commit_append(rows, table.current_version(), label="insert")


def update_table(
    spark: SparkSession,
    table: SnapshotTable,
    cond: Column,
    assignments: dict[str, Column],
) -> None:
    """UPDATE t SET col=expr WHERE cond — conditional projection rewrite
    committed as a new snapshot version.

    All assignment expressions AND the condition evaluate against the
    OLD row (PG semantics: `SET (c,b) = ('car', a+b) WHERE c = 'foo'`
    must not see c already rewritten, and `SET a=b, b=a` is a swap) —
    one projection, not sequential withColumns (update.sql:52-68, the
    round-11 port caught the sequential form re-evaluating the WHERE
    against a just-assigned column)."""
    base = table.current_version()
    cur = table.read(spark, base)
    out = cur.select(
        *[
            (
                F.when(cond, assignments[c]).otherwise(F.col(c)).alias(c)
                if c in assignments
                else F.col(c)
            )
            for c in cur.columns
        ]
    )
    table.commit_rewrite(out, base, label="update")


def delete_from(spark: SparkSession, table: SnapshotTable, cond: Column) -> None:
    """DELETE FROM t WHERE cond — anti-filter rewrite committed as a
    new snapshot version."""
    base = table.current_version()
    table.commit_rewrite(table.read(spark, base).filter(~cond), base, label="delete")


def update_from(
    spark: SparkSession,
    table: SnapshotTable,
    source: DataFrame,
    on: list[str],
    assignments: dict[str, Column],
    extra_cond: Column | None = None,
) -> None:
    """UPDATE t SET col=expr FROM source WHERE t.k = source.k [AND ...]
    (nodeModifyTable.c UPDATE with a fromlist; DML_over_joins.sql) —
    membership-join rewrite: the source's join keys are deduplicated
    and left-joined in (broadcastable when small, exactly the motion
    the reference plans), matched rows take the SET expressions. SET
    expressions may reference only target columns — PG's
    pick-an-arbitrary-matching-row semantics for source references is
    deliberately not reproduced."""
    base = table.current_version()
    cur = table.read(spark, base)
    marker = source.select(*on).distinct().withColumn(
        "__matched__", F.lit(True)
    )
    joined = cur.join(marker, on=on, how="left")
    hit = F.coalesce(F.col("__matched__"), F.lit(False))
    if extra_cond is not None:
        hit = hit & extra_cond
    for col, expr in assignments.items():
        joined = joined.withColumn(
            col, F.when(hit, expr).otherwise(F.col(col))
        )
    table.commit_rewrite(
        joined.select(*cur.columns), base, label="update_from"
    )


def update_join(
    spark: SparkSession,
    table: SnapshotTable,
    source: DataFrame,
    cond: Column,
    assignments: dict[str, Column],
) -> None:
    """UPDATE t SET col = expr FROM source WHERE <theta cond>, where
    SET expressions may reference source columns (exposed as
    ``src_<name>``) — the qp_dml_joins.sql UPDATE-with-fromlist
    general form. Each target row must match at most one source row
    (PG would silently pick an arbitrary one — nodeModifyTable.c just
    takes the first; we fail loudly instead, the deterministic
    choice). The theta join is a plain left join; at scale AQE
    broadcasts a small source exactly like the reference's motion.
    """
    base = table.current_version()
    cur = table.read(spark, base).withColumn(
        "__tid__", F.monotonically_increasing_id()
    )
    src = source.select(
        F.lit(True).alias("__hit__"),
        *[F.col(c).alias(f"src_{c}") for c in source.columns],
    )
    joined = cur.join(src, cond, "left")
    dup = (
        joined.groupBy("__tid__")
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .count()
    )
    if dup:
        raise ValueError(
            "update_join: a target row matches multiple source rows; "
            "PG picks one arbitrarily — make the join key unique"
        )
    hit = F.coalesce(F.col("__hit__"), F.lit(False))
    for col, expr in assignments.items():
        joined = joined.withColumn(
            col, F.when(hit, expr).otherwise(F.col(col))
        )
    table.commit_rewrite(
        joined.select(*table.read(spark, base).columns),
        base,
        label="update_join",
    )


def delete_using(
    spark: SparkSession,
    table: SnapshotTable,
    source: DataFrame,
    on: list[str],
) -> None:
    """DELETE FROM t USING source WHERE t.k = source.k — one left-anti
    join on the using keys, committed as a new snapshot version."""
    base = table.current_version()
    cur = table.read(spark, base)
    kept = cur.join(source.select(*on).distinct(), on=on, how="left_anti")
    table.commit_rewrite(kept, base, label="delete_using")


def merge_into(
    spark: SparkSession,
    table: SnapshotTable,
    source: DataFrame,
    on: str,
    matched_set: dict[str, Column],
    insert_when_not_matched: bool = True,
) -> None:
    """MERGE INTO target USING source ON target.k = source.k
    WHEN MATCHED THEN UPDATE SET ... WHEN NOT MATCHED THEN INSERT *.

    One full-outer join on the merge key — the identical shuffle the
    reference's ModifyTable MERGE performs after motioning source rows
    to their target segments.
    """
    base = table.current_version()
    tgt = table.read(spark, base)
    src = source.select(
        *[F.col(c).alias(f"__src_{c}") for c in source.columns]
    )
    j = tgt.join(src, tgt[on] == src[f"__src_{on}"], "full_outer")
    matched = tgt[on].isNotNull() & src[f"__src_{on}"].isNotNull()
    src_only = tgt[on].isNull()
    out_cols = []
    for c in tgt.columns:
        updated = (
            matched_set[c] if c in matched_set else F.col(c)
        )
        val = (
            F.when(matched, updated)
            .when(src_only, F.col(f"__src_{c}"))
            .otherwise(F.col(c))
        )
        out_cols.append(val.alias(c))
    result = j.select(*out_cols)
    if not insert_when_not_matched:
        result = j.filter(~src_only).select(*out_cols)
    table.commit_rewrite(result, base, label="merge")


def merge_into_multi(
    spark: SparkSession,
    table: SnapshotTable,
    source: DataFrame,
    on: str,
    matched_actions: list[tuple[Column | None, dict[str, Column] | str]],
    insert_when_not_matched: bool = True,
) -> None:
    """MERGE with an ordered WHEN-clause list, PG15/reference semantics
    (nodeModifyTable.c ExecMergeMatched: actions are evaluated in
    declaration order, the FIRST clause whose AND-qualifier passes fires,
    at most one action per row).

    ``matched_actions``: ordered ``(qualifier, action)`` pairs where the
    qualifier is a Column over the joined row (None = always) and the
    action is either the string ``"delete"`` or an UPDATE assignment
    dict. Still ONE full-outer shuffle on the merge key — the extra
    clauses are row-local projections, so the plan is identical to
    single-action MERGE at any scale.
    """
    base = table.current_version()
    tgt = table.read(spark, base)
    src = source.select(
        *[F.col(c).alias(f"__src_{c}") for c in source.columns]
    )
    j = tgt.join(src, tgt[on] == src[f"__src_{on}"], "full_outer")
    matched = tgt[on].isNotNull() & src[f"__src_{on}"].isNotNull()
    src_only = tgt[on].isNull()

    # first-match-wins clause resolution. A NULL qualifier does NOT fire
    # (ExecMergeMatched treats it like false, the row falls through to
    # the next WHEN clause) — coalesce keeps the whole chain two-valued
    # so `taken` never goes NULL and `~delete_pred` never drops a row
    # whose qualifier evaluated to NULL.
    fires: list[tuple[Column, dict[str, Column] | str]] = []
    taken = F.lit(False)
    for qual, action in matched_actions:
        this = (
            matched
            if qual is None
            else (matched & F.coalesce(qual, F.lit(False)))
        )
        fires.append((this & ~taken, action))
        taken = taken | this

    delete_pred = F.lit(False)
    for fire, action in fires:
        if action == "delete":
            delete_pred = delete_pred | fire

    out_cols = []
    for c in tgt.columns:
        val = F.col(c)
        # build WHEN chain backwards so earlier clauses take precedence
        chain = F.when(src_only, F.col(f"__src_{c}")).otherwise(F.col(c))
        for fire, action in reversed(fires):
            if isinstance(action, dict):
                chain = F.when(fire, action.get(c, F.col(c))).otherwise(chain)
        out_cols.append(chain.alias(c))

    result = j.filter(~delete_pred)
    if not insert_when_not_matched:
        result = result.filter(~src_only)
    table.commit_rewrite(result.select(*out_cols), base, label="merge")


# ---------------------------------------------------------------------------
# Registered end-to-end DML scenarios
# ---------------------------------------------------------------------------


@register(
    "dml_insert_select",
    oracle="""
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total
        FROM (
            SELECT * FROM orders WHERE o_orderkey % 4 = 0
            UNION ALL
            SELECT * FROM orders WHERE o_orderkey % 4 = 1
        )
        GROUP BY o_orderpriority
    """,
    doc="INSERT INTO ... SELECT (nodeModifyTable.c INSERT path) as "
    "distributed append: seed a table, append a second slice, aggregate.",
    tags=("dml", "insert"),
)
def dml_insert_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    path = scratch.path(sf_dir, "dml_orders_ins")
    st = SnapshotTable.init(path, od.filter(F.col("o_orderkey") % 4 == 0))
    insert_into(spark, st, od.filter(F.col("o_orderkey") % 4 == 1))
    return (
        st.read(spark)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
    )


@register(
    "dml_update_delete",
    oracle="""
        SELECT l_returnflag,
               count(*) AS n,
               round(sum(CASE WHEN l_returnflag = 'R'
                              THEN l_quantity * 2 ELSE l_quantity END), 4)
                   AS sum_qty
        FROM lineitem
        WHERE l_orderkey % 3 = 0 AND NOT l_discount > 0.08
        GROUP BY l_returnflag
    """,
    doc="UPDATE + DELETE (nodeModifyTable.c:3957; every Spark UPDATE is "
    "the reference's SplitUpdate DELETE+INSERT, nodeSplitUpdate.c:28): "
    "double returned quantities, purge deep discounts, re-aggregate.",
    tags=("dml", "update", "delete"),
)
def dml_update_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 3 == 0)
    path = scratch.path(sf_dir, "dml_lineitem_ud")
    st = SnapshotTable.init(path, li)
    update_table(
        spark,
        st,
        F.col("l_returnflag") == "R",
        {"l_quantity": F.col("l_quantity") * 2},
    )
    delete_from(spark, st, F.col("l_discount") > 0.08)
    return (
        st.read(spark)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        )
    )


@register(
    "dml_merge",
    oracle="""
        WITH target AS (
            SELECT * FROM customer WHERE c_custkey % 3 = 0
        ), source AS (
            SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                   'MERGED' AS c_mktsegment
            FROM customer WHERE c_custkey % 2 = 0
        ), merged AS (
            SELECT coalesce(s.c_custkey, t.c_custkey) AS c_custkey,
                   CASE WHEN s.c_custkey IS NOT NULL THEN s.c_mktsegment
                        ELSE t.c_mktsegment END AS c_mktsegment,
                   CASE WHEN s.c_custkey IS NOT NULL AND t.c_custkey IS NOT NULL
                        THEN t.c_acctbal + 100.0
                        WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal
                        ELSE t.c_acctbal END AS c_acctbal
            FROM target t FULL OUTER JOIN source s USING (c_custkey)
        )
        SELECT c_mktsegment, count(*) AS n, round(sum(c_acctbal), 2) AS bal
        FROM merged GROUP BY c_mktsegment
    """,
    doc="MERGE INTO (ModifyTable MERGE path): matched rows get segment "
    "overwritten + balance bump, unmatched source rows insert; one "
    "full-outer shuffle on the merge key.",
    tags=("dml", "merge"),
)
def dml_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    path = scratch.path(sf_dir, "dml_customer_merge")
    st = SnapshotTable.init(path, cust.filter(F.col("c_custkey") % 3 == 0))
    source = cust.filter(F.col("c_custkey") % 2 == 0).withColumn(
        "c_mktsegment", F.lit("MERGED")
    )
    merge_into(
        spark,
        st,
        source,
        on="c_custkey",
        matched_set={
            "c_mktsegment": F.lit("MERGED"),
            "c_acctbal": F.col("c_acctbal") + 100.0,
        },
    )
    return (
        st.read(spark)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("c_acctbal"), 2).alias("bal"),
        )
    )


@register(
    "dml_merge_delete",
    oracle="""
        WITH target AS (
            SELECT o_orderkey, o_orderpriority, o_totalprice
            FROM orders WHERE o_orderkey % 3 = 0
        ), source AS (
            SELECT o_orderkey, 'SOURCED' AS o_orderpriority,
                   o_totalprice + 5000.0 AS o_totalprice
            FROM orders WHERE o_orderkey % 2 = 0
        ), merged AS (
            SELECT CASE WHEN t.o_orderkey IS NOT NULL
                             AND s.o_orderkey IS NOT NULL THEN 'MERGED'
                        WHEN t.o_orderkey IS NULL THEN s.o_orderpriority
                        ELSE t.o_orderpriority END AS o_orderpriority,
                   CASE WHEN t.o_orderkey IS NOT NULL
                             AND s.o_orderkey IS NOT NULL THEN s.o_totalprice
                        WHEN t.o_orderkey IS NULL THEN s.o_totalprice
                        ELSE t.o_totalprice END AS o_totalprice
            FROM target t FULL OUTER JOIN source s
              ON t.o_orderkey = s.o_orderkey
            WHERE NOT (t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
                       AND t.o_totalprice < 100000)
        )
        SELECT o_orderpriority, count(*) AS n,
               (CAST(sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                              AS DECIMAL(38,0))) AS DOUBLE) / 100.0)
                   AS total
        FROM merged GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    doc="MERGE with multiple WHEN clauses, first-match-wins (reference "
    "nodeModifyTable.c ExecMergeMatched action list, PG15 MERGE): "
    "WHEN MATCHED AND target.o_totalprice < 100000 THEN DELETE; "
    "WHEN MATCHED THEN UPDATE (take source price, mark MERGED); "
    "WHEN NOT MATCHED THEN INSERT. Same single full-outer shuffle as "
    "single-action MERGE — qualifiers are row-local projections. "
    "Money totals ride the exact fixed-point sum (dsum).",
    tags=("dml", "merge", "delete"),
)
def dml_merge_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cloudberry_spark.operators.tpch import dsum

    orders = load_table(spark, sf_dir, "orders")
    path = scratch.path(sf_dir, "dml_orders_merge_del")
    st = SnapshotTable.init(
        path,
        orders.filter(F.col("o_orderkey") % 3 == 0).select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        ),
    )
    source = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.lit("SOURCED").alias("o_orderpriority"),
        (F.col("o_totalprice") + 5000.0).alias("o_totalprice"),
    )
    merge_into_multi(
        spark,
        st,
        source,
        on="o_orderkey",
        matched_actions=[
            (F.col("o_totalprice") < 100000, "delete"),
            (
                None,
                {
                    "o_orderpriority": F.lit("MERGED"),
                    "o_totalprice": F.col("__src_o_totalprice"),
                },
            ),
        ],
    )
    return (
        st.read(spark)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("o_totalprice"), scale=2).alias("total"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "dml_cascade_delete",
    oracle="""
        WITH doomed AS (
            SELECT c_custkey FROM customer WHERE c_custkey % 17 = 0
        ),
        cust_left AS (
            SELECT * FROM customer
            WHERE c_custkey NOT IN (SELECT c_custkey FROM doomed)
        ),
        ord_left AS (
            SELECT * FROM orders
            WHERE o_custkey NOT IN (SELECT c_custkey FROM doomed)
        )
        SELECT (SELECT count(*) FROM doomed)    AS n_subjects,
               (SELECT count(*) FROM cust_left) AS customers_remaining,
               (SELECT count(*) FROM ord_left)  AS orders_remaining,
               (SELECT count(*) FROM orders)
                 - (SELECT count(*) FROM ord_left) AS orders_erased
    """,
    doc="Right-to-be-forgotten cascade (ON DELETE CASCADE across the "
    "customer->orders FK, nodeModifyTable.c DELETE + referential "
    "action): the erasure set is deleted from the parent AND "
    "anti-joined out of every referencing table via copy-on-write "
    "rewrites — the compliance workflow a training-data platform runs "
    "on takedown requests. Both deletes are broadcast anti-joins "
    "against the (small) subject list; tables rewrite in one pass "
    "each, no driver-side row handling.",
    tags=("dml", "delete", "compliance"),
)
def dml_cascade_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    doomed = cust.where(F.col("c_custkey") % 17 == 0).select("c_custkey")

    cpath = scratch.path(sf_dir, "dml_cascade_cust")
    opath = scratch.path(sf_dir, "dml_cascade_ord")
    cst = SnapshotTable.init(cpath, cust)
    ost = SnapshotTable.init(opath, orders)

    n_subjects = doomed.count()
    n_orders_before = ost.read(spark).count()

    cbase = cst.current_version()
    kept_c = cst.read(spark, cbase).join(
        F.broadcast(doomed), "c_custkey", "left_anti"
    )
    cst.commit_rewrite(kept_c, cbase, label="cascade-delete")
    obase = ost.current_version()
    kept_o = ost.read(spark, obase).join(
        F.broadcast(doomed.withColumnRenamed("c_custkey", "o_custkey")),
        "o_custkey",
        "left_anti",
    )
    ost.commit_rewrite(kept_o, obase, label="cascade-delete")

    customers_remaining = cst.read(spark).count()
    orders_remaining = ost.read(spark).count()
    return spark.createDataFrame(
        [
            (
                n_subjects,
                customers_remaining,
                orders_remaining,
                n_orders_before - orders_remaining,
            )
        ],
        "n_subjects long, customers_remaining long, "
        "orders_remaining long, orders_erased long",
    )


@register(
    "dml_scd2_history_build",
    oracle="""
    WITH changes AS (
        SELECT user_id, ts, event_type,
               lead(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS next_ts,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS version
        FROM events
        WHERE event_type IN ('signup', 'purchase') AND user_id <= 30
    )
    SELECT user_id, CAST(version AS INT) AS version, event_type AS state,
           ts AS valid_from,
           coalesce(next_ts, TIMESTAMP '2261-12-31 00:00:00') AS valid_to,
           CAST(next_ts IS NULL AS INT) AS is_current
    FROM changes
    ORDER BY user_id, version
    """,
    doc="SCD Type-2 history construction (the dimension-build half of "
    "join_scd2_point_in_time, which queries one): each state-change "
    "event becomes a versioned row with [valid_from, valid_to) "
    "effective dating via lead() — the next change closes the "
    "interval, the open row gets a far-future sentinel and is_current. "
    "Sentinel is 2261-12-31 (not the PG-conventional 9999-12-31): it "
    "must stay within the Arrow/pandas nanosecond timestamp range "
    "(max 2262-04-11) or any Arrow-based consumer of the dimension "
    "crashes converting the open rows. "
    "ONE window pass per business key (single shuffle on user_id), "
    "the standard warehouse pattern the reference builds with "
    "MERGE + triggers. (ts, event_id) ordering keys make "
    "simultaneous changes deterministic.",
    tags=("dml", "scd", "warehouse"),
)
def dml_scd2_history_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("signup", "purchase")
        & (F.col("user_id") <= 30)
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            F.row_number().over(w).cast("int").alias("version"),
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("next_ts"),
        )
        .select(
            "user_id",
            "version",
            "state",
            "valid_from",
            F.coalesce(
                F.col("next_ts"),
                F.lit("2261-12-31 00:00:00").cast("timestamp_ntz"),
            ).alias("valid_to"),
            F.col("next_ts").isNull().cast("int").alias("is_current"),
        )
        .orderBy("user_id", "version")
    )


@register(
    "ddl_check_constraints",
    oracle="""
    SELECT 'quantity_range' AS constraint_name,
           CAST(sum(CASE WHEN l_quantity BETWEEN 1 AND 50
                         THEN 0 ELSE 1 END) AS BIGINT) AS n_violations,
           CAST(count(*) AS BIGINT) AS n_checked
    FROM lineitem
    UNION ALL
    SELECT 'discount_range',
           CAST(sum(CASE WHEN l_discount BETWEEN 0 AND 0.1
                         THEN 0 ELSE 1 END) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'price_positive',
           CAST(sum(CASE WHEN l_extendedprice > 0
                         THEN 0 ELSE 1 END) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'orderkey_not_null',
           CAST(sum(CASE WHEN l_orderkey IS NOT NULL
                         THEN 0 ELSE 1 END) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM lineitem
    ORDER BY constraint_name
    """,
    doc="CHECK / NOT NULL constraint validation as a scan (the "
    "reference enforces these on write — src/backend/catalog/"
    "pg_constraint; immutable parquet moves enforcement to "
    "load-time audit, the ELT norm): four constraints checked in "
    "ONE conditional-aggregation pass over the fact table (the "
    "UNION in the oracle is presentational — the Spark side pivots "
    "a single scan), violations counted per constraint. The "
    "data-contract primitive for any 100 TB ingest.",
    tags=("ddl", "constraints", "quality"),
)
def ddl_check_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    viol = lambda c: F.sum(F.when(c, 0).otherwise(1))  # noqa: E731
    one = li.agg(
        viol(F.col("l_quantity").between(1, 50)).alias("quantity_range"),
        viol(F.col("l_discount").between(0, 0.1)).alias("discount_range"),
        viol(F.col("l_extendedprice") > 0).alias("price_positive"),
        viol(F.col("l_orderkey").isNotNull()).alias("orderkey_not_null"),
        F.count(F.lit(1)).alias("n_checked"),
    )
    return (
        one.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(n).alias("constraint_name"),
                            F.col(n).cast("bigint").alias("n_violations"),
                            F.col("n_checked").cast("bigint").alias("n_checked"),
                        )
                        for n in (
                            "discount_range",
                            "orderkey_not_null",
                            "price_positive",
                            "quantity_range",
                        )
                    ]
                )
            ).alias("c")
        )
        .select("c.constraint_name", "c.n_violations", "c.n_checked")
        .orderBy("constraint_name")
    )


@register(
    "dml_insert_on_conflict",
    oracle="""
        WITH target AS (
            SELECT c_custkey, c_mktsegment, c_acctbal
            FROM customer WHERE c_custkey % 4 = 0
        ), incoming AS (
            -- the 10% bump runs in exact DECIMAL: round() on a DOUBLE
            -- product resolves .xx5 half-way cases differently per
            -- engine (Spark rounds the shortest decimal repr, DuckDB
            -- the scaled binary double) — first seen at sf0.1
            SELECT c_custkey, 'UPSERTED' AS c_mktsegment,
                   CAST(round(CAST(c_acctbal AS DECIMAL(18,2))
                              * CAST(1.1 AS DECIMAL(3,1)), 2) AS DOUBLE)
                       AS c_acctbal
            FROM customer WHERE c_custkey % 3 = 0
        ), upserted AS (
            SELECT coalesce(i.c_custkey, t.c_custkey) AS c_custkey,
                   CASE WHEN i.c_custkey IS NOT NULL
                        THEN i.c_mktsegment ELSE t.c_mktsegment
                   END AS c_mktsegment,
                   CASE WHEN i.c_custkey IS NOT NULL
                        THEN i.c_acctbal ELSE t.c_acctbal
                   END AS c_acctbal
            FROM target t FULL OUTER JOIN incoming i USING (c_custkey)
        )
        SELECT c_mktsegment, count(*) AS n,
               (CAST(sum(CAST(CAST(round(c_acctbal * 100) AS BIGINT)
                              AS DECIMAL(38,0))) AS DOUBLE) / 100.0) AS bal
        FROM upserted GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    doc="INSERT ... ON CONFLICT (key) DO UPDATE — PG's upsert "
    "(speculative insertion, executor/nodeModifyTable.c "
    "ExecOnConflictUpdate; the reference supports it on heap tables): "
    "under copy-on-write semantics upsert IS single-action MERGE with "
    "EXCLUDED.* as the update source, so it reuses merge_into with "
    "the incoming row's values winning on conflict. One full-outer "
    "shuffle on the key; balances ride the exact fixed-point sum.",
    tags=("dml", "upsert", "conflict"),
)
def dml_insert_on_conflict(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cloudberry_spark.operators.tpch import dsum

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    path = scratch.path(sf_dir, "dml_upsert_conflict")
    st = SnapshotTable.init(path, cust.filter(F.col("c_custkey") % 4 == 0))
    incoming = cust.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        F.lit("UPSERTED").alias("c_mktsegment"),
        # exact-decimal bump: double round() is engine-dependent on
        # .xx5 half-way cases (see oracle comment)
        F.round(
            F.col("c_acctbal").cast("decimal(18,2)")
            * F.lit(1.1).cast("decimal(3,1)"),
            2,
        )
        .cast("double")
        .alias("c_acctbal"),
    )
    # ON CONFLICT DO UPDATE == WHEN MATCHED THEN UPDATE SET col =
    # EXCLUDED.col; WHEN NOT MATCHED THEN INSERT — the incoming row wins.
    merge_into(
        spark,
        st,
        incoming,
        on="c_custkey",
        matched_set={
            "c_mktsegment": F.col("__src_c_mktsegment"),
            "c_acctbal": F.col("__src_c_acctbal"),
        },
    )
    return (
        st.read(spark)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("c_acctbal"), scale=2).alias("bal"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "dml_snapshot_merge_upsert",
    oracle="""
        WITH seed AS (
            SELECT o_orderkey, o_orderpriority, o_totalprice
            FROM orders WHERE o_orderkey % 4 = 0
        ), appended AS (
            SELECT o_orderkey, o_orderpriority, o_totalprice
            FROM orders WHERE o_orderkey % 4 = 1
            UNION ALL SELECT * FROM seed
        ), source AS (
            SELECT o_orderkey, 'RESTATED' AS o_orderpriority,
                   o_totalprice + 1000.0 AS o_totalprice
            FROM orders WHERE o_orderkey % 6 = 0
        ), merged AS (
            SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
                   CASE WHEN t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
                        THEN s.o_orderpriority
                        WHEN t.o_orderkey IS NULL THEN s.o_orderpriority
                        ELSE t.o_orderpriority END AS o_orderpriority,
                   CASE WHEN t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
                        THEN s.o_totalprice
                        WHEN t.o_orderkey IS NULL THEN s.o_totalprice
                        ELSE t.o_totalprice END AS o_totalprice
            FROM appended t FULL OUTER JOIN source s
              ON t.o_orderkey = s.o_orderkey
        )
        SELECT o_orderpriority, count(*) AS n,
               (CAST(sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                              AS DECIMAL(38,0))) AS DOUBLE) / 100.0) AS total,
               CAST(2 AS BIGINT) AS current_version,
               (SELECT count(*) FROM seed) AS v0_rows
        FROM merged GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    doc="The unified snapshot-table DML lifecycle (sources/snapshot.py; "
    "nodeModifyTable.c:3957 + MVCC snapshot semantics as optimistic "
    "copy-on-write): seed v0, INSERT as an append commit v1 (standing "
    "fileset untouched), MERGE upsert as a rewrite commit v2, then "
    "read the current snapshot AND time-travel back to v0 — proving "
    "old versions stay readable after two commits. current_version "
    "and v0_rows come from the manifest/time-travel read, not "
    "literals, on the Spark side.",
    tags=("dml", "snapshot", "merge"),
)
def dml_snapshot_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cloudberry_spark.operators.tpch import dsum

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = scratch.path(sf_dir, "dml_snapshot_lifecycle")
    st = SnapshotTable.init(path, orders.filter(F.col("o_orderkey") % 4 == 0))
    insert_into(spark, st, orders.filter(F.col("o_orderkey") % 4 == 1))
    source = orders.filter(F.col("o_orderkey") % 6 == 0).select(
        "o_orderkey",
        F.lit("RESTATED").alias("o_orderpriority"),
        (F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
    )
    merge_into(
        spark,
        st,
        source,
        on="o_orderkey",
        matched_set={
            "o_orderpriority": F.col("__src_o_orderpriority"),
            "o_totalprice": F.col("__src_o_totalprice"),
        },
    )
    version = st.current_version()
    v0_rows = st.read(spark, version=0).count()  # time travel
    return (
        st.read(spark)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("o_totalprice"), scale=2).alias("total"),
        )
        .withColumn("current_version", F.lit(version).cast("bigint"))
        .withColumn("v0_rows", F.lit(v0_rows).cast("bigint"))
        .orderBy("o_orderpriority")
    )


@register(
    "dml_partition_confined_update",
    oracle="""
        SELECT o_orderpriority, count(*) AS n,
               (CAST(sum(CAST(CAST(round(
                    CASE WHEN o_orderpriority = '1-URGENT'
                         THEN o_totalprice * 1.1 ELSE o_totalprice END * 100)
                    AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 100.0) AS total,
               CAST(1 AS BIGINT) AS partitions_rewritten,
               CAST(4 AS BIGINT) AS partitions_untouched
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    doc="Partition-confined UPDATE on the snapshot format "
    "(execPartition.c leaf pruning + nodeModifyTable.c: a predicate "
    "confined to one partition rewrites ONLY that partition's "
    "fileset): orders partitioned by o_orderpriority into 5 immutable "
    "filesets; a 10%-price UPDATE on '1-URGENT' commits a new fileset "
    "for that single partition while the other 4 manifest entries — "
    "and their files on disk — are byte-identical across the commit. "
    "partitions_rewritten/untouched are computed from the manifest "
    "diff, not literals, on the Spark side. At 100 TB this is the "
    "difference between rewriting 20 TB and rewriting 1/5th of it.",
    tags=("dml", "snapshot", "update", "partition"),
)
def dml_partition_confined_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cloudberry_spark.operators.tpch import dsum

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    prios = [
        "1-URGENT",
        "2-HIGH",
        "3-MEDIUM",
        "4-NOT SPECIFIED",
        "5-LOW",
    ]
    path = scratch.path(sf_dir, "dml_part_confined")
    st = SnapshotTable.init_partitioned(
        path, orders, "o_orderpriority", prios
    )
    before = st.manifest(0)["parts"]

    target = "1-URGENT"
    # read only the target partition's fileset: the rewrite's input is
    # 1/5th of the table, not all of it
    updated = (
        st.read(spark, 0, dirs=[before[target]])
        .where(F.col("o_orderpriority") == target)
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
    )
    st.commit_partition_rewrite({target: updated}, 0, label="bump")
    after = st.manifest(1)["parts"]

    rewritten = sum(1 for k in after if after[k] != before[k])
    untouched = sum(1 for k in after if after[k] == before[k])
    return (
        st.read(spark)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("o_totalprice"), scale=2).alias("total"),
        )
        .withColumn("partitions_rewritten", F.lit(rewritten).cast("bigint"))
        .withColumn("partitions_untouched", F.lit(untouched).cast("bigint"))
        .orderBy("o_orderpriority")
    )


@register(
    "dml_update_returning",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               CAST(round(CAST(l_extendedprice AS DECIMAL(18,2))
                          * CAST(0.9 AS DECIMAL(2,1)), 2) AS DOUBLE)
                   AS l_extendedprice,
               l_returnflag
        FROM lineitem
        WHERE l_returnflag = 'R' AND l_orderkey % 10 = 0
        ORDER BY l_orderkey, l_linenumber
    """,
    doc="UPDATE ... RETURNING (nodeModifyTable.c ExecProcessReturning: "
    "the post-image of exactly the modified rows comes back to the "
    "client): the snapshot-table UPDATE commits the rewrite AND "
    "returns the updated rows' projection in the same pass — no "
    "second scan of the table; the RETURNING set is the filtered "
    "branch of the same conditional projection.",
    tags=("dml", "update", "returning"),
)
def dml_update_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 10 == 0
    ).select("l_orderkey", "l_linenumber", "l_extendedprice", "l_returnflag")
    path = scratch.path(sf_dir, "dml_update_returning")
    st = SnapshotTable.init(path, li)
    cond = F.col("l_returnflag") == "R"
    base = st.current_version()
    cur = st.read(spark, base)
    # exact-decimal bump: double round() resolves .xx5 half-way cases
    # differently per engine (same class as dml_insert_on_conflict)
    bumped = (
        F.round(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * F.lit(0.9).cast("decimal(2,1)"),
            2,
        ).cast("double")
    )
    updated = cur.withColumn(
        "l_extendedprice",
        F.when(cond, bumped).otherwise(F.col("l_extendedprice")),
    )
    st.commit_rewrite(updated, base, label="update-returning")
    # RETURNING: the post-image of the modified rows — read back from
    # the committed snapshot so what the client sees IS what landed
    return (
        st.read(spark)
        .filter(cond)
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "dml_insert_do_nothing",
    oracle="""
        WITH target AS (
            SELECT c_custkey, c_mktsegment FROM customer
            WHERE c_custkey % 4 = 0
        ), incoming AS (
            SELECT c_custkey, 'FRESH' AS c_mktsegment FROM customer
            WHERE c_custkey % 3 = 0
        ), final AS (
            SELECT * FROM target
            UNION ALL
            SELECT * FROM incoming i
            WHERE NOT EXISTS (SELECT 1 FROM target t
                              WHERE t.c_custkey = i.c_custkey)
        )
        SELECT c_mktsegment, count(*) AS n FROM final
        GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    doc="INSERT ... ON CONFLICT (key) DO NOTHING "
    "(nodeModifyTable.c ExecCheckIndexConstraints speculative-insert "
    "skip path): insert-if-absent is a LEFT ANTI join of the incoming "
    "batch against the target keys, committed as an APPEND (standing "
    "data is never rewritten — conflicting rows simply drop out).",
    tags=("dml", "insert", "conflict"),
)
def dml_insert_do_nothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    path = scratch.path(sf_dir, "dml_insert_nothing")
    st = SnapshotTable.init(path, cust.filter(F.col("c_custkey") % 4 == 0))
    incoming = cust.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey", F.lit("FRESH").alias("c_mktsegment")
    )
    base = st.current_version()
    fresh = incoming.join(
        st.read(spark, base).select("c_custkey"), "c_custkey", "left_anti"
    )
    st.commit_append(fresh, base, label="insert-nothing")
    return (
        st.read(spark)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("c_mktsegment")
    )


@register(
    "dml_update_from_delete_using",
    oracle="""
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(CASE WHEN o_custkey IN
                          (SELECT c_custkey FROM customer
                           WHERE c_acctbal < 0)
                         THEN CAST(o_totalprice AS DECIMAL(18,2)) * 1.1
                         ELSE CAST(o_totalprice AS DECIMAL(18,2)) END)
                    AS DOUBLE) AS total
        FROM orders
        WHERE o_orderkey % 5 = 0
          AND o_custkey NOT IN (SELECT c_custkey FROM customer
                                WHERE c_mktsegment = 'BUILDING')
        GROUP BY o_orderpriority
    """,
    doc="UPDATE ... FROM + DELETE ... USING over joins "
    "(nodeModifyTable.c UPDATE with fromlist; "
    "src/test/regress/sql/DML_over_joins.sql:12-14): the join side is "
    "deduplicated on the key and broadcast-joined against the target "
    "snapshot (the reference motions source rows to target segments), "
    "matched rows take the SET; the delete is one left-anti join. "
    "Sequenced as two snapshot commits on the shared table format.",
    tags=("dml", "update", "join"),
)
def dml_update_from_delete_using(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 5 == 0)
        .withColumn(
            "o_totalprice", F.col("o_totalprice").cast("decimal(18,2)")
        )
    )
    cust = load_table(spark, sf_dir, "customer")
    path = scratch.path(sf_dir, "dml_orders_upd_from")
    st = SnapshotTable.init(path, od)
    update_from(
        spark,
        st,
        cust.filter(F.col("c_acctbal") < 0).select(
            F.col("c_custkey").alias("o_custkey")
        ),
        on=["o_custkey"],
        assignments={
            "o_totalprice": (F.col("o_totalprice") * F.lit(1.1)).cast(
                "decimal(20,3)"
            )
        },
    )
    delete_using(
        spark,
        st,
        cust.filter(F.col("c_mktsegment") == "BUILDING").select(
            F.col("c_custkey").alias("o_custkey")
        ),
        on=["o_custkey"],
    )
    return (
        st.read(spark)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum("o_totalprice").cast("double").alias("total"),
        )
    )


@register(
    "dml_upsert_conditional",
    oracle="""
        WITH target AS (
            SELECT c_custkey, c_mktsegment, c_acctbal
            FROM customer WHERE c_custkey % 4 = 0
        ), incoming AS (
            SELECT c_custkey, 'COND' AS c_mktsegment,
                   -c_acctbal AS c_acctbal
            FROM customer WHERE c_custkey % 3 = 0
        ), upserted AS (
            SELECT coalesce(t.c_custkey, i.c_custkey) AS c_custkey,
                   CASE WHEN t.c_custkey IS NULL THEN i.c_mktsegment
                        WHEN i.c_custkey IS NOT NULL
                             AND t.c_acctbal < i.c_acctbal
                            THEN i.c_mktsegment
                        ELSE t.c_mktsegment END AS c_mktsegment,
                   CASE WHEN t.c_custkey IS NULL THEN i.c_acctbal
                        WHEN i.c_custkey IS NOT NULL
                             AND t.c_acctbal < i.c_acctbal
                            THEN i.c_acctbal
                        ELSE t.c_acctbal END AS c_acctbal
            FROM target t FULL OUTER JOIN incoming i USING (c_custkey)
        )
        SELECT c_mktsegment, count(*) AS n,
               (CAST(sum(CAST(CAST(round(c_acctbal * 100) AS BIGINT)
                              AS DECIMAL(38,0))) AS DOUBLE) / 100.0) AS bal
        FROM upserted GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    doc="INSERT ... ON CONFLICT (key) DO UPDATE ... WHERE pred — PG's "
    "CONDITIONAL upsert (insert_conflict.sql:89-93; "
    "ExecOnConflictUpdate re-checks the WHERE over target + EXCLUDED "
    "before updating): conflicting rows update only when the "
    "incoming (negated) balance beats the standing one, i.e. exactly "
    "the negative-balance rows flip; non-qualifying conflicts keep "
    "the target row, non-conflicts insert. Rides the same "
    "single-full-outer-join merge as the unconditional upsert — the "
    "WHERE is a row-local projection, no extra shuffle.",
    tags=("dml", "upsert", "conflict"),
)
def dml_upsert_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    path = scratch.path(sf_dir, "dml_upsert_cond")
    st = SnapshotTable.init(path, cust.filter(F.col("c_custkey") % 4 == 0))
    incoming = cust.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        F.lit("COND").alias("c_mktsegment"),
        (-F.col("c_acctbal")).alias("c_acctbal"),
    )
    qualifies = F.col("c_acctbal") < F.col("__src_c_acctbal")
    merge_into(
        spark,
        st,
        incoming,
        on="c_custkey",
        matched_set={
            "c_mktsegment": F.when(
                qualifies, F.col("__src_c_mktsegment")
            ).otherwise(F.col("c_mktsegment")),
            "c_acctbal": F.when(
                qualifies, F.col("__src_c_acctbal")
            ).otherwise(F.col("c_acctbal")),
        },
    )
    return (
        st.read(spark)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            (
                F.sum(
                    F.round(F.col("c_acctbal") * 100)
                    .cast("bigint")
                    .cast("decimal(38,0)")
                ).cast("double")
                / 100.0
            ).alias("bal"),
        )
        .orderBy("c_mktsegment")
    )


def delete_using_multi(
    spark: SparkSession,
    table: SnapshotTable,
    key: list[str],
    sources: list[tuple[DataFrame, list[str]]],
) -> None:
    """DELETE FROM t USING s1, s2, ... WHERE t.k1 = s1.k1 AND t.k2 =
    s2.k2 ... (qp_dml_joins.sql's multi-relation USING): the doomed set
    is the CONJUNCTION of per-source matches — each source contributes
    one semi join on its own keys, never a cross join of the sources —
    then one anti join on the table key removes the doomed rows."""
    base = table.current_version()
    cur = table.read(spark, base)
    doomed = cur.select(*{*key, *(c for _, on in sources for c in on)})
    for src, on in sources:
        doomed = doomed.join(
            src.select(*on).distinct(), on=on, how="left_semi"
        )
    kept = cur.join(
        doomed.select(*key).distinct(), on=key, how="left_anti"
    )
    table.commit_rewrite(kept, base, label="delete_using_multi")


@register(
    "dml_delete_using_multi",
    oracle="""
        SELECT o_orderpriority, count(*) AS n
        FROM orders
        WHERE o_orderkey % 7 = 0
          AND NOT (o_custkey IN (SELECT c_custkey FROM customer
                                 WHERE c_acctbal < 0)
                   AND o_orderkey IN (SELECT l_orderkey FROM lineitem
                                      WHERE l_quantity > 45))
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    doc="DELETE FROM orders USING customer, lineitem WHERE "
    "o_custkey = c_custkey AND o_orderkey = l_orderkey "
    "(qp_dml_joins.sql multi-relation USING; nodeModifyTable.c): rows "
    "are doomed only when BOTH relations match — two independent semi "
    "joins (no source cross product), one anti join, one snapshot "
    "commit.",
    tags=("dml", "delete", "join"),
)
def dml_delete_using_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 7 == 0
    )
    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    path = scratch.path(sf_dir, "dml_multi_using")
    st = SnapshotTable.init(path, od)
    delete_using_multi(
        spark,
        st,
        ["o_orderkey"],
        [
            (
                cust.filter(F.col("c_acctbal") < 0).select(
                    F.col("c_custkey").alias("o_custkey")
                ),
                ["o_custkey"],
            ),
            (
                li.filter(F.col("l_quantity") > 45).select(
                    F.col("l_orderkey").alias("o_orderkey")
                ),
                ["o_orderkey"],
            ),
        ],
    )
    return (
        st.read(spark)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .orderBy("o_orderpriority")
    )
