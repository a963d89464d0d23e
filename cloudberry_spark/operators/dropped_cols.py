"""Dropped-column semantics (ALTER TABLE DROP COLUMN) over snapshot
tables — the qp_dropped_cols.sql battery (MPP-21090).

Reference: src/test/regress/sql/qp_dropped_cols.sql (8,362 lines) —
partitioned tables are seeded, a column is DROPped, inserts continue at
the new arity, the distribution policy changes, and UPDATE/DELETE keep
working, with a SELECT checked after every step. PG implements DROP
COLUMN as catalog-only (commands/tablecmds.c ATExecDropColumn: the
attribute is renamed ``........pg.dropped.N........`` and masked; heap
files are NOT rewritten), and a re-added column of the same name is a
brand-new attribute — old rows read NULL, the dead values are never
resurrected.

The Spark-first analog is lakehouse column mapping (what Delta column
mapping / Iceberg field-ids do): the table keeps a logical->physical
column map next to its immutable snapshot filesets (SnapshotTable).

- DROP COLUMN edits only the map — zero data movement, old filesets
  byte-identical (tests/test_operators_misc.py pins their mtimes).
- Inserts after the drop write new-arity files; reads mergeSchema
  across generations and select only mapped physical columns.
- Re-ADD of a dropped name maps the logical name to a FRESH physical
  name (col4 -> col4__v2), so old files — which still physically carry
  the dead col4 — contribute NULL, exactly PG's semantics.
- SET DISTRIBUTED BY becomes the write-side repartition key for
  subsequent commits (distribution.py's DISTRIBUTED BY analog); at
  100 TB that is the difference between a co-located and a shuffled
  join after the policy change, and it never touches standing files.

Each registered query emits stage-tagged snapshots after every step of
the reference's scenario, so a regression in any step flips the hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudberry_spark import scratch
from cloudberry_spark.registry import register
from cloudberry_spark.sources.snapshot import SnapshotTable


def read_masked(
    spark: SparkSession, t: SnapshotTable, mapping: list[tuple[str, str]]
) -> DataFrame:
    """Read the current snapshot through the logical->physical column
    map: mergeSchema unifies pre/post-drop file generations; selecting
    only mapped physical names is the catalog mask. A physical name
    absent from every live file (a re-added column no row has yet)
    still resolves via mergeSchema once any new-generation file exists.
    """
    import os

    m = t.manifest()
    dirs = [os.path.join(t.root, d) for d in m["dirs"]]
    df = spark.read.option("mergeSchema", "true").parquet(*dirs)
    cols = []
    for logical, physical in mapping:
        if physical in df.columns:
            cols.append(F.col(physical).alias(logical))
        else:  # no file carries it yet: all-NULL column
            cols.append(F.lit(None).alias(logical))
    return df.select(*cols)


def _mpp21090_sequence(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    v_hi,
    v_lo,
) -> DataFrame:
    """The changedistpolicy_dml_pttab scenario, stage-tagged.

    Stages mirror qp_dropped_cols.sql's SELECT checkpoints:
      2: after ALTER TABLE .. DROP COLUMN col4 (mask only)
      3: after the new-arity INSERT
      4: after SET DISTRIBUTED BY (col3) + INSERT SELECT
      5: after UPDATE col3='c' WHERE col3='b' (dist-key update =
         the reference's SplitUpdate; here a rewrite commit)
      6: after DELETE WHERE col3='c'
    """
    root = scratch.path(sf_dir, f"dropped_cols_{name}")
    seed = spark.createDataFrame(
        [(v_hi, v_hi, "a", v_hi, 0)], "col1 long, col2 long, col3 string, col4 long, col5 long"
    )
    t = SnapshotTable.init(root, seed)
    # ALTER TABLE ... DROP COLUMN col4: catalog-only map edit
    mapping = [(c, c) for c in ("col1", "col2", "col3", "col5")]
    s2 = read_masked(spark, t, mapping)

    # INSERT at the new arity (tablecmds.c: new tuples simply lack the
    # dropped attribute)
    t.commit_append(
        spark.createDataFrame(
            [(v_hi, v_hi, "b", 1)], "col1 long, col2 long, col3 string, col5 long"
        ),
        t.current_version(),
        label="insert-postdrop",
    )
    s3 = read_masked(spark, t, mapping)

    # SET DISTRIBUTED BY (col3): subsequent writes hash-partition on the
    # new key (gpdb cdbhash policy change; data-in-place, future motion
    # planning changes) — then INSERT SELECT
    t.commit_append(
        spark.createDataFrame(
            [(v_lo, v_lo, "c", 2)], "col1 long, col2 long, col3 string, col5 long"
        ).repartition("col3"),
        t.current_version(),
        label="insert-newpolicy",
    )
    s4 = read_masked(spark, t, mapping)

    # UPDATE on the NEW distribution key (SplitUpdate in the reference:
    # delete at old hash home + insert at new) = rewrite commit here
    cur = read_masked(spark, t, mapping)
    t.commit_rewrite(
        cur.withColumn(
            "col3", F.when(F.col("col3") == "b", "c").otherwise(F.col("col3"))
        ).repartition("col3"),
        t.current_version(),
        label="update",
    )
    s5 = read_masked(spark, t, [(c, c) for c in ("col1", "col2", "col3", "col5")])

    # DELETE
    t.commit_rewrite(
        s5.where(~(F.col("col3") == "c")).repartition("col3"),
        t.current_version(),
        label="delete",
    )
    s6 = read_masked(spark, t, [(c, c) for c in ("col1", "col2", "col3", "col5")])

    out = None
    for i, s in ((2, s2), (3, s3), (4, s4), (5, s5), (6, s6)):
        tagged = s.select(F.lit(i).alias("stage"), "col1", "col2", "col3", "col5")
        out = tagged if out is None else out.unionAll(tagged)
    return out.orderBy("stage", "col1", "col2", "col3", "col5")


@register(
    "regress_dropped_cols_dml_sequence_int4",
    oracle="""
        SELECT * FROM (VALUES
            (2, 20000000, 20000000, 'a', 0),
            (3, 20000000, 20000000, 'a', 0),
            (3, 20000000, 20000000, 'b', 1),
            (4, 10000000, 10000000, 'c', 2),
            (4, 20000000, 20000000, 'a', 0),
            (4, 20000000, 20000000, 'b', 1),
            (5, 10000000, 10000000, 'c', 2),
            (5, 20000000, 20000000, 'a', 0),
            (5, 20000000, 20000000, 'c', 1),
            (6, 20000000, 20000000, 'a', 0)
        ) t(stage, col1, col2, col3, col5)
        ORDER BY stage, col1, col2, col3, col5
    """,
    doc="qp_dropped_cols.sql mpp21090_changedistpolicy_dml_pttab_int4 "
    "(MPP-21090): seed -> DROP COLUMN col4 (catalog-mask only, files "
    "untouched) -> new-arity INSERT -> SET DISTRIBUTED BY (col3) + "
    "INSERT SELECT -> dist-key UPDATE (SplitUpdate analog) -> DELETE, "
    "with the reference's SELECT after every step emitted as "
    "stage-tagged rows. Oracle is the step-simulated literal state "
    "(the reference's own .out is likewise literal expected output).",
    tags=("regress", "dropped-cols", "dml"),
)
def regress_dropped_cols_dml_sequence_int4(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _mpp21090_sequence(spark, sf_dir, "int4", 20000000, 10000000)


@register(
    "regress_dropped_cols_dml_sequence_int8",
    oracle="""
        SELECT * FROM (VALUES
            (2, 200000000000000000, 200000000000000000, 'a', 0),
            (3, 200000000000000000, 200000000000000000, 'a', 0),
            (3, 200000000000000000, 200000000000000000, 'b', 1),
            (4, 100000000000000000, 100000000000000000, 'c', 2),
            (4, 200000000000000000, 200000000000000000, 'a', 0),
            (4, 200000000000000000, 200000000000000000, 'b', 1),
            (5, 100000000000000000, 100000000000000000, 'c', 2),
            (5, 200000000000000000, 200000000000000000, 'a', 0),
            (5, 200000000000000000, 200000000000000000, 'c', 1),
            (6, 200000000000000000, 200000000000000000, 'a', 0)
        ) t(stage, col1, col2, col3, col5)
        ORDER BY stage, col1, col2, col3, col5
    """,
    doc="qp_dropped_cols.sql mpp21090_changedistpolicy_dml_pttab_int8: "
    "the int8 variant (values beyond int32, exercising the long-typed "
    "mask path end to end).",
    tags=("regress", "dropped-cols", "dml"),
)
def regress_dropped_cols_dml_sequence_int8(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _mpp21090_sequence(
        spark, sf_dir, "int8", 200000000000000000, 100000000000000000
    )


@register(
    "regress_dropped_cols_readd",
    oracle="""
        SELECT * FROM (VALUES
            (1, 'a', CAST(NULL AS INT), 10),
            (2, 'b', CAST(NULL AS INT), 11),
            (3, 'c', 77, 12)
        ) t(col1, col3, col4, col5)
        ORDER BY col1
    """,
    doc="qp_dropped_cols.sql re-add semantics (tablecmds.c: a re-added "
    "column of a dropped name is a NEW attribute; old rows read NULL, "
    "the dead values are never resurrected): col4 is dropped (row 1 "
    "physically still carries 99), a row inserts without it, col4 is "
    "re-added — mapped to a fresh physical name col4__v2 (Delta/"
    "Iceberg column-mapping analog) — and a third row inserts with "
    "col4=77. The masked read shows NULL/NULL/77, proving the old "
    "physical col4 stays dead while still on disk.",
    tags=("regress", "dropped-cols", "ddl"),
)
def regress_dropped_cols_readd(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = scratch.path(sf_dir, "dropped_cols_readd")
    t = SnapshotTable.init(
        root,
        spark.createDataFrame(
            [(1, "a", 99, 10)], "col1 long, col3 string, col4 long, col5 long"
        ),
    )
    # DROP COLUMN col4 (mask), insert without it
    t.commit_append(
        spark.createDataFrame(
            [(2, "b", 11)], "col1 long, col3 string, col5 long"
        ),
        t.current_version(),
        label="insert-postdrop",
    )
    # ADD COLUMN col4 (new attribute -> fresh physical name), insert with it
    mapping = [
        ("col1", "col1"),
        ("col3", "col3"),
        ("col4", "col4__v2"),
        ("col5", "col5"),
    ]
    t.commit_append(
        spark.createDataFrame(
            [(3, "c", 77, 12)],
            "col1 long, col3 string, col4__v2 long, col5 long",
        ),
        t.current_version(),
        label="insert-readd",
    )
    return read_masked(spark, t, mapping).orderBy("col1")


@register(
    "regress_dropped_cols_join_after_drop",
    oracle="""
        WITH masked AS (
            SELECT * FROM (VALUES
                (1, 'a', 10), (2, 'b', 11), (3, 'a', 12), (4, 'c', 13)
            ) t(col1, col3, col5)
        )
        SELECT m.col3, count(*) AS n, CAST(sum(m.col5) AS BIGINT) AS total
        FROM masked m JOIN masked d ON m.col3 = d.col3
        GROUP BY m.col3 ORDER BY m.col3
    """,
    doc="qp_dropped_cols.sql join/agg-after-drop class: a self-join and "
    "aggregate over the masked table (4 seed rows, col2/col4 dropped) — "
    "the battery's point that plans stay correct once attribute "
    "numbers shift (PG plans carry attnums past dropped columns; the "
    "column-map analog must keep names straight across generations).",
    tags=("regress", "dropped-cols", "join"),
)
def regress_dropped_cols_join_after_drop(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    root = scratch.path(sf_dir, "dropped_cols_join")
    t = SnapshotTable.init(
        root,
        spark.createDataFrame(
            [
                (1, 100, "a", 99, 10),
                (2, 200, "b", 98, 11),
                (3, 300, "a", 97, 12),
                (4, 400, "c", 96, 13),
            ],
            "col1 long, col2 long, col3 string, col4 long, col5 long",
        ),
    )
    mapping = [(c, c) for c in ("col1", "col3", "col5")]  # col2+col4 dropped
    m = read_masked(spark, t, mapping)
    d = read_masked(spark, t, mapping)
    return (
        m.alias("m")
        .join(d.alias("d"), F.col("m.col3") == F.col("d.col3"))
        .groupBy(F.col("m.col3").alias("col3"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("m.col5")).alias("total"))
        .orderBy("col3")
    )
