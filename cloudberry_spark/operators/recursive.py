"""CTEs and recursive queries (SURVEY.md §2.1 CteScan / WorktableScan /
RecursiveUnion rows).

Plain CTEs are Catalyst-native (inlined or reused). WITH RECURSIVE
(/root/reference/src/backend/executor/nodeRecursiveunion.c:75) has two
implementations here:

1. ``recursive_union`` — a driver-side fixpoint loop (union-accumulate
   until the step produces no new rows), the SURVEY §7.3 plan. Each
   iteration is lazy DataFrame algebra; ``scratch.checkpoint`` every
   few rounds truncates the lineage so plans don't grow unboundedly —
   required for deep recursions on a real cluster.
2. Spark 4's native ``WITH RECURSIVE`` where the SQL form suffices.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudberry_spark import scratch
from cloudberry_spark.catalog import load_table
from cloudberry_spark.registry import register, register_sql


def recursive_union(
    seed: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_iterations: int = 100,
    checkpoint_every: int = 8,
) -> DataFrame:
    """Fixpoint iteration: result = seed ∪ step(seed) ∪ step²(seed) ∪ …

    UNION ALL semantics (like WITH RECURSIVE ... UNION ALL); the caller
    dedups if UNION-distinct semantics are wanted. Stops when a step
    yields zero rows. The per-iteration count() forces evaluation, which
    is inherent to recursion (the reference's WorktableScan does the
    same materialize-per-iteration).
    """
    acc = seed
    frontier = seed
    for i in range(max_iterations):
        frontier = step(frontier)
        if (i + 1) % checkpoint_every == 0:
            frontier = scratch.checkpoint(frontier)
        if frontier.isEmpty():
            return acc
        acc = acc.unionByName(frontier)
    raise RuntimeError(f"recursive_union did not converge in {max_iterations} iterations")


@register(
    "recursive_month_series",
    oracle="""
    WITH RECURSIVE months(m) AS (
      SELECT TIMESTAMP '1995-01-01'
      UNION ALL
      SELECT m + INTERVAL 1 MONTH FROM months
      WHERE m < TIMESTAMP '1996-12-01'
    )
    SELECT m AS month_start, CAST(extract(year FROM m) AS INT) AS y
    FROM months ORDER BY m
    """,
    doc="RecursiveUnion (nodeRecursiveunion.c:75) via the driver-side "
    "fixpoint loop: month dimension 1995-01..1996-12.",
    tags=("recursive", "cte"),
)
def recursive_month_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    seed = spark.sql("SELECT TIMESTAMP '1995-01-01' AS m")

    def step(df: DataFrame) -> DataFrame:
        return df.select(
            (F.col("m") + F.expr("INTERVAL 1 MONTH")).alias("m")
        ).where(F.col("m") <= F.lit("1996-12-01").cast("timestamp"))

    out = recursive_union(seed, step, max_iterations=30)
    return out.select(
        F.col("m").alias("month_start"),
        F.year("m").cast("int").alias("y"),
    ).orderBy("month_start")


@register(
    "recursive_cumulative_thresholds",
    oracle="""
    WITH RECURSIVE t(lvl, threshold) AS (
      SELECT 0, CAST(1000.0 AS DOUBLE)
      UNION ALL
      SELECT lvl + 1, threshold * 2 FROM t WHERE lvl < 8
    )
    SELECT t.lvl, t.threshold,
           (SELECT count(*) FROM orders WHERE o_totalprice > t.threshold)
             AS orders_above
    FROM t ORDER BY t.lvl
    """,
    doc="Recursive generator driving a probe into a fact table "
    "(WorktableScan feeding a join).",
    tags=("recursive", "cte"),
)
def recursive_cumulative_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    seed = spark.createDataFrame([(0, 1000.0)], "lvl int, threshold double")

    def step(df: DataFrame) -> DataFrame:
        return df.where(F.col("lvl") < 8).select(
            (F.col("lvl") + 1).alias("lvl"),
            (F.col("threshold") * 2).alias("threshold"),
        )

    levels = recursive_union(seed, step, max_iterations=20)
    orders = spark.table("orders")
    joined = levels.join(
        orders, orders.o_totalprice > levels.threshold, "left"
    )
    return (
        joined.groupBy("lvl", "threshold")
        .agg(F.count("o_orderkey").alias("orders_above"))
        .orderBy("lvl")
    )


register_sql(
    "cte_reuse",
    """
    WITH seg AS (
      SELECT c_mktsegment, avg(c_acctbal) AS avg_bal, count(*) AS n
      FROM customer GROUP BY c_mktsegment
    )
    SELECT a.c_mktsegment AS seg_a, b.c_mktsegment AS seg_b,
           a.avg_bal - b.avg_bal AS bal_gap
    FROM seg a JOIN seg b ON a.avg_bal > b.avg_bal
    ORDER BY seg_a, seg_b
    """,
    doc="CTE consumed twice (ShareInputScan, nodeShareInputScan.c:347; "
    "Catalyst CTE reuse/inlining).",
    tags=("cte",),
)


@register(
    "recursive_tree_closure",
    oracle="""
    WITH RECURSIVE anc AS (
      SELECT n AS node, n // 2 AS anc, 1 AS depth
      FROM generate_series(2, 200) t(n)
      UNION ALL
      SELECT node, anc // 2, depth + 1 FROM anc WHERE anc > 1
    )
    SELECT node, count(*) AS n_ancestors, max(depth) AS depth_to_root
    FROM anc GROUP BY node
    """,
    doc="Transitive closure over a binary-heap tree (node -> node div 2): "
    "WITH RECURSIVE (nodeRecursiveunion.c:75) as the driver-side fixpoint "
    "loop; ~log2(N) iterations, frontier shrinks monotonically.",
    tags=("recursive", "cte", "graph"),
)
def recursive_tree_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    seed = spark.range(2, 201).select(
        F.col("id").alias("node"),
        F.expr("id div 2").alias("anc"),
        F.lit(1).alias("depth"),
    )
    closure = recursive_union(
        seed,
        lambda fr: fr.filter(F.col("anc") > 1).select(
            "node", F.expr("anc div 2").alias("anc"), (F.col("depth") + 1).alias("depth")
        ),
        max_iterations=12,
    )
    return closure.groupBy("node").agg(
        F.count("*").alias("n_ancestors"), F.max("depth").alias("depth_to_root")
    )


#: Bellman-Ford rounds for recursive_shortest_path (bounded-hop form).
_BF_ROUNDS = 4


def _bf_oracle() -> str:
    step = """
    d{k} AS (
        SELECT node, min(d) AS d FROM (
            SELECT node, d FROM d{p}
            UNION ALL
            SELECT e.dst, p.d + e.w
            FROM edges e JOIN d{p} p ON p.node = e.src
        ) GROUP BY node
    )"""
    steps = ",".join(
        step.format(k=k, p=k - 1) for k in range(1, _BF_ROUNDS + 1)
    )
    return f"""
    WITH nat AS (SELECT CAST(n_nationkey AS INT) AS n FROM nation),
    edges AS (
        SELECT n AS src, (n + 1) % 25 AS dst,
               1 + (n * 7 + ((n + 1) % 25) * 3) % 9 AS w FROM nat
        UNION ALL
        SELECT n, (n + 5) % 25, 1 + (n * 7 + ((n + 5) % 25) * 3) % 9 FROM nat
    ),
    d0 AS (SELECT 0 AS node, 0 AS d),{steps}
    SELECT CAST(node AS INT) AS node, CAST(d AS BIGINT) AS dist
    FROM d{_BF_ROUNDS} ORDER BY node
    """


@register(
    "recursive_shortest_path",
    oracle=_bf_oracle(),
    doc="Single-source weighted shortest paths by Bellman-Ford "
    "relaxation, 4 bounded rounds (the WITH RECURSIVE graph-search "
    "shape of nodeRecursiveunion.c, generalized to weighted min-"
    "aggregation — which PG's recursive CTE cannot do directly "
    "because UNION recursion can't re-aggregate; MADlib's "
    "graph_sssp runs exactly this relax-iterate loop in-database). "
    "Edges: a deterministic 2-out ring over the 25 nations with "
    "hash-derived integer weights. Each round = one join dist⋈edges "
    "(shuffle on src) + a min groupBy; the frontier table is "
    "(node, dist) rows, never driver-side. Bounded rounds give "
    "exact <=4-hop distances — the deterministic contract both "
    "engines replay; all-integer, bit-exact.",
    tags=("recursive", "graph"),
)
def recursive_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cloudberry_spark.catalog import load_table

    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("int").alias("n")
    )
    e1 = nat.select(
        F.col("n").alias("src"), ((F.col("n") + 1) % 25).alias("dst")
    )
    e2 = nat.select(F.col("n"), (F.col("n") + 5) % 25)
    edges = e1.unionAll(e2).withColumn(
        "w", 1 + (F.col("src") * 7 + F.col("dst") * 3) % 9
    )
    dist = nat.where(F.col("n") == 0).select(
        F.col("n").alias("node"), F.lit(0).alias("d")
    )
    for _ in range(_BF_ROUNDS):
        relax = edges.join(dist, edges["src"] == dist["node"]).select(
            F.col("dst").alias("node"), (F.col("d") + F.col("w")).alias("d")
        )
        dist = (
            dist.unionAll(relax).groupBy("node").agg(F.min("d").alias("d"))
        )
    return dist.select(
        F.col("node").cast("int").alias("node"),
        F.col("d").cast("bigint").alias("dist"),
    ).orderBy("node")


@register(
    "recursive_bom_explosion",
    oracle="""
    WITH RECURSIVE bom AS (
        -- synthesized 3-level assembly hierarchy over part: each part's
        -- parent is p_partkey // 10; per-level quantity = 1 + p % 3
        SELECT p_partkey AS root, p_partkey AS component,
               CAST(1 AS BIGINT) AS qty, 0 AS depth
        FROM part WHERE p_partkey % 10 = 0 AND p_partkey <= 500
        UNION ALL
        SELECT b.root, p.p_partkey AS component,
               CAST(b.qty * (1 + p.p_partkey % 3) AS BIGINT) AS qty,
               b.depth + 1
        FROM bom b
        JOIN part p
          ON p.p_partkey // 10 = b.component
         AND p.p_partkey <> b.component
        WHERE b.depth < 3
    )
    SELECT root,
           count(*) AS n_components,
           CAST(max(depth) AS BIGINT) AS max_depth,
           CAST(sum(qty) AS BIGINT) AS total_units
    FROM bom WHERE depth > 0
    GROUP BY root
    ORDER BY root
    """,
    doc="Bill-of-materials explosion — THE canonical WITH RECURSIVE "
    "workload (nodeRecursiveunion.c WorktableScan; every ERP manual's "
    "example): multiply per-level quantities down a 3-level synthesized "
    "assembly hierarchy (parent = part div 10) and roll up total units "
    "per root assembly. The frontier is joined to the part table each "
    "round — the reference's worktable⋈base step — realized as the "
    "driver-side fixpoint loop with a depth bound; quantities are "
    "integer-exact so the differential is bit-stable.",
    tags=("recursive", "cte", "bom"),
)
def recursive_bom_explosion(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", (F.col("p_partkey") / 10).cast("bigint").alias("parent")
    )
    seed = (
        load_table(spark, sf_dir, "part")
        .where((F.col("p_partkey") % 10 == 0) & (F.col("p_partkey") <= 500))
        .select(
            F.col("p_partkey").alias("root"),
            F.col("p_partkey").alias("component"),
            F.lit(1).cast("bigint").alias("qty"),
            F.lit(0).alias("depth"),
        )
    )

    def step(fr: DataFrame) -> DataFrame:
        return (
            fr.where(F.col("depth") < 3)
            .join(part, part.parent == fr.component)
            .where(F.col("p_partkey") != F.col("component"))
            .select(
                "root",
                F.col("p_partkey").alias("component"),
                (F.col("qty") * (1 + F.col("p_partkey") % 3))
                .cast("bigint")
                .alias("qty"),
                (F.col("depth") + 1).alias("depth"),
            )
        )

    bom = recursive_union(seed, step, max_iterations=5)
    return (
        bom.where(F.col("depth") > 0)
        .groupBy("root")
        .agg(
            F.count(F.lit(1)).alias("n_components"),
            F.max("depth").cast("bigint").alias("max_depth"),
            F.sum("qty").cast("bigint").alias("total_units"),
        )
        .orderBy("root")
    )
