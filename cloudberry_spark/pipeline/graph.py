"""In-engine graph algorithms over relational edge lists.

The reference ecosystem runs graph workloads two ways: recursive CTEs
in SQL (src/backend/executor/nodeRecursiveunion.c — covered by
operators/recursive.py) and Apache MADlib's graph module (pagerank,
wcc, triangle counting) executed as iterative SQL over edge tables.
This module provides the MADlib-graph-class members as deterministic
DataFrame algebra with exact DuckDB oracles:

- PageRank: damping 0.85, dangling-mass redistribution, 3 unrolled
  iterations. Each iteration is one join edge⋈rank (shuffle on the
  src key) + one groupBy dst — the textbook distributed PR step; the
  rank vector is a (node, pr) table, never driver-side.
- Triangle counting: degree-ordered edge orientation (each edge
  directed low-degree → high-degree node) before the wedge join, the
  standard trick that bounds wedge fan-out by sqrt(m) per node and
  kills the hot-vertex quadratic blowup at scale.

Graph connectivity (connected components via min-label propagation)
lives in pipeline/components.py.

Edges derive from the fixtures: customer→supplier from co-occurring
(orders ⋈ lineitem) rows, supplier—supplier from sharing a part.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cloudberry_spark.catalog import load_table
from cloudberry_spark.registry import register
from cloudberry_spark.scratch import materialize as _materialize

#: PageRank damping factor (the canonical 0.85) and iteration count.
PR_DAMPING = 0.85
PR_ITERS = 3


def _pagerank_oracle() -> str:
    d = PR_DAMPING
    it = """
    r{k} AS (
        SELECT n.node,
               (1 - {d}) / (SELECT n FROM nn)
               + {d} * (coalesce(c.contrib, 0)
                        + (SELECT sum(r.pr) FROM r{p} r
                           LEFT JOIN outdeg o ON o.src = r.node
                           WHERE o.src IS NULL) / (SELECT n FROM nn)) AS pr
        FROM nodes n
        LEFT JOIN (
            SELECT e.dst, sum(r.pr / o.deg) AS contrib
            FROM edges e
            JOIN r{p} r ON r.node = e.src
            JOIN outdeg o ON o.src = e.src
            GROUP BY e.dst
        ) c ON c.dst = n.node
    )"""
    its = ",".join(
        it.format(k=k, p=k - 1, d=d) for k in range(1, PR_ITERS + 1)
    )
    return f"""
    WITH edges AS (
        SELECT DISTINCT 'c:' || o.o_custkey AS src,
                        's:' || l.l_suppkey AS dst
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), nodes AS (
        SELECT src AS node FROM edges
        UNION SELECT dst FROM edges
    ), nn AS (
        SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes
    ), outdeg AS (
        SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM edges GROUP BY src
    ), r0 AS (
        SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM nodes
    ),{its}
    SELECT node, round(pr * (SELECT n FROM nn), 6) AS pr_norm
    FROM r{PR_ITERS}
    ORDER BY round(pr * (SELECT n FROM nn), 6) DESC, node
    LIMIT 10
    """


@register(
    "graph_pagerank",
    oracle=_pagerank_oracle(),
    doc="PageRank over the customer→supplier purchase graph (MADlib "
    "graph.pagerank parity; damping 0.85, 3 unrolled iterations, "
    "dangling-mass redistribution — suppliers have no out-edges, so "
    "their rank redistributes uniformly, exactly MADlib/Pregel "
    "semantics). Each iteration: edges ⋈ ranks shuffled on src, "
    "grouped on dst, plus two metadata-scale aggregates (dangling "
    "mass, node count) broadcast back — the rank state is a (node, "
    "pr) table end to end, nothing driver-side, so the same plan "
    "runs at 10^9 nodes. Output: top-10 nodes by rank normalized to "
    "mean 1 (ties broken on node id; ranks rounded before the sort "
    "so the cut is cross-engine stable).",
    tags=("graph", "pipeline", "iterative"),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # The distinct edge list is the iteration-invariant state: without
    # materialization, every unrolled iteration re-executes the
    # orders⋈lineitem join + distinct in each branch (contrib, dangling,
    # the previous ranks' lineage). Scratch-parquet over .persist():
    # file relations carry exact size stats, so AQE keeps broadcasting
    # the rank/contrib sides (a cached InMemoryRelation was measured
    # 2x SLOWER here — it pins memory and degrades the join planning).
    # NOTE (r13 §11, measured negative): distinct-ing the raw INT key
    # pair and concat-ing the node strings AFTER (a narrower distinct
    # exchange, row-identical output) was built and REVERTED — the
    # narrower shuffle let AQE coalesce the materialized edge fileset
    # to a single parquet file, and every iteration's join probe then
    # scanned edges in ONE task (47 MB < maxPartitionBytes): iterations
    # went 12.3s -> 16.6-18s at sf1. String-keyed distinct keeps the
    # fileset wide enough to parallelize the per-iteration scans.
    edges = _materialize(
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct(),
        spark, sf_dir, "pagerank_edges",
    )
    # Fold the out-degree INTO the node/rank state (deg, NULL for
    # dangling): each iteration is then ONE edges⋈ranks join instead of
    # two (the old separate outdeg join) and the dangling mass is a
    # plain filter+agg over the small rank table instead of a per-round
    # anti-join — fewer shuffles at any scale, ~6% wall at sf0.1.
    outdeg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("double").alias("deg")
    )
    # src ("c:*") and dst ("s:*") namespaces are disjoint, so the node
    # set is exactly outdeg's keys (every src, with its degree) plus
    # the distinct dsts (dangling, deg NULL): one narrow distinct over
    # dst replaces the 2|E|-row union-distinct AND the left join back
    # to outdeg (r13 §11; row-identical by the disjointness argument).
    nodes = _materialize(
        outdeg.unionByName(
            edges.select(F.col("dst").alias("node"))
            .distinct()
            .withColumn("deg", F.lit(None).cast("double"))
        ),
        spark, sf_dir, "pagerank_nodes",
    )
    n = float(nodes.count())
    ranks = nodes.withColumn("pr", F.lit(1.0 / n))
    for _i in range(PR_ITERS):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("deg")).alias("contrib"))
        )
        dangling = (
            ranks.filter(F.col("deg").isNull()).agg(F.sum("pr").alias("dm"))
        )
        new_ranks = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "deg",
                (
                    F.lit((1 - PR_DAMPING) / n)
                    + PR_DAMPING
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dm") / n
                    )
                ).alias("pr"),
            )
        )
        # Materialize the new rank table every round: `ranks` is
        # referenced TWICE per iteration (contrib + dangling), so a
        # lazy chain replays the previous rounds 2^k times. With the
        # state written out, each iteration is exactly one edge⋈rank
        # shuffle + one groupBy — linear in rounds, the Pregel shape.
        # Scratch parquet, NOT localCheckpoint: the rank state is
        # node-table sized (big at 100 TB), and a checkpointed RDD has
        # no size statistics — measured here to flip the contrib join
        # from broadcast-the-rank-state (parquet stats) to SMJ /
        # broadcast-the-EDGES, exactly the wrong side at scale
        # (plans/r12/graph_pagerank_*). Locally parquet vs checkpoint
        # measured the same (r4 note above). The LAST round's ranks
        # are read exactly once (the final top-k), so that round
        # skips the write+read round-trip.
        if _i < PR_ITERS - 1:
            new_ranks = _materialize(
                new_ranks, spark, sf_dir, f"pagerank_ranks_{_i}"
            )
        ranks = new_ranks
    return (
        ranks.select("node", F.round(F.col("pr") * n, 6).alias("pr_norm"))
        .orderBy(F.desc("pr_norm"), "node")
        .limit(10)
    )


@register(
    "graph_triangle_count",
    oracle="""
    WITH sp AS (
        SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ), raw_edges AS (
        SELECT DISTINCT a.s AS u, b.s AS v
        FROM sp a JOIN sp b ON a.p = b.p AND a.s < b.s
    ), deg AS (
        SELECT u AS node, count(*) AS d FROM (
            SELECT u FROM raw_edges UNION ALL SELECT v FROM raw_edges
        ) t(u) GROUP BY u
    ), oriented AS (
        -- orient each edge from lower (degree, id) to higher: every
        -- triangle is counted exactly once, and wedge fan-out per node
        -- is bounded by its oriented out-degree
        SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS a,
               CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS b
        FROM raw_edges e
        JOIN deg du ON du.node = e.u
        JOIN deg dv ON dv.node = e.v
    )
    SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT count(*) FROM raw_edges) AS BIGINT) AS n_edges,
           CAST(count(*) AS BIGINT) AS n_triangles
    FROM oriented e1
    JOIN oriented e2 ON e2.a = e1.b
    JOIN oriented e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
    doc="Triangle counting on the supplier co-part graph (MADlib "
    "graph measures parity; suppliers adjacent iff they supply a "
    "common part). The classic scale trick is structural, not "
    "incidental: every edge is ORIENTED from its (degree, id)-smaller "
    "endpoint before the wedge join, so each triangle is enumerated "
    "exactly once and per-node wedge fan-out is O(sqrt(m)) instead of "
    "O(max-degree) — the difference between feasible and quadratic on "
    "a 100 TB power-law graph. Two hash joins on node keys; all "
    "integer counts, bit-exact oracle.",
    tags=("graph", "pipeline"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sp = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    a, b = sp.alias("a"), sp.alias("b")
    raw_edges = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")))
        .select(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
        .distinct()
    )
    deg = (
        raw_edges.select(F.col("u").alias("node"))
        .unionAll(raw_edges.select("v"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    lower = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        raw_edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(lower, F.col("v")).otherwise(F.col("u")).alias("b"),
        )
    )
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    nn = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    ne = raw_edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        nn.crossJoin(ne)
        .crossJoin(tri)
        .select("n_nodes", "n_edges", "n_triangles")
    )


@register(
    "graph_link_prediction",
    oracle="""
    WITH sp AS (
        SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ), edges AS (
        SELECT DISTINCT a.s AS u, b.s AS v
        FROM sp a JOIN sp b ON a.p = b.p AND a.s < b.s
    ), adj AS (
        SELECT u AS a, v AS b FROM edges
        UNION ALL SELECT v, u FROM edges
    ), deg AS (
        SELECT a AS node, count(*) AS d FROM adj GROUP BY a
    ), cn AS (
        SELECT x.b AS u, y.b AS v, count(*) AS common_neighbors
        FROM adj x JOIN adj y ON x.a = y.a AND x.b < y.b
        GROUP BY x.b, y.b
    )
    SELECT cn.u, cn.v,
           CAST(cn.common_neighbors AS BIGINT) AS common_neighbors,
           round(CAST(cn.common_neighbors AS DOUBLE)
                 / (du.d + dv.d - cn.common_neighbors), 6) AS jaccard,
           CAST(CASE WHEN e.u IS NULL THEN 0 ELSE 1 END AS INT) AS is_edge
    FROM cn
    JOIN deg du ON du.node = cn.u
    JOIN deg dv ON dv.node = cn.v
    LEFT JOIN edges e ON e.u = cn.u AND e.v = cn.v
    ORDER BY common_neighbors DESC, cn.u, cn.v
    LIMIT 10
    """,
    doc="Link prediction by neighborhood overlap (MADlib graph-"
    "measures family): common-neighbor count and Jaccard coefficient "
    "for every co-wedge supplier pair on the co-part graph, flagged "
    "is_edge (pairs with is_edge=0 and high overlap are the predicted "
    "links; the flag keeps the result non-degenerate on the dense "
    "small-fixture graph). One wedge self-join on the shared-neighbor "
    "key + a grouped count — the same degree-bounded join shape as "
    "graph_triangle_count, so the scale ceiling is wedge count, not "
    "pair count. All-integer CN counts; Jaccard derives from "
    "integers, bit-stable at 6 digits.",
    tags=("graph", "pipeline"),
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sp = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    a, b = sp.alias("a"), sp.alias("b")
    edges = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")))
        .select(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
        .distinct()
    )
    adj = edges.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        edges.select(F.col("v"), F.col("u"))
    )
    deg = adj.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    x, y = adj.alias("x"), adj.alias("y")
    cn = (
        x.join(y, (F.col("x.a") == F.col("y.a")) & (F.col("x.b") < F.col("y.b")))
        .groupBy(F.col("x.b").alias("u"), F.col("y.b").alias("v"))
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    flagged = (
        cn.join(du, "u")
        .join(dv, "v")
        .join(edges.withColumn("ise", F.lit(1)), ["u", "v"], "left")
        .select(
            "u",
            "v",
            F.col("common_neighbors").cast("bigint").alias("common_neighbors"),
            F.round(
                F.col("common_neighbors").cast("double")
                / (F.col("du") + F.col("dv") - F.col("common_neighbors")),
                6,
            ).alias("jaccard"),
            F.coalesce(F.col("ise"), F.lit(0)).cast("int").alias("is_edge"),
        )
    )
    return flagged.orderBy(F.desc("common_neighbors"), "u", "v").limit(10)


#: Peeling rounds for the k-core demo (unrolled; exact <=N-round core).
KCORE_K = 4
KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    step = """
    a{r} AS MATERIALIZED (
        SELECT e.u, e.v FROM edges e
        JOIN d{p} du ON du.node = e.u
        JOIN d{p} dv ON dv.node = e.v
    ), d{r} AS MATERIALIZED (
        SELECT node FROM (
            SELECT u AS node FROM a{r} UNION ALL SELECT v FROM a{r}
        ) GROUP BY node HAVING count(*) >= {k}
    )"""
    steps = ",".join(
        step.format(r=r, p=r - 1, k=KCORE_K)
        for r in range(1, KCORE_ROUNDS + 1)
    )
    return f"""
    WITH sp AS MATERIALIZED (
        SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ), edges AS MATERIALIZED (
        -- MATERIALIZED: every peel round references edges; inlined, the
        -- wedge self-join would re-execute per round and spill (~50 GB
        -- observed on the complete sf0.1 co-part graph)
        SELECT DISTINCT a.s AS u, b.s AS v
        FROM sp a JOIN sp b ON a.p = b.p AND a.s < b.s
    ), d0 AS (
        SELECT node FROM (
            SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
        ) GROUP BY node HAVING count(*) >= {KCORE_K}
    ),{steps}
    SELECT CAST((SELECT count(*) FROM d0) AS BIGINT) AS survivors_round0,
           CAST((SELECT count(*) FROM d{KCORE_ROUNDS}) AS BIGINT)
               AS survivors_final,
           CAST((SELECT count(*) FROM (
               SELECT u AS node FROM edges UNION SELECT v FROM edges))
               AS BIGINT) AS n_nodes
    """


@register(
    "graph_kcore_peel",
    oracle=_kcore_oracle(),
    doc=f"k-core decomposition by iterative peeling (MADlib k-core "
    f"parity; the community/denseness primitive): repeatedly drop "
    f"nodes with degree < {KCORE_K} and recount over the induced "
    f"subgraph — {KCORE_ROUNDS} unrolled rounds, each one edge⋈"
    f"survivor semi-join + one degree groupBy, the membership table "
    f"staying distributed throughout. Integer-exact; output tracks "
    f"survivor counts per round so the fixpoint's convergence is "
    f"visible in the result.",
    tags=("graph", "pipeline", "iterative"),
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sp = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    a, b = sp.alias("a"), sp.alias("b")
    # persist: the wedge self-join is the expensive derivation and every
    # peel round's lineage branches off it (same iterative-state pattern
    # as graph_pagerank — materialize the derived graph, iterate on it)
    edges = _materialize(
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")))
        .select(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
        .distinct(),
        spark, sf_dir, "kcore_edges",
    )
    nodes = edges.select(F.col("u").alias("node")).union(
        edges.select("v")
    ).distinct()

    def degree_filter(es):
        return (
            es.select(F.col("u").alias("node"))
            .unionAll(es.select("v"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
            .where(F.col("d") >= KCORE_K)
            .select("node")
        )

    surv = _materialize(
        degree_filter(edges), spark, sf_dir, "kcore_surv_0"
    )
    first = surv.agg(F.count(F.lit(1)).alias("survivors_round0"))
    es = edges
    for _r in range(KCORE_ROUNDS):
        su = surv.select(F.col("node").alias("u"))
        sv = surv.select(F.col("node").alias("v"))
        # es and surv both feed two consumers per round: truncate the
        # peel state each round or the lazy chain replays exponentially
        # (same reasoning as graph_pagerank's per-round rank tables).
        es = _materialize(
            es.join(su, "u", "left_semi").join(sv, "v", "left_semi"),
            spark, sf_dir, f"kcore_es_{_r}",
        )
        surv = _materialize(
            degree_filter(es), spark, sf_dir, f"kcore_surv_{_r + 1}"
        )
    return (
        surv.agg(F.count(F.lit(1)).alias("survivors_final"))
        .crossJoin(F.broadcast(first))
        .crossJoin(
            F.broadcast(nodes.agg(F.count(F.lit(1)).alias("n_nodes")))
        )
        .select("survivors_round0", "survivors_final", "n_nodes")
    )
