"""Distributed connected components: duplicate-GROUP resolution.

LSH (pipeline.dedup) emits candidate *pairs*; a curation pipeline needs
*groups* — if A~B and B~C, then {A,B,C} is one duplicate cluster and one
canonical document survives. That grouping is connected components over
the pair graph.

Algorithm: min-label propagation. Every node starts labeled with its own
id; each round a node takes the minimum label among itself and its
neighbors; fixpoint when no label changes. Rounds needed = graph
diameter. Near-dup graphs are dense clusters (exact-dup cliques converge
in one round), so a handful of rounds suffice; for adversarial
long-chain graphs the same join primitives implement alternating
large-star/small-star (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14) in O(log^2 n) rounds — swap the loop
body, not the architecture.

Scale design (100 TB):
- Each round is one shuffle (edge join on ``v``) plus one aggregation
  (groupBy ``u``) — both keyed by node id, so the exchange reuses one
  partitioning and AQE coalesces the small label side as it shrinks.
- A checkpoint after every round truncates lineage; without it the
  logical plan doubles per iteration and planning time explodes long
  before data size matters. ``scratch.checkpoint`` picks reliable
  ``checkpoint()`` (survives executor loss) whenever a checkpoint dir
  is configured and only falls back to ``localCheckpoint()`` on bare
  local sessions.
- Convergence is detected with a count of changed labels — one extra
  job per round, but it reads only the (node, label) frame, which is
  tiny relative to the corpus.

The reference engine has no graph operators; its closest machinery is
WITH RECURSIVE (executor/nodeRecursiveunion.c:75), which is exactly what
the DuckDB oracle uses to verify this operator end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudberry_spark import scratch
from cloudberry_spark.catalog import load_table
from cloudberry_spark.pipeline.dedup import (
    lsh_candidate_pairs,
    lsh_oracle_ctes,
    lsh_pairs_sql,
)
from cloudberry_spark.registry import register


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 30,
) -> DataFrame:
    """(node, component): min reachable node id per connected component.

    ``nodes``: one row per vertex (column ``id_col``); ``edges``:
    undirected edge list (columns ``src``, ``dst``). Isolated nodes form
    singleton components.
    """
    # Materialize the edge list ONCE: without this, the (expensive)
    # edge-producing pipeline upstream — for dedup, the whole
    # minhash+LSH candidate generation — re-executes on every round's
    # every action (measured 20s -> ~5s at sf0.1).
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
    )
    sym = scratch.checkpoint(sym)
    labels = scratch.checkpoint(
        nodes.select(F.col(id_col).alias("u"), F.col(id_col).alias("label"))
    )
    for _ in range(max_rounds):
        nbr_min = (
            sym.join(
                labels.select(F.col("u").alias("v"), F.col("label").alias("v_label")),
                "v",
            )
            .groupBy("u")
            .agg(F.min("v_label").alias("nbr_label"))
        )
        # one checkpoint carries (old_label, label); both the convergence
        # probe and the next round read IT, so the join+agg above runs
        # exactly once per round
        proposed = (
            labels.join(nbr_min, "u", "left")
            .select(
                "u",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
        )
        proposed = scratch.checkpoint(proposed)
        changed = (
            proposed.where(F.col("label") < F.col("old_label")).limit(1).count()
        )
        labels = proposed.select("u", "label")
        if changed == 0:
            break
    return labels.select(F.col("u").alias("node"), F.col("label").alias("component"))


def _components_oracle() -> str:
    # Reuse the LSH CTE chain; transitive closure via WITH RECURSIVE is
    # the oracle for the iterative Spark loop.
    ctes = lsh_oracle_ctes().replace("WITH sh AS", "WITH RECURSIVE sh AS", 1)
    return f"""{ctes},
    pairs AS ({lsh_pairs_sql()}),
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION ALL
              SELECT id_b, id_a FROM pairs),
    reach(u, v) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
    )
    SELECT u AS doc_id, min(v) AS group_id, (min(v) = u) AS is_keeper
    FROM reach GROUP BY u ORDER BY doc_id
    """


@register(
    "dedup_components",
    oracle=_components_oracle(),
    doc="Duplicate-group resolution: connected components (min-label "
    "propagation to fixpoint, checkpointed per round) over MinHash-LSH "
    "candidate pairs. group_id = min doc_id of the cluster; the keeper "
    "is the canonical survivor. Oracle: DuckDB WITH RECURSIVE closure.",
    tags=("pipeline", "dedup", "iterative"),
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(docs, "doc_id", "text")
    cc = connected_components(docs.select("doc_id"), pairs, "doc_id")
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("group_id"),
        (F.col("component") == F.col("node")).alias("is_keeper"),
    ).orderBy("doc_id")
