"""Similarity search over the ``embeddings`` table (array<float>, d=64).

Three operators, all shaped for a 1000-executor cluster:

- ``sim_knn_brute``: exact cosine top-k. The query set is broadcast
  (small by construction); the corpus is scanned once, scored JVM-side
  with higher-order array functions (zip_with + aggregate — no Python,
  no UDF), and reduced per-query with a window top-k. Linear in corpus
  size, embarrassingly parallel.
- ``sim_ivf_knn``: IVF-style ANN. Coarse quantizer = per-label centroid
  (computed by posexplode + groupBy — deterministic); each query probes
  only its nearest centroid's partition. The scale path: probe cost is
  corpus/nprobe, and the centroid table is tiny and broadcast.
- ``sim_cosine_neardup``: embedding near-duplicate pairs above a cosine
  threshold, LSH-free exact variant for the fixture scale; the banded
  path reuses dedup's LSH machinery.

Reference parity: closest native feature is gp_sparse_vector's svec
dot/l2 ops (/root/reference/gpcontrib/gp_sparse_vector/) — extended here
to full ANN per the build brief.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cloudberry_spark import scratch
from cloudberry_spark.catalog import load_table
from cloudberry_spark.registry import register

K = 5
N_QUERIES = 10  # vec_id < 10 are the query set in the fixture demos


def dot_expr(a: Column, b: Column) -> Column:
    """Column-expression dot product (Catalyst HOF left fold).

    The reference for any vectorized pair-scoring kernel — the HOF
    lambdas are never whole-stage-codegen'd, so every element walks an
    interpreted eval tree with JIT-dependent wall time (the r12 finding
    that motivated the hashing.py kernels; guide §4.2)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


# Default entry points: the EXPRESSION forms. Decision record (r13,
# OPTIMIZATION_r13.md §2): interleaved ABAB at BOTH 8 and 32 cores,
# across four sessions, had the expression folds beating the Arrow
# kernels on every per-pair vector-scoring site at bench scale
# (sim_knn_brute 1.14s vs 2.50s, sim_ivf_knn 1.85 vs 2.24, semdedup
# ~even) — a 64-element arithmetic fold is cheap enough that the
# kernel's fixed costs (Python boundary round-trip of both vectors per
# pair, plus the exchange the EvalPython node's lost output
# partitioning re-inserts) never amortize, and unlike the md5 HOF
# lambdas (16-20x kernel win, kept in pipeline/hashing.py) the
# arithmetic interpreters showed no JIT pathology in ~40 measured
# invocations, so the kernels were deleted. sim_ivfpq_search's hot path
# needs neither: its probed-list scoring is pure codegen lookup
# arithmetic after the ADC restructure below.
dot = dot_expr
norm = norm_expr
cosine = cosine_expr


def l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance over float arrays, widening inline (same
    values as the old cast-transform + double fold)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


_DUCK_DOT = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


def _duck_cosine(a: str, b: str) -> str:
    d = _DUCK_DOT.format(a=a, b=b)
    na = f"sqrt({_DUCK_DOT.format(a=a, b=a)})"
    nb = f"sqrt({_DUCK_DOT.format(a=b, b=b)})"
    return f"({d}) / ({na} * {nb})"


def knn_brute(
    corpus: DataFrame, queries: DataFrame, k: int = K, id_col: str = "vec_id"
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    queries is broadcast; ranking uses one window shuffle keyed on the
    (small) query id — corpus-side work is a single scan.
    """
    # Norms factored out of the pair loop: cosine(q, c) recomputed
    # norm(q) and norm(c) per (query, corpus) PAIR — 2/3 of the per-pair
    # work, x|queries| redundant. Computing each side's norm once before
    # the join is bit-identical (same IEEE double ops in the same order:
    # dot / (q_norm * c_norm) with the operand order of cosine()).
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col("embedding").alias("q_emb"),
            norm(F.col("embedding")).alias("__qn"),
        )
    )
    c_side = corpus.select(
        F.col(id_col), F.col("embedding"), norm(F.col("embedding")).alias("__cn")
    )
    scored = c_side.alias("c").join(q, F.col(f"c.{id_col}") != F.col("query_id")).select(
        "query_id",
        F.col(f"c.{id_col}").alias("neighbor_id"),
        (
            dot(F.col("q_emb"), F.col("c.embedding"))
            / (F.col("__qn") * F.col("__cn"))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rnk")
    )


@register(
    "sim_knn_brute",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT query_id, c.vec_id AS neighbor_id,
             {_duck_cosine('q_emb', 'c.embedding')} AS cos_sim
      FROM embeddings c JOIN q ON c.vec_id <> query_id),
    ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rnk
      FROM scored)
    SELECT query_id, neighbor_id, cos_sim, rnk
    FROM ranked WHERE rnk <= {K}
    ORDER BY query_id, rnk
    """,
    doc="Brute-force exact cosine top-k (baseline ANN). Scoring is "
    "zip_with+aggregate (whole-stage codegen), queries broadcast.",
    tags=("pipeline", "similarity", "bench"),
)
def sim_knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    return knn_brute(emb, queries).orderBy("query_id", "rnk")


def label_centroids(emb: DataFrame) -> DataFrame:
    """(label, c_emb): element-wise mean vector per label.

    posexplode + two-level groupBy — deterministic and JVM-side; the
    result is tiny (|labels| rows) and meant to be broadcast.
    """
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.avg("val").alias("cval"))
        .groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("cval")))
            ).alias("pairs")
        )
        .select(
            "label", F.transform("pairs", lambda p: p.cval).alias("c_emb")
        )
    )


@register(
    "sim_ivf_knn",
    oracle=f"""
    WITH cent AS (
      SELECT label, pos, avg(val) AS cval
      FROM (SELECT label, unnest(embedding) AS val,
                   generate_subscripts(embedding, 1) AS pos
            FROM embeddings) t
      GROUP BY label, pos),
    centroids AS (
      SELECT label, list(cval ORDER BY pos) AS c_emb FROM cent GROUP BY label),
    q AS (SELECT vec_id AS query_id, embedding AS q_emb, label AS q_label
          FROM embeddings WHERE vec_id < {N_QUERIES}),
    probe AS (
      SELECT query_id, q_emb, label AS probe_label
      FROM (SELECT query_id, q_emb, label,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY {_duck_cosine('q_emb', 'c_emb')} DESC, label) AS r
            FROM q CROSS JOIN centroids) t
      WHERE r = 1),
    scored AS (
      SELECT query_id, c.vec_id AS neighbor_id,
             {_duck_cosine('q_emb', 'c.embedding')} AS cos_sim
      FROM probe JOIN embeddings c
        ON c.label = probe_label AND c.vec_id <> query_id),
    ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rnk
      FROM scored)
    SELECT query_id, neighbor_id, cos_sim, rnk
    FROM ranked WHERE rnk <= {K}
    ORDER BY query_id, rnk
    """,
    doc="IVF-style ANN: coarse quantizer = per-label centroids "
    "(posexplode+groupBy, deterministic), nprobe=1 — each query scores "
    "only its nearest centroid's inverted list. The 100TB path: "
    "centroids broadcast, corpus pre-partitioned by list id.",
    tags=("pipeline", "similarity", "ann"),
)
def sim_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # Coarse quantizer: element-wise mean per label.
    cent = label_centroids(emb)
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )
    # the Arrow cosine is computed in a projection, then the window
    # orders by the materialized column (a Python UDF cannot sit inside
    # a window ORDER BY expression) — identical rows either way.
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("__pcos").desc(), F.col("label")
    )
    probe = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("__pcos", cosine(F.col("q_emb"), F.col("c_emb")))
        .withColumn("r", F.row_number().over(probe_w))
        .where(F.col("r") == 1)
        .select("query_id", "q_emb", F.col("label").alias("probe_label"))
    )
    scored = probe.join(
        emb.alias("c"),
        (F.col("c.label") == F.col("probe_label"))
        & (F.col("c.vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("c.vec_id").alias("neighbor_id"),
        cosine(F.col("q_emb"), F.col("c.embedding")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= K)
        .select("query_id", "neighbor_id", "cos_sim", "rnk")
        .orderBy("query_id", "rnk")
    )


@register(
    "sim_cosine_neardup",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_duck_cosine('a.embedding', 'b.embedding')} AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_duck_cosine('a.embedding', 'b.embedding')} > 0.35
    ORDER BY id_a, id_b
    """,
    doc="Embedding-cosine similar pairs (>0.35; fixture vectors are near-random so true near-dup thresholds are empty) within label "
    "blocks — blocked exact search, distributed as a TRIANGULAR GRID "
    "self-join: each label's rows are split into C chunks and every "
    "chunk-pair cell (i<=j) becomes an independent join task keyed "
    "(label, gi, gj), so one hot label fans out over C(C+1)/2 tasks "
    "instead of landing on a single reducer (the classic exact-APSS "
    "skew fix; replication factor (C+1)/2 on the shuffle). Note LSH "
    "bucketing CANNOT serve this query: at t=0.35, P(bit agree)=0.615 "
    "vs 0.5 for random pairs — no selectivity, and banding loses "
    "recall; see sim_neardup_lsh_banded for the bucketed shape at the "
    "same deterministic-candidate semantics.",
    tags=("pipeline", "dedup", "similarity"),
)
def sim_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    C = 4  # grid chunks per label; scale as sqrt(label_rows²/pairs_per_task)
    g = emb.select(
        "vec_id", "label", "embedding", F.pmod("vec_id", F.lit(C)).alias("chunk")
    )
    # A row in chunk c is the LEFT side of cells (c, j>=c) and the RIGHT
    # side of cells (i<=c, c); each unordered chunk pair meets in exactly
    # one cell.
    left = g.select(
        F.col("vec_id").alias("id_a"),
        "label",
        F.col("embedding").alias("e_a"),
        F.col("chunk").alias("gi"),
        F.explode(F.sequence("chunk", F.lit(C - 1))).alias("gj"),
    )
    right = g.select(
        F.col("vec_id").alias("id_b"),
        "label",
        F.col("embedding").alias("e_b"),
        F.explode(F.sequence(F.lit(0), "chunk")).alias("gi"),
        F.col("chunk").alias("gj"),
    )
    pairs = (
        left.join(right, ["label", "gi", "gj"])
        # diagonal cells see both orientations — keep one; off-diagonal
        # cells see each pair once (possibly id_a > id_b — normalize).
        .where((F.col("gi") != F.col("gj")) | (F.col("id_a") < F.col("id_b")))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            cosine(F.col("e_a"), F.col("e_b")).alias("cos_sim"),
        )
    )
    return pairs.where(F.col("cos_sim") > 0.35).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Random-hyperplane LSH (cosine SimHash) — the bucketed ANN scale path
# ---------------------------------------------------------------------------

N_PLANES = 8
DIM = 64
#: Knuth multiplicative constant; planes[j][i] derives deterministically
#: from (j, i) so Spark and DuckDB build bit-identical hyperplanes.
_KNUTH = 2654435761
_M32 = 4294967296


def _plane(j: Column, i: Column) -> Column:
    """Pseudo-random hyperplane component in [-0.5, 0.5)."""
    return ((j * DIM + i) * _KNUTH % _M32) / F.lit(float(_M32)) - 0.5


def hyperplane_bucket(emb: Column) -> Column:
    """LSH bucket id: sign bits of the embedding against N_PLANES fixed
    hyperplanes, packed into an int. Cosine-similar vectors collide with
    probability 1 - theta/pi per bit (Charikar '02 random projection).

    Pure nested higher-order functions — row-local, codegen'd, no UDF;
    at 100 TB bucketing is a map-only pass and candidate generation is a
    shuffle on (bucket) exactly like the minhash band join.
    """
    def bit(j: Column) -> Column:
        proj = F.aggregate(
            F.sequence(F.lit(1), F.lit(DIM)),
            F.lit(0.0),
            lambda acc, i: acc + F.element_at(emb, i).cast("double") * _plane(j, i),
        )
        # pow is exact for 2^j, j < 53; shiftleft needs a literal shift.
        return F.when(proj > 0, F.pow(F.lit(2.0), j.cast("double"))).otherwise(
            F.lit(0.0)
        )

    return F.aggregate(
        F.transform(F.sequence(F.lit(0), F.lit(N_PLANES - 1)), bit),
        F.lit(0.0),
        lambda acc, b: acc + b,
    ).cast("int")


_DUCK_BUCKET = f"""
    list_sum(list_transform(generate_series(0, {N_PLANES - 1}), j ->
        CASE WHEN list_sum(list_transform(generate_series(1, {DIM}), i ->
                 CAST({{e}}[i] AS DOUBLE) *
                 (((j * {DIM} + i) * {_KNUTH}) % {_M32} / {float(_M32)} - 0.5)
             )) > 0
        THEN 1 << j ELSE 0 END))
"""


@register(
    "sim_lsh_hyperplane",
    oracle=f"""
    WITH b AS (
        SELECT vec_id,
               CAST({_DUCK_BUCKET.format(e='embedding')} AS BIGINT) AS bucket
        FROM embeddings
    )
    SELECT bucket,
           count(*) AS n_vectors,
           CAST(count(*) * (count(*) - 1) // 2 AS BIGINT)
               AS n_candidate_pairs,
           min(vec_id) AS min_vec_id
    FROM b GROUP BY bucket
    """,
    doc="Random-hyperplane LSH (cosine SimHash, Charikar '02): "
    "deterministic 8-plane sign signature → bucket histogram. The "
    "bucketed ANN scale path: candidates come from equi-joining on "
    "bucket instead of an all-pairs compare; bit-identical to the "
    "DuckDB oracle via integer-derived hyperplanes.",
    tags=("pipeline", "similarity", "ann", "lsh"),
)
def sim_lsh_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    b = emb.select(
        "vec_id",
        hyperplane_bucket(F.col("embedding")).cast("bigint").alias("bucket"),
    )
    return b.groupBy("bucket").agg(
        F.count("*").alias("n_vectors"),
        (F.count("*") * (F.count("*") - 1) / 2).cast("long").alias("n_candidate_pairs"),
        F.min("vec_id").alias("min_vec_id"),
    )


# Banded LSH: B bands of R sign bits each (B*R hyperplanes from the same
# deterministic _plane family). A pair is a candidate iff it collides in
# at least one band.
LSH_BANDS = 8
LSH_ROWS = 4


def band_signatures(emb: Column) -> Column:
    """array<int> of LSH_BANDS band buckets (LSH_ROWS sign bits each)."""

    def band(b: Column) -> Column:
        def bit(t: Column) -> Column:
            proj = F.aggregate(
                F.sequence(F.lit(1), F.lit(DIM)),
                F.lit(0.0),
                lambda acc, i: acc
                + F.element_at(emb, i).cast("double")
                * _plane(b * LSH_ROWS + t, i),
            )
            return F.when(
                proj > 0, F.pow(F.lit(2.0), t.cast("double"))
            ).otherwise(F.lit(0.0))

        return F.aggregate(
            F.transform(F.sequence(F.lit(0), F.lit(LSH_ROWS - 1)), bit),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).cast("int")

    return F.transform(F.sequence(F.lit(0), F.lit(LSH_BANDS - 1)), band)


_DUCK_BANDS = f"""
    list_transform(generate_series(0, {LSH_BANDS - 1}), b ->
        list_sum(list_transform(generate_series(0, {LSH_ROWS - 1}), t ->
            CASE WHEN list_sum(list_transform(generate_series(1, {DIM}), i ->
                     CAST({{e}}[i] AS DOUBLE) *
                     ((((b * {LSH_ROWS} + t) * {DIM} + i) * {_KNUTH})
                      % {_M32} / {float(_M32)} - 0.5)
                 )) > 0
            THEN 1 << t ELSE 0 END)))
"""


@register(
    "sim_neardup_lsh_banded",
    oracle=f"""
    WITH sig AS (
        SELECT vec_id, label, {_DUCK_BANDS.format(e='embedding')} AS bands
        FROM embeddings
    ),
    ex AS (
        SELECT vec_id, label,
               unnest(bands) AS bucket,
               generate_subscripts(bands, 1) AS band
        FROM sig
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM ex a JOIN ex b
          ON a.label = b.label AND a.band = b.band AND a.bucket = b.bucket
             AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b,
           {_duck_cosine('ea.embedding', 'eb.embedding')} AS cos_sim
    FROM cand
    JOIN embeddings ea ON ea.vec_id = id_a
    JOIN embeddings eb ON eb.vec_id = id_b
    WHERE {_duck_cosine('ea.embedding', 'eb.embedding')} > 0.35
    ORDER BY id_a, id_b
    """,
    doc="Banded-LSH near-duplicate pairs: candidates = pairs colliding "
    "in >=1 of 8 bands x 4 sign bits (deterministic hyperplanes, so the "
    "candidate SET itself is engine-reproducible and the DuckDB oracle "
    "expresses the identical bands->bucket-join->verify pipeline); "
    "exact cosine verification on candidates only. THE bucketed shape "
    "for near-dup at scale: signature is map-only, candidate generation "
    "is an equi-join on (label, band, bucket) — a hot label no longer "
    "implies a hot reducer unless its vectors genuinely collide. At "
    "production thresholds (cos>=0.9, P(bit)=0.86) these parameters "
    "give ~97% per-pair recall per the (1-p^r)^b formula; recall-1 "
    "semantics at arbitrary thresholds needs the exact grid join "
    "(sim_cosine_neardup).",
    tags=("pipeline", "dedup", "similarity", "lsh"),
)
def sim_neardup_lsh_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    sig = emb.select(
        "vec_id", "label", band_signatures(F.col("embedding")).alias("bands")
    )
    ex = sig.select(
        "vec_id", "label", F.posexplode("bands").alias("band", "bucket")
    )
    a, b = ex.alias("a"), ex.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b")
        )
        .distinct()
    )
    ea = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("e_a"))
    eb = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("e_b"))
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select("id_a", "id_b", cosine(F.col("e_a"), F.col("e_b")).alias("cos_sim"))
        .where(F.col("cos_sim") > 0.35)
        .orderBy("id_a", "id_b")
    )


@register(
    "sim_embedding_outliers",
    oracle=f"""
    WITH cent AS (
      SELECT label, pos, avg(val) AS cval
      FROM (SELECT label, unnest(embedding) AS val,
                   generate_subscripts(embedding, 1) AS pos
            FROM embeddings) t
      GROUP BY label, pos),
    centroids AS (
      SELECT label, list(cval ORDER BY pos) AS c_emb FROM cent GROUP BY label),
    scored AS (
      SELECT e.vec_id, e.label,
             {_duck_cosine('e.embedding', 'c.c_emb')} AS cos_to_centroid
      FROM embeddings e JOIN centroids c USING (label)),
    ranked AS (
      SELECT vec_id, label, cos_to_centroid,
             row_number() OVER (PARTITION BY label
                                ORDER BY cos_to_centroid ASC, vec_id) AS r
      FROM scored)
    SELECT vec_id, label, cos_to_centroid, r AS outlier_rank
    FROM ranked WHERE r <= 5
    ORDER BY label, outlier_rank
    """,
    doc="Embedding-quality outlier detection: score every vector by "
    "cosine to its label centroid, keep the 5 least-typical per label — "
    "the standard 'mislabeled / junk embedding' sweep before training. "
    "Centroids are tiny and broadcast; corpus work is one scan plus a "
    "per-label window top-k.",
    tags=("pipeline", "similarity", "quality"),
)
def sim_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cent = label_centroids(emb)
    scored = emb.join(F.broadcast(cent), "label").select(
        "vec_id",
        "label",
        cosine(F.col("embedding"), F.col("c_emb")).alias("cos_to_centroid"),
    )
    w = Window.partitionBy("label").orderBy(
        F.col("cos_to_centroid").asc(), F.col("vec_id")
    )
    return (
        scored.withColumn(
            "outlier_rank", F.row_number().over(w).cast("bigint")
        )
        .where(F.col("outlier_rank") <= 5)
        .select("vec_id", "label", "cos_to_centroid", "outlier_rank")
        .orderBy("label", "outlier_rank")
    )


# ---------------------------------------------------------------------------
# Embedding compression: symmetric int8 quantization
# ---------------------------------------------------------------------------


@register(
    "emb_quantize_int8",
    oracle="""
    WITH q AS (
        SELECT label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               greatest(list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))) / 127.0, 1e-12) AS scale
        FROM embeddings
    ), err AS (
        SELECT label,
               list_max(list_transform(v, x -> abs(
                 least(greatest(CAST(floor(x / scale + 0.5) AS BIGINT), -127), 127)
                   * scale - x))) AS max_err,
               list_sum(list_transform(v, x -> (
                 least(greatest(CAST(floor(x / scale + 0.5) AS BIGINT), -127), 127)
                   * scale - x)
                 * (least(greatest(CAST(floor(x / scale + 0.5) AS BIGINT), -127), 127)
                   * scale - x))) / len(v) AS mse
        FROM q
    )
    SELECT label, count(*) AS n_vecs,
           avg(max_err) AS avg_max_err, avg(mse) AS avg_mse
    FROM err GROUP BY label ORDER BY label
    """,
    doc="Symmetric per-vector int8 quantization (scale = max|x|/127, "
    "q = clamp(round(x/scale))) with reconstruction-error audit per "
    "label: the embedding-compression step a 100 TB vector pipeline runs "
    "before ANN indexing (4x smaller than float32, dot products in "
    "int8). Entirely higher-order array expressions (transform/aggregate "
    "— JVM codegen, no shuffle except the final per-label partial-agg "
    "exchange). Rounding is floor(x+0.5) in BOTH engines so the oracle "
    "is bit-comparable (banker's-rounding differences would flip "
    "boundary cells). Reference parity: gpcontrib/gp_sparse_vector is "
    "the closest surface (SURVEY §2.8); quantization itself is "
    "beyond-reference pipeline scope.",
    tags=("pipeline", "similarity", "compression"),
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")

    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.greatest(
        F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double"))))
        / F.lit(127.0),
        F.lit(1e-12),
    )
    q = emb.select("label", v.alias("v"), scale.alias("scale"))

    def dequant_err(x: Column) -> Column:
        quant = F.least(
            F.greatest(F.floor(x / F.col("scale") + 0.5).cast("bigint"), F.lit(-127)),
            F.lit(127),
        )
        return quant * F.col("scale") - x

    err = q.select(
        "label",
        F.array_max(F.transform(F.col("v"), lambda x: F.abs(dequant_err(x)))).alias("max_err"),
        (
            F.aggregate(
                F.transform(F.col("v"), lambda x: dequant_err(x) * dequant_err(x)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.size("v")
        ).alias("mse"),
    )
    return (
        err.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.avg("max_err").alias("avg_max_err"),
            F.avg("mse").alias("avg_mse"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# K-means (the real IVF index builder): 2 Lloyd iterations, exact oracle
# ---------------------------------------------------------------------------

_KM_K = 4  # clusters
_KM_ITERS = 2  # unrolled Lloyd iterations (so the oracle can unroll too)


def _km_oracle() -> str:
    dist = (
        "list_sum(list_transform(generate_series(1, 64), "
        "i -> (v[i] - cv[i]) * (v[i] - cv[i])))"
    )

    def assign(vecs: str, cents: str, out: str) -> str:
        return f"""
    {out}_d AS (
        SELECT a.vec_id, a.v, c.cid, {dist} AS dist,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY {dist}, c.cid) AS rn
        FROM {vecs} a CROSS JOIN {cents} c
    ), {out} AS (
        SELECT vec_id, v, cid, dist FROM {out}_d WHERE rn = 1
    )"""

    def recompute(assigned: str, out: str) -> str:
        return f"""
    {out}_dims AS (
        SELECT cid, i, avg(v[i]) AS m
        FROM {assigned}, generate_series(1, 64) t(i)
        GROUP BY cid, i
    ), {out} AS (
        SELECT cid, list(m ORDER BY i) AS cv FROM {out}_dims GROUP BY cid
    )"""

    return f"""
    WITH vecs AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    c0 AS (
        SELECT vec_id AS cid, v AS cv FROM vecs WHERE vec_id < {_KM_K}
    ),{assign("vecs", "c0", "a1")},{recompute("a1", "c1")},
    {assign("vecs", "c1", "a2")},{recompute("a2", "c2")},
    {assign("vecs", "c2", "afinal")}
    SELECT cid, count(*) AS n_vecs, round(avg(dist), 6) AS avg_dist
    FROM afinal GROUP BY cid ORDER BY cid
    """


@register(
    "sim_kmeans_index_build",
    oracle=_km_oracle(),
    doc="K-means Lloyd iterations as DataFrame algebra — the actual IVF "
    "index builder (sim_ivf_knn's centroid stage done properly): "
    "deterministic init (first K vec_ids), two unrolled "
    "assign/recompute rounds, final assignment with per-cluster count "
    "+ inertia. Ties break on (dist, cid) via an explicit rank so both "
    "engines pick identical clusters. Each assignment is a "
    "broadcast(K centroids) x vectors map-side pass (never a vector-"
    "vector shuffle); recompute is one (cid, dim) partial/final agg — "
    "at 100 TB the exchanges carry K*64 partial means, nothing else. "
    "The oracle unrolls the identical two rounds in SQL.",
    tags=("pipeline", "similarity", "kmeans", "iterative"),
)
def sim_kmeans_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    # raw float32 arrays: the Arrow l2 kernel widens to float64 exactly
    # (same conversion the old per-element cast-transform did, but
    # without an interpreted HOF sweep per row-pair, and with half the
    # bytes crossing the Python boundary)
    vecs = emb.select("vec_id", F.col("embedding").alias("v"))
    cents = vecs.where(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )

    def assign(c: DataFrame) -> DataFrame:
        d = l2sq(F.col("v"), F.col("cv"))  # JVM-side HOF fold, no Python worker
        pairs = vecs.crossJoin(F.broadcast(c)).withColumn("dist", d)
        w = Window.partitionBy("vec_id").orderBy("dist", "cid")
        return (
            pairs.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("vec_id", "v", "cid", "dist")
        )

    def recompute(assigned: DataFrame) -> DataFrame:
        dims = assigned.select(
            "cid", F.posexplode("v").alias("i0", "x")
        ).groupBy("cid", "i0").agg(F.avg("x").alias("m"))
        return dims.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i0", "m"))),
                lambda s: s["m"],
            ).alias("cv")
        )

    c = cents
    for _ in range(_KM_ITERS):
        c = recompute(assign(c))
    final = assign(c)
    return (
        final.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("dist"), 6).alias("avg_dist"),
        )
        .orderBy("cid")
    )


# ---------------------------------------------------------------------------
# SemDeDup: cluster-bucketed semantic deduplication
# ---------------------------------------------------------------------------

_SEM_TAU = 0.25  # within-cluster cosine threshold for "semantic duplicate"


def _semdedup_oracle() -> str:
    dist = (
        "list_sum(list_transform(generate_series(1, 64), "
        "i -> (v[i] - cv[i]) * (v[i] - cv[i])))"
    )
    return f"""
    WITH vecs AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    c0 AS (
        SELECT vec_id AS cid, v AS cv FROM vecs WHERE vec_id < {_KM_K}
    ),
    ad AS (
        SELECT a.vec_id, a.v, c.cid,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY {dist}, c.cid) AS rn
        FROM vecs a CROSS JOIN c0 c
    ),
    assigned AS (SELECT vec_id, v, cid FROM ad WHERE rn = 1),
    dropped AS (
        SELECT DISTINCT a.vec_id
        FROM assigned a JOIN assigned b
          ON a.cid = b.cid AND b.vec_id < a.vec_id
        WHERE {_duck_cosine('a.v', 'b.v')} > {_SEM_TAU}
    )
    SELECT s.cid,
           count(*) AS n_docs,
           count(d.vec_id) AS n_dropped,
           count(*) - count(d.vec_id) AS n_kept
    FROM assigned s LEFT JOIN dropped d ON s.vec_id = d.vec_id
    GROUP BY s.cid ORDER BY s.cid
    """


@register(
    "sim_semdedup_clusters",
    oracle=_semdedup_oracle(),
    doc="SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic "
    "deduplication restricted to k-means cluster buckets — embeddings "
    "are assigned to their nearest of K deterministic centroids "
    "(broadcast-K map-side pass, identical tie-break to "
    "sim_kmeans_index_build), then pairwise cosine runs ONLY within a "
    "cluster and a document is dropped when a same-cluster neighbor "
    "with a smaller vec_id exceeds the similarity threshold (min-id "
    "keeper => deterministic survivor set). The cluster bucket is what "
    "makes semantic dedup feasible at 100 TB: candidate pairs are "
    "n_c^2 per cluster instead of n^2 global, and the per-cluster "
    "self-join shuffles on cid exactly like the LSH band join. The "
    "oracle replays assignment + within-cluster pair scan in SQL.",
    tags=("pipeline", "dedup", "similarity", "semdedup"),
)
def sim_semdedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    # raw float32 arrays — see sim_kmeans_index_build: the Arrow
    # kernels widen exactly, so the values are bit-identical to the old
    # cast-transform + double-fold form while the per-pair boundary
    # payload halves and the interpreted cast sweep disappears
    vecs = emb.select("vec_id", F.col("embedding").alias("v"))
    cents = vecs.where(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    d = l2sq(F.col("v"), F.col("cv"))  # JVM-side HOF fold, no Python worker
    w = Window.partitionBy("vec_id").orderBy("dist", "cid")
    # The assignment feeds BOTH self-join sides and the final grouped
    # readout — un-materialized, the broadcast-K assign pass (and its
    # window) re-runs three times over the corpus. One scratch-parquet
    # materialization (r13 opt, guide §5/§3.3) computes it once and
    # gives the self-join real file statistics; rebuilt per call.
    assigned = scratch.materialize(
        vecs.crossJoin(F.broadcast(cents))
        .withColumn("dist", d)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "v", "cid"),
        spark, sf_dir, "semdedup_assigned",
    )
    a = assigned.select(
        F.col("vec_id").alias("id_a"), F.col("cid"), F.col("v").alias("v_a")
    )
    b = assigned.select(
        F.col("vec_id").alias("id_b"), F.col("cid"), F.col("v").alias("v_b")
    )
    dropped = (
        a.join(b, "cid")
        .where(F.col("id_b") < F.col("id_a"))
        .where(cosine(F.col("v_a"), F.col("v_b")) > _SEM_TAU)
        .select(F.col("id_a").alias("vec_id"))
        .distinct()
        .withColumn("is_dropped", F.lit(1))
    )
    return (
        assigned.join(dropped, "vec_id", "left")
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("is_dropped"), F.lit(0))).alias("n_dropped"),
            (F.count(F.lit(1)) - F.sum(F.coalesce(F.col("is_dropped"), F.lit(0))))
            .alias("n_kept"),
        )
        .orderBy("cid")
    )


_NPROBE = 2


@register(
    "sim_ivf_multiprobe",
    oracle=f"""
    WITH cent AS (
      SELECT label, pos, avg(val) AS cval
      FROM (SELECT label, unnest(embedding) AS val,
                   generate_subscripts(embedding, 1) AS pos
            FROM embeddings) t
      GROUP BY label, pos),
    centroids AS (
      SELECT label, list(cval ORDER BY pos) AS c_emb FROM cent GROUP BY label),
    q AS (SELECT vec_id AS query_id, embedding AS q_emb
          FROM embeddings WHERE vec_id < {N_QUERIES}),
    probe AS (
      SELECT query_id, q_emb, label AS probe_label
      FROM (SELECT query_id, q_emb, label,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY {_duck_cosine('q_emb', 'c_emb')} DESC, label) AS r
            FROM q CROSS JOIN centroids) t
      WHERE r <= {_NPROBE}),
    scored AS (
      SELECT query_id, c.vec_id AS neighbor_id,
             {_duck_cosine('q_emb', 'c.embedding')} AS cos_sim
      FROM probe JOIN embeddings c
        ON c.label = probe_label AND c.vec_id <> query_id),
    ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rnk
      FROM scored)
    SELECT query_id, neighbor_id, cos_sim, rnk
    FROM ranked WHERE rnk <= {K}
    ORDER BY query_id, rnk
    """,
    doc="Multiprobe IVF ANN (nprobe=2): each query scans its TWO nearest "
    "centroids' inverted lists instead of one — the standard "
    "recall/cost dial (FAISS nprobe; recall loss of single-probe IVF "
    "comes from queries near Voronoi boundaries, exactly what a second "
    "probe recovers). Probe cost doubles but stays corpus/nlist-"
    "bounded; the probe fan-out is a 2-row-per-query explode joined on "
    "the list id, so the plan is the same broadcast-centroid + "
    "equi-join shape as sim_ivf_knn.",
    tags=("pipeline", "similarity", "ann"),
)
def sim_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cent = label_centroids(emb)
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("__pcos").desc(), F.col("label")
    )
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("__pcos", cosine(F.col("q_emb"), F.col("c_emb")))
        .withColumn("r", F.row_number().over(probe_w))
        .where(F.col("r") <= _NPROBE)
        .select("query_id", "q_emb", F.col("label").alias("probe_label"))
    )
    scored = probes.join(
        emb.alias("c"),
        (F.col("c.label") == F.col("probe_label"))
        & (F.col("c.vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("c.vec_id").alias("neighbor_id"),
        cosine(F.col("q_emb"), F.col("c.embedding")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= K)
        .select("query_id", "neighbor_id", "cos_sim", "rnk")
        .orderBy("query_id", "rnk")
    )


MATRYOSHKA_DIM = 16

_DUCK_DOT16 = (
    f"list_sum(list_transform(generate_series(1, {MATRYOSHKA_DIM}), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


def _duck_cosine16(a: str, b: str) -> str:
    d = _DUCK_DOT16.format(a=a, b=b)
    na = f"sqrt({_DUCK_DOT16.format(a=a, b=a)})"
    nb = f"sqrt({_DUCK_DOT16.format(a=b, b=b)})"
    return f"({d}) / ({na} * {nb})"


@register(
    "emb_matryoshka_recall",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    fulls AS (
      SELECT query_id, c.vec_id AS nid,
             row_number() OVER (PARTITION BY query_id
                 ORDER BY {_duck_cosine('q_emb', 'c.embedding')} DESC,
                          c.vec_id) AS rnk
      FROM embeddings c JOIN q ON c.vec_id <> query_id),
    truncs AS (
      SELECT query_id, c.vec_id AS nid,
             row_number() OVER (PARTITION BY query_id
                 ORDER BY {_duck_cosine16('q_emb', 'c.embedding')} DESC,
                          c.vec_id) AS rnk
      FROM embeddings c JOIN q ON c.vec_id <> query_id)
    SELECT f.query_id,
           count(t.nid) AS n_overlap,
           CAST(count(t.nid) AS DOUBLE) / {K} AS recall_at_k
    FROM fulls f LEFT JOIN truncs t
      ON f.query_id = t.query_id AND f.nid = t.nid AND t.rnk <= {K}
    WHERE f.rnk <= {K}
    GROUP BY f.query_id
    ORDER BY f.query_id
    """,
    doc="Matryoshka-truncation quality audit (Kusupati et al. 2022 MRL): "
    "search with only the first 16 of 64 dimensions (4x cheaper dot "
    "products, 4x smaller index) and measure in-engine recall@k against "
    "full-dimension ground truth — the dimension/recall dial measured "
    "the same way as sim_lsh_recall/sim_ivf_recall measure their "
    "bucketing dials. Truncation is F.slice (zero-copy projection, "
    "map-side); both rankings reuse the broadcast-query knn_brute "
    "shape: corpus scanned twice, shuffles only on the tiny query key.",
    tags=("pipeline", "similarity", "recall"),
)
def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    full_topk = knn_brute(emb, queries).select(
        "query_id", F.col("neighbor_id").alias("nid")
    )
    emb_t = emb.select(
        "vec_id", F.slice("embedding", 1, MATRYOSHKA_DIM).alias("embedding")
    )
    trunc_topk = knn_brute(emb_t, emb_t.where(F.col("vec_id") < N_QUERIES)).select(
        "query_id", F.col("neighbor_id").alias("nid"), F.lit(1).alias("hit")
    )
    return (
        full_topk.join(trunc_topk, ["query_id", "nid"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").alias("n_overlap"),
            (F.count("hit").cast("double") / F.lit(K)).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ codebooks + reconstruction-error audit)
# ---------------------------------------------------------------------------

#: PQ geometry: PQ_M subspaces of PQ_SUBDIM dims each (64-dim vectors).
PQ_M = 4
PQ_SUBDIM = 16


@register(
    "emb_product_quantization",
    oracle=f"""
    WITH lng AS (
        SELECT vec_id, label, r.i AS i, r.i // {PQ_SUBDIM} AS s,
               CAST(embedding[r.i + 1] AS DOUBLE) AS x
        FROM embeddings CROSS JOIN range({PQ_M * PQ_SUBDIM}) r(i)
    ), cb AS (
        SELECT label AS cb_label, s, i, avg(x) AS c
        FROM lng GROUP BY 1, 2, 3
    ), d AS (
        SELECT l.vec_id, l.s, cb.cb_label,
               sum((l.x - cb.c) * (l.x - cb.c)) AS d2
        FROM lng l JOIN cb ON cb.s = l.s AND cb.i = l.i
        GROUP BY 1, 2, 3
    ), best AS (
        SELECT vec_id, s, cb_label, d2,
               row_number() OVER (PARTITION BY vec_id, s
                                  ORDER BY d2, cb_label) AS rn
        FROM d
    )
    SELECT CAST(s AS INT) AS subspace,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(count(DISTINCT cb_label) AS BIGINT) AS n_codes_used,
           round(avg(d2 / {PQ_SUBDIM}), 6) AS avg_mse
    FROM best WHERE rn = 1
    GROUP BY s ORDER BY s
    """,
    doc="Product quantization (the Jegou et al. ANN compression "
    "standard; completes the vector-index family next to IVF, "
    "hyperplane-LSH, Matryoshka truncation and int8 quantization): "
    "vectors split into 4 x 16-dim subspaces, one codebook per "
    "subspace (deterministic per-label centroids — k-means init "
    "without RNG, the same unrolled-Lloyd machinery as "
    "sim_kmeans_index_build trains them further), every vector "
    "encoded to its nearest code per subspace by exact L2, and the "
    "audit reports per-subspace reconstruction MSE and codebook "
    "utilization. All joins are on the (subspace, dim) key — the "
    "codebook is d x k rows and broadcasts; corpus-side work is one "
    "long-form explode + one grouped distance aggregation, linear at "
    "100 TB. 64 floats -> 4 bytes/vector at this geometry.",
    tags=("pipeline", "similarity", "quantization"),
)
def emb_product_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    lng = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.slice("embedding", 1, PQ_M * PQ_SUBDIM)).alias("i", "x"),
    ).select(
        "vec_id",
        "label",
        "i",
        F.expr(f"CAST(i / {PQ_SUBDIM} AS INT)").alias("s"),
        F.col("x").cast("double").alias("x"),
    )
    cb = lng.groupBy(
        F.col("label").alias("cb_label"), "s", "i"
    ).agg(F.avg("x").alias("c"))
    d = (
        lng.join(F.broadcast(cb), ["s", "i"])
        .groupBy("vec_id", "s", "cb_label")
        .agg(F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))).alias("d2"))
    )
    w = Window.partitionBy("vec_id", "s").orderBy("d2", "cb_label")
    best = d.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return (
        best.groupBy(F.col("s").cast("int").alias("subspace"))
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.countDistinct("cb_label").alias("n_codes_used"),
            F.round(F.avg(F.col("d2") / PQ_SUBDIM), 6).alias("avg_mse"),
        )
        .orderBy("subspace")
    )


@register(
    "ml_kmeans_silhouette",
    oracle=f"""
    WITH probes AS (
        SELECT vec_id AS pid, label AS own, embedding AS p_emb
        FROM embeddings WHERE vec_id % 10 = 0
    ), dists AS (
        SELECT p.pid, p.own, c.label AS cl,
               avg(1.0 - ({_duck_cosine('p.p_emb', 'c.embedding')})) AS avg_d
        FROM probes p
        JOIN embeddings c ON c.vec_id <> p.pid
        GROUP BY p.pid, p.own, c.label
    ), ab AS (
        SELECT pid, own,
               max(CASE WHEN cl = own THEN avg_d END) AS a,
               min(CASE WHEN cl <> own THEN avg_d END) AS b
        FROM dists GROUP BY pid, own
    )
    SELECT CAST(own AS INT) AS label,
           CAST(count(*) AS BIGINT) AS n_probes,
           round(avg((b - a) / greatest(a, b)), 6) AS avg_silhouette
    FROM ab GROUP BY own ORDER BY own
    """,
    doc="Silhouette-coefficient cluster audit (MADlib "
    "simple_silhouette parity; the quality readout for the k-means "
    "index that sim_kmeans_index_build trains): for a deterministic "
    "10%% probe sample, a = mean cosine distance to the probe's own "
    "cluster, b = the nearest other cluster's mean distance, s = "
    "(b-a)/max(a,b), averaged per cluster. Probes broadcast; "
    "corpus-side work is ONE scan with a grouped mean per (probe, "
    "cluster) — |probes| x |clusters| bounded output — so the audit "
    "cost at 100 TB is a single pass regardless of corpus size.",
    tags=("pipeline", "similarity", "ml"),
)
def ml_kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    probes = F.broadcast(
        emb.where(F.col("vec_id") % 10 == 0).select(
            F.col("vec_id").alias("pid"),
            F.col("label").alias("own"),
            F.col("embedding").alias("p_emb"),
        )
    )
    dists = (
        emb.alias("c")
        .join(probes, F.col("c.vec_id") != F.col("pid"))
        # Arrow cosine in a projection, not inside the AVG expression
        # (Python UDFs cannot be embedded in aggregate functions)
        .select(
            "pid",
            "own",
            F.col("c.label").alias("cl"),
            (1.0 - cosine(F.col("p_emb"), F.col("c.embedding"))).alias("__d"),
        )
        .groupBy("pid", "own", "cl")
        .agg(F.avg("__d").alias("avg_d"))
    )
    ab = dists.groupBy("pid", "own").agg(
        F.max(F.when(F.col("cl") == F.col("own"), F.col("avg_d"))).alias("a"),
        F.min(F.when(F.col("cl") != F.col("own"), F.col("avg_d"))).alias("b"),
    )
    return (
        ab.groupBy(F.col("own").cast("int").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.round(
                F.avg(
                    (F.col("b") - F.col("a"))
                    / F.greatest(F.col("a"), F.col("b"))
                ),
                6,
            ).alias("avg_silhouette"),
        )
        .orderBy("label")
    )


@register(
    "ml_item_item_recommender",
    oracle="""
    WITH baskets AS (
        SELECT DISTINCT l_orderkey AS okey, l_partkey AS item FROM lineitem
    ), item_n AS (
        SELECT item, count(*) AS n FROM baskets GROUP BY item
    ), co AS (
        SELECT a.item AS i, b.item AS j, count(*) AS c
        FROM baskets a JOIN baskets b
          ON a.okey = b.okey AND a.item <> b.item
        GROUP BY a.item, b.item
        HAVING count(*) >= 2
    ), scored AS (
        SELECT co.i, co.j,
               round(CAST(co.c AS DOUBLE) / sqrt(ni.n * nj.n), 6) AS cosine
        FROM co
        JOIN item_n ni ON ni.item = co.i
        JOIN item_n nj ON nj.item = co.j
    ), ranked AS (
        SELECT i, j, cosine,
               row_number() OVER (PARTITION BY i
                                  ORDER BY cosine DESC, j) AS rnk
        FROM scored
    )
    SELECT CAST(i AS BIGINT) AS item, CAST(j AS BIGINT) AS recommended,
           cosine, CAST(rnk AS INT) AS rnk
    FROM ranked
    WHERE rnk <= 3 AND i % 50 = 0
    ORDER BY item, rnk
    """,
    doc="Item-item collaborative filtering (the classic Amazon-style "
    "recommender; MADlib/recsys parity): items are vectors over the "
    "orders that contain them, similarity is binary cosine "
    "co/sqrt(n_i*n_j) from INTEGER co-occurrence counts (one basket "
    "self-join on the order key, min-support 2 pruning the "
    "long tail before ranking), top-3 neighbors per item via a "
    "bounded window. Ranking on the rounded score + neighbor id "
    "keeps the cut cross-engine deterministic. The association-"
    "rules query scores direction (confidence/lift); this one is "
    "the symmetric nearest-neighbor form recommenders serve.",
    tags=("pipeline", "similarity", "ml"),
)
def ml_item_item_recommender(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("item")
    ).distinct()
    item_n = baskets.groupBy("item").agg(F.count(F.lit(1)).alias("n"))
    a, b = baskets.alias("a"), baskets.alias("b")
    co = (
        a.join(b, (F.col("a.okey") == F.col("b.okey")) & (F.col("a.item") != F.col("b.item")))
        .groupBy(F.col("a.item").alias("i"), F.col("b.item").alias("j"))
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
    )
    ni = item_n.select(F.col("item").alias("i"), F.col("n").alias("n_i"))
    nj = item_n.select(F.col("item").alias("j"), F.col("n").alias("n_j"))
    scored = (
        co.join(ni, "i")
        .join(nj, "j")
        .select(
            "i",
            "j",
            F.round(
                F.col("c").cast("double")
                / F.sqrt(F.col("n_i") * F.col("n_j")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("i").orderBy(F.desc("cosine"), "j")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where((F.col("rnk") <= 3) & (F.col("i") % 50 == 0))
        .select(
            F.col("i").cast("bigint").alias("item"),
            F.col("j").cast("bigint").alias("recommended"),
            "cosine",
            F.col("rnk").cast("int").alias("rnk"),
        )
        .orderBy("item", "rnk")
    )


RERANK = 3 * K  # ADC shortlist size fed to the exact re-rank stage


@register(
    "sim_ivfpq_search",
    oracle=f"""
    WITH lng AS (
        SELECT vec_id, label, r.i AS i, r.i // {PQ_SUBDIM} AS s,
               CAST(embedding[r.i + 1] AS DOUBLE) AS x
        FROM embeddings CROSS JOIN range({PQ_M * PQ_SUBDIM}) r(i)
    ), cb AS (
        SELECT label AS cb_label, s, i, avg(x) AS c
        FROM lng GROUP BY 1, 2, 3
    ), codes AS (
        SELECT vec_id, s, cb_label AS code FROM (
            SELECT l.vec_id, l.s, cb.cb_label,
                   row_number() OVER (PARTITION BY l.vec_id, l.s
                       ORDER BY sum((l.x - cb.c) * (l.x - cb.c)), cb.cb_label)
                       AS rn
            FROM lng l JOIN cb ON cb.s = l.s AND cb.i = l.i
            GROUP BY l.vec_id, l.s, cb.cb_label
        ) WHERE rn = 1
    ), q AS (
        SELECT vec_id AS query_id, embedding AS q_emb, label AS q_label
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ), cent AS (
        SELECT label, pos, avg(val) AS cval
        FROM (SELECT label, unnest(embedding) AS val,
                     generate_subscripts(embedding, 1) AS pos
              FROM embeddings) t
        GROUP BY label, pos
    ), centroids AS (
        SELECT label, list(cval ORDER BY pos) AS c_emb
        FROM cent GROUP BY label
    ), probe AS (
        SELECT query_id, q_emb, label AS probe_label
        FROM (SELECT query_id, q_emb, label,
                     row_number() OVER (PARTITION BY query_id
                         ORDER BY {_duck_cosine('q_emb', 'c_emb')} DESC,
                                  label) AS r
              FROM q CROSS JOIN centroids) t
        WHERE r = 1
    ), dtable AS (
        SELECT p.query_id, cb.s, cb.cb_label,
               sum((CAST(p.q_emb[cb.i + 1] AS DOUBLE) - cb.c)
                   * (CAST(p.q_emb[cb.i + 1] AS DOUBLE) - cb.c)) AS qd2
        FROM probe p CROSS JOIN cb
        GROUP BY 1, 2, 3
    ), adc AS (
        SELECT p.query_id, e.vec_id AS cand_id,
               round(sum(d.qd2), 9) AS approx_d2
        FROM probe p
        JOIN embeddings e ON e.label = p.probe_label
                         AND e.vec_id <> p.query_id
        JOIN codes k ON k.vec_id = e.vec_id
        JOIN dtable d ON d.query_id = p.query_id AND d.s = k.s
                     AND d.cb_label = k.code
        GROUP BY 1, 2
    ), shortlist AS (
        SELECT query_id, cand_id FROM (
            SELECT query_id, cand_id,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY approx_d2, cand_id) AS rn
            FROM adc
        ) WHERE rn <= {RERANK}
    ), rerank AS (
        SELECT s.query_id, s.cand_id AS neighbor_id,
               round({_duck_cosine('q.q_emb', 'e.embedding')}, 9) AS cos_sim
        FROM shortlist s
        JOIN q ON q.query_id = s.query_id
        JOIN embeddings e ON e.vec_id = s.cand_id
    )
    SELECT query_id, neighbor_id, cos_sim,
           CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT query_id, neighbor_id, cos_sim,
                 row_number() OVER (PARTITION BY query_id
                     ORDER BY cos_sim DESC, neighbor_id) AS rnk
          FROM rerank) t
    WHERE rnk <= {K}
    ORDER BY query_id, rnk
    """,
    doc="IVF-PQ ANN search with exact re-rank — the production FAISS "
    "shape (Jegou et al. PQ paper + inverted lists), composed from the "
    "repo's IVF coarse quantizer (per-label centroids, nprobe=1) and "
    "PQ codebooks (4 x 16-dim subspaces, deterministic per-label "
    "codes): each query builds its ADC distance table (|codebook| x M "
    "rows — metadata-scale, broadcast), scores its probed inverted "
    "list through CODES ONLY (no full vectors move), takes a 3k "
    "shortlist by approximated distance, and re-ranks just the "
    "shortlist with exact cosine. At 100 TB the corpus-side joins are "
    "key-partitioned on vec_id, full vectors are touched only for "
    "3k x n_queries rows, and every distance is rounded to 9 decimals "
    "before ranking so cross-engine ulp noise cannot flip a cut.",
    tags=("pipeline", "similarity", "ann"),
)
def sim_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    lng = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.slice("embedding", 1, PQ_M * PQ_SUBDIM)).alias("i", "x"),
    ).select(
        "vec_id",
        "label",
        "i",
        F.expr(f"CAST(i / {PQ_SUBDIM} AS INT)").alias("s"),
        F.col("x").cast("double").alias("x"),
    )
    # The INDEX — codebook + per-vector codes — is built once and
    # persisted (at scale: the standing index tables next to the
    # corpus); search-time plans below touch only these small/coded
    # relations plus the probed inverted list.
    cb = scratch.materialize(
        lng.groupBy(F.col("label").alias("cb_label"), "s", "i").agg(
            F.avg("x").alias("c")
        ),
        spark, sf_dir, "ivfpq_codebook",
    )
    d = (
        lng.join(F.broadcast(cb), ["s", "i"])
        .groupBy("vec_id", "s", "cb_label")
        .agg(
            F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))).alias(
                "d2"
            )
        )
    )
    wc = Window.partitionBy("vec_id", "s").orderBy("d2", "cb_label")
    # Codes PIVOTED to one row per vector (r13 opt, guide §2.3/§2.4):
    # codes[s+1] is the codebook entry for subspace s. One code row per
    # candidate (instead of PQ_M) means the ADC stage below needs no
    # re-aggregation per (query, cand) — the whole distance becomes one
    # map-side expression over the probed list, and the search plan
    # loses its largest shuffle (the probed-list-sized exchange feeding
    # the old (query_id, s, code) join + groupBy).
    codes = scratch.materialize(
        d.withColumn("rn", F.row_number().over(wc))
        .where(F.col("rn") == 1)
        .groupBy("vec_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("s"), F.col("cb_label")))
            ).alias("sc")
        )
        .select(
            "vec_id", F.transform("sc", lambda e: e.cb_label).alias("codes")
        ),
        spark, sf_dir, "ivfpq_codes",
    )
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    cent = label_centroids(emb)
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("__pcos").desc(), F.col("label")
    )
    probe = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("__pcos", cosine(F.col("q_emb"), F.col("c_emb")))
        .withColumn("r", F.row_number().over(probe_w))
        .where(F.col("r") == 1)
        .select("query_id", "q_emb", F.col("label").alias("probe_label"))
    )
    # probe (N_QUERIES rows) is consumed by the ADC distance table AND
    # the inverted-list join; un-materialized, each consumer replays
    # the centroid aggregation over the full embeddings table.
    probe = scratch.checkpoint(probe)
    # ADC distance table: query subvector vs every codebook entry
    dtable = (
        probe.crossJoin(F.broadcast(cb))
        .groupBy("query_id", "s", "cb_label")
        .agg(
            F.sum(
                (F.element_at("q_emb", F.col("i") + 1).cast("double") - F.col("c"))
                * (F.element_at("q_emb", F.col("i") + 1).cast("double") - F.col("c"))
            ).alias("qd2")
        )
    )
    # The distance table is metadata-scale (|queries| x PQ_M x |codebook|
    # rows); folded into ONE broadcast map per query, keyed s*2^32+code
    # (collision-free — codes are small non-negative ints). With the
    # pivoted codes table, a candidate's approximated distance is then a
    # fixed PQ_M-term lookup sum computed MAP-SIDE over the probed list:
    # the old plan's (query_id, s, code) equi-join (which shuffled the
    # probed-list-sized relation when the planner fell back to SMJ) and
    # the (query_id, cand_id) re-aggregation both disappear (guide
    # §2.3/§2.4: shuffle keys/metadata, not per-subspace rows). The
    # 9-decimal round is the operator's documented cross-engine
    # tolerance and absorbs the summation-order change exactly as it
    # absorbs the Spark-vs-DuckDB aggregation orders.
    _SLOT = 1 << 32
    dlookup = F.broadcast(
        dtable.groupBy("query_id").agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        (
                            F.col("s").cast("long") * F.lit(_SLOT)
                            + F.col("cb_label").cast("long")
                        ).alias("k"),
                        F.col("qd2").alias("v"),
                    )
                )
            ).alias("qd2m")
        )
    )
    approx = None
    for s in range(PQ_M):
        key = F.lit(s * _SLOT) + F.element_at(F.col("codes"), s + 1).cast(
            "long"
        )
        term = F.element_at(F.col("qd2m"), key)
        approx = term if approx is None else approx + term
    adc = (
        probe.join(
            emb.alias("e"),
            (F.col("e.label") == F.col("probe_label"))
            & (F.col("e.vec_id") != F.col("query_id")),
        )
        .select("query_id", F.col("e.vec_id").alias("cand_id"))
        .join(codes.withColumnRenamed("vec_id", "cand_id"), "cand_id")
        .join(dlookup, "query_id")
        .select(
            "query_id", "cand_id", F.round(approx, 9).alias("approx_d2")
        )
    )
    ws = Window.partitionBy("query_id").orderBy("approx_d2", "cand_id")
    shortlist = (
        adc.withColumn("rn", F.row_number().over(ws))
        .where(F.col("rn") <= RERANK)
        .select("query_id", "cand_id")
    )
    # Re-rank: broadcast the small side (|queries| x RERANK rows with
    # their query vectors), never the corpus — the build side a 100 TB
    # deployment must pick (guide §3.1); the corpus side stays a
    # streamed scan keyed on vec_id.
    rerank = (
        F.broadcast(shortlist.join(q, "query_id"))
        .join(
            emb.alias("e2"),
            F.col("e2.vec_id") == F.col("cand_id"),
        )
        .select(
            "query_id",
            F.col("cand_id").alias("neighbor_id"),
            F.round(cosine(F.col("q_emb"), F.col("e2.embedding")), 9).alias(
                "cos_sim"
            ),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        rerank.withColumn("rnk", F.row_number().over(wr).cast("bigint"))
        .where(F.col("rnk") <= K)
        .select("query_id", "neighbor_id", "cos_sim", "rnk")
        .orderBy("query_id", "rnk")
    )
