"""In-engine classical ML (MADlib-class surface).

The reference ecosystem runs Apache MADlib in-database (Greenplum/
Cloudberry's SQL ML library); the counts-based members of that surface
are pure relational algebra and therefore run natively here — no UDF,
no driver-side training loop, and an exact DuckDB differential oracle:

- multinomial Naive Bayes (MADlib nb_train/nb_classify): the model IS
  two aggregation results (class priors + Laplace-smoothed word-class
  counts); scoring is a join + grouped log-sum. Joins shuffle on the
  word key; the per-class model table broadcasts.
- robust statistics: median absolute deviation outliers (MADlib
  summary/robust variance family) via two grouped exact percentiles.

k-means and linear regression live in pipeline/similarity.py
(sim_kmeans_index_build) and operators/aggregates.py
(agg_regression_family, udaf_regression_per_label).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cloudberry_spark import scratch
from cloudberry_spark.catalog import load_table
from cloudberry_spark.registry import register


@register(
    "ml_naive_bayes_langid",
    oracle="""
    WITH docs AS (
        SELECT doc_id, lang,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS ws
        FROM documents WHERE length(trim(text)) > 0
    ),
    train AS (SELECT * FROM docs WHERE doc_id % 5 <> 0),
    test  AS (SELECT * FROM docs WHERE doc_id % 5 = 0),
    train_tokens AS (SELECT lang, unnest(ws) AS w FROM train),
    priors AS (
        SELECT lang,
               ln(CAST(count(*) AS DOUBLE)
                  / (SELECT count(*) FROM train)) AS log_prior
        FROM train GROUP BY lang
    ),
    vocab AS (SELECT count(DISTINCT w) AS v FROM train_tokens),
    class_tot AS (
        SELECT lang, count(*) AS tot FROM train_tokens GROUP BY lang
    ),
    wc AS (
        SELECT lang, w, count(*) AS cnt FROM train_tokens GROUP BY lang, w
    ),
    test_tokens AS (
        SELECT doc_id, lang AS actual, unnest(ws) AS w FROM test
    ),
    scored AS (
        SELECT tt.doc_id, tt.actual, p.lang AS cand,
               p.log_prior
                   + sum(ln((coalesce(wc.cnt, 0) + 1.0)
                            / (ct.tot + (SELECT v FROM vocab)))) AS score
        FROM test_tokens tt
        CROSS JOIN priors p
        JOIN class_tot ct ON ct.lang = p.lang
        LEFT JOIN wc ON wc.lang = p.lang AND wc.w = tt.w
        GROUP BY tt.doc_id, tt.actual, p.lang, p.log_prior
    ),
    predicted AS (
        SELECT doc_id, actual, cand AS predicted,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, cand) AS rnk
        FROM scored
    )
    SELECT actual, predicted, count(*) AS n_docs
    FROM predicted WHERE rnk = 1
    GROUP BY actual, predicted
    ORDER BY actual, predicted
    """,
    doc="Multinomial Naive Bayes language classifier, trained AND "
    "scored in-engine (MADlib nb_train/nb_classify parity — the "
    "reference ships MADlib as its in-database ML layer): 80/20 "
    "deterministic split by key modulo, Laplace-smoothed "
    "log-likelihoods, argmax via one window. The model is two small "
    "aggregates (|classes| priors + word-class counts) — scoring "
    "joins shuffle on the word key only, so training on 100 TB is "
    "the same two groupBys the engine already scales. Output is the "
    "confusion matrix. Scores are float log-sums: class margins are "
    "orders of magnitude above the 1-ulp summation noise, and ranking "
    "ties break on class name.",
    tags=("pipeline", "ml", "classify"),
)
def ml_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.length(F.trim("text")) > 0)
        .select(
            "doc_id",
            "lang",
            F.split(F.trim(F.lower("text")), r"\s+").alias("ws"),
        )
    )
    train = docs.where(F.col("doc_id") % 5 != 0)
    test = docs.where(F.col("doc_id") % 5 == 0)

    train_tokens = train.select("lang", F.explode("ws").alias("w"))
    n_train = train.count()
    priors = train.groupBy("lang").agg(
        F.log(F.count(F.lit(1)).cast("double") / F.lit(float(n_train))).alias(
            "log_prior"
        )
    )
    v = train_tokens.select("w").distinct().count()
    class_tot = train_tokens.groupBy("lang").agg(F.count(F.lit(1)).alias("tot"))
    wc = train_tokens.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("cnt"))

    model = (
        priors.join(class_tot, "lang")
        .withColumnRenamed("lang", "cand")
    )
    test_tokens = test.select(
        "doc_id", F.col("lang").alias("actual"), F.explode("ws").alias("w")
    )
    scored = (
        test_tokens.crossJoin(F.broadcast(model))
        .join(
            wc.withColumnRenamed("lang", "cand"),
            ["cand", "w"],
            "left",
        )
        .groupBy("doc_id", "actual", "cand", "log_prior")
        .agg(
            F.sum(
                F.log(
                    (F.coalesce(F.col("cnt"), F.lit(0)) + 1.0)
                    / (F.col("tot") + F.lit(float(v)))
                )
            ).alias("loglik")
        )
        .select(
            "doc_id",
            "actual",
            "cand",
            (F.col("log_prior") + F.col("loglik")).alias("score"),
        )
    )
    w_rank = Window.partitionBy("doc_id").orderBy(F.desc("score"), "cand")
    return (
        scored.withColumn("rnk", F.row_number().over(w_rank))
        .where(F.col("rnk") == 1)
        .groupBy("actual", F.col("cand").alias("predicted"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("actual", "predicted")
    )


@register(
    "ml_mad_outliers",
    oracle="""
    WITH med AS (
        SELECT event_type,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS med
        FROM events GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_type, e.value, abs(e.value - m.med) AS adev, m.med
        FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
        SELECT event_type,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY adev) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           count(*) AS n_events,
           round(max(m.mad), 6) AS mad,
           CAST(sum(CASE WHEN abs(d.value - d.med) > 3 * 1.4826 * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    ORDER BY d.event_type
    """,
    doc="Median-absolute-deviation outlier detection (MADlib robust "
    "statistics family; robust alternative to events_anomaly_zscore — "
    "the MAD is insensitive to the outliers it hunts): two grouped "
    "EXACT percentile passes (each one shuffle on the bounded "
    "event_type key) + the 1.4826 normal-consistency factor. Flags "
    "values beyond 3 robust sigmas.",
    tags=("pipeline", "ml", "robust"),
)
def ml_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.max("mad"), 6).alias("mad"),
            F.sum(
                F.when(
                    F.col("adev") > 3 * 1.4826 * F.col("mad"), 1
                ).otherwise(0)
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


@register(
    "ml_chi2_independence",
    oracle="""
    WITH obs AS (
        SELECT user_id % 2 AS cohort, event_type, count(*) AS o
        FROM events GROUP BY user_id % 2, event_type
    ), tot AS (
        SELECT sum(o) AS n FROM obs
    ), margins AS (
        SELECT o.cohort, o.event_type, o.o,
               sum(o.o) OVER (PARTITION BY o.cohort) AS row_tot,
               sum(o.o) OVER (PARTITION BY o.event_type) AS col_tot
        FROM obs o
    )
    SELECT round(sum(pow(o - CAST(row_tot * col_tot AS DOUBLE)
                              / (SELECT CAST(n AS DOUBLE) FROM tot), 2)
                     / (CAST(row_tot * col_tot AS DOUBLE)
                        / (SELECT CAST(n AS DOUBLE) FROM tot))), 6) AS chi2,
           (count(DISTINCT cohort) - 1)
               * (count(DISTINCT event_type) - 1) AS dof,
           (SELECT CAST(n AS BIGINT) FROM tot) AS n_events
    FROM margins
    """,
    doc="Chi-square test of independence (MADlib hypothesis-test "
    "family): cohort (user parity) x event_type contingency table, "
    "expected counts from the margins, one grouped count + window "
    "margins over the BOUNDED contingency table (|cohorts| x |types| "
    "rows — the corpus shuffles once into it). The test statistic is "
    "the screening tool for 'did this pipeline change shift the event "
    "mix' at any scale.",
    tags=("pipeline", "ml", "stats"),
)
def ml_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    obs = ev.groupBy(
        (F.col("user_id") % 2).alias("cohort"), "event_type"
    ).agg(F.count(F.lit(1)).alias("o"))
    margins = (
        obs.withColumn("row_tot", F.sum("o").over(Window.partitionBy("cohort")))
        .withColumn("col_tot", F.sum("o").over(Window.partitionBy("event_type")))
    )
    # grand total stays distributed: 1-row aggregate broadcast onto the
    # (bounded) contingency table — same scalar-join pattern as every
    # sibling, zero driver-side collects.
    tot = obs.agg(F.sum("o").alias("n_events"))
    joined = margins.crossJoin(F.broadcast(tot))
    e = (
        (F.col("row_tot") * F.col("col_tot")).cast("double")
        / F.col("n_events").cast("double")
    )
    return joined.agg(
        F.round(F.sum(F.pow(F.col("o") - e, 2) / e), 6).alias("chi2"),
        (
            (F.countDistinct("cohort") - 1)
            * (F.countDistinct("event_type") - 1)
        ).alias("dof"),
        F.max("n_events").cast("bigint").alias("n_events"),
    )


@register(
    "ml_event_entropy",
    oracle="""
    WITH counts AS (
        SELECT user_id, event_type, count(*) AS c
        FROM events WHERE user_id <= 50
        GROUP BY user_id, event_type
    ), tot AS (
        SELECT user_id, sum(c) AS n FROM counts GROUP BY user_id
    )
    SELECT c.user_id, CAST(t.n AS BIGINT) AS n_events,
           round(-sum((CAST(c.c AS DOUBLE) / t.n)
                      * ln(CAST(c.c AS DOUBLE) / t.n)), 6) AS entropy
    FROM counts c JOIN tot t USING (user_id)
    GROUP BY c.user_id, t.n
    ORDER BY c.user_id
    """,
    doc="Shannon entropy of each user's event-type distribution "
    "(behavioral-diversity diagnostic; information-theoretic cousin "
    "of diag_key_skew): two grouped counts co-partitioned on user_id "
    "(one exchange reused), then -sum(p ln p). Low entropy = "
    "single-action bots, high = diverse sessions.",
    tags=("pipeline", "ml", "stats"),
)
def ml_event_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") <= 50)
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = counts.groupBy("user_id").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    return (
        counts.join(tot, "user_id")
        .groupBy("user_id", F.col("n").alias("n_events"))
        .agg(F.round(-F.sum(p * F.log(p)), 6).alias("entropy"))
        .orderBy("user_id")
    )


def _bootstrap_oracle() -> str:
    h = ("CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 18, 15))"
         " AS BIGINT)")
    reps = " UNION ALL ".join(
        f"SELECT pri, {b} AS b, v FROM base WHERE (h % {1 << (b + 1)}) >= {1 << b}"
        for b in range(8)
    )
    return f"""
    WITH base AS (
        SELECT o_orderpriority AS pri, o_totalprice AS v, {h} AS h
        FROM orders
    ), reps AS ({reps}),
    rep_means AS (
        SELECT pri, b, avg(v) AS m FROM reps GROUP BY pri, b
    )
    SELECT pri,
           round(avg(m), 4) AS boot_mean,
           round(stddev_samp(m), 4) AS boot_se,
           count(*) AS n_replicates
    FROM rep_means
    GROUP BY pri
    ORDER BY pri
    """


@register(
    "ml_halfsample_bootstrap",
    oracle=_bootstrap_oracle(),
    doc="Deterministic half-sample bootstrap (in-engine uncertainty "
    "quantification, MADlib summary-stats adjacent): 8 overlapping "
    "half-samples selected by BITS of the cross-engine md5 hash (bit b "
    "set -> row joins replicate b), each replicate's mean computed in "
    "one grouped pass, spread of the 8 means = the standard-error "
    "estimate. Fully reproducible (no RNG), one corpus scan fanned "
    "x8 map-side, shuffle on the bounded (group x replicate) key — "
    "the scalable alternative to driver-side resampling at 100 TB. "
    "All-integer bit tests keep replicate membership bit-identical "
    "across engines.",
    tags=("pipeline", "ml", "stats"),
)
def ml_halfsample_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cloudberry_spark.pipeline.hashing import spark_base_hash

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("v"),
        spark_base_hash(F.col("o_orderkey").cast("string")).alias("h"),
    )
    bits = spark.range(8).select(F.col("id").cast("int").alias("b"))
    reps = base.crossJoin(F.broadcast(bits)).where(
        F.expr("(h % CAST(pow(2, b + 1) AS BIGINT)) >= CAST(pow(2, b) AS BIGINT)")
    )
    rep_means = reps.groupBy("pri", "b").agg(F.avg("v").alias("m"))
    return (
        rep_means.groupBy("pri")
        .agg(
            F.round(F.avg("m"), 4).alias("boot_mean"),
            F.round(F.stddev_samp("m"), 4).alias("boot_se"),
            F.count(F.lit(1)).alias("n_replicates"),
        )
        .orderBy("pri")
    )


# ---------------------------------------------------------------------------
# MADlib regression / scoring family (round-5 additions)
# ---------------------------------------------------------------------------


@register(
    "ml_multiple_regression",
    oracle="""
    WITH s AS (
        SELECT count(*) AS n,
               avg(l_quantity)                    AS m1,
               avg(l_discount)                    AS m2,
               avg(l_extendedprice)               AS my,
               sum(l_quantity * l_quantity)       AS s11r,
               sum(l_quantity * l_discount)       AS s12r,
               sum(l_discount * l_discount)       AS s22r,
               sum(l_quantity * l_extendedprice)  AS s1yr,
               sum(l_discount * l_extendedprice)  AS s2yr,
               sum(l_extendedprice * l_extendedprice) AS syyr
        FROM lineitem
    ), c AS (
        SELECT n, m1, m2, my,
               s11r - n * m1 * m1 AS s11,
               s12r - n * m1 * m2 AS s12,
               s22r - n * m2 * m2 AS s22,
               s1yr - n * m1 * my AS s1y,
               s2yr - n * m2 * my AS s2y,
               syyr - n * my * my AS syy
        FROM s
    )
    SELECT CAST(n AS BIGINT) AS n,
           round((s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12), 5) AS b_quantity,
           round((s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12), 5) AS b_discount,
           round(my - (s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12) * m1
                    - (s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) * m2, 5)
               AS intercept,
           round(((s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12) * s1y
                  + (s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) * s2y)
                 / syy, 6) AS r2
    FROM c
    """,
    doc="Multiple linear regression (MADlib linregr_train parity; the "
    "reference ships MADlib as its in-database ML layer): "
    "l_extendedprice ~ l_quantity + l_discount solved in closed form "
    "from the normal equations — ONE distributed aggregation collects "
    "the 10 sufficient statistics (sums of squares/cross-products), "
    "then the 2x2 Cramer solve runs on that single row. Training on "
    "100 TB is therefore exactly one map-side-combined groupBy; no "
    "iteration, no driver-side data movement. Centered (covariance) "
    "form keeps the solve well-conditioned.",
    tags=("pipeline", "ml", "regression"),
)
def ml_multiple_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("double").alias("x1"),
        F.col("l_discount").cast("double").alias("x2"),
        F.col("l_extendedprice").cast("double").alias("y"),
    )
    s = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("x1").alias("m1"),
        F.avg("x2").alias("m2"),
        F.avg("y").alias("my"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11r"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12r"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22r"),
        F.sum(F.col("x1") * F.col("y")).alias("s1yr"),
        F.sum(F.col("x2") * F.col("y")).alias("s2yr"),
        F.sum(F.col("y") * F.col("y")).alias("syyr"),
    )
    c = s.select(
        "n", "m1", "m2", "my",
        (F.col("s11r") - F.col("n") * F.col("m1") * F.col("m1")).alias("s11"),
        (F.col("s12r") - F.col("n") * F.col("m1") * F.col("m2")).alias("s12"),
        (F.col("s22r") - F.col("n") * F.col("m2") * F.col("m2")).alias("s22"),
        (F.col("s1yr") - F.col("n") * F.col("m1") * F.col("my")).alias("s1y"),
        (F.col("s2yr") - F.col("n") * F.col("m2") * F.col("my")).alias("s2y"),
        (F.col("syyr") - F.col("n") * F.col("my") * F.col("my")).alias("syy"),
    )
    det = F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12")
    b1 = (F.col("s22") * F.col("s1y") - F.col("s12") * F.col("s2y")) / det
    b2 = (F.col("s11") * F.col("s2y") - F.col("s12") * F.col("s1y")) / det
    return c.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(b1, 5).alias("b_quantity"),
        F.round(b2, 5).alias("b_discount"),
        F.round(
            F.col("my") - b1 * F.col("m1") - b2 * F.col("m2"), 5
        ).alias("intercept"),
        F.round((b1 * F.col("s1y") + b2 * F.col("s2y")) / F.col("syy"), 6).alias(
            "r2"
        ),
    )


_LOGIT_LR = 1.0  # fixed learning rate on the standardized feature


@register(
    "ml_logistic_regression",
    oracle="""
    WITH o AS (
        SELECT ln(o_totalprice) AS lp,
               CASE WHEN o_orderpriority < '3' THEN 1.0 ELSE 0.0 END AS y
        FROM orders
    ), st AS (
        SELECT avg(lp) AS mu, stddev_pop(lp) AS sd FROM o
    ), base AS (
        SELECT (lp - mu) / sd AS x, y FROM o, st
    ), g1 AS (
        SELECT -1.0 * avg(0.5 - y) AS b0, -1.0 * avg((0.5 - y) * x) AS b1
        FROM base
    ), g2 AS (
        SELECT b0 - 1.0 * avg(1.0 / (1.0 + exp(-(b0 + b1 * x))) - y) AS b0,
               b1 - 1.0 * avg((1.0 / (1.0 + exp(-(b0 + b1 * x))) - y) * x) AS b1
        FROM base, g1 GROUP BY b0, b1
    ), g3 AS (
        SELECT b0 - 1.0 * avg(1.0 / (1.0 + exp(-(b0 + b1 * x))) - y) AS b0,
               b1 - 1.0 * avg((1.0 / (1.0 + exp(-(b0 + b1 * x))) - y) * x) AS b1
        FROM base, g2 GROUP BY b0, b1
    )
    SELECT round(b0, 6) AS b0,
           round(b1, 6) AS b1,
           round(avg(CASE WHEN (1.0 / (1.0 + exp(-(b0 + b1 * x))) > 0.5)
                               = (y = 1.0)
                          THEN 1.0 ELSE 0.0 END), 6) AS train_accuracy,
           CAST(count(*) AS BIGINT) AS n
    FROM base, g3 GROUP BY b0, b1
    """,
    doc="Logistic regression by batch gradient descent (MADlib "
    "logregr_train parity), 3 iterations UNROLLED into the plan: "
    "predict high-priority orders from standardized ln(o_totalprice). "
    "Each iteration is one full-data aggregation producing the 2-value "
    "gradient; the 1-row beta estimate cross-joins (broadcast) back "
    "for the next pass — the exact shape MADlib runs per iteration on "
    "the reference (in-database iterative ML: data never leaves the "
    "engine, the model is rows). At 100 TB each epoch is one "
    "map-side-combined scan; deterministic (no RNG init, fixed lr), "
    "so the DuckDB oracle replays the identical arithmetic.",
    tags=("pipeline", "ml", "regression"),
)
def ml_logistic_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.log("o_totalprice").alias("lp"),
        F.when(F.col("o_orderpriority") < "3", 1.0).otherwise(0.0).alias("y"),
    )
    st = o.agg(
        F.avg("lp").alias("mu"), F.stddev_pop("lp").alias("sd")
    )
    base = o.crossJoin(F.broadcast(st)).select(
        ((F.col("lp") - F.col("mu")) / F.col("sd")).alias("x"), "y"
    )

    def _sig(b0, b1):
        return 1.0 / (1.0 + F.exp(-(b0 + b1 * F.col("x"))))

    lr = F.lit(_LOGIT_LR)
    beta = base.agg(
        (-lr * F.avg(0.5 - F.col("y"))).alias("b0"),
        (-lr * F.avg((0.5 - F.col("y")) * F.col("x"))).alias("b1"),
    )
    for _ in range(2):
        p = _sig(F.col("b0"), F.col("b1"))
        beta = (
            base.crossJoin(F.broadcast(beta))
            .groupBy("b0", "b1")
            .agg(
                F.avg(p - F.col("y")).alias("g0"),
                F.avg((p - F.col("y")) * F.col("x")).alias("g1"),
            )
            .select(
                (F.col("b0") - lr * F.col("g0")).alias("b0"),
                (F.col("b1") - lr * F.col("g1")).alias("b1"),
            )
        )
    p = _sig(F.col("b0"), F.col("b1"))
    return (
        base.crossJoin(F.broadcast(beta))
        .groupBy("b0", "b1")
        .agg(
            F.round(
                F.avg(
                    F.when((p > 0.5) == (F.col("y") == 1.0), 1.0).otherwise(0.0)
                ),
                6,
            ).alias("train_accuracy"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.round("b0", 6).alias("b0"),
            F.round("b1", 6).alias("b1"),
            "train_accuracy",
            "n",
        )
    )


@register(
    "ml_auc_roc",
    oracle="""
    WITH o AS (
        SELECT o_totalprice AS score,
               CASE WHEN o_orderpriority < '3' THEN 1 ELSE 0 END AS y
        FROM orders
    ), g AS (
        SELECT score, sum(y) AS pos_s, sum(1 - y) AS neg_s
        FROM o GROUP BY score
    ), c AS (
        SELECT score, pos_s, neg_s,
               coalesce(sum(neg_s) OVER (ORDER BY score
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS neg_below
        FROM g
    )
    SELECT CAST(sum(pos_s) AS BIGINT) AS n_pos,
           CAST(sum(neg_s) AS BIGINT) AS n_neg,
           round((2.0 * sum(pos_s * neg_below) + sum(pos_s * neg_s))
                 / (2.0 * sum(pos_s) * sum(neg_s)), 6) AS auc
    FROM c
    """,
    doc="Exact ROC AUC at corpus scale (MADlib area_under_roc parity): "
    "AUC = P(score_pos > score_neg) + P(=)/2 computed from integer "
    "counts only — group by distinct score, then the cumulative "
    "negative count below each score via the repo's DISTRIBUTED "
    "prefix sum (range-repartition + per-partition scan + broadcast "
    "offsets; no single-partition global window), then one final "
    "aggregation. The numerator stays integer until the last divide, "
    "so the result is bit-identical cross-engine — no rank-tie float "
    "hazards. Scores = o_totalprice predicting high order priority.",
    tags=("pipeline", "ml", "scoring"),
)
def ml_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cloudberry_spark.pipeline.text import _distributed_prefix_sum

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("score"),
        F.when(F.col("o_orderpriority") < "3", 1).otherwise(0).alias("y"),
    )
    g = o.groupBy("score").agg(
        F.sum("y").alias("pos_s"), F.sum(1 - F.col("y")).alias("neg_s")
    )
    c = _distributed_prefix_sum(g, val="neg_s", keys=("score",)).withColumn(
        "neg_below", F.col("cum") - F.col("neg_s")
    )
    return c.agg(
        F.sum("pos_s").cast("bigint").alias("n_pos"),
        F.sum("neg_s").cast("bigint").alias("n_neg"),
        F.round(
            (
                2.0 * F.sum(F.col("pos_s") * F.col("neg_below"))
                + F.sum(F.col("pos_s") * F.col("neg_s"))
            )
            / (2.0 * F.sum("pos_s") * F.sum("neg_s")),
            6,
        ).alias("auc"),
    )


@register(
    "ml_decision_stump",
    oracle="""
    WITH g AS (
        SELECT l_quantity AS q,
               sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS pos,
               sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS neg
        FROM lineitem GROUP BY l_quantity
    ), c AS (
        SELECT q,
               sum(pos) OVER (ORDER BY q) AS lp,
               sum(neg) OVER (ORDER BY q) AS ln_,
               sum(pos) OVER () AS tp,
               sum(neg) OVER () AS tn
        FROM g
    ), splits AS (
        SELECT q AS threshold,
               lp + ln_ AS n_left, (tp - lp) + (tn - ln_) AS n_right,
               ((lp + ln_) * (1.0 - pow(CAST(lp AS DOUBLE) / (lp + ln_), 2)
                                  - pow(CAST(ln_ AS DOUBLE) / (lp + ln_), 2))
                + ((tp - lp) + (tn - ln_))
                  * (1.0 - pow(CAST(tp - lp AS DOUBLE)
                               / ((tp - lp) + (tn - ln_)), 2)
                         - pow(CAST(tn - ln_ AS DOUBLE)
                               / ((tp - lp) + (tn - ln_)), 2)))
               / (tp + tn) AS gini,
               1.0 - pow(CAST(tp AS DOUBLE) / (tp + tn), 2)
                   - pow(CAST(tn AS DOUBLE) / (tp + tn), 2) AS gini_root
        FROM c WHERE lp + ln_ < tp + tn
    )
    SELECT threshold, CAST(n_left AS BIGINT) AS n_left,
           CAST(n_right AS BIGINT) AS n_right,
           round(gini, 6) AS weighted_gini,
           round(gini_root, 6) AS gini_root
    FROM splits
    ORDER BY gini, threshold LIMIT 1
    """,
    doc="Decision-tree stump (MADlib tree_train depth=1): best "
    "'l_quantity <= t' split for predicting returned lineitems by "
    "minimum weighted Gini impurity. ONE groupBy collapses the corpus "
    "to the bounded (|distinct quantity| = 50)-row class-count table; "
    "the windows that sweep candidate thresholds run over that tiny "
    "table only, so training cost at 100 TB is a single "
    "map-side-combined aggregation — the C4.5-style threshold sweep "
    "is metadata-scale. Integer counts make Gini bit-identical "
    "cross-engine; ties break on the smaller threshold.",
    tags=("pipeline", "ml", "tree"),
)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy(F.col("l_quantity").alias("q")).agg(
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("pos"),
        F.sum(F.when(F.col("l_returnflag") == "R", 0).otherwise(1)).alias("neg"),
    )
    # 50-row table: the single-partition windows here are metadata-scale.
    w = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    c = g.select(
        "q",
        F.sum("pos").over(w).alias("lp"),
        F.sum("neg").over(w).alias("ln_"),
        F.sum("pos").over(wall).alias("tp"),
        F.sum("neg").over(wall).alias("tn"),
    )
    nl = F.col("lp") + F.col("ln_")
    nr = (F.col("tp") - F.col("lp")) + (F.col("tn") - F.col("ln_"))
    gini_l = (
        1.0
        - F.pow(F.col("lp").cast("double") / nl, 2)
        - F.pow(F.col("ln_").cast("double") / nl, 2)
    )
    gini_r = (
        1.0
        - F.pow((F.col("tp") - F.col("lp")).cast("double") / nr, 2)
        - F.pow((F.col("tn") - F.col("ln_")).cast("double") / nr, 2)
    )
    gini_root = (
        1.0
        - F.pow(F.col("tp").cast("double") / (F.col("tp") + F.col("tn")), 2)
        - F.pow(F.col("tn").cast("double") / (F.col("tp") + F.col("tn")), 2)
    )
    return (
        c.where(nl < F.col("tp") + F.col("tn"))
        .select(
            F.col("q").alias("threshold"),
            nl.cast("bigint").alias("n_left"),
            nr.cast("bigint").alias("n_right"),
            ((nl * gini_l + nr * gini_r) / (F.col("tp") + F.col("tn"))).alias(
                "g"
            ),
            gini_root.alias("gr"),
        )
        .orderBy("g", "threshold")
        .limit(1)
        .select(
            "threshold", "n_left", "n_right",
            F.round("g", 6).alias("weighted_gini"),
            F.round("gr", 6).alias("gini_root"),
        )
    )


_PCA_DIM = 16  # leading dims used for the covariance (fixture vectors: 64)


def _pca_oracle() -> str:
    d = _PCA_DIM
    return f"""
    WITH nrows AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings),
    lng AS (
        SELECT vec_id, r.i AS i, CAST(embedding[r.i + 1] AS DOUBLE) AS x
        FROM embeddings CROSS JOIN range({d}) r(i)
    ), means AS (
        SELECT i, avg(x) AS mi FROM lng GROUP BY i
    ), centered AS (
        SELECT l.vec_id, l.i, l.x - m.mi AS xc
        FROM lng l JOIN means m USING (i)
    ), cov AS (
        SELECT a.i AS i, b.i AS j,
               sum(a.xc * b.xc) / (SELECT n FROM nrows) AS c
        FROM centered a JOIN centered b USING (vec_id)
        GROUP BY a.i, b.i
    ), v0 AS (
        SELECT i, 1.0 / sqrt({d}) AS v FROM range({d}) r(i)
    ), w1 AS (
        SELECT c.i, sum(c.c * v.v) AS u FROM cov c JOIN v0 v ON c.j = v.i
        GROUP BY c.i
    ), v1 AS (
        SELECT i, u / (SELECT sqrt(sum(u * u)) FROM w1) AS v FROM w1
    ), w2 AS (
        SELECT c.i, sum(c.c * v.v) AS u FROM cov c JOIN v1 v ON c.j = v.i
        GROUP BY c.i
    ), v2 AS (
        SELECT i, u / (SELECT sqrt(sum(u * u)) FROM w2) AS v FROM w2
    ), w3 AS (
        SELECT c.i, sum(c.c * v.v) AS u FROM cov c JOIN v2 v ON c.j = v.i
        GROUP BY c.i
    ), v3 AS (
        SELECT i, u / (SELECT sqrt(sum(u * u)) FROM w3) AS v FROM w3
    ), lam AS (
        SELECT sum(c.c * a.v * b.v) AS l
        FROM cov c JOIN v3 a ON c.i = a.i JOIN v3 b ON c.j = b.i
    )
    SELECT CAST(v3.i AS INT) AS dim, round(v3.v, 5) AS loading,
           round((SELECT l FROM lam), 6) AS eigenvalue
    FROM v3 ORDER BY v3.i
    """


@register(
    "ml_pca_power_iteration",
    oracle=_pca_oracle(),
    doc="PCA leading principal component (MADlib pca_train parity) "
    "over the first 16 embedding dims: covariance matrix built "
    "DISTRIBUTED by self-joining the (vec_id, dim, centered-value) "
    "long form on vec_id — one shuffle on vec_id, d^2-bounded output "
    "(a 16x16 matrix = 256 rows regardless of corpus size) — then 3 "
    "unrolled power-iteration steps as joins against the tiny "
    "(dim, v) vector table, normalizing via a 1-row cross join. "
    "Deterministic uniform init (no RNG), so the oracle replays the "
    "identical float path. Output: the eigenvector loadings + "
    "Rayleigh-quotient eigenvalue. At 100 TB the only data-sized "
    "cost is the covariance pass; iteration cost is metadata-scale.",
    tags=("pipeline", "ml", "pca"),
)
def ml_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _PCA_DIM
    emb = load_table(spark, sf_dir, "embeddings")
    n = float(emb.count())
    lng = emb.select(
        "vec_id", F.posexplode(F.slice("embedding", 1, d)).alias("i", "x")
    ).select("vec_id", "i", F.col("x").cast("double").alias("x"))
    means = lng.groupBy("i").agg(F.avg("x").alias("mi"))
    centered = lng.join(F.broadcast(means), "i").select(
        "vec_id", "i", (F.col("x") - F.col("mi")).alias("xc")
    )
    a, b = centered.alias("a"), centered.alias("b")
    cov = (
        a.join(b, "vec_id")
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg((F.sum(F.col("a.xc") * F.col("b.xc")) / F.lit(n)).alias("c"))
    )
    v = spark.range(d).select(
        F.col("id").cast("int").alias("i"), F.lit(1.0 / d**0.5).alias("v")
    )
    for _ in range(3):
        w = (
            cov.join(F.broadcast(v), cov["j"] == v["i"])
            .groupBy(cov["i"].alias("i"))
            .agg(F.sum(F.col("c") * F.col("v")).alias("u"))
        )
        nn = w.agg(F.sqrt(F.sum(F.col("u") * F.col("u"))).alias("nn"))
        v = w.crossJoin(F.broadcast(nn)).select(
            "i", (F.col("u") / F.col("nn")).alias("v")
        )
    va, vb = v.alias("va"), v.alias("vb")
    lam = (
        cov.join(F.broadcast(va), cov["i"] == F.col("va.i"))
        .join(F.broadcast(vb), cov["j"] == F.col("vb.i"))
        .agg(F.sum(F.col("c") * F.col("va.v") * F.col("vb.v")).alias("l"))
    )
    return (
        v.crossJoin(F.broadcast(lam))
        .select(
            F.col("i").cast("int").alias("dim"),
            F.round("v", 5).alias("loading"),
            F.round("l", 6).alias("eigenvalue"),
        )
        .orderBy("dim")
    )


_KNN_K = 5


def _knn_oracle() -> str:
    from cloudberry_spark.pipeline.similarity import _duck_cosine

    k = _KNN_K
    cos = _duck_cosine("t.embedding", "tr.embedding")
    return f"""
    WITH test AS (
        SELECT vec_id, embedding, label FROM embeddings
        WHERE vec_id % 20 = 0
    ), train AS (
        SELECT vec_id, embedding, label FROM embeddings
        WHERE vec_id % 20 <> 0
    ), scored AS (
        SELECT t.vec_id AS test_id, t.label AS actual,
               tr.label AS cand, tr.vec_id AS train_id,
               {cos} AS sim
        FROM test t CROSS JOIN train tr
    ), topk AS (
        SELECT test_id, actual, cand
        FROM (SELECT test_id, actual, cand,
                     row_number() OVER (PARTITION BY test_id
                                        ORDER BY sim DESC, train_id) AS r
              FROM scored)
        WHERE r <= {k}
    ), votes AS (
        SELECT test_id, actual, cand, count(*) AS n_votes
        FROM topk GROUP BY test_id, actual, cand
    ), winner AS (
        SELECT test_id, actual, cand AS predicted
        FROM (SELECT test_id, actual, cand,
                     row_number() OVER (PARTITION BY test_id
                                        ORDER BY n_votes DESC, cand) AS r
              FROM votes)
        WHERE r = 1
    )
    SELECT CAST(actual AS INT) AS actual, CAST(predicted AS INT) AS predicted,
           CAST(count(*) AS BIGINT) AS n_vectors
    FROM winner GROUP BY actual, predicted
    ORDER BY actual, predicted
    """


@register(
    "ml_knn_classifier",
    oracle=_knn_oracle(),
    doc="k-NN classification over the embedding column (MADlib knn "
    "parity): deterministic 5%% holdout (vec_id %% 20), k=5 cosine "
    "neighbors via the same broadcast-queries/single-corpus-scan "
    "kernel as sim_knn_brute, majority vote with ties broken on the "
    "smaller label, output = confusion matrix. The test side "
    "broadcasts; corpus-side work is one scan + one bounded window "
    "shuffle keyed on test_id — the scale path swaps the brute "
    "kernel for the IVF probe (sim_ivf_knn) unchanged. Cosine ties "
    "at rank k break on train vec_id, keeping the vote set "
    "deterministic cross-engine.",
    tags=("pipeline", "ml", "classify"),
)
def ml_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cloudberry_spark.pipeline.similarity import knn_brute

    emb = load_table(spark, sf_dir, "embeddings")
    test = emb.where(F.col("vec_id") % 20 == 0)
    train = emb.where(F.col("vec_id") % 20 != 0)
    topk = knn_brute(train, test, k=_KNN_K).withColumnRenamed(
        "query_id", "test_id"
    )
    labels = emb.select(
        F.col("vec_id").alias("test_id"), F.col("label").alias("actual")
    )
    votes = (
        topk.join(
            train.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("cand"),
            ),
            "neighbor_id",
        )
        .groupBy("test_id", "cand")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("test_id").orderBy(F.desc("n_votes"), "cand")
    winner = (
        votes.withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .join(F.broadcast(labels), "test_id")
    )
    return (
        winner.groupBy(
            F.col("actual").cast("int").alias("actual"),
            F.col("cand").cast("int").alias("predicted"),
        )
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("actual", "predicted")
    )


@register(
    "ml_t_test_welch",
    oracle="""
    WITH s AS (
        SELECT CASE WHEN event_type = 'purchase' THEN 'purchase'
                    ELSE 'other' END AS grp,
               count(*) AS n, avg(value) AS m, var_samp(value) AS v
        FROM events WHERE event_type IN ('purchase', 'click')
        GROUP BY 1
    ), w AS (
        SELECT max(CASE WHEN grp = 'purchase' THEN m END) AS m1,
               max(CASE WHEN grp = 'purchase' THEN v END) AS v1,
               max(CASE WHEN grp = 'purchase' THEN n END) AS n1,
               max(CASE WHEN grp = 'other' THEN m END) AS m2,
               max(CASE WHEN grp = 'other' THEN v END) AS v2,
               max(CASE WHEN grp = 'other' THEN n END) AS n2
        FROM s
    )
    SELECT CAST(n1 AS BIGINT) AS n_purchase,
           CAST(n2 AS BIGINT) AS n_click,
           round(m1 - m2, 6) AS mean_diff,
           round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) AS t_stat,
           round(pow(v1 / n1 + v2 / n2, 2)
                 / (pow(v1 / n1, 2) / (n1 - 1)
                    + pow(v2 / n2, 2) / (n2 - 1)), 4) AS welch_df
    FROM w
    """,
    doc="Welch's two-sample t-test (MADlib t_test parity, the unequal-"
    "variance form used for A/B readouts): purchase vs click event "
    "values. The whole test is ONE grouped aggregation (count/mean/"
    "variance per arm — map-side combined) pivoted to a single row; "
    "t statistic and Welch-Satterthwaite degrees of freedom are "
    "scalar arithmetic on that row. The canonical experiment-analysis "
    "query at any scale: one scan, one 2-row shuffle.",
    tags=("pipeline", "ml", "stats"),
)
def ml_t_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "click")
    )
    s = ev.groupBy(
        F.when(F.col("event_type") == "purchase", "purchase")
        .otherwise("other")
        .alias("grp")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )
    pick = lambda c, g: F.max(F.when(F.col("grp") == g, F.col(c)))  # noqa: E731
    w = s.agg(
        pick("m", "purchase").alias("m1"),
        pick("v", "purchase").alias("v1"),
        pick("n", "purchase").alias("n1"),
        pick("m", "other").alias("m2"),
        pick("v", "other").alias("v2"),
        pick("n", "other").alias("n2"),
    )
    se2 = F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")
    return w.select(
        F.col("n1").cast("bigint").alias("n_purchase"),
        F.col("n2").cast("bigint").alias("n_click"),
        F.round(F.col("m1") - F.col("m2"), 6).alias("mean_diff"),
        F.round((F.col("m1") - F.col("m2")) / F.sqrt(se2), 6).alias("t_stat"),
        F.round(
            F.pow(se2, 2)
            / (
                F.pow(F.col("v1") / F.col("n1"), 2) / (F.col("n1") - 1)
                + F.pow(F.col("v2") / F.col("n2"), 2) / (F.col("n2") - 1)
            ),
            4,
        ).alias("welch_df"),
    )


@register(
    "ml_lift_deciles",
    oracle="""
    WITH scored AS (
        SELECT o_totalprice AS score,
               CASE WHEN o_orderpriority < '3' THEN 1 ELSE 0 END AS y
        FROM orders
    ), bounds AS (
        SELECT quantile_cont(score, [0.1, 0.2, 0.3, 0.4, 0.5,
                                     0.6, 0.7, 0.8, 0.9]) AS qs
        FROM scored
    ), binned AS (
        SELECT y, 10 - len(list_filter((SELECT qs FROM bounds),
                                       q -> score <= q)) AS decile
        FROM scored
    ), agg AS (
        SELECT decile, count(*) AS n, sum(y) AS n_pos FROM binned GROUP BY decile
    ), tot AS (
        SELECT CAST(sum(n_pos) AS DOUBLE) / sum(n) AS base_rate FROM agg
    )
    SELECT CAST(decile AS INT) AS decile,
           CAST(n AS BIGINT) AS n_orders,
           CAST(n_pos AS BIGINT) AS n_high_priority,
           round((CAST(n_pos AS DOUBLE) / n) / (SELECT base_rate FROM tot), 6)
               AS lift
    FROM agg ORDER BY decile
    """,
    doc="Decile lift table (MADlib/scorecard model-evaluation "
    "staple): decile 1 = highest scores. Bin boundaries are the nine "
    "exact score deciles computed ONCE and applied as a broadcast "
    "literal comparison (the text_quality_tiers percentile-broadcast "
    "pattern) — NOT a global ntile(), whose single-partition sort "
    "dies at 100 TB. Per-decile response rate over the base rate = "
    "lift. Exact percentiles keep the bin edges cross-engine "
    "identical; counts are integers thereafter.",
    tags=("pipeline", "ml", "scoring"),
)
def ml_lift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("score"),
        F.when(F.col("o_orderpriority") < "3", 1).otherwise(0).alias("y"),
    )
    qs = [i / 10 for i in range(1, 10)]
    bounds = o.agg(
        F.expr(
            f"percentile(score, array({', '.join(str(q) for q in qs)}))"
        ).alias("qs")
    )
    binned = o.crossJoin(F.broadcast(bounds)).select(
        "y",
        (
            10
            - F.size(F.filter(F.col("qs"), lambda q: F.col("score") <= q))
        ).alias("decile"),
    )
    agg = binned.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("n_pos")
    )
    tot = agg.agg(
        (F.sum("n_pos").cast("double") / F.sum("n")).alias("base_rate")
    )
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("int").alias("decile"),
            F.col("n").cast("bigint").alias("n_orders"),
            F.col("n_pos").cast("bigint").alias("n_high_priority"),
            F.round(
                (F.col("n_pos").cast("double") / F.col("n"))
                / F.col("base_rate"),
                6,
            ).alias("lift"),
        )
        .orderBy("decile")
    )


@register(
    "ml_correlation_matrix",
    oracle="""
    SELECT round(corr(l_quantity, l_extendedprice), 6) AS qty_price,
           round(corr(l_quantity, l_discount), 6)      AS qty_disc,
           round(corr(l_quantity, l_tax), 6)           AS qty_tax,
           round(corr(l_extendedprice, l_discount), 6) AS price_disc,
           round(corr(l_extendedprice, l_tax), 6)      AS price_tax,
           round(corr(l_discount, l_tax), 6)           AS disc_tax,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    """,
    doc="Pairwise Pearson correlation matrix (MADlib correlation() "
    "parity) over the four numeric lineitem measures: all six "
    "pairwise coefficients in ONE map-side-combined aggregation pass "
    "— corr's sufficient statistics are mergeable partials, so the "
    "full matrix at 100 TB is a single scan, the same shape MADlib "
    "pushes into the database. The feature-screening companion to "
    "ml_multiple_regression.",
    tags=("pipeline", "ml", "stats"),
)
def ml_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    c = lambda a, b: F.round(F.corr(a, b), 6)  # noqa: E731
    return li.agg(
        c("l_quantity", "l_extendedprice").alias("qty_price"),
        c("l_quantity", "l_discount").alias("qty_disc"),
        c("l_quantity", "l_tax").alias("qty_tax"),
        c("l_extendedprice", "l_discount").alias("price_disc"),
        c("l_extendedprice", "l_tax").alias("price_tax"),
        c("l_discount", "l_tax").alias("disc_tax"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "ml_linear_svm_gd",
    oracle="""
    WITH o AS (
        SELECT ln(o_totalprice) AS lp,
               CASE WHEN o_orderpriority < '3' THEN 1.0 ELSE -1.0 END AS y
        FROM orders
    ), st AS (
        SELECT avg(lp) AS mu, stddev_pop(lp) AS sd FROM o
    ), base AS (
        SELECT (lp - mu) / sd AS x, y FROM o, st
    ), g1 AS (
        -- iteration 1 from beta=(0,0): every margin is 0 < 1 (all active)
        SELECT 0.5 * avg(y) AS b0, 0.5 * avg(y * x) AS b1 FROM base
    ), g2 AS (
        SELECT b0 * (1 - 0.5 * 0.01)
               + 0.5 * avg(CASE WHEN y * (b0 + b1 * x) < 1
                                THEN y ELSE 0.0 END) AS b0,
               b1 * (1 - 0.5 * 0.01)
               + 0.5 * avg(CASE WHEN y * (b0 + b1 * x) < 1
                                THEN y * x ELSE 0.0 END) AS b1
        FROM base, g1 GROUP BY b0, b1
    ), g3 AS (
        SELECT b0 * (1 - 0.5 * 0.01)
               + 0.5 * avg(CASE WHEN y * (b0 + b1 * x) < 1
                                THEN y ELSE 0.0 END) AS b0,
               b1 * (1 - 0.5 * 0.01)
               + 0.5 * avg(CASE WHEN y * (b0 + b1 * x) < 1
                                THEN y * x ELSE 0.0 END) AS b1
        FROM base, g2 GROUP BY b0, b1
    )
    SELECT round(b0, 6) AS b0, round(b1, 6) AS b1,
           round(avg(CASE WHEN (CASE WHEN b0 + b1 * x >= 0 THEN 1.0
                                     ELSE -1.0 END) = y
                          THEN 1.0 ELSE 0.0 END), 6) AS train_accuracy,
           CAST(count(*) AS BIGINT) AS n
    FROM base, g3 GROUP BY b0, b1
    """,
    doc="Linear SVM by subgradient descent on the hinge loss (MADlib "
    "svm_classification parity; completes the linear-model family "
    "next to logistic regression): labels in {-1,+1}, L2 penalty "
    "lambda=0.01, step 0.5, 3 UNROLLED epochs — each epoch is one "
    "full-data aggregation of the hinge subgradient (rows with "
    "margin >= 1 contribute zero), the 1-row beta broadcasts back. "
    "Deterministic (zero init, fixed step), so the DuckDB oracle "
    "replays the identical arithmetic; same one-scan-per-epoch "
    "shape as ml_logistic_regression at any scale.",
    tags=("pipeline", "ml", "classify"),
)
def ml_linear_svm_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    lam, lr = 0.01, 0.5
    o = load_table(spark, sf_dir, "orders").select(
        F.log("o_totalprice").alias("lp"),
        F.when(F.col("o_orderpriority") < "3", 1.0).otherwise(-1.0).alias("y"),
    )
    st = o.agg(F.avg("lp").alias("mu"), F.stddev_pop("lp").alias("sd"))
    base = o.crossJoin(F.broadcast(st)).select(
        ((F.col("lp") - F.col("mu")) / F.col("sd")).alias("x"), "y"
    )

    def _step(b0, b1):
        margin = F.col("y") * (b0 + b1 * F.col("x"))
        active = margin < 1
        return (
            b0 * (1 - lr * lam)
            + lr * F.avg(F.when(active, F.col("y")).otherwise(0.0)),
            b1 * (1 - lr * lam)
            + lr * F.avg(F.when(active, F.col("y") * F.col("x")).otherwise(0.0)),
        )

    # iteration 1 from beta = (0, 0): every margin is 0 < 1 (all active)
    beta = base.agg(
        (lr * F.avg("y")).alias("b0"),
        (lr * F.avg(F.col("y") * F.col("x"))).alias("b1"),
    )
    for _ in range(2):
        nb0, nb1 = _step(F.col("b0"), F.col("b1"))
        beta = (
            base.crossJoin(F.broadcast(beta))
            .groupBy("b0", "b1")
            .agg(nb0.alias("nb0"), nb1.alias("nb1"))
            .select(F.col("nb0").alias("b0"), F.col("nb1").alias("b1"))
        )
    pred = F.when(F.col("b0") + F.col("b1") * F.col("x") >= 0, 1.0).otherwise(
        -1.0
    )
    return (
        base.crossJoin(F.broadcast(beta))
        .groupBy("b0", "b1")
        .agg(
            F.round(
                F.avg(F.when(pred == F.col("y"), 1.0).otherwise(0.0)), 6
            ).alias("train_accuracy"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.round("b0", 6).alias("b0"),
            F.round("b1", 6).alias("b1"),
            "train_accuracy",
            "n",
        )
    )


#: Feature-hashing geometry: dimensionality of the hashed vector space.
FH_DIM = 16


@register(
    "ml_feature_hashing",
    oracle="""
    WITH words AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
        FROM documents WHERE doc_id < 25 AND length(trim(text)) > 0
    ), hashed AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(w), 18, 15)) AS BIGINT) AS h
        FROM words
    )
    SELECT doc_id,
           CAST(h % 16 AS INT) AS dim,
           CAST(sum(CASE WHEN (h // 16) % 2 = 0 THEN 1 ELSE -1 END)
                AS BIGINT) AS weight
    FROM hashed
    GROUP BY doc_id, h % 16
    HAVING sum(CASE WHEN (h // 16) % 2 = 0 THEN 1 ELSE -1 END) <> 0
    ORDER BY doc_id, dim
    """,
    doc="Feature hashing / the hashing trick (Weinberger et al.; the "
    "vectorizer MADlib and Vowpal Wabbit use to map unbounded "
    "vocabularies into a fixed space with no dictionary): each "
    "word's md5 hash picks a dimension (h mod 16) and a sign (the "
    "next hash bit), signed counts aggregate per (doc, dim) — the "
    "signs make collisions cancel in expectation. Map-only extract "
    "+ one groupBy on the bounded (doc, dim) key; no vocabulary "
    "state anywhere, which is the whole point at 100 TB. Output is "
    "the sparse long-form vector (driver-hashable scalars); the md5 "
    "family keeps it bit-identical cross-engine.",
    tags=("pipeline", "ml", "text"),
)
def ml_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cloudberry_spark.pipeline.hashing import spark_base_hash

    docs = load_table(spark, sf_dir, "documents").where(
        (F.col("doc_id") < 25) & (F.length(F.trim("text")) > 0)
    )
    words = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w")
    )
    hashed = words.select("doc_id", spark_base_hash(F.col("w")).alias("h"))
    # shiftright, not division: h is a 60-bit integer and a double
    # division would lose the low bits that carry the sign.
    sign = F.when(F.shiftright(F.col("h"), 4) % 2 == 0, 1).otherwise(-1)
    return (
        hashed.groupBy("doc_id", (F.col("h") % FH_DIM).cast("int").alias("dim"))
        .agg(F.sum(sign).alias("weight"))
        .where(F.col("weight") != 0)
        .select("doc_id", "dim", F.col("weight").cast("bigint").alias("weight"))
        .orderBy("doc_id", "dim")
    )


@register(
    "graph_degree_assortativity",
    oracle="""
    WITH sp AS (
        SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ), edges AS (
        SELECT DISTINCT a.s AS u, b.s AS v
        FROM sp a JOIN sp b ON a.p = b.p AND a.s < b.s
    ), deg AS (
        SELECT node, count(*) AS d FROM (
            SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
        ) GROUP BY node
    ), both_dirs AS (
        SELECT du.d AS dx, dv.d AS dy
        FROM edges e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
        UNION ALL
        SELECT dv.d, du.d
        FROM edges e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
    )
    SELECT round(corr(dx, dy), 6) AS assortativity,
           CAST(count(*) / 2 AS BIGINT) AS n_edges,
           CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes
    FROM both_dirs
    """,
    doc="Degree assortativity (Newman's r — do hubs attach to hubs?): "
    "Pearson correlation of endpoint degrees over every edge, both "
    "directions so the measure is symmetric. One degree groupBy + "
    "one edge⋈degree join; corr's sufficient statistics are "
    "mergeable partials, so the whole diagnostic is two shuffles at "
    "any graph size. The structural companion to graph_pagerank / "
    "graph_triangle_count on the supplier co-part graph.",
    tags=("graph", "pipeline", "stats"),
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select("v"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    joined = edges.join(du, "u").join(dv, "v")
    both = joined.select(
        F.col("du").alias("dx"), F.col("dv").alias("dy")
    ).unionAll(joined.select(F.col("dv"), F.col("du")))
    ne = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    nn = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    # manual Pearson r: Spark 4 runs ANSI mode, where corr() on a
    # zero-variance input (a regular graph — every degree equal, as at
    # the smallest fixture) raises DIVIDE_BY_ZERO instead of NULL.
    stats = both.agg(
        F.avg("dx").alias("mx"),
        F.avg("dy").alias("my"),
        F.avg(F.col("dx") * F.col("dy")).alias("mxy"),
        F.stddev_pop("dx").alias("sdx"),
        F.stddev_pop("dy").alias("sdy"),
    )
    # Degenerate (regular) graph: every degree equal -> r undefined.
    # Epsilon, not == 0: Spark's running-moment stddev on a large
    # constant column returns ~1e-7 instead of exact zero (observed on
    # the complete sf0.1 co-part graph), while the smallest TRUE
    # nonzero stddev_pop of integer degrees is ~n^-1/2 — 1e-6 cleanly
    # separates the two at any realistic population.
    r = F.when(
        (F.col("sdx") < 1e-6) | (F.col("sdy") < 1e-6), F.lit(None)
    ).otherwise(
        (F.col("mxy") - F.col("mx") * F.col("my"))
        / (F.col("sdx") * F.col("sdy"))
    )
    return (
        stats.select(F.round(r, 6).alias("assortativity"))
        .crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(nn))
        .select(
            "assortativity",
            F.col("n_edges").cast("bigint").alias("n_edges"),
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
        )
    )


def _gmm_oracle() -> str:
    # one EM iteration as a SQL text template over (base, params p)
    estep = """
        SELECT x,
               (w2 * exp(-pow(x - mu2, 2) / (2 * v2)) / sqrt(v2))
               / ((1 - w2) * exp(-pow(x - mu1, 2) / (2 * v1)) / sqrt(v1)
                  + w2 * exp(-pow(x - mu2, 2) / (2 * v2)) / sqrt(v2)) AS r2
        FROM base, {p}
    """
    mstep = """
        SELECT avg(r2) AS w2,
               sum((1 - r2) * x) / sum(1 - r2) AS mu1,
               sum(r2 * x) / sum(r2) AS mu2,
               sum((1 - r2) * x * x) / sum(1 - r2)
                   - pow(sum((1 - r2) * x) / sum(1 - r2), 2) AS v1,
               sum(r2 * x * x) / sum(r2)
                   - pow(sum(r2 * x) / sum(r2), 2) AS v2
        FROM ({e})
    """
    e1 = estep.format(p="p0")
    m1 = mstep.format(e=e1)
    e2 = estep.format(p="p1")
    m2 = mstep.format(e=e2)
    return f"""
    WITH base AS (
        SELECT value AS x FROM events WHERE event_type IN ('view', 'purchase')
    ), st AS (
        SELECT avg(x) AS m, stddev_pop(x) AS s, var_pop(x) AS v FROM base
    ), p0 AS (
        SELECT 0.5 AS w2, m - s AS mu1, m + s AS mu2, v AS v1, v AS v2 FROM st
    ), p1 AS ({m1}), p2 AS ({m2})
    SELECT round(1 - w2, 5) AS weight_1, round(w2, 5) AS weight_2,
           round(mu1, 5) AS mu_1, round(mu2, 5) AS mu_2,
           round(sqrt(v1), 5) AS sigma_1, round(sqrt(v2), 5) AS sigma_2
    FROM p2
    """


@register(
    "ml_gmm_em_1d",
    oracle=_gmm_oracle(),
    doc="Two-component 1-D Gaussian mixture by EM (MADlib gmm "
    "parity; completes the clustering family next to k-means and "
    "the silhouette audit), 2 UNROLLED iterations: deterministic "
    "moment-based init (mean +/- stddev, equal weights), E-step = a "
    "projection computing responsibilities, M-step = one full-data "
    "aggregation of weighted moments — per iteration exactly one "
    "map-side-combined scan, parameters broadcast back as a 1-row "
    "table, nothing driver-side. The same in-database EM loop shape "
    "MADlib runs on the reference.",
    tags=("pipeline", "ml", "clustering"),
)
def ml_gmm_em_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("view", "purchase"))
        .select(F.col("value").alias("x"))
    )
    st = base.agg(
        F.avg("x").alias("m"),
        F.stddev_pop("x").alias("s"),
        F.var_pop("x").alias("v"),
    )
    params = st.select(
        F.lit(0.5).alias("w2"),
        (F.col("m") - F.col("s")).alias("mu1"),
        (F.col("m") + F.col("s")).alias("mu2"),
        F.col("v").alias("v1"),
        F.col("v").alias("v2"),
    )

    def dens(mu, v):
        return F.exp(-F.pow(F.col("x") - mu, 2) / (2 * v)) / F.sqrt(v)

    for _ in range(2):
        j = base.crossJoin(F.broadcast(params))
        n2 = F.col("w2") * dens(F.col("mu2"), F.col("v2"))
        n1 = (1 - F.col("w2")) * dens(F.col("mu1"), F.col("v1"))
        e = j.select("x", (n2 / (n1 + n2)).alias("r2"))
        r1 = 1 - F.col("r2")
        params = e.agg(
            F.avg("r2").alias("w2"),
            (F.sum(r1 * F.col("x")) / F.sum(r1)).alias("mu1"),
            (F.sum(F.col("r2") * F.col("x")) / F.sum("r2")).alias("mu2"),
            (
                F.sum(r1 * F.col("x") * F.col("x")) / F.sum(r1)
                - F.pow(F.sum(r1 * F.col("x")) / F.sum(r1), 2)
            ).alias("v1"),
            (
                F.sum(F.col("r2") * F.col("x") * F.col("x")) / F.sum("r2")
                - F.pow(F.sum(F.col("r2") * F.col("x")) / F.sum("r2"), 2)
            ).alias("v2"),
        )
    return params.select(
        F.round(1 - F.col("w2"), 5).alias("weight_1"),
        F.round("w2", 5).alias("weight_2"),
        F.round("mu1", 5).alias("mu_1"),
        F.round("mu2", 5).alias("mu_2"),
        F.round(F.sqrt("v1"), 5).alias("sigma_1"),
        F.round(F.sqrt("v2"), 5).alias("sigma_2"),
    )


@register(
    "ml_precision_recall_curve",
    oracle="""
    WITH scored AS (
        SELECT o_totalprice AS score,
               CASE WHEN o_orderpriority < '3' THEN 1 ELSE 0 END AS y
        FROM orders
    ), bounds AS (
        SELECT quantile_cont(score, [0.1, 0.2, 0.3, 0.4, 0.5,
                                     0.6, 0.7, 0.8, 0.9]) AS qs
        FROM scored
    ), tot AS (
        SELECT sum(y) AS npos FROM scored
    ), cells AS (
        SELECT 10 - len(list_filter((SELECT qs FROM bounds),
                                    q -> score <= q)) AS decile,
               sum(y) AS pos_d, count(*) AS n_d
        FROM scored GROUP BY 1
    ), cum AS (
        SELECT decile,
               sum(pos_d) OVER (ORDER BY decile) AS tp,
               sum(n_d)  OVER (ORDER BY decile) AS pred_pos
        FROM cells
    )
    SELECT CAST(decile AS INT) AS threshold_decile,
           CAST(tp AS BIGINT) AS true_positives,
           CAST(pred_pos AS BIGINT) AS predicted_positives,
           round(CAST(tp AS DOUBLE) / pred_pos, 6) AS precision_at,
           round(CAST(tp AS DOUBLE) / (SELECT npos FROM tot), 6) AS recall_at
    FROM cum ORDER BY decile
    """,
    doc="Precision-recall curve at decile score thresholds (pairs "
    "with ml_auc_roc and ml_lift_deciles to complete the MADlib "
    "scoring-diagnostics family): cut points are broadcast exact "
    "percentiles (no global sort), per-decile integer counts, "
    "cumulative TP/predicted over the 10-row decile table "
    "(metadata-scale window). Everything derives from integers — "
    "bit-exact cross-engine.",
    tags=("pipeline", "ml", "scoring"),
)
def ml_precision_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("score"),
        F.when(F.col("o_orderpriority") < "3", 1).otherwise(0).alias("y"),
    )
    qs = [i / 10 for i in range(1, 10)]
    bounds = o.agg(
        F.expr(
            f"percentile(score, array({', '.join(str(q) for q in qs)}))"
        ).alias("qs")
    )
    npos = o.agg(F.sum("y").alias("npos"))
    cells = (
        o.crossJoin(F.broadcast(bounds))
        .select(
            "y",
            (
                10 - F.size(F.filter(F.col("qs"), lambda q: F.col("score") <= q))
            ).alias("decile"),
        )
        .groupBy("decile")
        .agg(F.sum("y").alias("pos_d"), F.count(F.lit(1)).alias("n_d"))
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        cells.select(
            "decile",
            F.sum("pos_d").over(w).alias("tp"),
            F.sum("n_d").over(w).alias("pred_pos"),
        )
        .crossJoin(F.broadcast(npos))
        .select(
            F.col("decile").cast("int").alias("threshold_decile"),
            F.col("tp").cast("bigint").alias("true_positives"),
            F.col("pred_pos").cast("bigint").alias("predicted_positives"),
            F.round(F.col("tp").cast("double") / F.col("pred_pos"), 6).alias(
                "precision_at"
            ),
            F.round(F.col("tp").cast("double") / F.col("npos"), 6).alias(
                "recall_at"
            ),
        )
        .orderBy("threshold_decile")
    )


@register(
    "ml_split_stability_audit",
    oracle="""
    WITH halves AS (
        SELECT l_orderkey % 2 AS half,
               regr_slope(l_extendedprice, l_quantity) AS slope,
               regr_intercept(l_extendedprice, l_quantity) AS icept,
               count(*) AS n
        FROM lineitem GROUP BY 1
    ), p AS (
        SELECT max(CASE WHEN half = 0 THEN slope END) AS s0,
               max(CASE WHEN half = 1 THEN slope END) AS s1,
               max(CASE WHEN half = 0 THEN icept END) AS i0,
               max(CASE WHEN half = 1 THEN icept END) AS i1,
               CAST(sum(n) AS BIGINT) AS n_rows
        FROM halves
    )
    SELECT round(s0, 6) AS slope_even, round(s1, 6) AS slope_odd,
           round(abs(s0 - s1) / abs((s0 + s1) / 2), 6)
               AS slope_rel_divergence,
           round(abs(i0 - i1), 4) AS intercept_abs_divergence,
           n_rows
    FROM p
    """,
    doc="Model-stability audit by disjoint-half refit (the "
    "governance check that a fitted relationship isn't an artifact "
    "of one data slice): the regression refits on even/odd key "
    "halves IN THE SAME single grouped pass (regr_* partials per "
    "half), and the readout is the relative coefficient divergence. "
    "Near-zero divergence = stable fit; the cheap in-engine "
    "cousin of cross-validation, one scan at any scale.",
    tags=("pipeline", "ml", "governance"),
)
def ml_split_stability_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    halves = li.groupBy((F.col("l_orderkey") % 2).alias("half")).agg(
        F.expr("regr_slope(l_extendedprice, l_quantity)").alias("slope"),
        F.expr("regr_intercept(l_extendedprice, l_quantity)").alias("icept"),
        F.count(F.lit(1)).alias("n"),
    )
    pick = lambda c, h: F.max(F.when(F.col("half") == h, F.col(c)))  # noqa: E731
    p = halves.agg(
        pick("slope", 0).alias("s0"),
        pick("slope", 1).alias("s1"),
        pick("icept", 0).alias("i0"),
        pick("icept", 1).alias("i1"),
        F.sum("n").cast("bigint").alias("n_rows"),
    )
    return p.select(
        F.round("s0", 6).alias("slope_even"),
        F.round("s1", 6).alias("slope_odd"),
        F.round(
            F.abs(F.col("s0") - F.col("s1"))
            / F.abs((F.col("s0") + F.col("s1")) / 2),
            6,
        ).alias("slope_rel_divergence"),
        F.round(F.abs(F.col("i0") - F.col("i1")), 4).alias(
            "intercept_abs_divergence"
        ),
        "n_rows",
    )


def _text_clf_oracle() -> str:
    from cloudberry_spark.pipeline.hashing import duckdb_base_hash

    h = duckdb_base_hash("w")
    return f"""
    WITH docs AS (
        SELECT doc_id,
               CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS ws
        FROM documents WHERE length(trim(text)) > 0
    ), n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM docs),
    words AS (
        SELECT doc_id, y, len(ws) AS ntok, unnest(ws) AS w FROM docs
    ), hashed AS (
        SELECT doc_id, y, ntok, {h} AS hh FROM words
    ), x AS (
        SELECT doc_id, max(y) AS y, CAST(hh % 16 AS INT) AS dim,
               sum(CASE WHEN (hh // 16) % 2 = 0 THEN 1.0 ELSE -1.0 END)
                   / max(ntok) AS val
        FROM hashed GROUP BY doc_id, hh % 16
    ), w1 AS (
        SELECT dim, -sum((0.5 - y) * val) / (SELECT n FROM n) AS wt
        FROM x GROUP BY dim
    ), s2 AS (
        SELECT x.doc_id, max(x.y) AS y,
               1.0 / (1.0 + exp(-sum(x.val * w1.wt))) AS p
        FROM x JOIN w1 USING (dim) GROUP BY x.doc_id
    ), g2 AS (
        SELECT x.dim, sum((s2.p - s2.y) * x.val) / (SELECT n FROM n) AS g
        FROM x JOIN s2 USING (doc_id) GROUP BY x.dim
    ), w2 AS (
        SELECT w1.dim, w1.wt - coalesce(g2.g, 0) AS wt
        FROM w1 LEFT JOIN g2 USING (dim)
    ), s3 AS (
        SELECT x.doc_id, max(x.y) AS y,
               1.0 / (1.0 + exp(-sum(x.val * w2.wt))) AS p
        FROM x JOIN w2 USING (dim) GROUP BY x.doc_id
    ), acc AS (
        SELECT round(avg(CASE WHEN (p > 0.5) = (y = 1.0)
                              THEN 1.0 ELSE 0.0 END), 6) AS accuracy,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM s3
    )
    SELECT w2.dim, round(w2.wt, 6) AS weight,
           (SELECT accuracy FROM acc) AS train_accuracy,
           (SELECT n_docs FROM acc) AS n_docs
    FROM w2 ORDER BY w2.dim
    """


@register(
    "ml_text_classifier_e2e",
    oracle=_text_clf_oracle(),
    doc="End-to-end text classification where the MODEL IS A TABLE: "
    "hashing-trick features (16 signed dims per doc, token-count "
    "normalized) feed a logistic model whose weight vector lives as "
    "(dim, weight) ROWS — scores come from an x⋈w join + grouped "
    "sum, gradients from an x⋈p join + grouped mean, two unrolled "
    "GD epochs. This is the shape that scales past the broadcast "
    "limit: ml_logistic_regression's 1-row beta caps out at a few "
    "thousand features, while a weight TABLE shards like any other "
    "relation — exactly how MADlib stores glm coefficients "
    "in-database. Deterministic md5 features, zero init; output = "
    "the trained weights + train accuracy.",
    tags=("pipeline", "ml", "text"),
)
def ml_text_classifier_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cloudberry_spark.pipeline.hashing import spark_base_hash

    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.length(F.trim("text")) > 0)
        .select(
            "doc_id",
            F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
            F.split(F.trim(F.lower("text")), r"\s+").alias("ws"),
        )
    )
    n = float(docs.count())
    words = docs.select(
        "doc_id", "y", F.size("ws").alias("ntok"), F.explode("ws").alias("w")
    )
    hashed = words.select(
        "doc_id", "y", "ntok", spark_base_hash(F.col("w")).alias("hh")
    )
    sign = F.when(F.shiftright(F.col("hh"), 4) % 2 == 0, 1.0).otherwise(-1.0)
    # The hashed feature table is re-read by every GD branch (w1, both
    # score passes, the gradient); materialize it once to scratch
    # parquet (same iterative-state pattern as graph_pagerank — file
    # stats keep AQE broadcast planning intact, unlike .persist()).
    x = scratch.materialize(
        hashed.groupBy(
            "doc_id", (F.col("hh") % 16).cast("int").alias("dim")
        ).agg(
            F.max("y").alias("y"),
            (F.sum(sign) / F.max("ntok")).alias("val"),
        ),
        spark, sf_dir, "textclf_features",
    )
    w1 = x.groupBy("dim").agg(
        (-F.sum((0.5 - F.col("y")) * F.col("val")) / n).alias("wt")
    )

    def scores(w):
        return (
            x.join(F.broadcast(w), "dim")
            .groupBy("doc_id")
            .agg(
                F.max("y").alias("y"),
                (
                    1.0
                    / (1.0 + F.exp(-F.sum(F.col("val") * F.col("wt"))))
                ).alias("p"),
            )
        )

    g2 = (
        x.join(scores(w1).select("doc_id", "p", F.col("y").alias("sy")), "doc_id")
        .groupBy("dim")
        .agg((F.sum((F.col("p") - F.col("sy")) * F.col("val")) / n).alias("g"))
    )
    w2 = w1.join(g2, "dim", "left").select(
        "dim", (F.col("wt") - F.coalesce(F.col("g"), F.lit(0.0))).alias("wt")
    )
    # w2 (16 rows) feeds BOTH the accuracy readout (inside a broadcast)
    # and the output projection; un-materialized, the whole two-epoch
    # GD chain over the feature table evaluates twice. A checkpoint:
    # one job, dimension-table-sized state, lineage truncated.
    w2 = scratch.checkpoint(w2)
    acc = scores(w2).agg(
        F.round(
            F.avg(
                F.when((F.col("p") > 0.5) == (F.col("y") == 1.0), 1.0).otherwise(
                    0.0
                )
            ),
            6,
        ).alias("train_accuracy"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return (
        w2.crossJoin(F.broadcast(acc))
        .select(
            "dim",
            F.round("wt", 6).alias("weight"),
            "train_accuracy",
            "n_docs",
        )
        .orderBy("dim")
    )


@register(
    "ml_bot_detection_composite",
    oracle="""
    WITH counts AS (
        SELECT user_id, event_type, count(*) AS c
        FROM events GROUP BY 1, 2
    ), tot AS (
        SELECT user_id, sum(c) AS n, count(*) AS n_types
        FROM counts GROUP BY 1
    ), ent AS (
        SELECT c.user_id,
               round(-sum((CAST(c.c AS DOUBLE) / t.n)
                          * ln(CAST(c.c AS DOUBLE) / t.n)), 6) AS entropy
        FROM counts c JOIN tot t USING (user_id) GROUP BY 1
    ), base AS (
        SELECT user_id, count(*) AS n_events,
               round(CAST(sum(CASE WHEN event_type = 'error'
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*), 6) AS err_rate
        FROM events GROUP BY 1
    )
    SELECT b.user_id, CAST(b.n_events AS BIGINT) AS n_events,
           CAST(t.n_types AS INT) AS n_types, e.entropy, b.err_rate,
           CAST(CAST(t.n_types = 1 AND b.n_events >= 20 AS INT)
                + CAST(e.entropy < 0.5 AND b.n_events >= 20 AS INT)
                + CAST(b.err_rate > 0.5 AS INT) AS INT) AS bot_score
    FROM base b
    JOIN ent e USING (user_id)
    JOIN tot t USING (user_id)
    WHERE b.n_events >= 10
    ORDER BY b.user_id
    """,
    doc="Composite bot/abuse scoring (the access-control readout that "
    "combines this family's diagnostics): per-user event volume, "
    "type diversity, Shannon entropy of the action mix, and error "
    "rate, folded into an integer rule score (single-action volume, "
    "low-entropy repetition, error flooding). One grouped pass per "
    "signal over the same user_id exchange; all thresholds integer/"
    "rounded so the score is bit-stable. Flags feed "
    "dml_cascade_delete's right-to-be-forgotten path operationally.",
    tags=("pipeline", "ml", "governance"),
)
def ml_bot_detection_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = counts.groupBy("user_id").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    ent = (
        counts.join(tot, "user_id")
        .groupBy("user_id")
        .agg(
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy"),
            F.countDistinct("event_type").alias("n_types"),
        )
    )
    base = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("err_rate"),
    )
    j = base.join(ent, "user_id").where(F.col("n_events") >= 10)
    score = (
        ((F.col("n_types") == 1) & (F.col("n_events") >= 20)).cast("int")
        + ((F.col("entropy") < 0.5) & (F.col("n_events") >= 20)).cast("int")
        + (F.col("err_rate") > 0.5).cast("int")
    )
    return j.select(
        "user_id",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("n_types").cast("int").alias("n_types"),
        "entropy",
        "err_rate",
        score.cast("int").alias("bot_score"),
    ).orderBy("user_id")


@register(
    "ml_kaplan_meier",
    oracle="""
    WITH spans AS (
        SELECT user_id,
               CAST(date_diff('day', CAST(min(ts) AS DATE),
                    coalesce(CAST(min(CASE WHEN event_type = 'purchase'
                                           THEN ts END) AS DATE),
                             (SELECT CAST(max(ts) AS DATE) FROM events)))
                    AS BIGINT) AS duration,
               CAST(max(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS INT) AS observed
        FROM events GROUP BY user_id
    ), n_total AS (
        SELECT CAST(count(*) AS DOUBLE) AS n FROM spans
    ), per_t AS (
        SELECT duration AS t,
               sum(observed) AS d,
               count(*) AS leaving
        FROM spans GROUP BY duration
    ), risk AS (
        SELECT t, d,
               (SELECT n FROM n_total)
               - coalesce(sum(leaving) OVER (ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS n_at_risk
        FROM per_t
    )
    SELECT CAST(t AS BIGINT) AS day,
           CAST(d AS BIGINT) AS n_events,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           round(CASE WHEN min(1 - d / n_at_risk)
                          OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) = 0
                      THEN 0.0
                      ELSE exp(sum(ln(nullif(1 - d / n_at_risk, 0)))
                          OVER (ORDER BY t ROWS UNBOUNDED PRECEDING))
                 END, 6) AS survival
    FROM risk
    WHERE d > 0
    ORDER BY t
    """,
    doc="Kaplan-Meier survival estimator (MADlib survival-analysis "
    "parity): time from each user's first event to first purchase, "
    "right-censored at the corpus horizon for never-purchasers. The "
    "corpus collapses to one (user, duration, observed) row per "
    "user, then to the bounded per-day event table; at-risk counts "
    "come from a cumulative window over those ~30 rows "
    "(metadata-scale) and the survival product is exp-sum-log over "
    "the same. The churn/retention-curve machinery, exactly as the "
    "in-database ML layer serves it.",
    tags=("pipeline", "ml", "survival"),
)
def ml_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    horizon = ev.agg(F.max(F.col("ts").cast("date")).alias("hz"))
    spans = (
        ev.groupBy("user_id")
        .agg(
            F.min(F.col("ts").cast("date")).alias("first_d"),
            F.min(
                F.when(
                    F.col("event_type") == "purchase",
                    F.col("ts").cast("date"),
                )
            ).alias("first_purchase"),
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            F.datediff(
                F.coalesce(F.col("first_purchase"), F.col("hz")),
                F.col("first_d"),
            )
            .cast("bigint")
            .alias("duration"),
            F.col("first_purchase").isNotNull().cast("int").alias("observed"),
        )
    )
    n_total = spans.agg(F.count(F.lit(1)).cast("double").alias("n"))
    per_t = spans.groupBy(F.col("duration").alias("t")).agg(
        F.sum("observed").alias("d"), F.count(F.lit(1)).alias("leaving")
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_run = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    risk = per_t.crossJoin(F.broadcast(n_total)).withColumn(
        "n_at_risk",
        F.col("n") - F.coalesce(F.sum("leaving").over(w_prev), F.lit(0)),
    )
    return (
        risk.withColumn(
            "survival",
            # the last event time can absorb everyone at risk (factor 0):
            # S collapses to exactly 0 and ln() must be skipped
            F.when(
                F.min(1 - F.col("d") / F.col("n_at_risk")).over(w_run) == 0,
                F.lit(0.0),
            ).otherwise(
                F.exp(
                    F.sum(
                        F.log(
                            F.nullif(
                                1 - F.col("d") / F.col("n_at_risk"),
                                F.lit(0.0),
                            )
                        )
                    ).over(w_run)
                )
            ),
        )
        .where(F.col("d") > 0)
        .select(
            F.col("t").cast("bigint").alias("day"),
            F.col("d").cast("bigint").alias("n_events"),
            F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
            F.round("survival", 6).alias("survival"),
        )
        .orderBy("day")
    )


@register(
    "ml_ipw_treatment_effect",
    oracle="""
    WITH base AS (
        SELECT o_custkey % 5 AS segment,
               CASE WHEN o_orderpriority < '3' THEN 1 ELSE 0 END AS t,
               o_totalprice AS y
        FROM orders
    ), prop AS (
        SELECT segment,
               CAST(sum(t) AS DOUBLE) / count(*) AS p,
               count(*) AS n_seg
        FROM base GROUP BY segment
    ), w AS (
        SELECT b.t, b.y,
               CASE WHEN b.t = 1 THEN 1.0 / p.p
                    ELSE 1.0 / (1 - p.p) END AS wt
        FROM base b JOIN prop p USING (segment)
    )
    SELECT round(sum(CASE WHEN t = 1 THEN y * wt END)
                 / sum(CASE WHEN t = 1 THEN wt END), 4) AS treated_mean,
           round(sum(CASE WHEN t = 0 THEN y * wt END)
                 / sum(CASE WHEN t = 0 THEN wt END), 4) AS control_mean,
           round(sum(CASE WHEN t = 1 THEN y * wt END)
                 / sum(CASE WHEN t = 1 THEN wt END)
                 - sum(CASE WHEN t = 0 THEN y * wt END)
                 / sum(CASE WHEN t = 0 THEN wt END), 4) AS ate_ipw,
           CAST(count(*) AS BIGINT) AS n
    FROM w
    """,
    doc="Causal effect estimation by stratified inverse-propensity "
    "weighting (the observational-data workhorse; MADlib serves the "
    "same need in-database): treatment = high order priority, "
    "strata = customer segments, propensity per stratum from EXACT "
    "integer counts (no fitted model — the Horvitz-Thompson "
    "stratified form), and the normalized IPW means give the "
    "average treatment effect. Two grouped passes over one "
    "exchange; the propensity table broadcasts. The causal "
    "companion to the A/B machinery (ml_t_test_welch reads "
    "randomized experiments; this reads observational logs).",
    tags=("pipeline", "ml", "causal"),
)
def ml_ipw_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    base = od.select(
        (F.col("o_custkey") % 5).alias("segment"),
        F.when(F.col("o_orderpriority") < "3", 1).otherwise(0).alias("t"),
        F.col("o_totalprice").alias("y"),
    )
    prop = base.groupBy("segment").agg(
        (F.sum("t").cast("double") / F.count(F.lit(1))).alias("p")
    )
    w = base.join(F.broadcast(prop), "segment").select(
        "t",
        "y",
        F.when(F.col("t") == 1, 1.0 / F.col("p"))
        .otherwise(1.0 / (1 - F.col("p")))
        .alias("wt"),
    )
    tm = F.sum(F.when(F.col("t") == 1, F.col("y") * F.col("wt"))) / F.sum(
        F.when(F.col("t") == 1, F.col("wt"))
    )
    cm = F.sum(F.when(F.col("t") == 0, F.col("y") * F.col("wt"))) / F.sum(
        F.when(F.col("t") == 0, F.col("wt"))
    )
    return w.agg(
        F.round(tm, 4).alias("treated_mean"),
        F.round(cm, 4).alias("control_mean"),
        F.round(tm - cm, 4).alias("ate_ipw"),
        F.count(F.lit(1)).alias("n"),
    )


def _stump_fit(samples: DataFrame, feat: str, target: str):
    """Best-SSE regression stump over a BOUNDED integer feature.

    groupBy(feature) collapses the corpus to one row per distinct
    feature value (the only pass over data); the threshold sweep is a
    cumulative-sum window over that bounded table — metadata-scale,
    same shape as ml_decision_stump's Gini sweep. Returns a 1-row
    DataFrame (threshold, left_mean, right_mean) for broadcast.

    Exactness: the target must be integer-valued (sums are then
    order-independent), so left/right means and the split score are
    bit-identical across engines; the score is rounded to 6 before the
    argmax with a threshold tie-break, making the chosen split
    cross-engine stable even at boundaries.
    """
    per = samples.groupBy(F.col(feat).alias("t")).agg(
        F.sum(target).alias("s"),
        F.count(F.lit(1)).alias("c"),
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    tot = per.agg(
        F.sum("s").alias("ts"), F.sum("c").alias("tc")
    )
    cand = (
        per.select(
            "t",
            F.sum("s").over(w).alias("ls"),
            F.sum("c").over(w).alias("lc"),
        )
        .crossJoin(F.broadcast(tot))
        .where((F.col("lc") > 0) & (F.col("tc") > F.col("lc")))
        .select(
            "t",
            (F.col("ls") / F.col("lc")).alias("left_mean"),
            ((F.col("ts") - F.col("ls")) / (F.col("tc") - F.col("lc"))).alias(
                "right_mean"
            ),
            F.round(
                F.col("ls") * F.col("ls") / F.col("lc")
                + (F.col("ts") - F.col("ls"))
                * (F.col("ts") - F.col("ls"))
                / (F.col("tc") - F.col("lc")),
                6,
            ).alias("score"),
        )
    )
    return cand.orderBy(F.desc("score"), "t").limit(1).select(
        F.col("t").alias("thr"), "left_mean", "right_mean"
    )


@register(
    "ml_gbdt_stumps",
    oracle="""
    WITH s AS (
        SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS f1,
               CAST(round(l_discount * 100) AS BIGINT) AS f2,
               CAST(round(l_quantity) AS BIGINT) AS y
        FROM lineitem WHERE l_orderkey <= 4000
    ), per1 AS (
        SELECT f1 AS t, CAST(sum(y) AS BIGINT) AS sy, count(*) AS c
        FROM s GROUP BY f1
    ), cum1 AS (
        SELECT t,
               CAST(sum(sy) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS ls,
               CAST(sum(c) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS lc,
               CAST((SELECT sum(sy) FROM per1) AS BIGINT) AS ts,
               CAST((SELECT sum(c) FROM per1) AS BIGINT) AS tc
        FROM per1
    ), best1 AS (
        SELECT t AS thr1,
               CAST(ls AS DOUBLE) / lc AS lm1,
               CAST(ts - ls AS DOUBLE) / (tc - lc) AS rm1
        FROM cum1 WHERE lc > 0 AND tc > lc
        ORDER BY round(CAST(ls AS DOUBLE) * ls / lc
                       + CAST(ts - ls AS DOUBLE) * (ts - ls) / (tc - lc),
                       6) DESC, t
        LIMIT 1
    ), r AS (
        SELECT s.f2,
               s.y - CASE WHEN s.f1 <= b.thr1 THEN b.lm1 ELSE b.rm1 END
                   AS resid
        FROM s, best1 b
    ), per2 AS (
        SELECT f2 AS t,
               (CAST(sum(CAST(round(resid * 1000000) AS BIGINT))
                     AS DOUBLE) / 1000000.0) AS sy,
               count(*) AS c
        FROM (SELECT f2, round(resid, 6) AS resid FROM r) GROUP BY f2
    ), cum2 AS (
        SELECT t,
               sum(sy) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS ls,
               CAST(sum(c) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS lc,
               (SELECT sum(sy) FROM per2) AS ts,
               CAST((SELECT sum(c) FROM per2) AS BIGINT) AS tc
        FROM per2
    ), best2 AS (
        SELECT t AS thr2, ls / lc AS lm2, (ts - ls) / (tc - lc) AS rm2
        FROM cum2 WHERE lc > 0 AND tc > lc
        ORDER BY round(ls * ls / lc + (ts - ls) * (ts - ls) / (tc - lc),
                       6) DESC, t
        LIMIT 1
    ), scored AS (
        SELECT s.y,
               CASE WHEN s.f1 <= b1.thr1 THEN b1.lm1 ELSE b1.rm1 END AS p1,
               CASE WHEN s.f1 <= b1.thr1 THEN b1.lm1 ELSE b1.rm1 END
               + CASE WHEN s.f2 <= b2.thr2 THEN b2.lm2 ELSE b2.rm2 END AS p2
        FROM s, best1 b1, best2 b2
    )
    SELECT (SELECT thr1 FROM best1) AS thr1,
           (SELECT thr2 FROM best2) AS thr2,
           round((SELECT lm1 FROM best1), 6) AS left_mean1,
           round((SELECT rm1 FROM best1), 6) AS right_mean1,
           count(*) AS n_samples,
           (CAST(sum(CAST(round(pow(y - p1, 2) * 1000000) AS BIGINT))
                 AS DOUBLE) / 1000000.0) / count(*) AS mse_round1,
           (CAST(sum(CAST(round(pow(y - p2, 2) * 1000000) AS BIGINT))
                 AS DOUBLE) / 1000000.0) / count(*) AS mse_round2
    FROM scored
    """,
    doc="Gradient-boosted regression stumps, 2 rounds (MADlib "
    "tree/boosting family; Friedman '01 with squared loss, where the "
    "gradient IS the residual): round 1 fits the best-SSE stump on a "
    "bounded price-bucket feature, round 2 fits a stump on the "
    "RESIDUALS over the discount feature, additive ensemble scored at "
    "the end. Each round is one groupBy over data + a metadata-scale "
    "threshold sweep + a broadcast of the 1-row model — the boosting "
    "loop adds one scan per round at any data size, exactly how "
    "ml_logistic_regression scales its epochs. Integer targets and "
    "fixed-point residual sums keep every statistic bit-identical "
    "cross-engine; split scores round to 6 with threshold tie-breaks "
    "so the argmax cannot flake.",
    tags=("pipeline", "ml", "boosting"),
)
def ml_gbdt_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") <= 4000)
    s = li.select(
        F.floor(F.col("l_extendedprice") / 5000).cast("bigint").alias("f1"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("f2"),
        F.round("l_quantity").cast("bigint").alias("y"),
    )
    best1 = _stump_fit(s, "f1", "y")
    b1 = F.broadcast(best1.select(
        F.col("thr").alias("thr1"),
        F.col("left_mean").alias("lm1"),
        F.col("right_mean").alias("rm1"),
    ))
    p1 = F.when(F.col("f1") <= F.col("thr1"), F.col("lm1")).otherwise(
        F.col("rm1")
    )
    r = s.crossJoin(b1).select(
        "f1", "f2", "y", "thr1", "lm1", "rm1",
        F.round(F.col("y") - p1, 6).alias("resid"),
    )

    # stump 2 over fixed-point residual sums (order-independent)
    per2 = r.groupBy(F.col("f2").alias("t")).agg(
        (
            F.sum(F.round(F.col("resid") * 1_000_000).cast("bigint"))
            .cast("double")
            / 1_000_000.0
        ).alias("s"),
        F.count(F.lit(1)).alias("c"),
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    tot2 = per2.agg(F.sum("s").alias("ts"), F.sum("c").alias("tc"))
    cand2 = (
        per2.select(
            "t",
            F.sum("s").over(w).alias("ls"),
            F.sum("c").over(w).alias("lc"),
        )
        .crossJoin(F.broadcast(tot2))
        .where((F.col("lc") > 0) & (F.col("tc") > F.col("lc")))
        .select(
            "t",
            (F.col("ls") / F.col("lc")).alias("lm2"),
            ((F.col("ts") - F.col("ls")) / (F.col("tc") - F.col("lc"))).alias(
                "rm2"
            ),
            F.round(
                F.col("ls") * F.col("ls") / F.col("lc")
                + (F.col("ts") - F.col("ls"))
                * (F.col("ts") - F.col("ls"))
                / (F.col("tc") - F.col("lc")),
                6,
            ).alias("score"),
        )
    )
    b2 = F.broadcast(
        cand2.orderBy(F.desc("score"), "t")
        .limit(1)
        .select(F.col("t").alias("thr2"), "lm2", "rm2")
    )

    scored = r.crossJoin(b2).select(
        "y", "thr1", "lm1", "rm1", "thr2", "lm2", "rm2",
        p1.alias("p1"),
        (
            p1
            + F.when(F.col("f2") <= F.col("thr2"), F.col("lm2")).otherwise(
                F.col("rm2")
            )
        ).alias("p2"),
    )
    sse = lambda p: (  # noqa: E731 — exact fixed-point SSE
        F.sum(
            F.round(F.pow(F.col("y") - p, 2) * 1_000_000).cast("bigint")
        ).cast("double")
        / 1_000_000.0
    )
    return scored.agg(
        F.max("thr1").alias("thr1"),
        F.max("thr2").alias("thr2"),
        F.round(F.max("lm1"), 6).alias("left_mean1"),
        F.round(F.max("rm1"), 6).alias("right_mean1"),
        F.count(F.lit(1)).alias("n_samples"),
        (sse(F.col("p1")) / F.count(F.lit(1))).alias("mse_round1"),
        (sse(F.col("p2")) / F.count(F.lit(1))).alias("mse_round2"),
    )
