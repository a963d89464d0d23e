"""The flagship composition: a full training-data curation pipeline as
ONE declarative DataFrame graph, end-to-end oracle-checked.

    documents
      → quality filter (Gopher/C4-style rules, pipeline.text)
      → exact dedup (canonical-hash keeper, pipeline.dedup)
      → near-dup removal (MinHash-LSH candidate pairs; drop the higher
        doc_id of each pair — deterministic survivor policy)
      → corpus stats per source (docs, tokens, chars)

Because every stage is deterministic and cross-engine-hashable, the
WHOLE pipeline has a DuckDB oracle — the composed analog of the
reference's end-to-end pg_regress queries, over operators the reference
doesn't have.

Scale notes: stages fuse where Spark can fuse them — quality filter and
exact-dedup hashing are map-side over the scan; the first shuffle is the
canonical-hash groupBy, the second the LSH band self-join; the drop set
is DISTINCT id_b (small) and broadcast-anti-joined. Nothing in the
pipeline is quadratic and nothing leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudberry_spark import scratch
from cloudberry_spark.catalog import load_table
from cloudberry_spark.pipeline.dedup import (
    N_BANDS,
    N_HASHES,
    lsh_candidate_pairs,
    lsh_pairs_sql,
    words_col,
)
from cloudberry_spark.pipeline.hashing import duckdb_perm, duckdb_shingle_hashes
from cloudberry_spark.pipeline.text import token_count, tokens
from cloudberry_spark.registry import register


def _quality_pass(text: F.Column, n_chars: F.Column) -> F.Column:
    """Same rule set as text_quality_score.passes_quality."""
    toks = tokens(text)
    n_tokens = F.size(toks)
    punct_ratio = F.length(F.regexp_replace(text, r"[a-zA-Z0-9\s]", "")) / n_chars
    uniq_ratio = F.size(F.array_distinct(toks)) / n_tokens
    return (
        n_tokens.between(20, 1000) & (punct_ratio < 0.1) & (uniq_ratio > 0.2)
    )


def curate(
    docs: DataFrame,
    spark: SparkSession | None = None,
    sf_dir: str | None = None,
) -> DataFrame:
    """documents → curated survivors (all stages, no collect)."""
    # NO scan fan-out here (measured, r12 opt): curate branches the
    # corpus five ways (quality filter -> keepers agg, join sides, LSH
    # chain, final anti-join). A spread() repartition below the
    # branches makes each branch FETCH the full text payload from
    # shuffle output; five direct columnar parquet scans are faster
    # (steady 4.8s vs 10.5s with the fan-out at sf0.1/32 cores). The
    # CPU-heavy minhash path inside lsh_candidate_pairs fans out its
    # own narrow projection via the dedup entry points.
    q = docs.filter(_quality_pass(F.col("text"), F.col("n_chars")))
    canon = F.md5(F.concat_ws(" ", words_col(F.col("text"))))
    keepers = (
        q.select(canon.alias("__canon"), "doc_id")
        .groupBy("__canon")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    s1 = q.join(keepers, "doc_id")
    if spark is not None and sf_dir is not None:
        # Materialize the exact-dedup survivors ONCE to scratch parquet
        # (r13 opt, guide §3.3/§6): downstream, s1 feeds the LSH chain
        # (whose star/pair branches re-derive their input lineage), the
        # final anti-join AND the consumer's closing aggregation —
        # without this every branch re-evaluates the quality-filter
        # regexes and the keepers groupBy over the full text payload
        # (~5 logical corpus passes; AQE's ReusedExchange dedups only
        # the band exchange above it). One pass computes the survivors;
        # every branch then reads a columnar file relation with real
        # size stats. Rebuilt inside fn() on every call (mode=overwrite
        # in scratch.materialize) — never reused across runs.
        s1 = scratch.materialize(s1, spark, sf_dir, "curate_survivors")
    drops = (
        lsh_candidate_pairs(s1, "doc_id", "text")
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    return s1.join(F.broadcast(drops), "doc_id", "left_anti")


def _oracle() -> str:
    rows_per_band = N_HASHES // N_BANDS
    mh = ", ".join(f"min({duckdb_perm('h', i)}) AS mh{i}" for i in range(N_HASHES))
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_idx, md5(concat_ws(':', {cols})) AS band_hash FROM sig".format(
            b=b,
            cols=", ".join(
                f"CAST(mh{b * rows_per_band + r} AS VARCHAR)"
                for r in range(rows_per_band)
            ),
        )
        for b in range(N_BANDS)
    )
    toks = "regexp_split_to_array(trim(lower(text)), '\\s+')"
    return f"""
    WITH q AS (
      SELECT * FROM documents
      WHERE length({toks}) BETWEEN 20 AND 1000
        AND CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
              / n_chars < 0.1
        AND CAST(length(list_distinct({toks})) AS DOUBLE) / length({toks}) > 0.2
    ),
    keepers AS (
      SELECT min(doc_id) AS doc_id
      FROM q GROUP BY md5(array_to_string({toks}, ' '))
    ),
    s1 AS (SELECT q.* FROM q JOIN keepers USING (doc_id)),
    sh AS (
      SELECT DISTINCT doc_id, unnest({duckdb_shingle_hashes('text')}) AS h
      FROM s1
    ),
    sig AS (SELECT doc_id, {mh} FROM sh GROUP BY doc_id),
    bands AS ({band_rows}),
    drops AS (
      SELECT DISTINCT id_b AS doc_id FROM ({lsh_pairs_sql()})
    ),
    final AS (
      SELECT * FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM drops)
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(length({toks})) AS BIGINT) AS total_tokens,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(doc_id) AS first_doc
    FROM final GROUP BY source
    """


@register(
    "pipeline_end_to_end",
    oracle=_oracle(),
    doc="Full curation pipeline (quality filter → exact dedup → "
    "MinHash-LSH near-dup removal → per-source corpus stats) as one "
    "DataFrame graph with a single end-to-end DuckDB oracle.",
    tags=("pipeline", "dedup", "text", "bench"),
)
def pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    final = curate(docs, spark, sf_dir)
    return final.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("first_doc"),
    )


def _oracle_v2() -> str:
    """curate chain → seeded-PII redaction → token-budget shard packing."""
    base = _oracle().split("SELECT source,")[0]  # reuse through `final`
    from cloudberry_spark.pipeline.text import (
        EMAIL_RE,
        PHONE_RE,
        SHARD_TOKEN_BUDGET,
    )

    return f"""{base.rstrip()},
    redacted AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(
                 text || CASE WHEN doc_id % 7 = 0
                              THEN ' contact u' || doc_id || '@example.com'
                              ELSE '' END,
                 '{EMAIL_RE}', '<EMAIL>', 'g'),
                 '{PHONE_RE}', '<PHONE>', 'g') AS t
      FROM final
    ),
    counted AS (
      SELECT doc_id,
             CASE WHEN length(trim(t)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(lower(t)), '\\s+')) END AS tok,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 18, 15))
                  AS BIGINT) AS hsh
      FROM redacted
    ),
    cum AS (
      SELECT doc_id, tok,
             sum(tok) OVER (ORDER BY hsh, doc_id ROWS UNBOUNDED PRECEDING) AS c
      FROM counted
    )
    SELECT CAST(floor(CAST(c - tok AS DOUBLE) / {SHARD_TOKEN_BUDGET}) AS BIGINT)
             AS shard_id,
           count(*) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS tokens
    FROM cum GROUP BY shard_id ORDER BY shard_id
    """


@register(
    "pipeline_curate_to_shards",
    oracle=_oracle_v2(),
    doc="Curation v2, corpus → training shards in ONE DataFrame graph: "
    "quality filter → exact dedup → LSH near-dup removal (curate()) → "
    "PII redaction (seeded emails, regexp masked) → token-budget shard "
    "packing via the distributed prefix sum of text_token_shards — the "
    "complete path from raw corpus to fixed-size pretraining shards, "
    "with a single composed DuckDB oracle across all six stages.",
    tags=("pipeline", "dedup", "text", "pii", "sharding"),
)
def pipeline_curate_to_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from cloudberry_spark.pipeline.hashing import spark_base_hash
    from cloudberry_spark.pipeline.text import (
        SHARD_TOKEN_BUDGET,
        redact,
        token_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    final = curate(docs, spark, sf_dir)
    seeded = final.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact u"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
        ).alias("raw"),
    )
    red = seeded.select("doc_id", redact(F.col("raw")).alias("t"))
    t = red.select(
        "doc_id",
        token_count(F.col("t")).alias("tok"),
        spark_base_hash(F.col("doc_id").cast("string")).alias("h"),
    )
    # deterministic bucketed scan — the spark_partition_id form this
    # once inlined is re-evaluation-unsafe (see _distributed_prefix_sum)
    from cloudberry_spark.pipeline.text import _distributed_prefix_sum

    cum = _distributed_prefix_sum(t, val="tok", keys=("h", "doc_id"))
    return (
        cum.withColumn(
            "shard_id",
            F.floor(
                (F.col("cum") - F.col("tok")).cast("double") / SHARD_TOKEN_BUDGET
            ),
        )
        .groupBy("shard_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("tok").alias("tokens"))
        .orderBy("shard_id")
    )


def _seq_oracle() -> str:
    toks = "regexp_split_to_array(trim(lower(text)), '\\s+')"
    base = _oracle().rsplit("SELECT source,", 1)[0]  # reuse CTE chain to `final`
    return f"""{base},
    t AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE length({toks}) END AS tok,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 18, 15))
                  AS BIGINT) AS h
      FROM final
    ),
    c AS (
      SELECT doc_id, tok,
             sum(tok) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING)
                 AS cum
      FROM t
    )
    SELECT count(*) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS total_tokens,
           CAST((max(cum) + 511) // 512 AS BIGINT) AS n_sequences,
           CAST(sum(CASE WHEN tok = 0 THEN 0
                         ELSE ((cum - 1) // 512) - ((cum - tok) // 512)
                    END) AS BIGINT) AS n_boundary_splits
    FROM c
    """


@register(
    "pipeline_curate_to_sequences",
    oracle=_seq_oracle(),
    doc="Curation v3: the full curate() graph (quality filter -> exact "
    "dedup -> LSH near-dup removal) feeding GPT-style 512-token "
    "sequence packing (text_sequence_pack's concat-and-chunk over the "
    "SURVIVORS), summarized as corpus -> training-sequence accounting "
    "(docs, tokens, sequences, boundary splits). One DataFrame graph "
    "end to end, every stage deterministic and cross-engine-hashed, so "
    "the five-stage composition still has a single DuckDB oracle. The "
    "packing rides the partial/final distributed prefix sum — no "
    "single-partition window even after three upstream shuffles.",
    tags=("pipeline", "composed", "sharding"),
)
def pipeline_curate_to_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cloudberry_spark.pipeline.hashing import spark_base_hash
    from cloudberry_spark.pipeline.text import _distributed_prefix_sum

    docs = load_table(spark, sf_dir, "documents")
    survivors = curate(docs, spark, sf_dir)
    t = survivors.select(
        "doc_id",
        token_count(F.col("text")).alias("tok"),
        spark_base_hash(F.col("doc_id").cast("string")).alias("h"),
    )
    cum = _distributed_prefix_sum(t, val="tok", keys=("h", "doc_id"))
    L = 512
    return cum.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok").alias("total_tokens"),
        F.expr(f"(max(cum) + {L - 1}) div {L}").alias("n_sequences"),
        F.sum(
            F.when(F.col("tok") == 0, F.lit(0)).otherwise(
                F.expr(f"(cum - 1) div {L}") - F.expr(f"(cum - tok) div {L}")
            )
        ).alias("n_boundary_splits"),
    )


@register(
    "pipeline_dataset_card",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang, source,
               length(regexp_split_to_array(trim(lower(text)), '\\s+'))
                   AS n_tokens,
               length(text) AS n_chars,
               md5(trim(lower(text))) AS fp
        FROM documents WHERE length(trim(text)) > 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT fp) AS BIGINT) AS n_unique_docs,
           round(1.0 - CAST(count(DISTINCT fp) AS DOUBLE) / count(*), 6)
               AS dup_rate,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_languages,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           round(avg(n_tokens), 4) AS mean_tokens_per_doc,
           round(avg(CAST(n_chars AS DOUBLE) / n_tokens), 6)
               AS mean_chars_per_token,
           CAST(sum(CASE WHEN n_tokens BETWEEN 20 AND 1000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_in_length_band
    FROM t
    """,
    doc="Dataset card in one pass (the summary block every released "
    "training corpus ships — HuggingFace dataset-card statistics): "
    "doc/unique-doc counts and exact-dup rate (md5 fingerprints), "
    "token totals, language/source cardinalities, length profile, "
    "quality-band membership. ONE aggregation over the corpus (the "
    "fingerprint distinct-count is the only stateful piece — "
    "hash-grouped, the same shape as dedup_exact). The capstone "
    "readout over the curation family.",
    tags=("pipeline", "composed", "audit"),
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cloudberry_spark.pipeline.text import token_count

    docs = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim("text")) > 0
    )
    t = docs.select(
        "lang",
        "source",
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.md5(F.trim(F.lower("text"))).alias("fp"),
    )
    return t.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fp").alias("n_unique_docs"),
        F.round(
            1.0 - F.countDistinct("fp").cast("double") / F.count(F.lit(1)), 6
        ).alias("dup_rate"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.countDistinct("lang").alias("n_languages"),
        F.countDistinct("source").alias("n_sources"),
        F.round(F.avg("n_tokens"), 4).alias("mean_tokens_per_doc"),
        F.round(
            F.avg(F.col("n_chars").cast("double") / F.col("n_tokens")), 6
        ).alias("mean_chars_per_token"),
        F.sum(
            F.when(F.col("n_tokens").between(20, 1000), 1).otherwise(0)
        ).cast("bigint").alias("n_in_length_band"),
    )
