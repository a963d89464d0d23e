"""Text-analysis operators over ``documents`` (language ID, quality
scoring, token counting, fingerprinting).

Reference parity: the closest native surface is full-text search
(/root/reference/src/backend/utils/adt/tsvector_op.c to_tsvector + ts_rank)
— re-expressed here as tokenize→array ops, then extended with the
LLM-pipeline scoring heuristics from the build brief. Everything is
built-in Catalyst expressions (split/filter/size/regexp) — zero Python
in the row path, so throughput is codegen-bound.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudberry_spark import scratch
from cloudberry_spark.catalog import load_table
from cloudberry_spark.registry import register

#: Tiny per-language stopword lists (public, standard function words).
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "ein", "zu", "den"),
    "es": ("el", "la", "de", "y", "es", "en", "un", "una", "que", "los"),
    "fr": ("le", "la", "de", "et", "est", "en", "un", "une", "que", "les"),
}


def tokens(text: Column) -> Column:
    return F.split(F.trim(F.lower(text)), r"\s+")


def token_count(text: Column) -> Column:
    """Whitespace token count; 0 for empty/blank text."""
    return (
        F.when(F.length(F.trim(text)) == 0, F.lit(0))
        .otherwise(F.size(tokens(text)))
        .cast("bigint")  # DuckDB len() is int64; keep dtypes identical
    )


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: splits on whitespace AND punctuation /
    digit boundaries (a cheap proxy for BPE token counts when budgeting
    context windows)."""
    pieces = F.split(
        F.trim(F.lower(text)), r"(\s+|(?<=[a-z])(?=[0-9])|(?<=[0-9])(?=[a-z])|(?=[^\w\s])|(?<=[^\w\s]))"
    )
    return F.size(F.filter(pieces, lambda p: F.length(p) > 0))


@register(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           length(regexp_split_to_array(trim(lower(text)), '\\s+'))
             AS n_tokens,
           length(text) AS n_chars,
           CAST(length(text) AS DOUBLE)
             / length(regexp_split_to_array(trim(lower(text)), '\\s+'))
             AS chars_per_token,
           length(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')))
             AS n_unique_tokens
    FROM documents
    ORDER BY doc_id
    """,
    doc="Token counting (whitespace tokenizer): counts, char ratio, "
    "vocabulary size per doc.",
    tags=("pipeline", "text"),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(t).cast("bigint").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
        (F.length("text") / F.size(t)).alias("chars_per_token"),
        F.size(F.array_distinct(t)).cast("bigint").alias("n_unique_tokens"),
    ).orderBy("doc_id")


@register(
    "text_quality_score",
    oracle="""
    WITH t AS (
      SELECT doc_id, n_chars,
             regexp_split_to_array(trim(lower(text)), '\\s+') AS toks,
             length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS n_punct
      FROM documents)
    SELECT doc_id,
           length(toks) AS n_tokens,
           CAST(n_punct AS DOUBLE) / n_chars AS punct_ratio,
           CAST(length(list_distinct(toks)) AS DOUBLE) / length(toks)
             AS uniq_ratio,
           CAST(n_chars AS DOUBLE) / length(toks) AS mean_token_len,
           CAST(length(toks) BETWEEN 20 AND 1000 AS INT)
             * CAST(CAST(n_punct AS DOUBLE) / n_chars < 0.1 AS INT)
             * CAST(CAST(length(list_distinct(toks)) AS DOUBLE) / length(toks) > 0.2 AS INT)
             AS passes_quality
    FROM t
    ORDER BY doc_id
    """,
    doc="Quality scoring: length band, punctuation ratio, lexical "
    "diversity — the Gopher/C4-style rule filters, as one projection.",
    tags=("pipeline", "text"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no scan fan-out (measured, r12 opt): the per-row scoring here is
    # cheap regex/size arithmetic feeding one projection+agg — the
    # added exchange shuffles the text payload and costs more than the
    # single-task scan saves at fixture scale
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks)
    n_punct = F.length(F.regexp_replace(F.col("text"), r"[a-zA-Z0-9\s]", ""))
    punct_ratio = n_punct / F.col("n_chars")
    uniq_ratio = F.size(F.array_distinct(toks)) / n_tokens
    mean_token_len = F.col("n_chars") / n_tokens
    passes = (
        n_tokens.between(20, 1000).cast("int")
        * (punct_ratio < 0.1).cast("int")
        * (uniq_ratio > 0.2).cast("int")
    )
    return docs.select(
        "doc_id",
        n_tokens.cast("bigint").alias("n_tokens"),
        punct_ratio.alias("punct_ratio"),
        uniq_ratio.alias("uniq_ratio"),
        mean_token_len.alias("mean_token_len"),
        passes.alias("passes_quality"),
    ).orderBy("doc_id")


def _lang_score_spark(lang: str) -> Column:
    stops = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    t = tokens(F.col("text"))
    return (F.size(F.filter(t, lambda w: F.array_contains(stops, w))) / F.size(t)).alias(
        f"score_{lang}"
    )


def _lang_score_duck(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        "CAST(length(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), "
        f"w -> list_contains([{lst}], w))) AS DOUBLE) / "
        "length(regexp_split_to_array(trim(lower(text)), '\\s+')) "
        f"AS score_{lang}"
    )


@register(
    "text_language_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang AS labeled_lang,
             {_lang_score_duck('en')},
             {_lang_score_duck('de')},
             {_lang_score_duck('es')},
             {_lang_score_duck('fr')},
             CAST(regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]') AS INT) AS has_cjk
      FROM documents)
    SELECT doc_id, labeled_lang,
           CASE WHEN has_cjk = 1 THEN 'zh'
                WHEN greatest(score_en, score_de, score_es, score_fr) = 0 THEN 'und'
                WHEN score_en >= greatest(score_de, score_es, score_fr) THEN 'en'
                WHEN score_de >= greatest(score_es, score_fr) THEN 'de'
                WHEN score_es >= score_fr THEN 'es'
                ELSE 'fr' END AS detected_lang
    FROM scored
    ORDER BY doc_id
    """,
    doc="Language ID heuristic: per-language stopword hit-rate + CJK "
    "codepoint detection, argmax with deterministic tie-break. (The "
    "fixture text is synthetic vocabulary, so 'und' dominates — the "
    "operator's determinism, not its accuracy, is what's oracle-checked.)",
    tags=("pipeline", "text"),
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        _lang_score_spark("en"),
        _lang_score_spark("de"),
        _lang_score_spark("es"),
        _lang_score_spark("fr"),
        F.when(F.col("text").rlike("[一-鿿]"), 1).otherwise(0).alias("has_cjk"),
    )
    best = F.greatest("score_en", "score_de", "score_es", "score_fr")
    detected = (
        F.when(F.col("has_cjk") == 1, "zh")
        .when(best == 0, "und")
        .when(F.col("score_en") >= F.greatest("score_de", "score_es", "score_fr"), "en")
        .when(F.col("score_de") >= F.greatest("score_es", "score_fr"), "de")
        .when(F.col("score_es") >= F.col("score_fr"), "es")
        .otherwise("fr")
    )
    return scored.select(
        "doc_id", "labeled_lang", detected.alias("detected_lang")
    ).orderBy("doc_id")


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(
             list_sort(list_distinct(
               regexp_split_to_array(trim(lower(text)), '\\s+'))), ' '))
             AS bag_fingerprint,
           CAST(concat('0x', substr(md5(array_to_string(
             list_sort(list_distinct(
               regexp_split_to_array(trim(lower(text)), '\\s+'))), ' ')), 18, 15))
             AS BIGINT) AS fingerprint_int
    FROM documents
    ORDER BY doc_id
    """,
    doc="Document fingerprinting: canonical bag-of-words hash (order-"
    "insensitive content identity — catches shuffled/duplicated docs "
    "that exact hashing misses). Companion to MinHash for joins that "
    "need a single 64-bit key.",
    tags=("pipeline", "text"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    canon = F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(F.col("text")))))
    )
    return docs.select(
        "doc_id",
        canon.alias("bag_fingerprint"),
        F.conv(F.substring(canon, 18, 15), 16, 10).cast("bigint").alias("fingerprint_int"),
    ).orderBy("doc_id")


#: DuckDB reconstruction of the lookaround splits: Java lookarounds
#: ((?<=[a-z])(?=[0-9]) etc.) have no RE2 form, but inserting a space
#: at each boundary — letter→digit, digit→letter, and around every
#: non-word/non-space char — yields the identical token multiset, so
#: the COUNT is expressible as a whitespace split of the transformed
#: text. Java's \\w is ASCII ([a-z0-9_] after lower()), matching the
#: classes spelled here.
_BPEISH_ORACLE = r"""
SELECT doc_id,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE length(regexp_split_to_array(trim(lower(text)), '\s+'))
       END AS n_ws_tokens,
       CAST(len(list_filter(
         regexp_split_to_array(
           regexp_replace(regexp_replace(regexp_replace(
             lower(trim(text)),
             '([a-z])([0-9])', '\1 \2', 'g'),
             '([0-9])([a-z])', '\1 \2', 'g'),
             '([^a-z0-9_\s])', ' \1 ', 'g'),
           '\s+'),
         p -> length(p) > 0)) AS BIGINT) AS n_bpeish_tokens
FROM documents
ORDER BY doc_id
"""


@register(
    "text_bpeish_token_count",
    oracle=_BPEISH_ORACLE,
    doc="BPE-ish sub-word token counting (whitespace + punctuation + "
    "letter/digit boundaries) for context-window budgeting. The Spark "
    "side splits with Java lookarounds; the oracle reconstructs the "
    "same boundaries in RE2-safe DuckDB by inserting spaces at each "
    "boundary class, so the counts are fully differential (r10 "
    "verdict item: this was one of 6 rows-only queries).",
    tags=("pipeline", "text"),
)
def text_bpeish_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_ws_tokens"),
        bpe_ish_token_count(F.col("text")).cast("bigint")
        .alias("n_bpeish_tokens"),
    ).orderBy("doc_id")


@register(
    "text_top_ngrams",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS idx
      FROM (SELECT doc_id,
                   regexp_split_to_array(trim(lower(text)), '\\s+') AS ws
            FROM documents) t
    ),
    bigrams AS (
      SELECT a.w || ' ' || b.w AS bigram
      FROM words a JOIN words b
        ON a.doc_id = b.doc_id AND b.idx = a.idx + 1
    ),
    counted AS (
      SELECT bigram, count(*) AS n FROM bigrams GROUP BY bigram
    )
    SELECT bigram, n
    FROM (SELECT bigram, n,
                 row_number() OVER (ORDER BY n DESC, bigram) AS r
          FROM counted) t
    WHERE r <= 20
    ORDER BY n DESC, bigram
    """,
    doc="Corpus vocabulary statistics: top-20 word bigrams by frequency. "
    "Bigrams are built row-locally (slice+zip over the words array — no "
    "self-join, unlike the oracle), counted with a partial/final hash "
    "agg, reduced with a single top-k window. At 100 TB the only "
    "exchange carries (bigram, partial count) pairs.",
    tags=("pipeline", "text"),
)
def text_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ws = docs.select(tokens(F.col("text")).alias("ws"))
    bigrams = ws.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("ws"), 1, F.greatest(F.size("ws") - 1, F.lit(0))),
                F.slice(F.col("ws"), 2, F.greatest(F.size("ws") - 1, F.lit(0))),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram")
    )
    counted = bigrams.groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("n").desc(), F.col("bigram"))
    return (
        counted.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= 20)
        .select("bigram", "n")
        .orderBy(F.col("n").desc(), "bigram")
    )


# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------

#: RE2-and-Java-compatible patterns (no lookarounds — portable to the
#: DuckDB oracle and to any engine this runs against).
EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PHONE_RE = r"\d{3}-\d{3}-\d{4}"


def redact(text: Column) -> Column:
    """Mask emails then phone numbers with typed placeholder tokens."""
    return F.regexp_replace(
        F.regexp_replace(text, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )


@register(
    "text_pii_redact",
    oracle=f"""
    WITH seeded AS (
        SELECT source,
               concat(text,
                 CASE WHEN doc_id % 7 = 0
                      THEN ' contact u' || doc_id || '@example.com' ELSE '' END,
                 CASE WHEN doc_id % 11 = 0
                      THEN ' call 555-867-5309' ELSE '' END) AS t
        FROM documents
    ), counted AS (
        SELECT source,
               len(regexp_extract_all(t, '{EMAIL_RE}')) AS n_email,
               len(regexp_extract_all(t, '{PHONE_RE}')) AS n_phone,
               regexp_replace(regexp_replace(t, '{EMAIL_RE}', '<EMAIL>', 'g'),
                              '{PHONE_RE}', '<PHONE>', 'g') AS clean
        FROM seeded
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN n_email + n_phone > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_with_pii,
           CAST(sum(n_email) AS BIGINT) AS n_emails,
           CAST(sum(n_phone) AS BIGINT) AS n_phones,
           CAST(sum(CASE WHEN clean LIKE '%<EMAIL>%'
                          OR clean LIKE '%<PHONE>%'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_redacted
    FROM counted
    GROUP BY source ORDER BY source
    """,
    doc="PII redaction for training-data curation: detect + mask emails "
    "and phone numbers with regexp_replace (JVM codegen, no Python in the "
    "row path — at 100 TB this runs at scan speed and the only exchange "
    "carries per-source partial counts). The fixture corpus is synthetic, "
    "so deterministic PII is first seeded into a subset of rows from "
    "doc_id (both engines seed identically), making the redaction "
    "differentially testable. Patterns are RE2-compatible (no "
    "lookarounds). Reference parity: nearest surface is regexp_replace "
    "(src/backend/utils/adt/regexp.c); the curation op itself is part of "
    "the beyond-reference pipeline scope.",
    tags=("pipeline", "text", "pii"),
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "source",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.lit(" contact u"), F.col("doc_id").cast("string"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0, F.lit(" call 555-867-5309")).otherwise(F.lit("")),
        ).alias("t"),
    )
    counted = seeded.select(
        "source",
        F.size(F.regexp_extract_all("t", F.lit(EMAIL_RE), 0)).alias("n_email"),
        F.size(F.regexp_extract_all("t", F.lit(PHONE_RE), 0)).alias("n_phone"),
        redact(F.col("t")).alias("clean"),
    )
    return (
        counted.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("n_email") + F.col("n_phone") > 0, 1).otherwise(0)).alias("n_docs_with_pii"),
            F.sum("n_email").alias("n_emails"),
            F.sum("n_phone").alias("n_phones"),
            F.sum(
                F.when(
                    F.col("clean").contains("<EMAIL>") | F.col("clean").contains("<PHONE>"), 1
                ).otherwise(0)
            ).alias("n_docs_redacted"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Token-budget shard packing (distributed global prefix sum)
# ---------------------------------------------------------------------------

#: Token budget per training shard.
SHARD_TOKEN_BUDGET = 2_500


def _distributed_prefix_sum(
    t: DataFrame, val: str, keys: tuple[str, ...], npart: int = 16
) -> DataFrame:
    """Global running total of ``val`` in ``keys`` order, WITHOUT the
    single-partition global window (which would serialize 100 TB through
    one task): bucket rows by quantile boundaries of the leading key,
    per-bucket partial sums (metadata-sized, ``npart`` rows), an
    exclusive scan over those partials on the tiny side, broadcast
    back, then per-bucket running sums in parallel — the same
    partial/final split the reference applies to aggregates
    (cdb/cdbgroupingpaths.c), applied to a window. Result (column
    ``cum``) is invariant to bucket boundaries.

    The bucket id is a PURE FUNCTION of the row (quantile boundaries
    collected once, embedded as literals) — NOT ``spark_partition_id()``
    after ``repartitionByRange``. The physical-partition-id form is
    subtly wrong: the partial-totals branch and the final join branch
    re-evaluate the exchange independently, and AQE partition
    coalescing / range-boundary sampling may assign DIFFERENT ids per
    branch, silently mis-offsetting the scan (observed at sf0.01: a
    cumulative max exceeding the column total). One extra driver-side
    approxQuantile action per query is the price of determinism — the
    same single pass repartitionByRange's sampler would have run.
    """
    from pyspark.sql.window import Window

    k0 = keys[0]
    dtype = dict(t.dtypes).get(k0)
    ord_col = F.col(k0)
    if dtype in ("timestamp", "timestamp_ntz"):
        ord_col = F.unix_micros(ord_col.cast("timestamp"))
    elif dtype == "date":
        ord_col = F.datediff(ord_col, F.lit("1970-01-01"))
    probe = t.select(ord_col.cast("double").alias("_ord"))
    qs = [i / npart for i in range(1, npart)]
    bounds = sorted(set(probe.stat.approxQuantile("_ord", qs, 0.001)))
    if bounds:
        # plain comparison chain, not a higher-order filter() lambda: a
        # lambda capturing an outer column trips Catalyst's projection
        # collapse (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND), and the chain
        # stays inside whole-stage codegen anyway (npart-1 comparisons).
        ordd = ord_col.cast("double")
        bucket = sum(
            ((ordd > F.lit(float(b))).cast("int") for b in bounds),
            F.lit(0),
        )
    else:
        bucket = F.lit(0)
    part = t.withColumn("pid", bucket)
    ptot = part.groupBy("pid").agg(F.sum(val).alias("ptok"))
    # exclusive scan over per-bucket totals: npart rows, so the
    # single-partition window here is metadata-scale (like the slice table)
    woff = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    off = ptot.select(
        "pid", F.coalesce(F.sum("ptok").over(woff), F.lit(0)).alias("offset")
    )
    wrun = (
        Window.partitionBy("pid")
        .orderBy(*keys)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return part.join(F.broadcast(off), "pid").withColumn(
        "cum", F.sum(val).over(wrun) + F.col("offset")
    )


@register(
    "text_token_shards",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(lower(text)), '\\s+'))
               END AS tok,
               CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 18, 15))
                    AS BIGINT) AS h
        FROM documents
    ), c AS (
        SELECT doc_id, tok,
               sum(tok) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS cum
        FROM t
    )
    SELECT CAST(floor(CAST(cum - tok AS DOUBLE) / {SHARD_TOKEN_BUDGET})
                AS BIGINT) AS shard_id,
           count(*) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS tokens
    FROM c GROUP BY shard_id ORDER BY shard_id
    """,
    doc="Token-budget shard packing: order documents by a deterministic "
    "hash (portable pseudo-shuffle), take a GLOBAL running token count, "
    "and cut contiguous ~budget-sized training shards — the step that "
    "turns a curated corpus into fixed-size pretraining shards. The "
    "global prefix sum is computed WITHOUT the single-partition global "
    "window (which would serialize 100 TB through one task): "
    "repartitionByRange on the sort key, per-partition partial sums "
    "(metadata-sized, #partitions rows), an exclusive scan over those "
    "partials on the tiny side, broadcast back, then per-partition "
    "running sums in parallel — the same partial/final split the "
    "reference applies to aggregates (cdb/cdbgroupingpaths.c), applied "
    "to a window. Result is invariant to partition boundaries, so the "
    "oracle is the plain SQL window.",
    tags=("pipeline", "text", "sharding", "scale"),
)
def text_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cloudberry_spark.pipeline.hashing import spark_base_hash

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        token_count(F.col("text")).alias("tok"),
        spark_base_hash(F.col("doc_id").cast("string")).alias("h"),
    )
    cum = _distributed_prefix_sum(t, val="tok", keys=("h", "doc_id"))
    return (
        cum.withColumn(
            "shard_id",
            F.floor((F.col("cum") - F.col("tok")).cast("double") / SHARD_TOKEN_BUDGET),
        )
        .groupBy("shard_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("tok").alias("tokens"))
        .orderBy("shard_id")
    )


# ---------------------------------------------------------------------------
# Repetition-based quality filtering (Gopher-style corpus rules)
# ---------------------------------------------------------------------------

#: Flag a document when its most frequent bigram exceeds this fraction
#: of all bigrams (the published Gopher repetition-rule family).
TOP_BIGRAM_FRAC_MAX = 0.1


@register(
    "text_repetition_filter",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS w
        FROM documents
    ), bg AS (
        SELECT doc_id, source,
               list_transform(generate_series(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1]) AS bgs
        FROM toks WHERE len(w) >= 2
    ), ex AS (
        SELECT doc_id, source, unnest(bgs) AS g FROM bg
    ), cnt AS (
        SELECT doc_id, source, g, count(*) AS c
        FROM ex GROUP BY doc_id, source, g
    ), perdoc AS (
        SELECT doc_id, source,
               CAST(max(c) AS DOUBLE) / sum(c) AS top_bg_frac,
               1.0 - CAST(count(*) AS DOUBLE) / sum(c) AS dup_bg_frac
        FROM cnt GROUP BY doc_id, source
    )
    SELECT source,
           count(*) AS n_docs,
           round(avg(top_bg_frac), 9) AS avg_top_bg_frac,
           round(avg(dup_bg_frac), 9) AS avg_dup_bg_frac,
           CAST(sum(CASE WHEN top_bg_frac > {TOP_BIGRAM_FRAC_MAX}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
    FROM perdoc GROUP BY source ORDER BY source
    """,
    doc="Repetition-based quality filter (the Gopher corpus-rule "
    "family: a document dominated by one repeated n-gram is boilerplate "
    "or spam): per doc, the top-bigram fraction and duplicate-bigram "
    "fraction, flagged against a threshold and audited per source. "
    "Bigrams are built row-locally (zip_with over the words array — no "
    "self-join), counted with one partial/final agg keyed (doc_id, "
    "bigram), reduced per doc, then per source: three exchanges total, "
    "each carrying aggregates, never raw text.",
    tags=("pipeline", "text", "quality"),
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "source", tokens(F.col("text")).alias("w"))
    bg = toks.where(F.size("w") >= 2).select(
        "doc_id",
        "source",
        F.explode(
            F.zip_with(
                F.slice(F.col("w"), 1, F.size("w") - 1),
                F.slice(F.col("w"), 2, F.size("w") - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("g"),
    )
    cnt = bg.groupBy("doc_id", "source", "g").agg(F.count(F.lit(1)).alias("c"))
    perdoc = cnt.groupBy("doc_id", "source").agg(
        (F.max("c").cast("double") / F.sum("c")).alias("top_bg_frac"),
        (F.lit(1.0) - F.count(F.lit(1)).cast("double") / F.sum("c")).alias(
            "dup_bg_frac"
        ),
    )
    return (
        perdoc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("top_bg_frac"), 9).alias("avg_top_bg_frac"),
            F.round(F.avg("dup_bg_frac"), 9).alias("avg_dup_bg_frac"),
            F.sum(
                F.when(F.col("top_bg_frac") > TOP_BIGRAM_FRAC_MAX, 1).otherwise(0)
            ).alias("n_flagged"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Unicode normalization (Arrow-batched Python — Spark has no NFC builtin)
# ---------------------------------------------------------------------------


@register(
    "text_unicode_normalize",
    oracle="""
    WITH seeded AS (
        SELECT source,
               text || CASE WHEN doc_id % 5 = 0
                            THEN ' cafe' || chr(769) || ' nai' || chr(776) || 've'
                            ELSE '' END AS t
        FROM documents
    ), norm AS (
        SELECT source, length(t) AS len_raw,
               length(nfc_normalize(t)) AS len_nfc
        FROM seeded
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN len_nfc <> len_raw THEN 1 ELSE 0 END)
                AS BIGINT) AS n_changed,
           CAST(sum(len_raw) AS BIGINT) AS total_raw,
           CAST(sum(len_nfc) AS BIGINT) AS total_nfc
    FROM norm GROUP BY source ORDER BY source
    """,
    doc="Unicode NFC normalization — the canonicalization step before "
    "any hashing/dedup on multilingual corpora (decomposed accents hash "
    "differently from composed ones, silently splitting duplicate "
    "groups). Spark has no NFC builtin, so this is the documented "
    "slow-path pattern done right: an Arrow-batched pandas_udf "
    "(unicodedata.normalize per batch, zero per-row Python overhead) — "
    "the one place in the text pipeline where Python touches rows. "
    "Decomposed sequences are seeded deterministically (both engines "
    "seed identically via the combining codepoints U+0301/U+0308); the "
    "oracle is DuckDB's native nfc_normalize.",
    tags=("pipeline", "text", "unicode", "pandas-udf"),
)
def text_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    def _nfc_batch(col):  # pd.Series -> pd.Series, one Arrow batch at a time
        import unicodedata

        return col.map(
            lambda s: None if s is None else unicodedata.normalize("NFC", s)
        )

    # explicit functionType form: `from __future__ import annotations`
    # stringifies type hints, which the decorator's hint inference rejects
    nfc = pandas_udf(_nfc_batch, "string")

    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "source",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit(" cafe\u0301 nai\u0308ve"),
            ).otherwise(F.lit("")),
        ).alias("t"),
    )
    norm = seeded.select(
        "source",
        F.length("t").alias("len_raw"),
        F.length(nfc(F.col("t"))).alias("len_nfc"),
    )
    return (
        norm.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("len_nfc") != F.col("len_raw"), 1).otherwise(0)).alias(
                "n_changed"
            ),
            F.sum("len_raw").alias("total_raw"),
            F.sum("len_nfc").alias("total_nfc"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Statistical LM quality signal: unigram surprisal against the corpus
# ---------------------------------------------------------------------------


@register(
    "text_unigram_surprisal",
    oracle="""
    WITH tok AS (
        SELECT doc_id, source, unnest(regexp_split_to_array(trim(lower(text)),
                                                            '\\s+')) AS w
        FROM documents
    ), freq AS (
        SELECT w, count(*) AS c FROM tok GROUP BY w
    ), total AS (
        SELECT sum(c) AS n FROM freq
    ), scored AS (
        SELECT t.doc_id, t.source,
               -ln(CAST(f.c AS DOUBLE) / (SELECT n FROM total)) AS surprisal
        FROM tok t JOIN freq f ON t.w = f.w
    ), perdoc AS (
        SELECT doc_id, source, avg(surprisal) AS avg_surprisal,
               count(*) AS n_tokens
        FROM scored GROUP BY doc_id, source
    )
    SELECT source,
           count(*) AS n_docs,
           round(avg(avg_surprisal), 6) AS mean_surprisal,
           round(max(avg_surprisal), 6) AS max_surprisal,
           round(min(avg_surprisal), 6) AS min_surprisal
    FROM perdoc GROUP BY source ORDER BY source
    """,
    doc="Unigram-LM surprisal scoring (perplexity-family quality "
    "signal): every token scored by -ln(corpus probability), averaged "
    "per document — documents of improbable vocabulary float to the "
    "top for review, the statistical cousin of the rule-based "
    "text_quality_score. Two aggregation passes over exploded tokens "
    "plus a join against the vocabulary table. The vocab side carries "
    "NO broadcast hint: its cardinality grows with the corpus, so the "
    "decision belongs to AQE, which broadcasts while the vocab is "
    "small and falls back to a shuffle join when it outgrows the "
    "threshold (tests/test_plans.py pins the broadcast choice at "
    "fixture scale). The corpus total rides as a broadcast scalar.",
    tags=("pipeline", "text", "quality", "lm"),
)
def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "source", F.explode(tokens(F.col("text"))).alias("w")
    )
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").alias("n"))
    scored = (
        tok.join(freq, "w")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "source",
            (-F.log(F.col("c").cast("double") / F.col("n"))).alias("surprisal"),
        )
    )
    perdoc = scored.groupBy("doc_id", "source").agg(
        F.avg("surprisal").alias("avg_surprisal")
    )
    return (
        perdoc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("avg_surprisal"), 6).alias("mean_surprisal"),
            F.round(F.max("avg_surprisal"), 6).alias("max_surprisal"),
            F.round(F.min("avg_surprisal"), 6).alias("min_surprisal"),
        )
        .orderBy("source")
    )


@register(
    "text_tfidf_top_terms",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
        FROM documents WHERE doc_id < 100
    ), tf AS (
        SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w
    ), df AS (
        SELECT w, count(DISTINCT doc_id) AS df FROM tok GROUP BY w
    ), n AS (
        SELECT count(DISTINCT doc_id) AS n_docs FROM tok
    ), scored AS (
        SELECT tf.doc_id, tf.w,
               tf.tf * ln(CAST((SELECT n_docs FROM n) AS DOUBLE) / df.df)
                 AS tfidf,
               row_number() OVER (PARTITION BY tf.doc_id
                                  ORDER BY tf.tf * ln(CAST((SELECT n_docs FROM n) AS DOUBLE) / df.df) DESC,
                                           tf.w) AS rk
        FROM tf JOIN df ON tf.w = df.w
    )
    SELECT doc_id, w AS term, round(tfidf, 6) AS tfidf, rk
    FROM scored WHERE rk <= 3
    ORDER BY doc_id, rk
    """,
    doc="TF-IDF top-3 terms per document (ts_rank's statistical "
    "cousin, adt/tsrank.c): term frequency x inverse document "
    "frequency, ranked per doc with a deterministic (score, term) "
    "tie-break. The df table is vocabulary-sized, so it carries no "
    "broadcast hint — AQE broadcasts it while small and shuffles when "
    "it outgrows the threshold (plan pinned in tests/test_plans.py); "
    "the per-doc rank partitions by doc_id — no global sort. Keyword "
    "extraction for corpus exploration and near-dup explainability.",
    tags=("pipeline", "text", "tfidf"),
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    tf = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = tok.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df, "w")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")),
        )
    )
    w_rank = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "w")
    return (
        scored.withColumn("rk", F.row_number().over(w_rank).cast("bigint"))
        .where(F.col("rk") <= 3)
        .select("doc_id", F.col("w").alias("term"), F.round("tfidf", 6).alias("tfidf"), "rk")
        .orderBy("doc_id", "rk")
    )


@register(
    "text_bm25_rank",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
        FROM documents
    ), dl AS (
        SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id
    ), stats AS (
        SELECT count(*) AS n_docs, avg(len) AS avg_len FROM dl
    ), tf AS (
        SELECT doc_id, w, count(*) AS tf FROM tok
        WHERE w IN ('spark', 'hash', 'join') GROUP BY doc_id, w
    ), df AS (
        SELECT w, count(DISTINCT doc_id) AS df FROM tok
        WHERE w IN ('spark', 'hash', 'join') GROUP BY w
    ), scored AS (
        SELECT tf.doc_id,
               sum(ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.len / s.avg_len)))
                 AS bm25
        FROM tf
        JOIN df ON tf.w = df.w
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN stats s
        GROUP BY tf.doc_id
    )
    SELECT doc_id, round(bm25, 6) AS bm25
    FROM scored
    ORDER BY bm25 DESC, doc_id
    LIMIT 25
    """,
    doc="BM25 ranking (k1=1.2, b=0.75) for the query {spark, hash, "
    "join} — the retrieval scorer ts_rank approximates "
    "(adt/tsrank.c's cover-density ranking; BM25 is its modern "
    "replacement). Corpus stats (N, avgdl) ride as a broadcast scalar; "
    "df per term is vocabulary-sized and broadcast; scoring touches "
    "only rows containing query terms (the IN pushes into the scan).",
    tags=("pipeline", "text", "retrieval", "bm25"),
)
def text_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    TERMS = ["spark", "hash", "join"]
    K1, B = 1.2, 0.75
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("len"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("len").alias("avg_len")
    )
    qtok = tok.where(F.col("w").isin(TERMS))
    tf = qtok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    df = qtok.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(
        1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    per_term = (
        tf.join(F.broadcast(df), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                idf
                * F.col("tf")
                * (K1 + 1)
                / (
                    F.col("tf")
                    + K1 * (1 - B + B * F.col("len") / F.col("avg_len"))
                )
            ).alias("term_score"),
        )
    )
    return (
        per_term.groupBy("doc_id")
        .agg(F.round(F.sum("term_score"), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(25)
    )


@register(
    "text_bigram_surprisal",
    oracle="""
    WITH tok AS (
        SELECT doc_id, source,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS w
        FROM documents
    ),
    big AS (
        SELECT doc_id, source,
               w[CAST(u.i AS INT)]     AS w1,
               w[CAST(u.i AS INT) + 1] AS w2
        FROM tok, UNNEST(generate_series(1, len(w) - 1)) AS u(i)
        WHERE len(w) >= 2
    ),
    f2 AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2),
    f1 AS (SELECT w1, count(*) AS c1 FROM big GROUP BY w1),
    scored AS (
        SELECT b.doc_id, b.source,
               -ln(CAST(f2.c12 AS DOUBLE) / f1.c1) AS s
        FROM big b
        JOIN f2 ON b.w1 = f2.w1 AND b.w2 = f2.w2
        JOIN f1 ON b.w1 = f1.w1
    ),
    perdoc AS (
        SELECT doc_id, source, avg(s) AS avg_s
        FROM scored GROUP BY doc_id, source
    )
    SELECT source,
           count(*) AS n_docs,
           round(avg(avg_s), 6) AS mean_surprisal,
           round(max(avg_s), 6) AS max_surprisal,
           round(min(avg_s), 6) AS min_surprisal
    FROM perdoc GROUP BY source ORDER BY source
    """,
    doc="Bigram-LM conditional surprisal (next step up from "
    "text_unigram_surprisal toward the CCNet perplexity signal): every "
    "bigram scored by -ln(c(w1,w2)/c(w1,*)) against corpus-wide bigram "
    "statistics, averaged per document then profiled per source. "
    "Bigrams are built row-locally (transform over the token array — "
    "no shuffle to form pairs); the two LM-table joins carry no "
    "broadcast hints (vocabulary-sized sides belong to AQE, same "
    "policy as the unigram scorer).",
    tags=("pipeline", "text", "quality", "lm"),
)
def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    big = (
        docs.select("doc_id", "source", tokens(F.col("text")).alias("w"))
        .where(F.size("w") >= 2)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1), "
                    "i -> struct(element_at(w, i) AS w1, "
                    "element_at(w, i + 1) AS w2))"
                )
            ).alias("bg"),
        )
        .select("doc_id", "source", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    f2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    f1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    scored = (
        big.join(f2, ["w1", "w2"])
        .join(f1, "w1")
        .select(
            "doc_id",
            "source",
            (-F.log(F.col("c12").cast("double") / F.col("c1"))).alias("s"),
        )
    )
    perdoc = scored.groupBy("doc_id", "source").agg(F.avg("s").alias("avg_s"))
    return (
        perdoc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("avg_s"), 6).alias("mean_surprisal"),
            F.round(F.max("avg_s"), 6).alias("max_surprisal"),
            F.round(F.min("avg_s"), 6).alias("min_surprisal"),
        )
        .orderBy("source")
    )


@register(
    "text_bpeish_tokens_re2",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source,
               len(regexp_extract_all(lower(trim(text)),
                   '[a-z]+|[0-9]|[^a-z0-9 \t\n]')) AS n_tokens
        FROM documents
    )
    SELECT source,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(n_tokens), 4) AS avg_tokens_per_doc
    FROM toks
    GROUP BY source
    ORDER BY source
    """,
    doc="Portable sub-word token counting: the lookaround-free core of "
    "the BPE-ish tokenizer (letter runs | single digits | punctuation), "
    "expressed with regexp_extract_all in BOTH engines — unlike "
    "text_bpeish_token_count (Java-regex lookarounds, rows-only check) "
    "this variant is fully differential. The alternation uses only "
    "RE2-and-Java-common syntax, so match sets are identical. Map-only "
    "over the scan + one partial-aggregated shuffle on source; the "
    "per-row token list never materializes into the shuffle (count "
    "taken before the groupBy).",
    tags=("pipeline", "text"),
)
def text_bpeish_tokens_re2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(
        F.expr(r"regexp_extract_all(lower(trim(text)), '[a-z]+|[0-9]|[^a-z0-9 \t\n]', 0)")
    )
    return (
        docs.select("source", n.alias("n_tokens"))
        .groupBy("source")
        .agg(
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens_per_doc"),
        )
        .orderBy("source")
    )


SEQUENCE_LENGTH = 512


@register(
    "text_sequence_pack",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(lower(text)), '\\s+'))
               END AS tok,
               CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 18, 15))
                    AS BIGINT) AS h
        FROM documents
    ), c AS (
        SELECT doc_id, tok,
               sum(tok) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING)
                   AS cum
        FROM t
    )
    SELECT doc_id, tok,
           CAST((cum - tok) // 512 AS BIGINT) AS seq_id,
           CAST((cum - tok) % 512 AS BIGINT) AS offset_in_seq,
           CAST(CASE WHEN tok = 0 THEN 0
                     ELSE ((cum - 1) // 512) - ((cum - tok) // 512)
                END AS BIGINT) AS n_boundary_splits
    FROM c
    ORDER BY seq_id, offset_in_seq, doc_id
    """,
    doc="GPT-style sequence packing (concat-and-chunk): documents are "
    "concatenated in deterministic-hash order into one global token "
    "stream, then cut into fixed 512-token training sequences; a "
    "document's placement is pure arithmetic on the global running "
    "token count (seq_id = start div L, offset = start mod L, "
    "n_boundary_splits = how many sequence cuts land inside the doc). "
    "Zero padding waste by construction — the packing strategy used "
    "for GPT-class pretraining, vs text_token_shards' whole-document "
    "bins. Rides the same partial/final distributed prefix sum (no "
    "single-partition global window); all placement math is integer, "
    "so the SQL-window oracle matches bit-for-bit.",
    tags=("pipeline", "text", "sharding", "scale"),
)
def text_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cloudberry_spark.pipeline.hashing import spark_base_hash

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        token_count(F.col("text")).alias("tok"),
        spark_base_hash(F.col("doc_id").cast("string")).alias("h"),
    )
    cum = _distributed_prefix_sum(t, val="tok", keys=("h", "doc_id"))
    start = F.col("cum") - F.col("tok")
    L = SEQUENCE_LENGTH
    return (
        cum.select(
            "doc_id",
            "tok",
            F.expr(f"(cum - tok) div {L}").alias("seq_id"),
            (start % L).alias("offset_in_seq"),
            F.when(F.col("tok") == 0, F.lit(0))
            .otherwise(
                F.expr(f"(cum - 1) div {L}") - F.expr(f"(cum - tok) div {L}")
            )
            .alias("n_boundary_splits"),
        )
        .orderBy("seq_id", "offset_in_seq", "doc_id")
    )


@register(
    "text_zipf_fit",
    oracle="""
    WITH words AS (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
        FROM documents
    ), freq AS (
        SELECT w, count(*) AS n FROM words GROUP BY w
    ), ranked AS (
        SELECT w, n,
               row_number() OVER (ORDER BY n DESC, w) AS rnk
        FROM freq
    )
    SELECT count(*) AS vocab_size,
           round(regr_slope(ln(CAST(n AS DOUBLE)),
                            ln(CAST(rnk AS DOUBLE))), 6) AS zipf_slope,
           round(regr_r2(ln(CAST(n AS DOUBLE)),
                         ln(CAST(rnk AS DOUBLE))), 6) AS r2
    FROM ranked
    """,
    doc="Zipf's-law fit over the corpus vocabulary: log-log regression "
    "of frequency on rank via the regr_slope/regr_r2 aggregate family "
    "(src/backend/utils/adt/float.c float8_regr_*) — natural text has "
    "slope near -1, so the fitted slope is a corpus-health diagnostic "
    "(synthetic or template-heavy corpora flatten it). One groupBy for "
    "frequencies; ranking shuffles only vocabulary rows (bounded, not "
    "corpus-sized); the regression is a single-pass aggregate.",
    tags=("pipeline", "text", "diagnostics"),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # the global row_number here runs over VOCABULARY rows (bounded),
    # not corpus rows — acceptable single-partition window
    ranked = freq.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.desc("n"), "w"))
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.round(F.expr("regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rnk AS DOUBLE)))"), 6).alias("zipf_slope"),
        F.round(F.expr("regr_r2(ln(CAST(n AS DOUBLE)), ln(CAST(rnk AS DOUBLE)))"), 6).alias("r2"),
    )


@register(
    "text_bpe_merge_round",
    oracle="""
    WITH words AS (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
        FROM documents WHERE length(trim(text)) > 0
    ), pairs AS (
        SELECT substr(w, CAST(i AS INT), 2) AS pair
        FROM (SELECT w, unnest(generate_series(1, length(w) - 1)) AS i
              FROM words WHERE length(w) >= 2)
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(row_number() OVER (ORDER BY count(*) DESC, pair) AS INT)
               AS merge_rank
    FROM pairs GROUP BY pair
    ORDER BY n_occurrences DESC, pair
    LIMIT 10
    """,
    doc="One BPE merge-learning round (the statistic behind training "
    "the tokenizer whose INFERENCE side is text_bpeish_tokens_re2): "
    "count every adjacent symbol pair inside every word across the "
    "corpus; the most frequent pair becomes the next merge rule. "
    "Pair extraction is a row-local array transform (map-only, no "
    "Python); the only shuffle is the groupBy on the bounded "
    "pair-vocabulary (<= |alphabet|^2 keys). Iterating rounds "
    "re-runs the same plan with the merged symbol substituted — each "
    "round one scan + one tiny shuffle at any corpus size. Output: "
    "the top-10 merge candidates with ranks. Integer counts, "
    "bit-exact.",
    tags=("text", "pipeline", "tokenizer"),
)
def text_bpe_merge_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    words = docs.where(F.length(F.trim("text")) > 0).select(
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w")
    )
    pairs = (
        words.where(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")
            ).alias("pair")
        )
    )
    w_rank = Window.orderBy(F.desc("n_occurrences"), "pair")
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(10)
        .withColumn("merge_rank", F.row_number().over(w_rank).cast("int"))
    )


VOCAB_TOP_N = 500


@register(
    "text_vocab_coverage",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, source, unnest(
            regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
        FROM documents WHERE length(trim(text)) > 0
    ), freq AS (
        SELECT w, count(*) AS c FROM tok GROUP BY w
    ), vocab AS (
        SELECT w FROM (
            SELECT w, row_number() OVER (ORDER BY c DESC, w) AS r FROM freq
        ) WHERE r <= {VOCAB_TOP_N}
    )
    SELECT t.source,
           count(*) AS n_tokens,
           CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           round(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS oov_rate,
           CAST(count(DISTINCT CASE WHEN v.w IS NOT NULL THEN t.w END)
                AS BIGINT) AS n_vocab_used
    FROM tok t LEFT JOIN vocab v ON t.w = v.w
    GROUP BY t.source
    ORDER BY t.source
    """,
    doc="Vocabulary coverage / OOV-rate audit (the tokenizer-fit check "
    "run before committing a vocab to a training run): build the "
    f"top-{VOCAB_TOP_N} corpus vocabulary (count desc, word tie-break "
    "— deterministic), then measure per-source token coverage against "
    "it. Two shuffles total: token frequency (combiner-backed, keys = "
    "vocabulary not corpus) and the per-source rollup; the vocab side "
    "is bounded by construction so AQE broadcasts the coverage join. "
    "At 100 TB the frequency pass IS the standard vocab-build job — "
    "this operator just adds the audit rollup on top.",
    tags=("pipeline", "text", "vocab"),
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim("text")) > 0
    )
    tok = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("w")
    )
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    # top-N via TakeOrdered (distributed partial top-k per partition,
    # merged on the driver side of the plan) — NOT a global-sort window,
    # which would single-partition the whole vocabulary
    vocab = (
        freq.orderBy(F.desc("c"), "w")
        .limit(VOCAB_TOP_N)
        .select("w", F.lit(1).alias("in_vocab"))
    )
    return (
        tok.join(vocab, "w", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
            F.round(
                F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("oov_rate"),
            F.countDistinct(
                F.when(F.col("in_vocab").isNotNull(), F.col("w"))
            )
            .cast("bigint")
            .alias("n_vocab_used"),
        )
        .orderBy("source")
    )


@register(
    "text_inverted_index_search",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
        FROM documents
    ), dl AS (
        SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id
    ), stats AS (
        SELECT count(*) AS n_docs, avg(len) AS avg_len FROM dl
    ), tf AS (
        SELECT doc_id, w, count(*) AS tf FROM tok
        WHERE w IN ('scan', 'filter', 'vector') GROUP BY doc_id, w
    ), df AS (
        SELECT w, count(DISTINCT doc_id) AS df FROM tok
        WHERE w IN ('scan', 'filter', 'vector') GROUP BY w
    ), scored AS (
        SELECT tf.doc_id,
               sum(ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.len / s.avg_len)))
                 AS bm25
        FROM tf
        JOIN df ON tf.w = df.w
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN stats s
        GROUP BY tf.doc_id
    )
    SELECT doc_id, round(bm25, 6) AS bm25
    FROM scored
    ORDER BY bm25 DESC, doc_id
    LIMIT 25
    """,
    doc="BM25 search against a PERSISTED inverted index — the standing-"
    "index scale path for §2.8-10 text search, mirroring the IVF-PQ / "
    "LSH standing indexes (reference: tsvector GIN index, "
    "src/backend/access/gin/): postings (term, doc_id, tf) are "
    "materialized ONCE, hash-bucketed by term into 32 partition dirs, "
    "alongside per-term df and the (N, avgdl) corpus stats; a query "
    "then reads ONLY the buckets its terms hash to (partition pruning "
    "on bucket=...), broadcasts the per-term df rows, and scores just "
    "the matching postings — at 100 TB the corpus is never rescanned "
    "per query, and index build amortizes across every query. The "
    "oracle recomputes the same BM25 from the raw corpus, proving "
    "index build + probe == direct scan.",
    tags=("pipeline", "text", "retrieval", "bm25", "index"),
)
def text_inverted_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os

    from pyspark.sql.window import Window

    def _bucket_col(c):
        # md5-prefix bucket: computable identically driver-side (for
        # pruning literals) and executor-side (for writes) — the same
        # cross-engine-hash trick as pipeline/hashing.py
        return F.pmod(
            F.conv(F.substring(F.md5(c), 1, 4), 16, 10).cast("long"),
            F.lit(N_BUCKETS),
        )

    TERMS = ["scan", "filter", "vector"]
    K1, B = 1.2, 0.75
    N_BUCKETS = 32
    root = scratch.path(sf_dir, "text_inv_index")
    postings_p = os.path.join(root, "postings")
    dl_p = os.path.join(root, "doclen")
    stats_p = os.path.join(root, "stats")

    # The ready-marker is keyed on THIS process: run 1 of a bench
    # invocation always rebuilds the index from the parquet inputs
    # (runs 2-3 amortize it, which is the documented probe-cost
    # methodology); a marker left by an earlier process never lets a
    # fresh invocation skip the build.
    marker = os.path.join(root, "_INDEX_READY")

    def _index_ready() -> bool:
        try:
            with open(marker) as fh:
                return fh.read().strip() == str(os.getpid())
        except OSError:
            return False

    if not _index_ready():
        docs = load_table(spark, sf_dir, "documents")
        tok = docs.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("w")
        )
        dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("len"))
        postings = (
            tok.groupBy("w", "doc_id")
            .agg(F.count(F.lit(1)).alias("tf"))
            # per-term document frequency rides IN the postings rows:
            # one window over the term's own bucket, no second scan
            .withColumn(
                "df", F.count(F.lit(1)).over(Window.partitionBy("w"))
            )
            .withColumn("bucket", _bucket_col(F.col("w")))
        )
        postings.write.mode("overwrite").partitionBy("bucket").parquet(
            postings_p
        )
        dl.write.mode("overwrite").parquet(dl_p)
        dl.agg(
            F.count(F.lit(1)).alias("n_docs"), F.avg("len").alias("avg_len")
        ).write.mode("overwrite").parquet(stats_p)
        with open(marker, "w") as fh:
            fh.write(str(os.getpid()))

    # ---- query time: touch only the query terms' buckets (bucket ids
    # computed driver-side from the same md5 prefix — no job runs) ----
    buckets = sorted(
        {
            int(hashlib.md5(t.encode()).hexdigest()[:4], 16) % N_BUCKETS
            for t in TERMS
        }
    )
    postings = spark.read.parquet(postings_p).where(
        F.col("bucket").isin(buckets) & F.col("w").isin(TERMS)
    )
    dl = spark.read.parquet(dl_p)
    stats = spark.read.parquet(stats_p)
    idf = F.log(
        1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    per_term = (
        postings.join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                idf
                * F.col("tf")
                * (K1 + 1)
                / (
                    F.col("tf")
                    + K1 * (1 - B + B * F.col("len") / F.col("avg_len"))
                )
            ).alias("term_score"),
        )
    )
    return (
        per_term.groupBy("doc_id")
        .agg(F.round(F.sum("term_score"), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(25)
    )


@register(
    "pipeline_doremi_reweight",
    oracle="""
    WITH per_doc AS (
        SELECT source,
               1.0 - len(list_distinct(list_filter(
                         regexp_split_to_array(trim(lower(text)), '\\s+'),
                         w -> w <> '')))::DOUBLE
                     / len(list_filter(
                         regexp_split_to_array(trim(lower(text)), '\\s+'),
                         w -> w <> '')) AS loss
        FROM documents
    ), dom AS (
        SELECT source, avg(loss) AS dom_loss, count(*) AS n_docs
        FROM per_doc GROUP BY source
    ), base AS (
        SELECT avg(loss) AS baseline FROM per_doc
    ), w0 AS (
        SELECT source, dom_loss, n_docs,
               1.0 / (SELECT count(*) FROM dom) AS w
        FROM dom
    ), w1 AS (
        SELECT source, dom_loss, n_docs,
               w * exp(0.5 * greatest(dom_loss - (SELECT baseline FROM base),
                                      0)) AS uw
        FROM w0
    ), w1n AS (
        SELECT source, dom_loss, n_docs,
               uw / (SELECT sum(uw) FROM w1) AS w
        FROM w1
    ), w2 AS (
        SELECT source, dom_loss, n_docs,
               w * exp(0.5 * greatest(dom_loss - (SELECT baseline FROM base),
                                      0)) AS uw
        FROM w1n
    ), w2n AS (
        SELECT source, dom_loss, n_docs,
               uw / (SELECT sum(uw) FROM w2) AS w
        FROM w2
    )
    SELECT source, n_docs, round(dom_loss, 6) AS dom_loss,
           round(w, 8) AS weight
    FROM w2n ORDER BY source
    """,
    doc="DoReMi-style domain reweighting (Xie et al. 2023, 'DoReMi: "
    "Optimizing Data Mixtures Speeds Up Language Model Pretraining' — "
    "public paper; beyond the reference, per the training-pipeline "
    "brief): per-domain excess loss (here a deterministic surrogate: "
    "repetition = 1 - distinct-token ratio) drives multiplicative "
    "weight updates w_i *= exp(eta * max(loss_i - baseline, 0)), "
    "renormalized, two unrolled rounds. Everything is DataFrame "
    "algebra — domain stats are a ~|domains| table, the normalizer a "
    "broadcast scalar; NO driver-side loop state, so the same plan "
    "runs with a million documents per domain. Output: the mixture "
    "weights a sampler would consume.",
    tags=("pipeline", "text", "curation", "mixing"),
)
def pipeline_doremi_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    ETA, ROUNDS = 0.5, 2
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    per_doc = docs.select(
        "source",
        (
            1.0
            - F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
        ).alias("loss"),
    )
    dom = per_doc.groupBy("source").agg(
        F.avg("loss").alias("dom_loss"), F.count(F.lit(1)).alias("n_docs")
    )
    baseline = per_doc.agg(F.avg("loss").alias("baseline"))
    n_dom = dom.agg(F.count(F.lit(1)).alias("n_dom"))
    w = (
        dom.crossJoin(F.broadcast(n_dom))
        .withColumn("w", F.lit(1.0) / F.col("n_dom"))
        .drop("n_dom")
    )
    for _ in range(ROUNDS):
        uw = w.crossJoin(F.broadcast(baseline)).withColumn(
            "uw",
            F.col("w")
            * F.exp(
                ETA
                * F.greatest(
                    F.col("dom_loss") - F.col("baseline"), F.lit(0.0)
                )
            ),
        )
        z = uw.agg(F.sum("uw").alias("z"))
        w = (
            uw.crossJoin(F.broadcast(z))
            .withColumn("w", F.col("uw") / F.col("z"))
            .select("source", "dom_loss", "n_docs", "w")
        )
    return w.select(
        "source",
        "n_docs",
        F.round("dom_loss", 6).alias("dom_loss"),
        F.round("w", 8).alias("weight"),
    ).orderBy("source")
