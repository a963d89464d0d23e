"""Full-text search and fuzzy string matching (SURVEY.md §2.8).

Reference surface re-expressed:
- ``tsvector``/``tsquery``/``@@``/``ts_rank``
  (/root/reference/src/backend/utils/adt/tsvector_op.c, tsrank.c):
  tokenize → distinct term array → containment match → frequency rank.
  We define the rank as matched-term-count / total-token-count — a
  documented simplification of ts_rank's weighted cover density (the
  reference's default weights are positional, which needs proximity
  data a bag-of-words index doesn't keep).
- trigram similarity (pg_trgm, /root/reference/contrib/pg_trgm/):
  PG-style padded character trigrams ('  s', ' sp', …) and
  ``|A∩B| / |A∪B|`` set similarity — same formula as trgm_ops.

Both are pure JVM-side array expressions (higher-order functions), no
Python: at 100 TB the tokenize+match plan is a single scan with
whole-stage codegen, and an inverted-index variant is the explode →
(term → doc list) aggregation, which is ``udtf_doc_words`` + groupBy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudberry_spark.catalog import load_table
from cloudberry_spark.registry import register

# ---------------------------------------------------------------------------
# tsvector-style search
# ---------------------------------------------------------------------------


@register(
    "text_tsquery_rank",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                               w -> w <> '') AS words
            FROM documents
        ), v AS (
            SELECT doc_id, words, list_distinct(words) AS lex FROM toks
        )
        SELECT doc_id,
               round(len(list_intersect(lex, ['data', 'model', 'learning']))
                     / len(words)::DOUBLE, 6) AS rank,
               len(list_intersect(lex, ['data', 'model', 'learning']))
                   AS n_matched
        FROM v
        WHERE len(list_intersect(lex, ['data', 'model', 'learning'])) > 0
    """,
    doc="tsvector @@ tsquery + ts_rank analog (tsvector_op.c, tsrank.c): "
    "OR-match any of 3 query terms, rank by matched/total tokens.",
    tags=("textsearch", "pipeline"),
)
def text_tsquery_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    terms = F.array(*[F.lit(t) for t in ("data", "model", "learning")])
    words = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda w: w != F.lit("")
    )
    d = docs.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.size(F.array_intersect(F.array_distinct(words), terms))
        .cast("bigint")
        .alias("n_matched"),
    )
    return d.filter(F.col("n_matched") > 0).select(
        "doc_id",
        F.round(F.col("n_matched") / F.col("n_words"), 6).alias("rank"),
        "n_matched",
    )


# ---------------------------------------------------------------------------
# pg_trgm
# ---------------------------------------------------------------------------


def trigrams_col(s: Column) -> Column:
    """PG-trgm-style padded character trigram set: lower(s) wrapped in
    '  …' + ' ' so word boundaries contribute trigrams."""
    padded = F.concat(F.lit("  "), F.lower(s), F.lit(" "))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(padded) - 2),
            lambda i: F.substring(padded, i, 3),
        )
    )


def trigram_similarity(a: Column, b: Column) -> Column:
    """|A∩B| / |A∪B| over trigram sets (contrib/pg_trgm similarity())."""
    ta, tb = trigrams_col(a), trigrams_col(b)
    inter = F.size(F.array_intersect(ta, tb))
    union = F.size(ta) + F.size(tb) - inter
    return inter / union


def _duck_trigrams(expr: str) -> str:
    padded = f"('  ' || lower({expr}) || ' ')"
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, length({padded}) - 2), "
        f"i -> substring({padded}, i, 3)))"
    )


@register(
    "scalar_trigram_similarity",
    oracle=f"""
        WITH t AS (
            SELECT s_name,
                   {_duck_trigrams('s_name')} AS ta,
                   {_duck_trigrams("'Supplier#000000010'")} AS tb
            FROM supplier
        )
        SELECT s_name,
               round(len(list_intersect(ta, tb))::DOUBLE
                     / (len(ta) + len(tb) - len(list_intersect(ta, tb))), 6)
                   AS sim
        FROM t
        WHERE len(list_intersect(ta, tb))::DOUBLE
              / (len(ta) + len(tb) - len(list_intersect(ta, tb))) > 0.3
    """,
    doc="pg_trgm similarity() as JVM-side trigram-set Jaccard; fuzzy "
    "match supplier names above the 0.3 similarity threshold "
    "(pg_trgm's default similarity_threshold).",
    tags=("textsearch", "fuzzy", "scalar"),
)
def scalar_trigram_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    sim = trigram_similarity(F.col("s_name"), F.lit("Supplier#000000010"))
    return sup.select(
        "s_name", F.round(sim, 6).alias("sim")
    ).filter(sim > 0.3)


@register(
    "join_fuzzy_trigram",
    oracle=f"""
        WITH t AS (
            SELECT p_partkey, {_duck_trigrams('p_name')} AS tg
            FROM part WHERE p_partkey <= 500
        )
        SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
               round(len(list_intersect(a.tg, b.tg))::DOUBLE
                     / (len(a.tg) + len(b.tg) - len(list_intersect(a.tg, b.tg))),
                     6) AS sim
        FROM t a JOIN t b ON a.p_partkey < b.p_partkey
        WHERE len(list_intersect(a.tg, b.tg))::DOUBLE
              / (len(a.tg) + len(b.tg) - len(list_intersect(a.tg, b.tg))) >= 0.55
        ORDER BY id_a, id_b
    """,
    doc="Fuzzy JOIN on trigram similarity (beyond the reference: "
    "pg_trgm only offers the scalar + GiST index lookup, and SURVEY "
    "§2.3 notes the reference has no fuzzy join operator): part-name "
    "pairs with trigram Jaccard >= 0.55. Spark-first shape: candidate "
    "pairs come from an equi-join on EXPLODED shared trigrams (only "
    "pairs sharing a trigram are ever formed — the oracle's quadratic "
    "cross-pair form is exactly what this avoids), then the exact "
    "similarity is verified from the two materialized trigram arrays.",
    tags=("textsearch", "fuzzy", "join"),
)
def join_fuzzy_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").where(F.col("p_partkey") <= 500)
    parts = part.select(
        "p_partkey", trigrams_col(F.col("p_name")).alias("tg")
    )
    # position-explode over the materialized padded string, not
    # explode(tg): a Project directly under Generate gets inlined and
    # re-evaluates the whole trigram transform per emitted element
    # (the 20x trap documented at pipeline/dedup.exploded_shingle_hashes)
    padded = part.select(
        "p_partkey",
        F.concat(F.lit("  "), F.lower("p_name"), F.lit(" ")).alias("__pad"),
    )
    ex = (
        padded.select(
            "p_partkey",
            "__pad",
            F.explode(F.sequence(F.lit(1), F.length("__pad") - 2)).alias("__i"),
        )
        .select(
            "p_partkey",
            F.substring(F.col("__pad"), F.col("__i"), F.lit(3)).alias("t"),
        )
        .distinct()
    )
    cand = (
        ex.select(F.col("p_partkey").alias("id_a"), "t")
        .join(ex.select(F.col("p_partkey").alias("id_b"), "t"), "t")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    a = parts.select(F.col("p_partkey").alias("id_a"), F.col("tg").alias("tg_a"))
    b = parts.select(F.col("p_partkey").alias("id_b"), F.col("tg").alias("tg_b"))
    joined = cand.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("tg_a", "tg_b"))
    union = F.size("tg_a") + F.size("tg_b") - inter
    sim = inter / union
    return (
        joined.select("id_a", "id_b", F.round(sim, 6).alias("sim"))
        .where(sim >= 0.55)
        .orderBy("id_a", "id_b")
    )


@register(
    "text_phrase_search",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source,
               list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                           w -> w <> '') AS ws
        FROM documents
    ), hits AS (
        SELECT doc_id, source,
               len(list_filter(range(1, len(ws)),
                               i -> ws[i] = 'the' AND ws[i + 1] = 'of'))
                   AS n_phrase,
               len(list_filter(range(1, greatest(len(ws) - 1, 1)),
                               i -> ws[i] = 'the' AND ws[i + 2] = 'of'))
                   AS n_near2
        FROM toks
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN n_phrase > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_phrase,
           CAST(sum(n_phrase) AS BIGINT) AS n_occurrences,
           CAST(sum(CASE WHEN n_near2 > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_near2
    FROM hits GROUP BY source ORDER BY source
    """,
    doc="Phrase search — tsquery FOLLOWED BY / `<->` and `<2>` distance "
    "operators (tsquery_phrase, adt/tsquery_op.c; tsvector positional "
    "matching in tsvector_op.c): adjacency is tested on the token "
    "POSITION arrays (ws[i]='the' AND ws[i+1]='of'), exactly how the "
    "reference walks lexeme positions, realized as JVM array "
    "higher-order functions — row-local, map-only, zero shuffles "
    "before the per-source rollup. `<2>` (distance-2) uses the same "
    "walk with offset 2.",
    tags=("textsearch", "phrase", "pipeline"),
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ws = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
        lambda w: w != F.lit(""),
    )
    base = docs.select("doc_id", "source", ws.alias("ws"))

    def count_pairs(offset: int):
        # positions 1..len-offset; PG-style 1-based element_at. Guarded:
        # sequence(1, 0) produces the DESCENDING array [1, 0] and
        # element_at(ws, 0) raises INVALID_INDEX_OF_ZERO, so documents
        # with <= offset tokens short-circuit to 0 matches.
        idx = F.sequence(F.lit(1), F.size("ws") - offset)
        n = F.size(
            F.filter(
                idx,
                lambda i: (F.element_at(F.col("ws"), i) == F.lit("the"))
                & (F.element_at(F.col("ws"), i + offset) == F.lit("of")),
            )
        )
        return F.when(F.size("ws") > offset, n).otherwise(F.lit(0))

    hits = base.select(
        "source",
        count_pairs(1).alias("n_phrase"),
        count_pairs(2).alias("n_near2"),
    )
    return (
        hits.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("n_phrase") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_docs_phrase"),
            F.sum("n_phrase").cast("bigint").alias("n_occurrences"),
            F.sum(F.when(F.col("n_near2") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_docs_near2"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# text search dictionaries: english stopwords + snowball-lite stemming
# ---------------------------------------------------------------------------

#: The snowball english stopword list the reference ships verbatim
#: (src/backend/snowball/stopwords/english.stop, 127 entries) — config
#: data, not code; it is what `to_tsvector('english', ...)` drops.
ENGLISH_STOPWORDS: tuple[str, ...] = (
    "i me my myself we our ours ourselves you your yours yourself "
    "yourselves he him his himself she her hers herself it its itself "
    "they them their theirs themselves what which who whom this that "
    "these those am is are was were be been being have has had having "
    "do does did doing a an the and but if or because as until while "
    "of at by for with about against between into through during "
    "before after above below to from up down in out on off over under "
    "again further then once here there when where why how all any "
    "both each few more most other some such no nor not only own same "
    "so than too very s t can will just don should now"
).split()

#: Snowball-lite suffix rules, first-match-wins within a step, steps
#: applied in sequence (dict_simple.c hands lexemes to the snowball
#: stemmer, snowball/libstemmer/stem_UTF_8_english.c; this is the
#: documented high-frequency subset: plural fold, -ed/-ing, common
#: derivational endings). (suffix, min_token_len, chars_to_keep).
_STEM_STEPS: tuple[tuple[tuple[str, int, str], ...], ...] = (
    # step 1a: plurals. 'ss' is an identity guard so 'caress' never
    # loses its final s.
    (("sses", 5, "ss"), ("ies", 4, "i"), ("ss", 0, "ss"), ("s", 4, "")),
    # step 1b: past/progressive (conservative lengths: no 'e' restore)
    (("ing", 6, ""), ("ed", 5, "")),
    # step 2/3 subset: common derivational endings
    (("ly", 5, ""), ("ness", 6, ""), ("ment", 7, ""), ("ful", 6, "")),
)


def _stem_case_sql(var: str, rules: tuple[tuple[str, int, str], ...]) -> str:
    """One first-match-wins CASE over suffix rules — identical SQL text
    runs on Spark and DuckDB (substr/length/LIKE shared semantics), so
    the oracle recomputes the very same stemmer from raw tokens."""
    whens = []
    for suffix, minlen, keep in rules:
        cut = len(suffix) - len(keep)
        repl = f"substr({var}, 1, length({var}) - {cut})" if cut else var
        whens.append(
            f"WHEN length({var}) >= {minlen} AND {var} LIKE '%{suffix}' "
            f"THEN {repl}"
        )
    return "CASE " + " ".join(whens) + f" ELSE {var} END"


def tsvector_lexemes_sql(text_expr: str, engine: str) -> str:
    """to_tsvector('english', x) analog as ONE SQL expression for the
    given engine ('spark' | 'duckdb'): tokenize, strip punctuation,
    drop stopwords, stem, distinct, sort. Entirely engine-side — on
    Spark this is whole-stage-codegen'd array algebra, no Python."""
    t, f_, d, srt, contains = (
        ("transform", "filter", "array_distinct", "array_sort", "array_contains")
        if engine == "spark"
        else ("list_transform", "list_filter", "list_distinct", "list_sort", "list_contains")
    )
    stop_arr = "[" + ", ".join(f"'{w}'" for w in ENGLISH_STOPWORDS) + "]"
    if engine == "spark":
        stop_arr = "array(" + ", ".join(f"'{w}'" for w in ENGLISH_STOPWORDS) + ")"
    toks = (
        f"{t}({f_}(split(lower(trim({text_expr})), '\\\\s+'), "
        f"w -> w <> ''), w -> regexp_replace(w, '[^a-z0-9]', ''))"
    )
    if engine == "duckdb":
        toks = (
            f"{t}({f_}(regexp_split_to_array(trim(lower({text_expr})), '\\s+'), "
            f"w -> w <> ''), w -> regexp_replace(w, '[^a-z0-9]', '', 'g'))"
        )
    kept = (
        f"{f_}({toks}, w -> w <> '' AND NOT {contains}({stop_arr}, w))"
    )
    stemmed = kept
    for step in _STEM_STEPS:
        stemmed = f"{t}({stemmed}, w -> {_stem_case_sql('w', step)})"
    return f"{srt}({d}({stemmed}))"


@register(
    "text_tsvector_stemmed",
    oracle=f"""
        WITH v AS (
            SELECT doc_id,
                   {tsvector_lexemes_sql("text", "duckdb")} AS lexemes
            FROM documents
        )
        SELECT doc_id, array_to_string(lexemes, ' ') AS lexemes,
               len(lexemes) AS n_lexemes,
               len(list_intersect(lexemes, ['model', 'train', 'languag']))
                   AS n_matched
        FROM v
        WHERE doc_id % 37 = 0
        ORDER BY doc_id
    """,
    doc="to_tsvector('english', ...) with dictionaries: snowball "
    "stopword file (src/backend/snowball/stopwords/english.stop) + "
    "snowball-lite stemming (dict_simple.c -> libstemmer english "
    "subset: plural fold, -ed/-ing, derivational endings), then a "
    "stemmed tsquery match — 'training'/'models'/'language' all hit "
    "their stems. The IDENTICAL stemmer SQL runs on DuckDB, so the "
    "dictionary itself is differentially tested, not just the match.",
    tags=("textsearch", "pipeline"),
)
def text_tsvector_stemmed(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    lex = F.expr(tsvector_lexemes_sql("text", "spark"))
    terms = F.array(*[F.lit(t) for t in ("model", "train", "languag")])
    return (
        docs.where(F.col("doc_id") % 37 == 0)
        .select(
            "doc_id",
            lex.alias("lexemes"),
        )
        .select(
            "doc_id",
            # string-joined: the driver's canonicalizer cannot hash raw
            # ARRAY cells (CORRECTNESS_r05 red); the lexeme LIST is
            # still what both stemmers produce and compare.
            F.array_join("lexemes", " ").alias("lexemes"),
            F.size("lexemes").cast("bigint").alias("n_lexemes"),
            F.size(F.array_intersect(F.col("lexemes"), terms))
            .cast("bigint")
            .alias("n_matched"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# ts_headline — best-fragment highlighting
# ---------------------------------------------------------------------------


def ts_headline_sql(
    text_expr: str,
    terms: tuple[str, ...],
    engine: str,
    before: int = 5,
    after: int = 5,
) -> str:
    """ts_headline('english-ish', text, query) analog as ONE generated
    SQL expression per engine (reference: src/backend/tsearch/wparser.c
    ts_headline -> prsd_headline's cover-window selection). Simplified
    cover policy: the window of `before`+1+`after` tokens around the
    FIRST token matching any query term, matched terms wrapped in
    <b></b>; when nothing matches, the leading window is returned
    unhighlighted (PG's ShortWord fallback). Pure array algebra —
    tokenize once, one pass, no Python."""
    if engine == "spark":
        t, f_, pos, sl, join, contains = (
            "transform",
            "filter",
            "array_position",
            "slice",
            "array_join",
            "array_contains",
        )
        terms_arr = "array(" + ", ".join(f"'{w}'" for w in terms) + ")"
        split = f"split(trim({text_expr}), '\\\\s+')"
    else:
        t, f_, pos, sl, join, contains = (
            "list_transform",
            "list_filter",
            "list_position",
            "list_slice",
            "array_to_string",
            "list_contains",
        )
        terms_arr = "[" + ", ".join(f"'{w}'" for w in terms) + "]"
        split = f"regexp_split_to_array(trim({text_expr}), '\\s+')"
    toks = f"{f_}({split}, w -> w <> '')"
    norm = (
        "regexp_replace(lower(w), '[^a-z0-9]', '')"
        if engine == "spark"
        else "regexp_replace(lower(w), '[^a-z0-9]', '', 'g')"
    )
    hits = f"{t}({toks}, w -> {contains}({terms_arr}, {norm}))"
    first = f"{pos}({hits}, true)"
    start = f"greatest(1, {first} - {before})"
    window_len = before + after + 1
    if engine == "spark":
        window = f"slice({toks}, CAST({start} AS INT), {window_len})"
        fallback = f"slice({toks}, 1, {window_len})"
    else:
        window = f"list_slice({toks}, {start}, {start} + {window_len} - 1)"
        fallback = f"list_slice({toks}, 1, {window_len})"
    marked = (
        f"{t}({window}, w -> CASE WHEN {contains}({terms_arr}, {norm}) "
        f"THEN '<b>' || w || '</b>' ELSE w END)"
    )
    if engine == "spark":
        return (
            f"CASE WHEN {first} IS NOT NULL AND {first} > 0 "
            f"THEN array_join({marked}, ' ') "
            f"ELSE array_join({fallback}, ' ') END"
        )
    return (
        f"CASE WHEN {first} IS NOT NULL AND {first} > 0 "
        f"THEN array_to_string({marked}, ' ') "
        f"ELSE array_to_string({fallback}, ' ') END"
    )


_HEADLINE_TERMS = ("model", "data", "training")


@register(
    "text_ts_headline",
    oracle=f"""
        SELECT doc_id,
               {ts_headline_sql("text", _HEADLINE_TERMS, "duckdb")} AS headline
        FROM documents
        WHERE doc_id % 41 = 0
        ORDER BY doc_id
    """,
    doc="ts_headline analog (tsearch/wparser.c ts_headline, "
    "prsd_headline cover selection): highlight the first-cover window "
    "with <b> markers, leading-window fallback when the query misses. "
    "The SAME generated array-algebra expression runs on DuckDB, so "
    "the highlighter logic itself is differentially tested.",
    tags=("textsearch", "pipeline"),
)
def text_ts_headline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.where(F.col("doc_id") % 41 == 0)
        .select(
            "doc_id",
            F.expr(ts_headline_sql("text", _HEADLINE_TERMS, "spark")).alias(
                "headline"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "text_setweight_zone_rank",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(trim(lower(text)),
                                                     '\\s+'),
                               w -> w <> '') AS words
            FROM documents
        ), zones AS (
            SELECT doc_id,
                   list_distinct(words[1:8]) AS title_lex,
                   list_distinct(words[9:]) AS body_lex
            FROM toks
        )
        SELECT doc_id,
               len(list_intersect(title_lex, ['data', 'model'])) AS n_a,
               len(list_intersect(body_lex, ['data', 'model'])) AS n_d,
               round(1.0 * len(list_intersect(title_lex, ['data', 'model']))
                     + 0.1 * len(list_intersect(body_lex, ['data', 'model'])),
                     2) AS wrank
        FROM zones
        WHERE len(list_intersect(title_lex, ['data', 'model'])) > 0
           OR len(list_intersect(body_lex, ['data', 'model'])) > 0
    """,
    doc="setweight + weighted ts_rank (tsrank.c calc_rank with the "
    "'{0.1, 0.2, 0.4, 1.0}' weight vector; tstypes.sql "
    "'w:4A,3B,2C,1D'): the document's head zone gets weight A (1.0), "
    "the body weight D (0.1) — setweight(to_tsvector(title),'A') || "
    "setweight(to_tsvector(body),'D') re-expressed as two lexeme "
    "arrays whose match counts combine linearly. Zone split, "
    "intersection and weighting are all JVM array expressions.",
    tags=("textsearch", "pipeline"),
)
def text_setweight_zone_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    terms = F.array(F.lit("data"), F.lit("model"))
    words = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda w: w != F.lit(""),
    )
    d = docs.select(
        "doc_id",
        F.size(
            F.array_intersect(
                F.array_distinct(F.slice(words, 1, 8)), terms
            )
        ).alias("n_a"),
        F.size(
            F.array_intersect(
                F.array_distinct(
                    F.slice(words, 9, F.greatest(F.size(words) - 8, F.lit(0)))
                ),
                terms,
            )
        ).alias("n_d"),
    )
    return d.filter((F.col("n_a") > 0) | (F.col("n_d") > 0)).select(
        "doc_id",
        "n_a",
        "n_d",
        F.round(
            F.col("n_a") * F.lit(1.0) + F.col("n_d") * F.lit(0.1), 2
        ).alias("wrank"),
    )
