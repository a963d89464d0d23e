"""Deduplication operators over the ``documents`` table.

Five strategies, all DataFrame→DataFrame and all JVM-side (no Python in
the hot path):

- exact: canonicalized-text hash groupBy.
- MinHash + LSH: shingle → k minhashes → band → bucket self-join. The
  standard near-dup pipeline for web-scale corpora (Broder '97); at
  100 TB the band-bucket join replaces the quadratic all-pairs compare
  with a shuffle whose keys are (band_idx, band_hash).
- SimHash: per-token hash bit votes → fingerprint (Charikar '02).
- n-gram Jaccard: exact similarity on LSH candidates only (verify step).
- embedding cosine near-dup: see pipeline.similarity.

Everything is oracle-checked against DuckDB bit-for-bit, via the
md5-based cross-engine hashes in pipeline.hashing.

The reference has no near-dup operators (tsvector text search is the
closest, adt/tsvector_op.c); these extend the engine for LLM training-
data work per the build brief.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cloudberry_spark import scratch
from cloudberry_spark.catalog import load_table
from cloudberry_spark.pipeline.hashing import (
    MERSENNE_P,
    PERM_PARAMS,
    _comb3,
    duckdb_base_hash,
    duckdb_perm,
    duckdb_shingle_hashes,
    make_arrow_minhash_udf,
    make_arrow_shingle_sig_udf,
    make_arrow_shingle_udf,
    spark_base_hash,
    spark_perm,
    spark_shingle_hashes,
    spark_word_hashes,
)
from cloudberry_spark.registry import register

#: Arrow-vectorized shingle/MinHash kernels, instantiated once so every
#: query references the same serialized function (plan/exchange reuse).
_SHINGLE_UDF = make_arrow_shingle_udf()
_MINHASH_UDF = make_arrow_minhash_udf()
_SHINGLE_SIG_UDF = make_arrow_shingle_sig_udf()

N_HASHES = 8  # k minhash permutations
N_BANDS = 4  # LSH bands of r = k/bands rows each
SHINGLE_WORDS = 3

#: Hot-bucket cap for LSH candidate generation. A band bucket with <=
#: this many members emits all pairs (full verify fidelity); a larger
#: bucket emits only STAR links (bucket-min-id -> member), which is
#: O(c) instead of O(c^2/2) and preserves exactly (a) the connected
#: components and (b) the "has a smaller sibling" drop set. Web-corpus
#: boilerplate clusters (c ~ 10^6 at 100 TB) would otherwise emit
#: ~5*10^11 pairs per band and kill the job.
LSH_MAX_BUCKET = 32


# ---------------------------------------------------------------------------
# Shared building blocks (Spark side)
# ---------------------------------------------------------------------------


def words_col(text: Column) -> Column:
    return F.split(F.trim(F.lower(text)), r"\s+")


def exploded_shingle_hashes(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, h): one row per shingle hash — the explode-safe form.

    The shingle array comes from the Arrow kernel, which materializes a
    PHYSICAL column before the Generate node — so ``explode`` iterates
    ready-made values and cannot re-evaluate the hash pipeline per
    element (the 20x inlined-expression trap the previous
    position-explode formulation worked around).
    """
    return docs.select(
        F.col(id_col), _SHINGLE_UDF(F.col(text_col)).alias("__sha")
    ).select(id_col, F.explode("__sha").alias("h"))


def minhash_signatures(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, mh0..mh{k-1}): k-permutation MinHash signature per document.

    Shape: one Arrow-vectorized kernel computes shingle hashes and all
    k permutation minima per document — pure map-side projection, ZERO
    shuffles (min is duplicate-insensitive, so no dedup is needed
    either). The reference has no sketch operators at all; at 100 TB
    this plan is embarrassingly parallel: signature cost scales with
    bytes scanned, no exchange, no state.
    """
    return docs.select(
        F.col(id_col), _MINHASH_UDF(F.col(text_col)).alias("__s")
    ).select(
        id_col, *[F.col(f"__s.mh{i}").alias(f"mh{i}") for i in range(N_HASHES)]
    )


def lsh_bands(sig: DataFrame, id_col: str, *keep: str) -> DataFrame:
    """(id, *keep, band_idx, band_hash): one row per LSH band.

    band_hash is md5 of the ':'-joined minhashes in the band — collision-
    safe and cross-engine portable. ``keep`` names per-document columns
    of ``sig`` that ride along on every band row.
    """
    rows_per_band = N_HASHES // N_BANDS
    bands = []
    for b in range(N_BANDS):
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        bands.append(
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(F.concat_ws(":", *[c.cast("string") for c in cols])).alias("band_hash"),
            )
        )
    return sig.select(
        id_col, *keep, F.explode(F.array(*bands)).alias("band")
    ).select(
        id_col,
        *keep,
        F.col("band.band_idx").alias("band_idx"),
        F.col("band.band_hash").alias("band_hash"),
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    max_bucket: int = LSH_MAX_BUCKET,
) -> DataFrame:
    """Distinct candidate near-dup pairs (id_a < id_b) from band buckets.

    Scale guard: buckets larger than ``max_bucket`` emit STAR links
    (bucket min-id -> each other member, O(c)) instead of all pairs
    (O(c^2/2)). Connectivity (hence connected-components dedup) and the
    "appears as id_b" drop set are both invariant under this rewrite:
    within a bucket, every member still reaches the min-id, and every
    non-min member still appears exactly once on the id_b side. Only
    pair-level outputs for hot buckets thin out — by construction those
    are near-certain duplicates anyway (an entire bucket shares a band
    hash). The bucket stats ride a window over the SAME key the
    self-join shuffles on, so no extra exchange pattern is introduced.

    Plan note: the three branches (all-pairs left/right, star) each
    re-derive the windowed bands lineage, so unpersisted input pays the
    signature map ~3x. That is bounded (bands are 3 narrow columns,
    signatures are map-side) and NOT the hazard the cap removes (the
    O(c^2) pair blowup); a production pipeline at 100 TB persists the
    band index once and probes it incrementally —
    dedup_incremental_index_probe (below) is that path. The pairs are
    id pairs only: ngram_jaccard verifies them against each document's
    shingle array, so no shingle table is exploded for them.
    """
    bands = lsh_bands(minhash_signatures(docs, id_col, text_col), id_col)
    w = Window.partitionBy("band_idx", "band_hash")
    stats = bands.withColumn("__bn", F.count(F.lit(1)).over(w)).withColumn(
        "__bmin", F.min(id_col).over(w)
    )
    small = stats.where(F.col("__bn") <= max_bucket)
    left = small.select(F.col(id_col).alias("id_a"), "band_idx", "band_hash")
    right = small.select(F.col(id_col).alias("id_b"), "band_idx", "band_hash")
    all_pairs = (
        left.join(right, ["band_idx", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    star = stats.where(
        (F.col("__bn") > max_bucket) & (F.col(id_col) > F.col("__bmin"))
    ).select(F.col("__bmin").alias("id_a"), F.col(id_col).alias("id_b"))
    return all_pairs.unionByName(star).distinct()


def ngram_jaccard(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for given candidate pairs.

    The verify stage after LSH: each pair meets both documents' shingle
    arrays (one join per side, on the document id) and scores
    ``size(array_intersect) / size(array_union)``. Both functions treat
    their arrays as sets, so a shingle repeated inside one document
    counts once: the value is the integer-set Jaccard |A∩B| / |A∪B|,
    the same double as intersection counting over a distinct
    (id, shingle) table. As with that equi-join, only pairs with at
    least one common shingle come back; the filter runs before the
    division, so two empty arrays never divide by zero.

    ``sh`` lets the caller pass a precomputed (id, sha: array<bigint>)
    table, e.g. a materialized index; otherwise the Arrow shingle
    kernel builds it from ``text_col``. Columns of ``pairs`` beyond
    (id_a, id_b) ride through to the output. At scale a pair ships its
    two arrays, no more bytes than the exploded rows it used to join,
    and no corpus-wide explode + distinct runs.
    """
    if sh is None:
        sh = docs.select(
            F.col(id_col), _SHINGLE_UDF(F.col(text_col)).alias("sha")
        )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sha").alias("sha_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sha").alias("sha_b"))
    n_common = F.size(F.array_intersect("sha_a", "sha_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .where(n_common > 0)
        .select(
            *pairs.columns,
            (n_common / F.size(F.array_union("sha_a", "sha_b"))).alias(
                "jaccard"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Registered queries (each with a bit-exact DuckDB oracle)
# ---------------------------------------------------------------------------


def _duckdb_shingle_cte() -> str:
    return f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, unnest({duckdb_shingle_hashes('text')}) AS h
      FROM documents
    )"""


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(array_to_string(
             regexp_split_to_array(trim(lower(text)), '\\s+'), ' ')) AS canon_hash,
           count(*)    AS n_copies,
           min(doc_id) AS keeper_doc_id
    FROM documents
    GROUP BY 1
    ORDER BY canon_hash
    """,
    doc="Exact dedup on whitespace/case-canonicalized text: hash groupBy, "
    "keep min doc_id. One shuffle on the 128-bit hash, not the text.",
    tags=("pipeline", "dedup"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    canon = F.md5(F.concat_ws(" ", words_col(F.col("text"))))
    return (
        docs.groupBy(canon.alias("canon_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .orderBy("canon_hash")
    )


def _minhash_oracle() -> str:
    mh = ",\n           ".join(
        f"min({duckdb_perm('h', i)}) AS mh{i}" for i in range(N_HASHES)
    )
    return f"""{_duckdb_shingle_cte()}
    SELECT doc_id, {mh}
    FROM sh GROUP BY doc_id ORDER BY doc_id
    """


@register(
    "dedup_minhash_signatures",
    oracle=_minhash_oracle(),
    doc="MinHash signatures (k=8 universal-hash permutations over word "
    "3-gram shingles) — bit-identical to the DuckDB oracle via the "
    "md5-derived cross-engine hash (pipeline.hashing).",
    tags=("pipeline", "dedup", "minhash"),
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_signatures(docs, "doc_id", "text").orderBy("doc_id")


def lsh_oracle_ctes() -> str:
    """CTE body ``sh AS (...), sig AS (...), bands AS (...)`` shared by the
    LSH-pairs oracle here and the connected-components oracle
    (pipeline.components)."""
    rows_per_band = N_HASHES // N_BANDS
    mh = ",\n             ".join(
        f"min({duckdb_perm('h', i)}) AS mh{i}" for i in range(N_HASHES)
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_idx, md5(concat_ws(':', {cols})) AS band_hash FROM sig".format(
            b=b,
            cols=", ".join(
                f"CAST(mh{b * rows_per_band + r} AS VARCHAR)" for r in range(rows_per_band)
            ),
        )
        for b in range(N_BANDS)
    )
    return f"""{_duckdb_shingle_cte()},
    sig AS (SELECT doc_id, {mh} FROM sh GROUP BY doc_id),
    bands AS ({band_rows})"""


def lsh_pairs_sql(
    bands: str = "bands",
    id_col: str = "doc_id",
    max_bucket: int = LSH_MAX_BUCKET,
) -> str:
    """DuckDB SELECT producing the SAME capped candidate pairs as
    lsh_candidate_pairs: all-pairs for buckets of <= max_bucket members,
    star links (bucket min-id -> member) for hot buckets."""
    bkt = (
        f"(SELECT band_idx, band_hash, count(*) AS bn, "
        f"min({id_col}) AS bmin FROM {bands} GROUP BY 1, 2)"
    )
    return f"""
      SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
      FROM {bands} a
      JOIN {bands} b ON a.band_idx = b.band_idx
                    AND a.band_hash = b.band_hash
                    AND a.{id_col} < b.{id_col}
      JOIN {bkt} k
        ON k.band_idx = a.band_idx AND k.band_hash = a.band_hash
      WHERE k.bn <= {max_bucket}
      UNION
      SELECT k.bmin AS id_a, a.{id_col} AS id_b
      FROM {bands} a
      JOIN {bkt} k
        ON k.band_idx = a.band_idx AND k.band_hash = a.band_hash
      WHERE k.bn > {max_bucket} AND a.{id_col} > k.bmin
    """


def _lsh_pairs_oracle() -> str:
    return f"""{lsh_oracle_ctes()}
    SELECT id_a, id_b FROM ({lsh_pairs_sql()})
    ORDER BY id_a, id_b
    """


@register(
    "dedup_minhash_lsh_pairs",
    oracle=_lsh_pairs_oracle(),
    doc="MinHash-LSH candidate pairs: signatures banded 4x2, self-join on "
    "(band_idx, band_hash). The shuffle key is the band bucket — "
    "all-pairs similarity without the quadratic blowup.",
    tags=("pipeline", "dedup", "minhash"),
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return lsh_candidate_pairs(docs, "doc_id", "text").orderBy("id_a", "id_b")


def _ngram_jaccard_oracle(threshold: float) -> str:
    return f"""{_duckdb_shingle_cte()},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
              FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT id_a, id_b,
           CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) > {threshold}
    ORDER BY id_a, id_b
    """


@register(
    "dedup_ngram_jaccard",
    oracle=_ngram_jaccard_oracle(0.2),
    doc="n-gram (3-word shingle) Jaccard similarity, all pairs above 0.2. "
    "Implemented as a shingle-hash equi-join (intersection counting) — at "
    "scale, feed LSH candidates instead of all pairs (ngram_jaccard()).",
    tags=("pipeline", "dedup"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = exploded_shingle_hashes(docs, "doc_id", "text").distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # Prefix filtering (PPJoin family, exact): if J(A,B) >= t, A and B
    # share a token among their RAREST |s|-ceil(t|s|)+1 tokens (rank all
    # tokens by global document frequency, rare first). Candidate
    # generation joins only on prefix tokens, so the c_h^2 blowup on hot
    # shingles (tiny shared vocabulary => some shingles appear in
    # thousands of docs) never happens; exact intersection counting then
    # runs only on surviving candidate pairs. Lossless: the oracle is
    # still the naive all-pairs form.
    t = 0.2
    dfreq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "h")
    prefix = (
        sh.join(dfreq, "h")
        .withColumn("rk", F.row_number().over(w))
        .join(sizes, "doc_id")
        .where(F.col("rk") <= F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1)
        .select("doc_id", "h")
    )
    cand = (
        prefix.alias("pa")
        .select(F.col("doc_id").alias("id_a"), "h")
        .join(prefix.select(F.col("doc_id").alias("id_b"), "h"), "h")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    a = sh.select(F.col("doc_id").alias("id_a"), "h")
    b = sh.select(F.col("doc_id").alias("id_b"), "h")
    inter = (
        cand.join(a, "id_a")
        .join(b, ["id_b", "h"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = (
        inter.join(sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))).alias(
                "jaccard"
            ),
        )
    )
    return jac.where(F.col("jaccard") > 0.2).orderBy("id_a", "id_b")


SIMHASH_BITS = 16


def _simhash_oracle() -> str:
    bit_sums = ",\n           ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(SIMHASH_BITS)
    )
    fingerprint = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, {duckdb_base_hash('w')} AS h
      FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
            FROM documents) t
    ), bits AS (
      SELECT doc_id, {bit_sums}
      FROM tok GROUP BY doc_id
    )
    SELECT doc_id, CAST({fingerprint} AS BIGINT) AS simhash
    FROM bits ORDER BY doc_id
    """


@register(
    "dedup_simhash",
    oracle=_simhash_oracle(),
    doc="SimHash fingerprints (Charikar): per-token hash bit votes → "
    f"{SIMHASH_BITS}-bit fingerprint. Near-dups share fingerprints / "
    "low hamming distance. Token multiplicity counts (bag, not set).",
    tags=("pipeline", "dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(words_col(F.col("text"))).alias("w")
    ).select("doc_id", spark_base_hash(F.col("w")).alias("h"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    bits = tok.groupBy("doc_id").agg(*bit_sums)
    fingerprint = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fingerprint = term if fingerprint is None else fingerprint + term
    return bits.select(
        "doc_id", fingerprint.cast("bigint").alias("simhash")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Benchmark decontamination (shingle-overlap against a held-out set)
# ---------------------------------------------------------------------------


@register(
    "dedup_contamination_check",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, source, list_distinct({duckdb_shingle_hashes('text')}) AS sl
      FROM documents
    ), bench AS (
      SELECT DISTINCT unnest(sl) AS s FROM sh WHERE doc_id % 97 = 0
    ), corpus AS (
      SELECT doc_id, unnest(sl) AS s FROM sh WHERE doc_id % 97 <> 0
    ), hits AS (
      SELECT c.doc_id, count(*) AS n_hit
      FROM corpus c JOIN bench b USING (s) GROUP BY c.doc_id
    ), doc AS (
      SELECT sh.source,
             coalesce(h.n_hit, 0) * 1.0 / greatest(len(sh.sl), 1) AS ratio
      FROM sh LEFT JOIN hits h USING (doc_id) WHERE sh.doc_id % 97 <> 0
    )
    SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN ratio >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated,
           round(avg(ratio), 9) AS avg_overlap
    FROM doc GROUP BY source ORDER BY source
    """,
    doc="Benchmark decontamination: flag training documents whose 3-word "
    "shingle sets overlap a held-out evaluation set (here the doc_id%97 "
    "slice stands in for the benchmark suite). The benchmark side is "
    "distinct-exploded and BROADCAST — real benchmark suites are MBs "
    "against a 100 TB corpus, so the corpus is scanned exactly once "
    "map-side with no corpus shuffle except the final per-source "
    "partial agg; per-doc overlap ratio = |shingles ∩ bench| / "
    "|shingles|, shingles via the cross-engine md5 pipeline "
    "(pipeline/hashing.py) so the oracle is bit-identical.",
    tags=("pipeline", "dedup", "contamination", "scale"),
)
def dedup_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        "source",
        F.array_distinct(_SHINGLE_UDF(F.col("text"))).alias("sl"),
    )
    bench = (
        sh.where(F.col("doc_id") % 97 == 0)
        .select(F.explode("sl").alias("s"))
        .distinct()
    )
    corpus_docs = sh.where(F.col("doc_id") % 97 != 0)
    hits = (
        corpus_docs.select("doc_id", F.explode("sl").alias("s"))
        .join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    doc = corpus_docs.join(hits, "doc_id", "left").select(
        "source",
        (
            F.coalesce(F.col("n_hit"), F.lit(0))
            / F.greatest(F.size("sl"), F.lit(1))
        ).alias("ratio"),
    )
    return (
        doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("ratio") >= 0.5, 1).otherwise(0)).alias(
                "n_contaminated"
            ),
            F.round(F.avg("ratio"), 9).alias("avg_overlap"),
        )
        .orderBy("source")
    )


@register(
    "dedup_containment_pairs",
    oracle=f"""{_duckdb_shingle_cte()},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
              FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT id_a, id_b,
           CASE WHEN sa.n <= sb.n THEN id_a ELSE id_b END AS contained_id,
           round(CAST(n_common AS DOUBLE) / least(sa.n, sb.n), 6)
               AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_common AS DOUBLE) / least(sa.n, sb.n) >= 0.5
    ORDER BY id_a, id_b
    """,
    doc="Containment detection (Broder's containment coefficient "
    "|A∩B| / min|A|,|B| — the sub-document dedup metric: a short doc "
    "pasted inside a long one scores low Jaccard but high containment, "
    "so Jaccard-threshold dedup misses it). Same shingle-hash equi-join "
    "machinery as dedup_ngram_jaccard — intersection counts shuffle on "
    "the 60-bit shingle hash, never text; at scale feed LSH candidates "
    "(lsh_candidate_pairs) instead of the open join. Emits which side "
    "is the contained (smaller) document.",
    tags=("pipeline", "dedup", "containment"),
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = exploded_shingle_hashes(docs, "doc_id", "text").distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("id_a"), "h")
    b = sh.select(F.col("doc_id").alias("id_b"), "h")
    inter = (
        a.join(b, "h")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"))
    cont = F.col("n_common").cast("double") / F.least("n_a", "n_b")
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .where(cont >= 0.5)
        .select(
            "id_a",
            "id_b",
            F.when(F.col("n_a") <= F.col("n_b"), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("contained_id"),
            F.round(cont, 6).alias("containment"),
        )
        .orderBy("id_a", "id_b")
    )


def _minhash_estimate_oracle() -> str:
    est = " + ".join(
        f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END"
        for i in range(N_HASHES)
    )
    return f"""{lsh_oracle_ctes()},
    cand AS ({lsh_pairs_sql()}),
    est AS (
      SELECT c.id_a, c.id_b,
             CAST({est} AS DOUBLE) / {N_HASHES} AS jaccard_est
      FROM cand c
      JOIN sig a ON a.doc_id = c.id_a
      JOIN sig b ON b.doc_id = c.id_b
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS n_common
      FROM cand c
      JOIN sh s1 ON s1.doc_id = c.id_a
      JOIN sh s2 ON s2.doc_id = c.id_b AND s2.h = s1.h
      GROUP BY c.id_a, c.id_b
    )
    SELECT e.id_a, e.id_b,
           round(e.jaccard_est, 6) AS jaccard_est,
           round(CAST(coalesce(i.n_common, 0) AS DOUBLE)
                 / (sa.n + sb.n - coalesce(i.n_common, 0)), 6)
               AS jaccard_exact,
           round(abs(e.jaccard_est
                     - CAST(coalesce(i.n_common, 0) AS DOUBLE)
                       / (sa.n + sb.n - coalesce(i.n_common, 0))), 6)
               AS abs_err
    FROM est e
    LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
    JOIN sizes sa ON sa.doc_id = e.id_a
    JOIN sizes sb ON sb.doc_id = e.id_b
    ORDER BY e.id_a, e.id_b
    """


@register(
    "dedup_minhash_estimator_audit",
    oracle=_minhash_estimate_oracle(),
    doc="MinHash estimator-quality audit, in-engine: for every LSH "
    "candidate pair, the signature-agreement Jaccard ESTIMATE "
    "(matching components / k — the Broder'97 unbiased estimator the "
    "whole MinHash stack rests on) side by side with the EXACT shingle "
    "Jaccard and the absolute error — the sketch-accuracy companion to "
    "sim_lsh_recall/sim_ivf_recall. Signatures and exact intersection "
    "both ride existing bit-identical machinery, so the audit itself "
    "is fully differential; estimate computation joins the tiny "
    "signature table (k ints/doc), exact verification shuffles only "
    "candidate shingle hashes.",
    tags=("pipeline", "dedup", "minhash", "recall"),
)
def dedup_minhash_estimator_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cand = lsh_candidate_pairs(docs, "doc_id", "text")
    sig = minhash_signatures(docs, "doc_id", "text")
    a = sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(N_HASHES)],
    )
    b = sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(N_HASHES)],
    )
    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    )
    est = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a", "id_b",
            (agree.cast("double") / N_HASHES).alias("jaccard_est"),
        )
    )
    exact = ngram_jaccard(docs, cand, "doc_id", "text")
    return (
        est.join(exact, ["id_a", "id_b"], "left")
        .select(
            "id_a",
            "id_b",
            F.round("jaccard_est", 6).alias("jaccard_est"),
            F.round(F.coalesce("jaccard", F.lit(0.0)), 6).alias("jaccard_exact"),
            F.round(
                F.abs(F.col("jaccard_est") - F.coalesce("jaccard", F.lit(0.0))), 6
            ).alias("abs_err"),
        )
        .orderBy("id_a", "id_b")
    )


#: Per-source document cap for dedup_source_cap (CommonCrawl-style).
SOURCE_CAP = 15


@register(
    "dedup_source_cap",
    oracle=f"""
    WITH ranked AS (
        SELECT source,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id) AS r
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN r <= {SOURCE_CAP} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(sum(CASE WHEN r > {SOURCE_CAP} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped
    FROM ranked
    GROUP BY source
    ORDER BY source
    """,
    doc="Per-source document cap (the CommonCrawl/CCNet host-level "
    "frequency cap: no single domain may dominate the training mix): "
    "keep the top-{cap} docs per source by (n_chars, doc_id) — a "
    "deterministic quality proxy — and report kept/dropped per "
    "source. One window shuffle partitioned on source; a hot domain "
    "concentrates its own partition only, and since every row beyond "
    "rank cap is discarded the two-level bounded top-k rewrite "
    "(win_topk_two_level) drops in unchanged when a single domain "
    "exceeds a task's memory. All-integer output.",
    tags=("pipeline", "dedup", "sampling"),
)
def dedup_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    ranked = docs.select("source", F.row_number().over(w).alias("r"))
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("r") <= SOURCE_CAP, 1).otherwise(0)).alias(
                "n_kept"
            ),
            F.sum(F.when(F.col("r") > SOURCE_CAP, 1).otherwise(0)).alias(
                "n_dropped"
            ),
        )
        .orderBy("source")
    )


@register(
    "dedup_cross_source_leakage",
    oracle=r"""
    WITH fp AS (
        SELECT md5(array_to_string(list_slice(
                   regexp_split_to_array(trim(lower(text)), '\s+'),
                   1, 8), ' ')) AS fp,
               source
        FROM documents WHERE length(trim(text)) > 0
    ), clusters AS (
        SELECT fp,
               count(DISTINCT source) AS n_sources,
               CAST(count(*) AS BIGINT) AS n_copies,
               array_to_string(list_sort(list(DISTINCT source)), ',')
                   AS sources
        FROM fp GROUP BY fp
        HAVING count(*) > 1
    )
    SELECT sources,
           CAST(max(n_sources) AS INT) AS n_sources,
           CAST(count(*) AS BIGINT) AS n_dup_clusters,
           CAST(sum(n_copies) AS BIGINT) AS total_copies,
           CAST(CAST(max(n_sources) AS INT) > 1 AS INT) AS is_cross_source
    FROM clusters
    GROUP BY sources
    ORDER BY sources
    """,
    doc="Duplicate-provenance / cross-source leakage report (the "
    "governance question behind train/test contamination): every "
    "exact-duplicate cluster grouped by WHICH sources it spans "
    "(sorted joined string, driver-hashable), flagged cross-source "
    "when it leaks across provenance boundaries (a healthy corpus "
    "may have none — the fixtures' dups are within-source). One "
    "shuffle on the md5 fingerprint — the same scale shape as "
    "dedup_exact, sliced by provenance instead of keeping a "
    "canonical copy.",
    tags=("pipeline", "dedup", "governance"),
)
def dedup_cross_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim("text")) > 0
    )
    # 8-word-prefix fingerprint: the fixtures have no full-text exact
    # dups, but shared openings mark template/near-dup provenance —
    # the chunk-fingerprint granularity of dedup_substring_chunks.
    fp = docs.select(
        F.md5(
            F.array_join(
                F.slice(F.split(F.trim(F.lower("text")), r"\s+"), 1, 8), " "
            )
        ).alias("fp"),
        "source",
    )
    clusters = (
        fp.groupBy("fp")
        .agg(
            F.countDistinct("source").alias("n_sources"),
            F.count(F.lit(1)).alias("n_copies"),
            F.array_join(
                F.array_sort(F.collect_set("source")), ","
            ).alias("sources"),
        )
        .where(F.col("n_copies") > 1)
    )
    return (
        clusters.groupBy("sources")
        .agg(
            F.max("n_sources").cast("int").alias("n_sources"),
            F.count(F.lit(1)).alias("n_dup_clusters"),
            F.sum("n_copies").cast("bigint").alias("total_copies"),
            (F.max("n_sources") > 1).cast("int").alias("is_cross_source"),
        )
        .orderBy("sources")
    )


@register(
    "dedup_edit_distance_verify",
    oracle=f"""{lsh_oracle_ctes()}
    , cand AS ({lsh_pairs_sql()})
    SELECT c.id_a, c.id_b,
           levenshtein(substr(da.text, 1, 160), substr(db.text, 1, 160))
               AS lev,
           round(1.0 - levenshtein(substr(da.text, 1, 160),
                                   substr(db.text, 1, 160))
                 / CAST(greatest(length(substr(da.text, 1, 160)),
                                 length(substr(db.text, 1, 160)), 1)
                        AS DOUBLE), 6) AS sim
    FROM cand c
    JOIN documents da ON da.doc_id = c.id_a
    JOIN documents db ON db.doc_id = c.id_b
    ORDER BY id_a, id_b
    """,
    doc="Edit-distance verification of LSH candidates (the character-"
    "level verify stage complementing dedup_ngram_jaccard's set-based "
    "one; fuzzystrmatch levenshtein, contrib/fuzzystrmatch): candidate "
    "pairs come from the banded MinHash join, then normalized "
    "Levenshtein similarity is computed on 160-char prefixes ONLY for "
    "those pairs. Cost model at 100 TB: levenshtein is O(m*n) per "
    "pair, so it must never run all-pairs — bounding it to LSH "
    "survivors (and to fixed-length prefixes) keeps the verify stage "
    "linear in candidate count; the join to fetch texts shuffles only "
    "candidate doc_ids, not the corpus.",
    tags=("pipeline", "dedup", "verify"),
)
def dedup_edit_distance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(docs, "doc_id", "text")
    pref = docs.select(
        "doc_id", F.substring("text", 1, 160).alias("pref")
    )
    pa = pref.select(F.col("doc_id").alias("id_a"), F.col("pref").alias("ta"))
    pb = pref.select(F.col("doc_id").alias("id_b"), F.col("pref").alias("tb"))
    lev = F.levenshtein("ta", "tb")
    return (
        pairs.join(pa, "id_a")
        .join(pb, "id_b")
        .select(
            "id_a",
            "id_b",
            lev.cast("bigint").alias("lev"),
            F.round(
                1.0
                - lev
                / F.greatest(
                    F.length("ta"), F.length("tb"), F.lit(1)
                ).cast("double"),
                6,
            ).alias("sim"),
        )
        .orderBy("id_a", "id_b")
    )


@register(
    "dedup_incremental_index_probe",
    oracle=f"""{lsh_oracle_ctes()},
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
        WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    ver AS (
        SELECT c.id_a, c.id_b
        FROM (SELECT c.id_a, c.id_b, count(*) AS n_common
              FROM cand c
              JOIN sh a ON a.doc_id = c.id_a
              JOIN sh b ON b.doc_id = c.id_b AND b.h = a.h
              GROUP BY 1, 2) c
        JOIN sizes sa ON sa.doc_id = c.id_a
        JOIN sizes sb ON sb.doc_id = c.id_b
        WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
    )
    SELECT d.source,
           count(*) AS n_batch,
           CAST(sum(CASE WHEN v.id_a IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup,
           CAST(sum(coalesce(v.n_hits, 0)) AS BIGINT) AS n_index_hits
    FROM documents d
    LEFT JOIN (SELECT id_a, count(DISTINCT id_b) AS n_hits
               FROM ver GROUP BY id_a) v
      ON v.id_a = d.doc_id
    WHERE d.doc_id % 2 = 1
    GROUP BY d.source ORDER BY d.source
    """,
    doc="Incremental dedup against a PERSISTED corpus index — the "
    "production growth path (index once, probe every new batch) that "
    "plain all-corpus LSH lacks: one Arrow kernel pass writes the "
    "standing index to scratch parquet (source, shingle array and "
    "MinHash signature per doc); the even-doc_id half's bands are the "
    "index, the odd half is the incoming batch whose bands probe it "
    "with one equi-join, and each distinct candidate pair verifies "
    "with exact shingle Jaccard >= 0.5 on the two docs' shingle arrays "
    "from that index (no exploded shingle table). One aggregation over "
    "batch rows and verified pairs reports per-source batch size, "
    "near-dup count and distinct index docs hit. Incoming text never "
    "joins the index by content — only 128-bit band keys and the "
    "candidates' shingle arrays move.",
    tags=("pipeline", "dedup", "incremental"),
)
def dedup_incremental_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # The standing index, ONE Arrow pass + ONE materialization per run
    # (r12 opt; was: separate passes for the even-half signatures, the
    # odd-half probe signatures, and the full-corpus shingle table —
    # three text decodes + md5 sweeps and two scratch writes): the
    # combined kernel emits each doc's shingle array AND its MinHash
    # signature together, and every downstream consumer (index bands,
    # probe bands, Jaccard-verify shingle arrays, the batch's sources)
    # reads the scratch table. At scale this IS the standing index
    # layout: shingle sets for verify next to signatures for banding.
    sig = scratch.materialize(
        docs.select(
            "doc_id", "source", _SHINGLE_SIG_UDF(F.col("text")).alias("__s")
        ).select(
            "doc_id",
            "source",
            F.col("__s.sha").alias("sha"),
            *[F.col(f"__s.mh{i}").alias(f"mh{i}") for i in range(N_HASHES)],
        ),
        spark, sf_dir, "dedup_shingle_sig_index",
    )
    batch = sig.filter(F.col("doc_id") % 2 == 1)
    index = lsh_bands(sig.filter(F.col("doc_id") % 2 == 0), "doc_id")
    probe = lsh_bands(batch, "doc_id", "source").withColumnRenamed(
        "doc_id", "id_a"
    )
    cand = (
        probe.join(
            index.select(
                F.col("doc_id").alias("id_b"), "band_idx", "band_hash"
            ),
            ["band_idx", "band_hash"],
        )
        .select("id_a", "source", "id_b")
        .distinct()
    )
    hits = ngram_jaccard(
        docs, cand, "doc_id", "text", sh=sig.select("doc_id", "sha")
    ).where(F.col("jaccard") >= 0.5)
    # one aggregation over batch ∪ hits: a batch row has no id_b, a hit
    # row is one distinct verified (id_a, id_b) pair
    rows = batch.select(
        "source",
        F.lit(None).cast("bigint").alias("id_a"),
        F.lit(None).cast("bigint").alias("id_b"),
    ).unionByName(hits.select("source", "id_a", "id_b"))
    return (
        rows.groupBy("source")
        .agg(
            F.count(F.when(F.col("id_b").isNull(), 1)).alias("n_batch"),
            F.countDistinct("id_a").alias("n_dup"),
            F.count("id_b").alias("n_index_hits"),
        )
        .orderBy("source")
    )
