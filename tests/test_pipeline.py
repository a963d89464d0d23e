"""Property tests for pipeline operators whose semantics aren't
SQL-expressible (sketches, sampling, Python kernels) — the 'weaker
check' tier of SURVEY.md §5, made strong with invariants instead of
row-identity."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from cloudberry_spark.catalog import load_table
from cloudberry_spark.registry import all_queries
from tests.conftest import SF_DIR

QUERIES = all_queries()


def test_approx_distinct_within_bounds(spark):
    rows = QUERIES["agg_approx_distinct"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        # approx_count_distinct default rsd = 5%; the query itself
        # computes the 4-sigma bound check as approx_ok.
        assert r.approx_ok == 1 and r.exact_parts > 0, r


def test_bernoulli_sample_fraction(spark):
    total = load_table(spark, SF_DIR, "lineitem").count()
    sampled = QUERIES["sample_bernoulli"].fn(spark, SF_DIR).count()
    frac = sampled / total
    assert 0.05 < frac < 0.15, f"10% Bernoulli sample returned {frac:.1%}"


def test_bpeish_tokens_match_python_reference(spark):
    out = QUERIES["text_bpeish_token_count"].fn(spark, SF_DIR).collect()
    docs = {r.doc_id: r.text for r in load_table(spark, SF_DIR, "documents").collect()}
    pat = re.compile(r"\s+|(?<=[a-z])(?=[0-9])|(?<=[0-9])(?=[a-z])|(?=[^\w\s])|(?<=[^\w\s])")
    for r in out[:100]:
        ref = len([p for p in pat.split(docs[r.doc_id].strip().lower()) if p])
        assert r.n_bpeish_tokens == ref, (r.doc_id, r.n_bpeish_tokens, ref)


def test_minhash_lsh_recall_vs_exact_jaccard(spark, ddb):
    """Every pair with true Jaccard >= 0.6 must be an LSH candidate
    (4 bands x 2 rows: P(miss at j=0.6) = (1-.36)^4 ≈ 17%; the fixture
    near-dups are far above 0.6 so misses indicate a real bug)."""
    lsh = {
        (r.id_a, r.id_b)
        for r in QUERIES["dedup_minhash_lsh_pairs"].fn(spark, SF_DIR).collect()
    }
    jac = QUERIES["dedup_ngram_jaccard"].fn(spark, SF_DIR).collect()
    strong = [(r.id_a, r.id_b) for r in jac if r.jaccard >= 0.6]
    assert strong, "fixture should contain strong near-dups"
    missed = [p for p in strong if p not in lsh]
    assert not missed, f"LSH missed high-similarity pairs: {missed}"


def test_multimodal_decode_deterministic_schema(spark):
    from cloudberry_spark.catalog import load_table
    from cloudberry_spark.pipeline.multimodal import decode_media, fake_media
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_DIR, "documents")
    df1 = decode_media(
        fake_media(docs).where(F.col("media_type") != "video/mp4"))
    assert [f.name for f in df1.schema.fields] == [
        "doc_id", "media_type", "n_bytes", "width", "height", "features",
    ]
    a = df1.orderBy("doc_id").collect()
    b = decode_media(
        fake_media(docs).where(F.col("media_type") != "video/mp4")
    ).orderBy("doc_id").collect()
    assert a == b, "stub decode must be deterministic"
    assert all(len(r.features) == 8 for r in a)
    assert all(r.media_type in ("image/png", "audio/wav") for r in a)
    # the registered (oracled) projection explodes to 8 rows per doc
    q = QUERIES["multimodal_decode_features"]
    rows = q.fn(spark, SF_DIR).collect()
    assert len(rows) == 8 * len(a)
    assert all(0 <= r.feat_k < 997 for r in rows)


def test_multimodal_decode_unknown_type_raises(spark):
    from cloudberry_spark.catalog import load_table
    from cloudberry_spark.pipeline.multimodal import (
        _decode_stub, decode_media, fake_media,
    )
    from pyspark.sql import functions as F

    with pytest.raises(NotImplementedError):
        _decode_stub(b"xx", "application/pdf")
    # the batched kernel keeps the codec error path: an unknown media
    # type fails the decode task, same as the per-row stub
    docs = load_table(spark, SF_DIR, "documents").limit(4)
    bad = fake_media(docs).withColumn("media_type", F.lit("application/pdf"))
    with pytest.raises(Exception, match="no codec for application/pdf"):
        decode_media(bad).collect()


def test_multimodal_decode_block_matches_stub():
    """Differential pin for the vectorized decode kernel (r13 §11):
    _decode_block must be BIT-exact with the per-row _decode_stub —
    same chunk windows, same integer sums, same float division — over
    real fixture payloads plus the length edge cases (0..10 bytes, the
    exact-8 and tail-remainder shapes)."""
    import pandas as pd

    from cloudberry_spark.pipeline.multimodal import _decode_block, _decode_stub

    pq = pd.read_parquet(f"{SF_DIR}/documents.parquet", columns=["text"])
    payloads = [t.encode("utf-8") for t in pq["text"]]
    payloads += [bytes(range(k)) for k in range(0, 11)]
    payloads += [b"\xff" * 8, b"\x01" * 16, b"\x7f" * 17]
    width, height, feats = _decode_block(payloads)
    for i, p in enumerate(payloads):
        w, h, f = _decode_stub(p, "image/png")
        assert (width[i], height[i]) == (w, h), (i, len(p))
        assert feats[i].tolist() == f, (i, len(p))


def test_multimodal_frame_sample_counts(spark):
    rows = QUERIES["multimodal_frame_sample"].fn(spark, SF_DIR).collect()
    assert rows
    per_doc: dict[int, list[int]] = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r.frame_idx)
    for doc, idxs in per_doc.items():
        assert idxs == sorted(idxs)
        assert all(i % 10 == 0 for i in idxs), (doc, idxs[:5])


def test_ivf_recall_against_brute(spark):
    """IVF with nprobe=1 on near-random vectors still must return valid
    rankings: every returned neighbor's cosine must match brute-force
    scoring, and per-query results are internally sorted."""
    brute = QUERIES["sim_knn_brute"].fn(spark, SF_DIR).collect()
    ivf = QUERIES["sim_ivf_knn"].fn(spark, SF_DIR).collect()
    bmap = {(r.query_id, r.neighbor_id): r.cos_sim for r in brute}
    for r in ivf:
        if (r.query_id, r.neighbor_id) in bmap:
            assert abs(bmap[(r.query_id, r.neighbor_id)] - r.cos_sim) < 1e-9
    by_q: dict[int, list[float]] = {}
    for r in sorted(ivf, key=lambda r: (r.query_id, r.rnk)):
        by_q.setdefault(r.query_id, []).append(r.cos_sim)
    for q, sims in by_q.items():
        assert sims == sorted(sims, reverse=True), (q, sims)


def test_percentile_approx_within_bounds(spark):
    """percentile_approx(acc=1000) must land within 2% relative error of
    the exact sort-based percentile (the GK sketch's rank-error bound is
    1/accuracy of the row count — far tighter than 2% here)."""
    rows = QUERIES["agg_percentile_approx"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.p50_ok == 1 and r.p95_ok == 1, r
        assert r.p50_exact > 0 and r.p95_exact > r.p50_exact, r


def test_connected_components_chain_and_singletons(spark):
    """A 5-node chain (diameter 4, needs multiple propagation rounds) must
    collapse to one component; isolated nodes stay singletons."""
    from cloudberry_spark.pipeline.components import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(8)], ["id"])
    # chain 0-1-2-3-4, pair 6-7, node 5 isolated
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (6, 7)], ["id_a", "id_b"]
    )
    got = {
        r.node: r.component
        for r in connected_components(nodes, edges, "id").collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 5, 6: 6, 7: 6}


def test_hll_union_rollup_is_merge_exact(spark, ddb):
    """Union of monthly HLL sketches must equal the direct quarterly
    sketch (register-wise max is lossless over a partition of the rows),
    and land within 5% of the exact distinct count."""
    from pyspark.sql import functions as F

    from cloudberry_spark.catalog import load_table
    from cloudberry_spark.registry import all_queries

    flagged = {
        r["q"]: (r["exact_customers"], r["est_ok"])
        for r in all_queries()["agg_hll_union_rollup"].fn(spark, SF_DIR).collect()
    }
    assert flagged and all(ok == 1 for _, ok in flagged.values()), flagged
    orders = load_table(spark, SF_DIR, "orders")
    # merge-exactness: union of monthly sketches == direct quarterly sketch
    monthly = orders.groupBy(
        F.quarter("o_orderdate").alias("q"), F.month("o_orderdate").alias("m")
    ).agg(F.expr("hll_sketch_agg(CAST(o_custkey AS STRING))").alias("sk"))
    rolled = {
        r["q"]: r["est"]
        for r in monthly.groupBy("q")
        .agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"))
        .collect()
    }
    direct = {
        r["q"]: r["est"]
        for r in orders.groupBy(F.quarter("o_orderdate").alias("q"))
        .agg(F.expr("hll_sketch_estimate(hll_sketch_agg(CAST(o_custkey AS STRING)))").alias("est"))
        .collect()
    }
    assert rolled == direct  # merge-exactness
    exact = dict(
        ddb.execute(
            "SELECT quarter(o_orderdate) q, count(DISTINCT o_custkey) FROM orders GROUP BY q"
        ).fetchall()
    )
    for q, (exact_spark, _) in flagged.items():
        assert exact_spark == exact[q], (q, exact_spark, exact[q])


def test_row_ids_unique_and_dense(spark):
    """misc_row_ids: both id kinds globally unique; monotonically
    increasing ids are dense (0..n-1) within each partition."""
    from pyspark.sql import functions as F

    df = QUERIES["misc_row_ids"].fn(spark, SF_DIR)
    n = df.count()
    assert df.select("row_id").distinct().count() == n
    assert df.select("row_uuid").distinct().count() == n
    # density: per 33-bit partition block, ids are 0..count-1
    blocks = (
        df.select((F.col("row_id").bitwiseAND(F.lit((1 << 33) - 1))).alias("lo"),
                  (F.col("row_id") / F.lit(1 << 33)).cast("long").alias("hi"))
        .groupBy("hi")
        .agg(F.count(F.lit(1)).alias("c"), F.max("lo").alias("mx"))
        .collect()
    )
    for r in blocks:
        assert r["mx"] == r["c"] - 1, r


def test_connected_components_uses_reliable_checkpoint_when_dir_set(spark, tmp_path):
    """With a checkpoint dir configured (the production posture),
    scratch.checkpoint must take the reliable checkpoint() path — the
    lineage survives executor loss — and the result must be unchanged."""
    from cloudberry_spark.pipeline.components import connected_components

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    try:
        sc.setCheckpointDir(str(tmp_path / "ckpt"))
        nodes = spark.createDataFrame([(i,) for i in range(6)], ["id"])
        edges = spark.createDataFrame([(0, 1), (1, 2), (4, 5)], ["id_a", "id_b"])
        got = {
            r.node: r.component
            for r in connected_components(nodes, edges, "id").collect()
        }
        assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4}
        # reliable checkpoint files actually landed in the dir
        import glob as _glob

        assert _glob.glob(str(tmp_path / "ckpt") + "/*")
    finally:
        # SparkContext.setCheckpointDir(null) clears it (Option(null)=None)
        sc._jsc.setCheckpointDir(None)


def test_lsh_hot_bucket_cap_bounds_candidates(spark):
    """A c-copy boilerplate cluster must emit O(c) star links, not
    O(c^2/2) all-pairs (r5/r6 verdict: the 100 TB job-killer). 1000
    identical docs share every band bucket; with the cap the candidate
    count is exactly c-1 = 999 (min-id star), not 499500."""
    from cloudberry_spark.pipeline.dedup import lsh_candidate_pairs

    c = 1000
    text = "the same boilerplate sentence repeated across the corpus ok"
    docs = spark.createDataFrame(
        [(i, text) for i in range(c)]
        + [(c + i, f"unique document number {i} with its own words {i}")
           for i in range(5)],
        "doc_id: long, text: string",
    )
    pairs = lsh_candidate_pairs(docs, "doc_id", "text")
    n = pairs.count()
    assert n < 2 * c, f"hot bucket emitted {n} pairs (O(c^2) blowup)"
    # connectivity is preserved: every clone still reaches doc 0
    ids = {r.id_b for r in pairs.where("id_a = 0").collect()}
    assert ids == set(range(1, c))


def test_lsh_small_buckets_keep_all_pairs(spark):
    """Below the cap the full verify-fidelity pair set survives."""
    from cloudberry_spark.pipeline.dedup import lsh_candidate_pairs

    text = "another boilerplate sentence repeated a handful of times only"
    docs = spark.createDataFrame(
        [(i, text) for i in range(4)],
        "doc_id: long, text: string",
    )
    got = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(docs, "doc_id", "text").collect()
    }
    assert got == {(a, b) for a in range(4) for b in range(4) if a < b}


def test_arrow_hash_kernels_match_column_expressions(spark):
    """The Arrow-vectorized shingle/MinHash kernels (the hot path since
    the r12 optimization round) must produce bit-identical integers to
    the original column-expression forms they replaced — on the real
    fixture corpus plus whitespace/degenerate edge cases."""
    from pyspark.sql import functions as F

    from cloudberry_spark.catalog import load_table
    from cloudberry_spark.pipeline.dedup import (
        _MINHASH_UDF,
        _SHINGLE_UDF,
        N_HASHES,
        words_col,
    )
    from cloudberry_spark.pipeline.hashing import (
        spark_perm,
        spark_shingle_hashes,
        spark_word_hashes,
    )
    from tests.conftest import SF_DIR

    edge = spark.createDataFrame(
        [
            (9001, "one"),
            (9002, "two words"),
            (9003, "  leading and trailing  "),
            (9004, "tabs\tand\nnewlines\tsplit   too"),
            (9005, "MiXeD CaSe TEXT lowercases First"),
            (9006, ""),
        ],
        "doc_id: long, text: string",
    )
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    both = docs.unionByName(edge)

    expr_sha = spark_shingle_hashes(spark_word_hashes(words_col(F.col("text"))))
    sha_diff = (
        both.select("doc_id", expr_sha.alias("e"), _SHINGLE_UDF("text").alias("a"))
        .where(F.col("e") != F.col("a"))
        .count()
    )
    assert sha_diff == 0

    expr_mh = [
        F.array_min(F.transform(expr_sha, lambda h: spark_perm(h, i))).alias(f"e{i}")
        for i in range(N_HASHES)
    ]
    mh = both.select("doc_id", _MINHASH_UDF("text").alias("s"), *expr_mh)
    cond = " OR ".join(f"s.mh{i} <> e{i}" for i in range(N_HASHES))
    assert mh.where(cond).count() == 0


def test_materialize_scratch_path_is_per_process(spark, tmp_path):
    """Concurrent processes at the same SF (test shards, parallel bench
    invocations) must not overwrite each other's scratch
    materializations mid-read: the path is keyed by PID, and a second
    call with the same tag rewrites (not appends) its own path."""
    import os

    from cloudberry_spark import scratch

    df = spark.range(5).withColumnRenamed("id", "v")
    out = scratch.materialize(df, spark, str(tmp_path / "sfX"), "ppid_probe")
    assert out.count() == 5
    path = scratch.path(str(tmp_path / "sfX"), "ppid_probe")
    assert f"pid{os.getpid()}" in path.split(os.sep)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    # overwrite semantics: a second call with different data replaces
    out2 = scratch.materialize(
        spark.range(3).withColumnRenamed("id", "v"),
        spark, str(tmp_path / "sfX"), "ppid_probe",
    )
    assert out2.count() == 3
    import shutil

    shutil.rmtree(path, ignore_errors=True)


def test_ngram_jaccard_matches_exploded_set_formula(spark):
    """The array verify equals |A∩B| / |A∪B| over the exploded distinct
    shingle sets, on hand-built arrays: duplicates inside an array, a
    length-1 array, empty arrays and a disjoint pair. Pairs with no
    common shingle stay absent, and under ANSI two empty arrays raise
    no divide-by-zero (also with a threshold filter on top)."""
    from cloudberry_spark.pipeline.dedup import ngram_jaccard

    arrays = {
        1: [1, 1, 2, 3],  # duplicates count once
        2: [1, 2, 2, 4],
        3: [5],  # length 1
        4: [5, 6],
        5: [],  # empty
        6: [],
        7: [7, 8],  # disjoint from 1
    }
    sh = spark.createDataFrame(
        list(arrays.items()), "doc_id: long, sha: array<bigint>"
    )
    cand = [(1, 2), (3, 4), (5, 6), (1, 5), (1, 7)]
    pairs = spark.createDataFrame(cand, "id_a: long, id_b: long")
    want = {}
    for a, b in cand:
        sa, sb = set(arrays[a]), set(arrays[b])
        if sa & sb:
            want[(a, b)] = len(sa & sb) / len(sa | sb)
    assert want == {(1, 2): 0.5, (3, 4): 0.5}

    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        out = ngram_jaccard(None, pairs, "doc_id", None, sh=sh)
        assert out.columns == ["id_a", "id_b", "jaccard"]
        got = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
        kept = out.where(F.col("jaccard") >= 0.5).count()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert got == want
    assert kept == 2
