"""Independent validations for queries whose oracle embeds golden values
or whose semantics need a from-the-spec reference implementation."""

from __future__ import annotations

from cloudberry_spark.registry import all_queries
from tests.conftest import SF_DIR


def _soundex_ref(w: str) -> str:
    """American Soundex, implemented from the published algorithm
    (independent of both Spark and the golden VALUES in the oracle)."""
    w = "".join(ch for ch in w.upper() if ch.isalpha())
    if not w:
        return ""
    codes: dict[str, str] = {}
    for grp, d in (("BFPV", "1"), ("CGJKQSXZ", "2"), ("DT", "3"),
                   ("L", "4"), ("MN", "5"), ("R", "6")):
        for c in grp:
            codes[c] = d
    out, prev = w[0], codes.get(w[0], "")
    for ch in w[1:]:
        c = codes.get(ch, "")
        if c and c != prev:
            out += c
        if ch not in "HW":  # H/W are transparent: they don't reset runs
            prev = c
    return (out + "000")[:4]


def test_soundex_golden_matches_independent_reference(spark):
    """The oracle for scalar_soundex_fuzzy hardcodes soundex codes in a
    VALUES table (DuckDB has no soundex). Prove those codes against an
    independent implementation, and prove Spark's builtin agrees."""
    rows = all_queries()["scalar_soundex_fuzzy"].fn(spark, SF_DIR).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.sx == _soundex_ref(r.r_name), (r.r_name, r.sx)


def test_execute_pipe_runs_one_process_per_partition(spark):
    """The EXECUTE source must keep partition-parallelism: piping a
    2-partition frame yields results from both partitions."""
    from pyspark.sql.types import LongType, StructField, StructType

    from cloudberry_spark.sources.external import execute_pipe

    df = spark.range(0, 100, 1, 2)  # 2 partitions
    out = execute_pipe(
        df,
        "awk -F, '{print $1 * 3}'",
        StructType([StructField("x3", LongType())]),
        ["id"],
    )
    got = sorted(r.x3 for r in out.collect())
    assert got == [i * 3 for i in range(100)]


def test_interval_column_returns_native_timedelta(spark):
    """scalar_interval_column must produce DayTimeIntervalType columns
    (python timedelta on collect), not a day-count integer."""
    import datetime

    rows = all_queries()["scalar_interval_column"].fn(spark, SF_DIR).collect()
    assert rows and isinstance(rows[0].max_age, datetime.timedelta)


def test_misra_gries_lossy_regime_error_bound(spark):
    """MG with capacity < NDV: every true heavy hitter (freq > n/capacity)
    must survive the merge, and reported counts are undercounts by at
    most n/capacity (Agarwal et al., PODS 2012)."""
    from collections import Counter

    from pyspark.sql import functions as F

    from cloudberry_spark.operators.sketches import misra_gries_topk

    # skewed stream: term_i appears (50-i)^2 times, i in [0,50) -> NDV 50
    rows = [(f"t{i:02d}",) for i in range(50) for _ in range((50 - i) ** 2)]
    truth = Counter(t for t, in rows)
    n = len(rows)
    capacity = 8
    df = spark.createDataFrame(rows, "term string").repartition(4)
    got = {
        r.term: r.est_count
        for r in misra_gries_topk(df, capacity=capacity, min_count=1).collect()
    }
    bound = n / capacity
    for term, freq in truth.items():
        if freq > bound:
            assert term in got, f"heavy hitter {term} (freq {freq}) lost"
    for term, est in got.items():
        assert est <= truth[term], "MG must never overcount"
        assert truth[term] - est <= bound, (
            f"{term}: undercount {truth[term] - est} exceeds n/k={bound}"
        )


def test_weighted_ares_prefers_heavy_weights(spark):
    """A-Res keys are ln(u)/w: a weight 1000x larger pulls the key
    toward 0 (the maximum), so overwhelming-weight rows must enter the
    sample ahead of light rows regardless of their hash draw."""
    from pyspark.sql import functions as F

    from cloudberry_spark.pipeline.hashing import spark_base_hash

    rows = [(i, 100_000 if i < 5 else 10) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    u = (spark_base_hash(F.col("doc_id").cast("string")) + F.lit(0.5)) / F.lit(
        float(1 << 60)
    )
    keyed = df.select(
        "doc_id", (F.log(u) / F.col("n_chars")).alias("ares_key")
    )
    top = {
        r.doc_id
        for r in keyed.orderBy(F.desc("ares_key"), "doc_id").limit(20).collect()
    }
    assert {0, 1, 2, 3, 4} <= top, f"heavy-weight rows missing from {top}"


def test_fixed_point_dsum_equals_legacy_decimal_sum(spark):
    """The fixed-point money sum (round->BIGINT->DECIMAL(38,0)) must be
    value-identical to the legacy per-row DECIMAL(18,s) cast it replaced
    for 1.7x speed, across all three TPC-H money scales on real fixture
    expressions."""
    from pyspark.sql import functions as F

    from cloudberry_spark.catalog import load_table
    from cloudberry_spark.operators.tpch import dsum
    from tests.conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    cases = [
        (F.col("l_extendedprice"), 2),
        (disc_price, 4),
        (disc_price * (1 + F.col("l_tax")), 6),
    ]
    aggs = []
    for i, (expr, s) in enumerate(cases):
        aggs.append(dsum(expr, s).alias(f"fp{i}"))
        aggs.append(
            F.sum(expr.cast(f"decimal(18,{s})")).cast("double").alias(f"legacy{i}")
        )
    row = li.agg(*aggs).collect()[0]
    for i in range(len(cases)):
        assert row[f"fp{i}"] == row[f"legacy{i}"], (
            f"scale case {i}: {row[f'fp{i}']} != {row[f'legacy{i}']}"
        )


def test_distributed_prefix_sum_matches_pandas_cumsum(spark):
    """The quantile-bucketed distributed prefix sum must equal a plain
    ordered cumsum — including under adversarial key distributions
    (duplicates, skew) that stress bucket-boundary handling. Guards the
    determinism fix: bucket ids are a pure function of the row, so the
    partial-totals branch and the join branch can never disagree (the
    spark_partition_id variant could, under AQE re-evaluation)."""
    import pandas as pd

    from pyspark.sql import functions as F

    from cloudberry_spark.pipeline.text import _distributed_prefix_sum

    # skewed + duplicate-heavy keys: k = (i*i) % 97, val = i % 11
    base = spark.range(5000).select(
        ((F.col("id") * F.col("id")) % 97).alias("k"),
        F.col("id").alias("tie"),
        (F.col("id") % 11).alias("v"),
    )
    got = (
        _distributed_prefix_sum(base, val="v", keys=("k", "tie"))
        .select("k", "tie", "cum")
        .toPandas()
        .sort_values(["k", "tie"])
        .reset_index(drop=True)
    )
    exp = (
        pd.DataFrame(
            {
                "k": [(i * i) % 97 for i in range(5000)],
                "tie": range(5000),
                "v": [i % 11 for i in range(5000)],
            }
        )
        .sort_values(["k", "tie"])
        .reset_index(drop=True)
    )
    exp["cum"] = exp["v"].cumsum()
    assert (got["cum"].to_numpy() == exp["cum"].to_numpy()).all()
    assert int(got["cum"].iloc[-1]) == int(exp["v"].sum())


def test_countmin_estimates_never_undercount(spark):
    """CMS one-sided error: every point estimate >= the exact count."""
    from cloudberry_spark.registry import all_queries

    rows = all_queries()["sketch_countmin_freq"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["est_count"] >= r["exact_count"]
        assert r["overestimate"] == r["est_count"] - r["exact_count"]


def test_bloom_has_no_false_negatives(spark):
    """Members must always test maybe-present; non-member FP rate must
    stay plausible for k=4/m=4096 at fixture cardinality (< 50%)."""
    from cloudberry_spark.registry import all_queries

    rows = {
        r["is_member"]: r
        for r in all_queries()["sketch_bloom_membership"].fn(spark, SF_DIR).collect()
    }
    assert rows[1]["n_maybe_present"] == rows[1]["n_probes"]
    assert rows[0]["n_maybe_present"] <= rows[0]["n_probes"] * 0.5


def test_jsonb_contains_semantics(spark):
    """jsonb @> recursive-subset semantics on constant patterns: object
    subset matches, extra target keys are fine, value mismatch fails,
    array containment requires every pattern element, numeric compare is
    value-based not text-based (1 vs 1.0)."""
    from pyspark.sql import functions as F

    from cloudberry_spark.operators.json_ops import (
        jsonb_contains,
        jsonb_exists,
        jsonb_exists_all,
        jsonb_exists_any,
    )

    df = spark.createDataFrame(
        [('{"a": 1, "b": {"c": "x", "d": true}, "tags": [1, 2, 3]}',)],
        ["doc"],
    )

    def ck(col):
        return df.select(col.alias("v")).collect()[0].v

    assert ck(jsonb_contains(F.col("doc"), {"a": 1})) is True
    assert ck(jsonb_contains(F.col("doc"), {"a": 1.0})) is True  # numeric
    assert ck(jsonb_contains(F.col("doc"), {"a": 2})) is False
    assert ck(jsonb_contains(F.col("doc"), {"b": {"c": "x"}})) is True
    assert ck(jsonb_contains(F.col("doc"), {"b": {"c": "y"}})) is False
    assert ck(jsonb_contains(F.col("doc"), {"b": {"d": True}})) is True
    assert ck(jsonb_contains(F.col("doc"), {"tags": [1, 3]})) is True
    assert ck(jsonb_contains(F.col("doc"), {"tags": [1, 4]})) is False
    assert ck(jsonb_exists(F.col("doc"), "a")) is True
    assert ck(jsonb_exists(F.col("doc"), "zz")) is False
    assert ck(jsonb_exists_any(F.col("doc"), ["zz", "a"])) is True
    assert ck(jsonb_exists_all(F.col("doc"), ["a", "b"])) is True
    assert ck(jsonb_exists_all(F.col("doc"), ["a", "zz"])) is False


def test_merge_multi_first_match_wins(spark, tmp_path):
    """merge_into_multi evaluates WHEN clauses in order, first match
    fires, at most one action per row (nodeModifyTable.c ExecMergeMatched
    contract): a row satisfying both the DELETE qualifier and the
    unqualified UPDATE must be deleted, not updated."""
    from pyspark.sql import functions as F

    from cloudberry_spark.operators.dml import merge_into_multi
    from cloudberry_spark.sources.snapshot import SnapshotTable

    path = str(tmp_path / "t")
    tgt = spark.createDataFrame(
        [(1, 10.0), (2, 200.0), (3, 30.0)], ["k", "v"]
    )
    st = SnapshotTable.init(path, tgt)
    src = spark.createDataFrame([(1, 0.0), (2, 0.0), (4, 40.0)], ["k", "v"])
    merge_into_multi(
        spark,
        st,
        src,
        on="k",
        matched_actions=[
            (F.col("v") < 100, "delete"),  # fires for k=1 (v=10)
            (None, {"v": F.col("v") + 1}),  # fires for k=2 only
        ],
    )
    out = {r.k: r.v for r in st.read(spark).collect()}
    assert 1 not in out          # deleted by first clause
    assert out[2] == 201.0       # updated by second clause
    assert out[3] == 30.0        # untouched (no source row)
    assert out[4] == 40.0        # inserted


def test_snapshot_concurrent_writer_conflict(spark, tmp_path):
    """Two writers read the same base version; the first commit wins,
    the second gets ConcurrentWriteError (the serialization-failure
    contract of nodeModifyTable.c's TM_Updated retry path) and its
    staged data never becomes visible."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from cloudberry_spark.sources.snapshot import (
        ConcurrentWriteError,
        SnapshotTable,
    )

    path = str(tmp_path / "snap")
    st = SnapshotTable.init(path, spark.createDataFrame([(1, 10)], ["k", "v"]))
    base = st.current_version()

    # writer A commits first
    a = st.read(spark, base).withColumn("v", F.col("v") + 1)
    st.commit_rewrite(a, base, label="writer-a")

    # writer B, still based on v0, must fail...
    b = st.read(spark, base).withColumn("v", F.col("v") + 100)
    with _pytest.raises(ConcurrentWriteError):
        st.commit_rewrite(b, base, label="writer-b")
    # ...and the table still shows writer A's result
    assert [(r.k, r.v) for r in st.read(spark).collect()] == [(1, 11)]

    # stale-base detection also guards the race where B checks the
    # pointer before A flips but A claims the manifest first: B's
    # O_EXCL manifest create for the same next version loses
    with _pytest.raises(ConcurrentWriteError):
        st._write_manifest(st.current_version(), parent=base, dirs=["x"])


def test_snapshot_time_travel_and_append(spark, tmp_path):
    """Append commits extend the manifest without rewriting standing
    filesets; every prior version stays readable."""
    from cloudberry_spark.sources.snapshot import SnapshotTable

    path = str(tmp_path / "tt")
    st = SnapshotTable.init(path, spark.createDataFrame([(1,)], ["k"]))
    st.commit_append(spark.createDataFrame([(2,)], ["k"]), 0)
    st.commit_append(spark.createDataFrame([(3,)], ["k"]), 1)
    assert st.current_version() == 2
    assert sorted(r.k for r in st.read(spark).collect()) == [1, 2, 3]
    assert sorted(r.k for r in st.read(spark, 1).collect()) == [1, 2]
    assert [r.k for r in st.read(spark, 0).collect()] == [1]
    # v2 manifest lists three filesets: nothing was rewritten
    assert len(st.manifest(2)["dirs"]) == 3


def test_snapshot_vacuum_reclaims_old_versions(spark, tmp_path):
    """vacuum(keep_versions=1) removes filesets only older snapshots
    reference; the current snapshot still reads intact, and time
    travel past the horizon fails cleanly."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from cloudberry_spark.sources.snapshot import SnapshotTable

    path = str(tmp_path / "vac")
    st = SnapshotTable.init(path, spark.createDataFrame([(1,)], ["k"]))
    st.commit_rewrite(st.read(spark).withColumn("k", F.col("k") + 1), 0)
    st.commit_append(spark.createDataFrame([(9,)], ["k"]), 1)
    deleted = st.vacuum(keep_versions=1)
    # v0's seed fileset is unreachable from v2 (v1 rewrote it); v1's
    # rewrite fileset is still IN v2's manifest (append kept it)
    # fileset dir names carry a per-creation unique suffix (never-reuse
    # discipline for Spark's FileStatusCache); match on the stable prefix
    assert len(deleted) == 1 and deleted[0].startswith("data-v0-seed")
    assert sorted(r.k for r in st.read(spark).collect()) == [2, 9]
    with _pytest.raises(FileNotFoundError):
        st.manifest(0)


def test_partition_confined_rewrite_leaves_files_untouched(spark, tmp_path):
    """commit_partition_rewrite must not rewrite, move, or touch the
    filesets of unmodified partitions — their manifest dirs AND the
    files inside are byte-identical across the commit."""
    import os

    from cloudberry_spark.sources.snapshot import SnapshotTable

    path = str(tmp_path / "part")
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0)], ["k", "p", "v"]
    )
    st = SnapshotTable.init_partitioned(path, df, "p", ["a", "b"])
    b_dir = st.manifest(0)["parts"]["b"]
    b_files = {
        f: os.path.getmtime(os.path.join(path, b_dir, f))
        for f in os.listdir(os.path.join(path, b_dir))
    }
    from pyspark.sql import functions as F

    upd = st.read(spark, 0).where("p = 'a'").withColumn("v", F.col("v") * 2)
    st.commit_partition_rewrite({"a": upd}, 0)
    m1 = st.manifest(1)["parts"]
    assert m1["b"] == b_dir  # untouched partition keeps its fileset
    assert m1["a"] != st.manifest(0)["parts"]["a"]
    for f, mt in b_files.items():
        assert os.path.getmtime(os.path.join(path, b_dir, f)) == mt
    rows = {(r.k, r.v) for r in st.read(spark).collect()}
    assert rows == {(1, 20.0), (3, 60.0), (2, 20.0)}


def test_plpgsql_query_loop_compiles_to_aggregate():
    """FOR r IN SELECT ... LOOP acc := acc + f(r.col) compiles to ONE
    scalar sum() subquery (exec_stmt_fors as join/aggregate form);
    free (non-record) terms ride count(*) so Spark never sees an
    aggregate mixing outer and local references."""
    from cloudberry_spark.functions.plpgsql import compile_plpgsql

    _, args, ret, expr = compile_plpgsql(
        """
        CREATE FUNCTION f(offs int8) RETURNS int8 AS $$
        DECLARE total int8 := 0;
        BEGIN
          FOR r IN SELECT k FROM src LOOP
            total := total + r.k + offs;
          END LOOP;
          RETURN total;
        END;
        $$ LANGUAGE plpgsql
        """
    )
    assert "sum(r.k)" in expr
    assert "count(*)" in expr and "offs" in expr
    # non-accumulation loop bodies fail loudly
    import pytest

    with pytest.raises(NotImplementedError, match="accumulation"):
        compile_plpgsql(
            """
            CREATE FUNCTION g() RETURNS int8 AS $$
            DECLARE total int8 := 0;
            BEGIN
              FOR r IN SELECT k FROM src LOOP
                total := total * r.k;
              END LOOP;
              RETURN total;
            END;
            $$ LANGUAGE plpgsql
            """
        )


def test_plpgsql_exception_divzero_guard():
    """EXCEPTION WHEN division_by_zero guards every division site's
    divisor; NULL divisors are NOT exceptions and stay NULL."""
    from cloudberry_spark.functions.plpgsql import compile_plpgsql

    _, _, _, expr = compile_plpgsql(
        """
        CREATE FUNCTION sr(a float8, b float8) RETURNS float8 AS $$
        BEGIN
          RETURN a / b;
        EXCEPTION WHEN division_by_zero THEN RETURN -1.0;
        END;
        $$ LANGUAGE plpgsql
        """
    )
    assert "CASE WHEN (b) = 0 THEN" in expr
    import pytest

    with pytest.raises(NotImplementedError, match="EXCEPTION"):
        compile_plpgsql(
            """
            CREATE FUNCTION h(a float8) RETURNS float8 AS $$
            BEGIN
              RETURN a;
            EXCEPTION WHEN undefined_table THEN RETURN 0;
            END;
            $$ LANGUAGE plpgsql
            """
        )


def test_plpgsql_setof_return_query_compiles():
    from cloudberry_spark.functions.plpgsql import compile_plpgsql_setof

    name, args, cols, sql = compile_plpgsql_setof(
        """
        CREATE FUNCTION keys_above(k int) RETURNS SETOF int8 AS $$
        BEGIN
          RETURN QUERY SELECT x FROM src WHERE x > k;
        END;
        $$ LANGUAGE plpgsql
        """
    )
    assert name == "keys_above" and "k INT" in args
    assert cols == "keys_above BIGINT"  # SETOF scalar names col by fn
    assert sql.strip().startswith("SELECT x FROM src")
    # RETURNS TABLE names come from the declaration
    _, _, cols2, _ = compile_plpgsql_setof(
        """
        CREATE FUNCTION pairs() RETURNS TABLE(a int, b text) AS $$
        BEGIN RETURN QUERY SELECT 1, 'x'; END;
        $$ LANGUAGE plpgsql
        """
    )
    assert cols2 == "a INT, b STRING"
    # RETURN NEXT / loops stay out of the subset
    import pytest

    with pytest.raises(NotImplementedError, match="RETURN QUERY"):
        compile_plpgsql_setof(
            """
            CREATE FUNCTION f() RETURNS SETOF int AS $$
            BEGIN RETURN NEXT 1; RETURN NEXT 2; END;
            $$ LANGUAGE plpgsql
            """
        )


def test_dropped_column_leaves_files_untouched(spark):
    """ALTER TABLE DROP COLUMN must be catalog-only (tablecmds.c
    ATExecDropColumn: attribute masked, heap never rewritten). The
    column-map analog edits only the logical->physical map; every
    standing parquet file must be byte-identical afterwards."""
    import os

    from cloudberry_spark.operators.dropped_cols import read_masked
    from cloudberry_spark.sources.snapshot import SnapshotTable
    from conftest import SF_DIR

    root = "/tmp/cbspark_test_dropped_cols_immutable"
    t = SnapshotTable.init(
        root,
        spark.createDataFrame(
            [(1, "a", 99, 10), (2, "b", 98, 11)],
            "col1 long, col3 string, col4 long, col5 long",
        ),
    )

    def fileset() -> dict[str, tuple[float, int]]:
        out = {}
        for dirpath, _, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out[p] = (st.st_mtime_ns, st.st_size)
        return out

    before = fileset()
    # the DROP: a map edit, no table API call at all
    mapping = [(c, c) for c in ("col1", "col3", "col5")]
    df = read_masked(spark, t, mapping)
    assert df.columns == ["col1", "col3", "col5"]
    assert df.count() == 2
    assert fileset() == before, "DROP COLUMN touched standing files"

    # post-drop insert adds a new fileset but never rewrites old ones
    t.commit_append(
        spark.createDataFrame([(3, "c", 12)], "col1 long, col3 string, col5 long"),
        t.current_version(),
    )
    after = fileset()
    for p, sig in before.items():
        if "_CURRENT" in p:
            continue  # the snapshot pointer legitimately flips
        assert after.get(p) == sig, f"standing file rewritten: {p}"
    assert read_masked(spark, t, mapping).count() == 3


def test_plpgsql_loop_control_and_blocks():
    """Round-9 compiler extensions: EXIT/CONTINUE (labels, WHEN),
    IF-in-loop folding, labeled nested blocks with qualified names,
    record SELECT INTO."""
    import duckdb
    import pytest

    from cloudberry_spark.functions.plpgsql import compile_plpgsql

    ev = lambda e: duckdb.sql(f"SELECT {e}").fetchone()[0]  # noqa: E731

    # EXIT fires AFTER same-iteration assignments (env survives unwind)
    _, _, _, expr = compile_plpgsql(
        "create function f() returns int as $$ declare acc int := 0; "
        "begin for i in 1 .. 10 loop acc := acc + i; exit when i >= 5; "
        "end loop; return acc; end; $$ language plpgsql"
    )
    assert ev(expr) == 15
    # CONTINUE skips the rest of the iteration
    _, _, _, expr = compile_plpgsql(
        "create function f() returns int as $$ declare acc int := 0; "
        "begin for i in 1 .. 8 loop continue when i % 2 = 0; "
        "acc := acc + i; end loop; return acc; end; $$ language plpgsql"
    )
    assert ev(expr) == 16
    # EXIT <label> unwinds both loops
    _, _, _, expr = compile_plpgsql(
        "create function f() returns int as $$ declare acc int := 0; "
        "begin <<outer>> for i in 1 .. 5 loop for j in 1 .. 5 loop "
        "acc := acc + 1; exit outer when i * j >= 6; end loop; "
        "end loop; return acc; end; $$ language plpgsql"
    )
    assert ev(expr) == 8
    # IF inside a loop folds per unrolled iteration
    _, _, _, expr = compile_plpgsql(
        "create function f() returns int as $$ declare acc int := 0; "
        "begin for i in 1 .. 6 loop if i % 3 = 0 then acc := acc + 100; "
        "else acc := acc + i; end if; end loop; return acc; end; "
        "$$ language plpgsql"
    )
    assert ev(expr) == 212
    # nested block: shadow reverts, outer mutation persists
    _, _, _, expr = compile_plpgsql(
        "create function f() returns text as $$ declare x int := 10; "
        "y int := 0; begin declare x int := 99; begin y := x + 1; end; "
        "return x || '/' || y; end; $$ language plpgsql"
    )
    assert ev(expr) == "10/100"
    # non-foldable EXIT condition (free parameter) fails loudly
    with pytest.raises(NotImplementedError, match="constant-fold"):
        compile_plpgsql(
            "create function f(x int) returns int as $$ declare "
            "acc int := 0; begin for i in 1 .. 4 loop exit when x > 2; "
            "acc := acc + i; end loop; return acc; end; "
            "$$ language plpgsql"
        )
    # EXIT outside any loop fails loudly
    with pytest.raises(NotImplementedError, match="outside a loop"):
        compile_plpgsql(
            "create function f() returns int as $$ begin exit; "
            "return 1; end; $$ language plpgsql"
        )


def test_storage_compression_encodings(spark):
    """AOCO_Compression.sql per-column ENCODING parity at the parquet
    level: each codec's footer records the codec, every codec round-trips
    identical data, and the low-cardinality l_returnflag column chunk is
    dictionary/RLE-encoded (PG's rle_type analog) in every file."""
    import pyarrow.parquet as pq

    from cloudberry_spark.registry import all_queries
    from cloudberry_spark import scratch
    from tests.conftest import SF_DIR
    import os

    rows = all_queries()["ddl_storage_compression"].fn(spark, SF_DIR).collect()
    assert [r["codec"] for r in rows] == ["gzip", "snappy", "zstd"]
    assert len({(r["n"], r["price_sum"], r["flags"]) for r in rows}) == 1

    base = scratch.path(SF_DIR, "storage_codecs")
    for codec in ("gzip", "snappy", "zstd"):
        d = os.path.join(base, codec)
        part = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
        meta = pq.ParquetFile(os.path.join(d, part)).metadata
        rg = meta.row_group(0)
        codecs = {rg.column(i).compression.lower() for i in range(rg.num_columns)}
        assert codecs == {codec}, (codec, codecs)
        flag_col = next(
            rg.column(i)
            for i in range(rg.num_columns)
            if rg.column(i).path_in_schema == "l_returnflag"
        )
        encs = {str(e) for e in flag_col.encodings}
        assert any("RLE_DICTIONARY" in e or "PLAIN_DICTIONARY" in e for e in encs), encs


def test_push_join_below_union_rejects_nondistributive_how(spark):
    """(A∪B)⋈C ≡ (A⋈C)∪(B⋈C) holds only for inner/union-side-
    preserving joins; right/full would replicate C's unmatched rows
    once per branch (ADVICE r10 fix)."""
    import pytest as _pytest
    from cloudberry_spark.operators.rewrites import push_join_below_union

    a = spark.range(3).selectExpr("id AS k")
    b = spark.range(3, 6).selectExpr("id AS k")
    c = spark.range(10).selectExpr("id AS k")
    for bad in ("right", "full", "full_outer", "right_outer"):
        with _pytest.raises(ValueError):
            push_join_below_union([a, b], c, "k", how=bad)
    # the legal forms still work, with and without the broadcast hint
    assert push_join_below_union([a, b], c, "k").count() == 6
    assert push_join_below_union(
        [a, b], c, "k", how="left", broadcast_other=False).count() == 6


def test_substr_negative_length_is_loud(spark):
    """PG raises 'negative substring length not allowed' for
    substr(x, start, n<0); the clipped-window rewrite must surface
    that via raise_error, not silently return '' (ADVICE r10 fix)."""
    import pytest as _pytest
    from cloudberry_spark.sql.pgcompat import translate_pg_sql

    sql = translate_pg_sql(
        "SELECT substr('abc', 0, 0 - cast(n AS int)) AS s "
        "FROM (SELECT 1 AS n)")
    with _pytest.raises(Exception, match="negative substring length"):
        spark.sql(sql).collect()
    # nonnegative dynamic lengths still clip correctly
    ok = translate_pg_sql(
        "SELECT substr('abc', 0, cast(n AS int)) AS s FROM (SELECT 2 AS n)")
    assert spark.sql(ok).collect()[0]["s"] == "a"


def test_qpdc_block_without_checkpoint_is_unsupported(spark):
    """run_scenario on a block with no SELECT checkpoint must raise
    UnsupportedStatement (the generator's skip contract), not a bare
    IndexError (ADVICE r10 fix)."""
    import pytest as _pytest
    from cloudberry_spark.operators import qpdc_runtime as q

    block = (
        "create table qpdc_nock (a int, b int) distributed by (a);\n"
        "insert into qpdc_nock values (1, 2);\n"
    )
    with _pytest.raises(q.UnsupportedStatement, match="no SELECT checkpoint"):
        q.run_scenario(spark, SF_DIR, "nock", block)
