"""Unit tests for the PG-dialect -> Spark SQL translator."""

from __future__ import annotations

import re

import duckdb
import pytest

from cloudberry_spark.sql.pgcompat import translate_pg_sql as t


def test_type_names_mapped_in_casts():
    assert t("SELECT a::int8, b::float8, c::text FROM x") == (
        "SELECT a::bigint, b::double, c::string FROM x"
    )
    assert "decimal(38,9)" in t("SELECT a::numeric FROM x")
    assert "decimal(10,2)" in t("SELECT a::numeric(10,2) FROM x")
    assert "CAST(a AS string)" in t("SELECT CAST(a AS text) FROM x")


def test_literals_never_rewritten():
    # PG-isms INSIDE string literals must survive untouched.
    src = "SELECT 'a::int8 ~ ARRAY[1]' AS s, b::int4 FROM x"
    out = t(src)
    assert "'a::int8 ~ ARRAY[1]'" in out
    assert "b::int" in out


def test_array_literals_and_nested():
    assert t("SELECT ARRAY[1, 2, 3]") == "SELECT array(1, 2, 3)"
    assert t("SELECT ARRAY[ARRAY[1], ARRAY[2]]") == (
        "SELECT array(array(1), array(2))"
    )


def test_regex_operators():
    assert "RLIKE" in t("SELECT * FROM x WHERE a ~ 'p'")
    assert "NOT RLIKE" in t("SELECT * FROM x WHERE a !~ 'p'")
    out = t("SELECT * FROM x WHERE a ~* 'P'")
    assert "regexp_like(lower(a), lower('P'))" in out
    out = t("SELECT * FROM x WHERE a !~* 'P'")
    assert "NOT regexp_like(lower(a), lower('P'))" in out
    # unary-minus / inequality must not be mangled
    assert t("SELECT -1 WHERE 2 <> 3") == "SELECT -1 WHERE 2 <> 3"


def test_string_agg_to_listagg():
    out = t("SELECT string_agg(n, ',' ORDER BY n) FROM x GROUP BY g")
    assert "listagg(n, ',') WITHIN GROUP (ORDER BY n NULLS LAST)" in out
    assert "listagg(n, '|')" in t("SELECT string_agg(n, '|') FROM x")


def test_extract_epoch():
    out = t("SELECT extract(epoch FROM ts) FROM x")
    assert "unix_micros(CAST(ts AS TIMESTAMP)) / 1000000.0" in out


def test_json_arrows():
    assert "get_json_object(j, '$.k')" in t("SELECT j ->> 'k' FROM x")
    assert "get_json_object(j, '$.k')" in t("SELECT j->'k' FROM x")


def test_generate_series_tvf():
    out = t("SELECT t.i FROM generate_series(1, 5) AS t(i)")
    assert "(SELECT explode(sequence(1, 5)) AS i) AS t" in out


def test_e_strings():
    # E-strings are unescaped to value-level text at translate time
    # (scan.l xe rules): \t -> TAB, backslash pairs halve, unknown
    # escapes drop the backslash ("taken literally").
    assert t("SELECT E'a\\tb'") == "SELECT 'a\tb'"
    assert t("SELECT E'a\\\\d+'") == "SELECT 'a\\d+'"
    assert t("SELECT E'\\q'") == "SELECT 'q'"


def test_regexp_replace_first_only():
    # flagless PG regexp_replace replaces only the FIRST match: lowered
    # to a global replace of the ^-anchored lazy-prefix pattern.
    out = t("SELECT regexp_replace('foobarbaz', 'b..', 'X')")
    assert "(?s)^(.*?)(?:b..)" in out and "$1X" in out
    # 'g' flag stays a plain global replace
    out_g = t("SELECT regexp_replace('foobarbaz', 'b..', 'X', 'g')")
    assert "(?s)" not in out_g
    # backrefs in pattern AND replacement shift past the added group
    out_br = t("SELECT regexp_replace('xaax', '(a)\\1', '<\\1>')")
    assert "(?:(a)\\\\2)" in out_br and "$1<$2>" in out_br


def test_regexp_split_lowering():
    out = t(
        "SELECT foo FROM regexp_split_to_table('a b', E'\\\\s+') AS foo"
    )
    assert "explode(split('a b', '\\\\s+')) AS foo" in out
    out2 = t("SELECT regexp_split_to_array('a b', E'\\\\s+') AS r")
    assert "split('a b', '\\\\s+')" in out2


def test_distinct_on_rewrite():
    out = t(
        "SELECT DISTINCT ON (k) k, v FROM t ORDER BY k, v DESC"
    )
    assert ("row_number() OVER (PARTITION BY k ORDER BY k NULLS LAST, v DESC NULLS FIRST)") in out
    assert "rn__ = 1" in out


def test_passthrough_of_native_pg_subset():
    # Constructs Spark accepts natively must flow through unchanged.
    for q in (
        "SELECT a FROM t WHERE b ILIKE 'x%'",
        "SELECT a IS DISTINCT FROM b FROM t",
        "SELECT substring(s FROM 2 FOR 3) FROM t",
        "SELECT position('l' IN s) FROM t",
    ):
        assert t(q) == q


def test_array_operators():
    assert t("SELECT a && b FROM x") == "SELECT arrays_overlap(a, b) FROM x"
    assert t("SELECT ARRAY['a'] && tags FROM x") == (
        "SELECT arrays_overlap(array('a'), tags) FROM x"
    )
    assert t("SELECT a @> b FROM x") == (
        "SELECT (size(array_except(b, a)) = 0) FROM x"
    )
    assert t("SELECT a <@ b FROM x") == (
        "SELECT (size(array_except(a, b)) = 0) FROM x"
    )


def test_json_integer_index():
    assert "get_json_object(j, '$[0]')" in t("SELECT j ->> 0 FROM x")


def test_comments_with_apostrophes_do_not_break_masking():
    """The PG lexer scans strings and comments in one pass; the shim
    must too — an apostrophe inside a comment must not pair with a real
    quote (which silently disabled every rewrite inside the phantom
    literal), and `--` inside a literal must stay literal text."""
    from cloudberry_spark.sql.pgcompat import translate_pg_sql

    out = t(
        "SELECT a::int4 -- don't break this\n"
        "FROM t WHERE b = 'x -- not a comment' AND c = ARRAY[1, 2]"
    )
    assert "a::int " in out or "a::int\n" in out or "a::int -" in out
    assert "'x -- not a comment'" in out
    assert "array(1, 2)" in out
    out2 = t(
        "SELECT 'it''s' AS s /* isn't a 'literal' ARRAY[9] */, ARRAY[1] AS a"
    )
    assert "'it''s'" in out2
    assert "ARRAY[9]" in out2  # untouched inside the comment
    assert "array(1)" in out2


def test_similar_to_pg_semantics():
    """similar_to_regex follows adt/regexp.c similar_escape: %/_ are
    wildcards, | ( ) [ ] pass through as regex operators, and '.' is
    LITERAL text (the trap: DuckDB's SIMILAR TO is plain regex)."""
    from cloudberry_spark.sql.pgcompat import similar_to_regex

    assert similar_to_regex("abc") == "^(?:abc)$"
    assert similar_to_regex("%(b|d)%") == "^(?:.*(b|d).*)$"
    assert similar_to_regex("a_c") == "^(?:a.c)$"
    assert similar_to_regex("a.c") == "^(?:a\\.c)$"
    assert similar_to_regex("x[0-9]+") == "^(?:x[0-9]+)$"


def test_empty_grouping_parens_stripped():
    # PG gram.y empty_grouping_set: () items in plain GROUP BY are
    # no-ops (olap_group.sql); Spark rejects them. The stripper may
    # leave benign double spaces — compare whitespace-normalized.
    def n(sql):
        return " ".join(t(sql).split())

    assert n("SELECT a, count(*) FROM t GROUP BY (), a ORDER BY a") == (
        "SELECT a, count(*) FROM t GROUP BY a ORDER BY a NULLS LAST"
    )
    assert n("SELECT a FROM t GROUP BY a, (), b, () HAVING a > 1") == (
        "SELECT a FROM t GROUP BY a, b HAVING a > 1"
    )
    # a lone () means grand-total aggregation: clause dropped entirely
    assert n("SELECT count(*) FROM t GROUP BY ()") == "SELECT count(*) FROM t"
    # () nested inside GROUPING SETS is meaningful and preserved (the
    # empty-input fallback then appends its UNION ALL branch)
    out = n("SELECT a FROM t GROUP BY GROUPING SETS ((), (a)) ORDER BY 1")
    assert out.startswith(
        "SELECT a FROM t GROUP BY GROUPING SETS ((), (a))"
    )
    assert "UNION ALL SELECT max(a) FROM t HAVING count(*) = 0" in out
    assert out.endswith("ORDER BY 1 NULLS LAST")
    # subquery scope: the () of the inner GROUP BY goes, cube( ) stays
    out = n(
        "SELECT x FROM (SELECT a FROM t GROUP BY a, ()) s GROUP BY cube (x)"
    )
    assert out.startswith(
        "SELECT x FROM (SELECT a FROM t GROUP BY a ) s GROUP BY cube (x)"
    )


def test_parenthesized_operand_regex_ci():
    # ADVICE r4: `WHERE (a || b) ~* 'p'` must translate the whole
    # parenthesized operand, not fold WHERE into a function call.
    out = t("SELECT * FROM x WHERE (a || b) ~* 'p'")
    assert "regexp_like(lower((a || b)), lower('p'))" in out
    assert "WHERE (" not in out.replace("WHERE regexp", "")
    out = t("SELECT * FROM x WHERE (a || b) !~* 'p'")
    assert "NOT regexp_like(lower((a || b)), lower('p'))" in out
    # function-call operand still works
    out = t("SELECT * FROM x WHERE lower(a) ~* 'p'")
    assert "regexp_like(lower(lower(a)), lower('p'))" in out


def test_parenthesized_and_literal_operand_similar_to():
    out = t("SELECT * FROM x WHERE (a || b) SIMILAR TO 'a%'")
    assert "regexp_like((a || b), " in out
    out = t("SELECT 'abc' SIMILAR TO 'a%' AS m")
    assert "regexp_like('abc', " in out


def test_similar_to_escape_char():
    # \% / \_ mean literal percent/underscore (PG default escape).
    out = t("SELECT a SIMILAR TO '\\%x' AS m FROM t")
    # regex shows doubled backslashes (Spark literal escaping)
    assert ".*" not in out
    assert "\\\\%x" in out
    out = t("SELECT a SIMILAR TO '\\_y' AS m FROM t")
    assert "\\\\_y" in out and "^(?:.)" not in out


def test_array_agg_order_by_nulls_last():
    out = t("SELECT array_agg(v ORDER BY k) FROM x GROUP BY g")
    assert "(k) IS NULL AS __n" in out
    assert "k AS __o" in out and "v AS __v" in out
    out = t("SELECT array_agg(v ORDER BY k DESC) FROM x GROUP BY g")
    assert out.count("reverse(") == 1


def test_crosslevel_in_under_exists_flattened():
    # qp_correlated_query.sql:110 shape: IN inside EXISTS, left operand
    # from the outermost scope, inner WHERE correlated to EXISTS scope.
    src = (
        "select * from a where exists (select * from b "
        "where a.i in (select c.i from c where c.i = b.i))"
    )
    out = t(src)
    assert "in (select" not in out.lower()
    assert "__csq_f0" in out and "c __csq_f0" in out
    assert "__csq_f0.i = b.i" in out.lower()
    assert "__csq_f0.i = a.i" in out.lower()


def test_one_level_in_under_exists_untouched():
    # inner subquery correlates only to itself -> leave Spark to plan it
    src = (
        "select * from a where exists (select * from b "
        "where a.i in (select c.i from c where c.i != 10))"
    )
    assert "__csq_f" not in t(src)
    # NOT IN is never flattened (anti-join semantics differ)
    src2 = (
        "select * from a where exists (select * from b "
        "where a.i not in (select c.i from c where c.i = b.i))"
    )
    assert "__csq_f" not in t(src2)


def test_plpgsql_compiler_shapes():
    from cloudberry_spark.functions.plpgsql import compile_plpgsql

    name, args, ret, expr = compile_plpgsql(
        "CREATE FUNCTION f(a int, b int) RETURNS int AS $$\n"
        "BEGIN RETURN a + b; END; $$ LANGUAGE plpgsql"
    )
    assert (name, args, ret) == ("f", "a INT, b INT", "INT")
    assert expr == "a + b"

    # sequential assignment threads the environment (SSA substitution)
    _, _, _, expr = compile_plpgsql(
        "CREATE FUNCTION g(x float8) RETURNS float8 AS $$\n"
        "DECLARE v float8; BEGIN v := x * 2; v := v + 1; RETURN v; END;\n"
        "$$ LANGUAGE plpgsql"
    )
    assert expr == "((x * 2) + 1)"

    # IF with fall-through tail replayed inside each arm
    _, _, _, expr = compile_plpgsql(
        "CREATE FUNCTION h(n int) RETURNS text AS $$\n"
        "DECLARE t text; BEGIN\n"
        "IF n < 0 THEN t := 'neg'; ELSE t := 'pos'; END IF;\n"
        "RETURN t || '!'; END; $$ LANGUAGE plpgsql"
    )
    assert expr.startswith("CASE WHEN n < 0 THEN")
    assert "('neg') || '!'" in expr and "('pos') || '!'" in expr

    # uninitialized declarations read as typed NULL
    _, _, _, expr = compile_plpgsql(
        "CREATE FUNCTION k() RETURNS int AS $$\n"
        "DECLARE v int; BEGIN RETURN v; END; $$ LANGUAGE plpgsql"
    )
    assert "CAST(NULL AS INT)" in expr


def test_plpgsql_while_unrolls_bounded():
    import duckdb

    from cloudberry_spark.functions.plpgsql import (
        _WHILE_CAP,
        compile_plpgsql,
    )

    _, _, _, expr = compile_plpgsql(
        "CREATE FUNCTION halvings(v bigint) RETURNS int AS $$\n"
        "DECLARE n int := 0; BEGIN\n"
        "WHILE v > 1 LOOP v := v >> 1; n := n + 1; END LOOP;\n"
        "RETURN n; END; $$ LANGUAGE plpgsql"
    )
    # one CASE level per unrolled iteration plus the cap level
    assert expr.count("CASE WHEN NOT") == _WHILE_CAP + 1
    # the cap level's still-looping arm yields NULL (non-termination)
    assert "ELSE NULL END" in expr
    # semantics: execute the generated expression on DuckDB against
    # the loop's exact closed form (binary length - 1)
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT v, ({expr}) FROM (VALUES (CAST(1 AS BIGINT)), (2), "
        "(5), (600000), (9223372036854775807)) t(v)"
    ).fetchall()
    assert rows[0][1] == 0 and rows[1][1] == 1 and rows[2][1] == 2
    assert rows[3][1] == 19
    assert rows[4][1] is None  # 62 halvings > _WHILE_CAP -> NULL


def test_plpgsql_out_of_subset_is_loud():
    import pytest as _pytest

    from cloudberry_spark.functions.plpgsql import compile_plpgsql

    for body in [
        # RETURN inside a WHILE body is not straight-line
        "BEGIN WHILE a LOOP RETURN 1; END LOOP; RETURN 2; END;",
        "BEGIN PERFORM pg_sleep(1); RETURN 1; END;",
        "BEGIN IF a THEN RETURN 1; END IF; END;",  # path without RETURN
    ]:
        with _pytest.raises(NotImplementedError):
            compile_plpgsql(
                "CREATE FUNCTION bad(a bool) RETURNS int AS $$\n"
                + body
                + " $$ LANGUAGE plpgsql"
            )


def test_jsonpath_compiler_units():
    import pytest as _pytest

    from cloudberry_spark.operators.jsonpath import (
        compile_jsonpath,
        jsonb_path_exists,
        jsonb_path_query_array,
    )

    v = compile_jsonpath("doc", "$.a.b[2]")
    assert not v.is_seq and "variant_get" in v.expr and "$[2]" in v.expr
    v = compile_jsonpath("doc", "$.items[*]")
    assert v.is_seq and "array<variant>" in v.expr
    e = jsonb_path_query_array("doc", "$.items[*] ? (@.q > 1 && @.p < 2).p")
    assert "filter(" in e and " AND " in e
    e = jsonb_path_exists("doc", "$.items[*] ? (exists(@.k))")
    assert "IS NOT NULL" in e and e.startswith("(size(")
    # out-of-subset constructs must fail loudly, not silently misparse
    for bad in ["$.**.a", "$.items[last]", "$.a.datetime()"]:
        with _pytest.raises(NotImplementedError):
            compile_jsonpath("doc", bad)


def test_plpgsql_for_loop_unrolling():
    import pytest as _pytest

    from cloudberry_spark.functions.plpgsql import compile_plpgsql

    _, _, _, expr = compile_plpgsql(
        "CREATE FUNCTION f(x float8) RETURNS float8 AS $$\n"
        "DECLARE acc float8 := 0;\n"
        "BEGIN FOR i IN 1..3 LOOP acc := acc + power(x, i); END LOOP;\n"
        "RETURN acc; END; $$ LANGUAGE plpgsql"
    )
    assert expr == "((((0) + power(x, 1)) + power(x, 2)) + power(x, 3))"

    # REVERSE counts DOWN from the first bound (exec_stmt_fori)
    _, _, _, expr = compile_plpgsql(
        "CREATE FUNCTION g() RETURNS int AS $$\n"
        "DECLARE s int := 0;\n"
        "BEGIN FOR i IN REVERSE 3..1 LOOP s := s * 10 + i; END LOOP;\n"
        "RETURN s; END; $$ LANGUAGE plpgsql"
    )
    assert expr == "((((0) * 10 + 3) * 10 + 2) * 10 + 1)"

    # IF inside a loop with a counter-testing condition now folds per
    # unrolled iteration (round-9 loop-control extension)
    _, _, _, expr = compile_plpgsql(
        "CREATE FUNCTION h() RETURNS int AS $$\n"
        "DECLARE s int := 0;\n"
        "BEGIN FOR i IN 1..2 LOOP IF i = 1 THEN s := 1; END IF; "
        "END LOOP; RETURN s; END; $$ LANGUAGE plpgsql"
    )
    assert expr == "(1)"

    # non-constant bounds, oversized ranges, and IFs whose condition
    # cannot fold (free parameter) are rejected loudly
    for body in [
        "BEGIN FOR i IN 1..n LOOP s := i; END LOOP; RETURN s; END;",
        "BEGIN FOR i IN 1..1000 LOOP s := i; END LOOP; RETURN s; END;",
        "BEGIN FOR i IN 1..2 LOOP IF x > 0 THEN s := 1; END IF; "
        "END LOOP; RETURN s; END;",
    ]:
        with _pytest.raises(NotImplementedError):
            compile_plpgsql(
                "CREATE FUNCTION bad(n int) RETURNS int AS $$\n"
                "DECLARE s int := 0;\n" + body + " $$ LANGUAGE plpgsql"
            )


def test_jsonpath_string_predicates():
    from cloudberry_spark.operators.jsonpath import jsonb_path_query_array

    e = jsonb_path_query_array(
        "doc", '$.users[*] ? (@.name like_regex "^al.*" flag "i").name'
    )
    assert "regexp_like" in e and "(?i)^al.*" in e
    e = jsonb_path_query_array(
        "doc", '$.users[*] ? (@.name starts with "A").name'
    )
    assert "startswith" in e


def test_window_inheritance_expansion():
    out = t(
        "select rank() over w2 from e window w1 as (partition by d), "
        "w2 as (w1 order by s)"
    )
    assert "w2 AS (partition by d order by s NULLS LAST)" in out
    # transitive chains
    out = t(
        "select 1 from e window w1 as (partition by d), "
        "w2 as (w1 order by s), w3 as (w2)"
    )
    assert "w3 AS (partition by d order by s NULLS LAST)" in out
    # non-referencing definitions pass through
    out = t("select 1 from e window w1 as (order by s)")
    assert "w1 AS (order by s NULLS LAST)" in out


def test_window_filter_rewrite():
    # FILTER over a window aggregate (parse_agg.c allows both; Spark
    # only supports FILTER on plain aggregates) -> CASE-nulled args.
    out = t("select count(j) filter (where i % 2 = 1) over (order by i) from t")
    assert "count(CASE WHEN i % 2 = 1 THEN j END) over" in out
    assert "FILTER" not in out.upper() or "filter (" not in out.lower()
    # count(*) counts a constant under the predicate
    out = t("select count(*) filter (where j = 1) over (partition by j) from t")
    assert "count(CASE WHEN j = 1 THEN 1 END) over" in out
    # multi-argument aggregates null every argument
    out = t("select covar_pop(i, j) filter (where i < 5) over w from t "
            "window w as (order by i)")
    assert ("covar_pop(CASE WHEN i < 5 THEN i END, "
            "CASE WHEN i < 5 THEN j END) over" in out)
    # plain (non-window) aggregate FILTER is Spark-native: untouched
    out = t("select count(i) filter (where i < 5) from t")
    assert "FILTER (WHERE i < 5)" in out.upper() or "filter (where i < 5)" in out


def test_left_right_negative_rewrite():
    # PG left/right accept negative lengths (all-but-last/-first |n|);
    # Spark returns ''. Non-literal length args become a CASE dispatch.
    out = t("select left(s, i) from tbl")
    assert "CASE WHEN (i) >= 0 THEN substr(s, 1, (i))" in out
    assert "greatest(length(s) + (i), 0)" in out
    out = t("select right(s, i) from tbl")
    assert "least(1 - (i), length(s) + 1)" in out
    # plain nonnegative literal lengths stay native
    out = t("select left(s, 2), right(s, 3) from tbl")
    assert "left(s, 2)" in out and "right(s, 3)" in out


def test_format_rewrite():
    # PG format -> Spark format_string with NULL-as-empty args
    out = t("select format('Hello %s', name) from tbl")
    assert "format_string('Hello %s', coalesce(CAST(name AS STRING), ''))" in out
    # %I / %L have no Spark analog: left untranslated (loud failure)
    out = t("select format('INSERT INTO %I VALUES(%L)', a, b) from tbl")
    assert "format(" in out and "format_string" not in out


def test_to_char_datetime_mapping():
    # PG to_char datetime templates -> date_format with Java patterns
    out = t("select to_char(col1, 'YYYY') from d")
    assert "date_format(col1, 'yyyy')" in out
    out = t("select to_char(col1, 'YYYY-MM-DD HH24:MI:SS') from d")
    assert "date_format(col1, 'yyyy-MM-dd HH:mm:ss')" in out
    # numeric templates lower to printf-style format_string (round
    # 12): Spark's own to_char needs DECIMAL-scale inputs and drops
    # the minus sign without an 'S' token (qp_olap_mdqa.sql)
    out = t("select to_char(x, '999.99') from d")
    assert "format_string('%6.2f', CAST((x) AS DOUBLE))" in out


def test_array_length_dim1_mapping():
    out = t("select array_length(array[1,2,3], 1)")
    assert "size(array(1,2,3))" in out
    # only dimension 1 maps; other dims left loud
    out = t("select array_length(a, 2)")
    assert "array_length(a, 2)" in out


def test_case_is_not_distinct_lowering():
    from cloudberry_spark.sql.pgcompat import translate_pg_sql as t

    out = t(
        "SELECT CASE a WHEN IS NOT DISTINCT FROM b THEN 1 "
        "WHEN b+1 THEN 2 ELSE 3 END FROM x"
    )
    assert "CASE  WHEN (a) IS NOT DISTINCT FROM b THEN" in out.replace(
        "CASE WHEN", "CASE  WHEN"
    )
    assert "(a) = (b+1)" in out
    # plain simple CASE (no GP arm) is untouched
    out = t("SELECT CASE a WHEN 1 THEN 'x' ELSE 'y' END FROM x")
    assert "CASE a WHEN 1 THEN" in out
    # nested: inner searched CASE inside an arm survives, outer lowers
    out = t(
        "SELECT CASE a WHEN IS NOT DISTINCT FROM b THEN "
        "CASE WHEN c THEN 1 ELSE 2 END ELSE 3 END FROM x"
    )
    assert "CASE WHEN c THEN 1 ELSE 2 END" in out
    # string-literal operand with IS NOT DISTINCT FROM inside a plain
    # WHEN value (NOT the GP keyword form) stays a simple CASE
    out = t(
        "SELECT CASE x WHEN 'test' THEN 1 ELSE 2 END FROM t"
    )
    assert "CASE x WHEN 'test'" in out


def test_row_comparison_expansion():
    from cloudberry_spark.sql.pgcompat import translate_pg_sql as tr

    out = tr("SELECT ROW(a,b) < ROW(x,y) FROM t")
    # lexicographic: a < x OR (a = x AND b < y)
    assert "(a) < (x)" in out and "(a) = (x)" in out and "(b) < (y)" in out
    out = tr("SELECT ROW(1,2,3) <> ROW(1,NULL,4)")
    assert out.startswith("SELECT (NOT (")
    # bare ROW in an IN list lowers to struct
    out = tr("SELECT ROW(1,2) IN (ROW(3,4), ROW(1,2))")
    assert "struct(1,2) IN (struct(3,4), struct(1,2))" in out
    # row_number is never touched by the ROW rewrite
    out = tr("SELECT row_number() OVER (ORDER BY a) FROM t")
    assert "row_number()" in out


def test_regexp_split_to_table_selectlist_no_alias_capture():
    # ADVICE r6 (pgcompat.py:190): the SRF-alias capture must not
    # swallow a following clause keyword — `... FROM t1` is not an
    # alias. Former output: `... AS FROM) AS FROM t1` (malformed).
    out = t("SELECT regexp_split_to_table('a b', ' ') FROM t1")
    assert "AS FROM" not in out.upper()
    assert "explode(split('a b', ' '))" in out
    # explicit-alias and FROM-position forms still alias correctly
    out = t("SELECT regexp_split_to_table('a b', ' ') AS w FROM t1")
    assert "AS w" in out
    out = t("SELECT w FROM regexp_split_to_table('a b', ' ') w")
    assert "(SELECT explode(split('a b', ' ')) AS w) AS w" in out
    # bare call followed by WHERE (keyword) also falls to generator
    out = t("SELECT regexp_split_to_table(s, ',') FROM t1 WHERE x > 0")
    assert "AS WHERE" not in out.upper()


def test_estring_hex_octal_unicode_escapes():
    # ADVICE r6 (E-string scan.l xe rules): \xHH / \ooo / \uXXXX /
    # \UXXXXXXXX must produce the CHARACTER, not drop the backslash.
    assert t(r"SELECT E'\x41'") == "SELECT 'A'"
    assert t(r"SELECT E'\101'") == "SELECT 'A'"
    assert t(r"SELECT E'A'") == "SELECT 'A'"
    assert t(r"SELECT E'\U00000041'") == "SELECT 'A'"
    # 1-digit hex, 2-digit octal, bounded lengths
    assert t(r"SELECT E'\x9Z'") == "SELECT '\tZ'"
    assert t(r"SELECT E'\509'") == "SELECT '(9'"
    # controls + literal fallback still work
    assert t(r"SELECT E'a\nb\\c\q'") == "SELECT 'a\nb\\c" + "q'"


def test_json_dotted_key_bracket_quoted():
    # ADVICE r6 (pgcompat.py:1133): ->> 'a.b' is ONE key lookup; the
    # path must bracket-quote it, not drill $.a.b two levels.
    out = t("SELECT j ->> 'a.b' FROM t")
    assert "$[''a.b'']" in out
    # plain identifier keys keep dot-notation, chains compose
    out = t("SELECT j -> 'a' ->> 'b' FROM t")
    assert "'$.a.b'" in out
    out = t("SELECT j -> 'a' ->> 'x y' FROM t")
    assert "$.a[''x y'']" in out
    # #> path arrays with dotted elements bracket-quote too
    out = t("SELECT j #>> '{a,b.c,1}' FROM t")
    assert "$.a[''b.c''][1]" in out


def test_first_only_regexp_replace_literal_backslash_refs():
    # ADVICE r6 (pgcompat.py:1000): \\1 at value level is an escaped
    # literal backslash + digit 1, NOT backref \1 — it must not shift.
    out = t(r"SELECT regexp_replace(s, '(a)\\x', 'y') FROM t")
    # \\x (escaped backslash + x) must NOT become \\y-shifted or lose
    # the pair; SQL-literal layer doubles it to 4 backslashes
    assert "(a)" + "\\" * 4 + "x" in out
    # a REAL backref \1 (odd backslash run) still shifts (prefix group)
    out = t(r"SELECT regexp_replace(s, '(a)\1', 'z') FROM t")
    assert "(a)" + "\\" * 2 + "2" in out
    # replacement side: \1 backref -> Java $2 (shifted); \\1 stays a
    # literal backslash + '1' (NOT group 1 — the former bug emitted $1)
    out = t(r"SELECT regexp_replace(s, '(a)', '\1\\1') FROM t")
    assert "$1$2" + "\\" * 4 + "1'" in out


def test_array_agg_order_by_deep_nesting_is_loud():
    # ADVICE r6 (pgcompat.py:332): a depth-3 argument escapes the
    # ordered-aggregate rewrite; that must be a translate-time error,
    # not a downstream Spark analysis failure.
    import pytest

    with pytest.raises(NotImplementedError, match="array_agg"):
        t("SELECT array_agg(f(g(h(x))) ORDER BY y) FROM t GROUP BY k")


def test_collate_is_loud():
    # r5/r6 verdict: `ORDER BY x COLLATE "de_DE"` silently sorted
    # binary-UTF8; now a translate-time error (varstr_cmp has no
    # Spark analog).
    import pytest

    with pytest.raises(NotImplementedError, match="COLLATE"):
        t('SELECT a FROM x ORDER BY a COLLATE "de_DE"')
    # the word inside a string literal is NOT a collation clause
    assert "COLLATE" in t("SELECT 'COLLATE me' FROM x")


def test_gs_empty_input_fallback_shape():
    out = t(
        "SELECT count(*) AS n, max(k) AS mk, grouping(k) AS g FROM t "
        "GROUP BY GROUPING SETS ((k), ())"
    )
    assert "UNION ALL" in out and "HAVING count(*) = 0" in out
    # grouping(k) becomes the all-ungrouped constant in the branch
    assert " 1 AS g" in out
    # CUBE gets exactly one branch
    out = t("SELECT count(*) AS n FROM t GROUP BY CUBE (a, b)")
    assert out.count("UNION ALL") == 1
    # plain GROUP BY, composite items, HAVING, windows: untouched
    assert "UNION ALL" not in t(
        "SELECT a, count(*) FROM t GROUP BY a"
    )
    assert "UNION ALL" not in t(
        "SELECT count(*) AS n FROM t GROUP BY CUBE (a) HAVING count(*) > 0"
    )
    # unclassifiable select item (bare col not in the sets): untouched
    assert "UNION ALL" not in t(
        "SELECT b, count(*) AS n FROM t GROUP BY GROUPING SETS ((a), ())"
    )


def test_quantified_ordering_rewrite_units():
    # subselect.c:1521 parity: x < ALL (SELECT ...) -> summary CASE
    out = t("SELECT 1 WHERE x < ALL (SELECT y FROM t)")
    assert "count(*)" in out and "min(__qe)" in out
    assert "CAST(NULL AS BOOLEAN)" in out
    out = t("SELECT 1 WHERE x >= ANY (SELECT y FROM t)")
    assert "min(__qe)" in out and "THEN true" in out
    # SOME is a synonym of ANY
    out = t("SELECT 1 WHERE x > SOME (SELECT y FROM t)")
    assert "min(__qe)" in out
    # = ANY / <> ALL keep their IN / NOT IN lowering, and >= ANY must
    # NOT be half-eaten by the = ANY rule (the former bug)
    assert " IN (SELECT" in t("SELECT 1 WHERE x = ANY (SELECT y FROM t)")
    assert " NOT IN (SELECT" in t(
        "SELECT 1 WHERE x <> ALL (SELECT y FROM t)"
    )
    assert "> IN" not in t("SELECT 1 WHERE x >= ANY (SELECT y FROM t)")
    # = ANY(array) is the ScalarArrayOpExpr form: exists() HOF now
    assert "exists(arr, __qe -> (x) = __qe)" in t(
        "SELECT 1 WHERE x = ANY (arr)"
    )
    assert "forall(arr, __qe -> (x) <> __qe)" in t(
        "SELECT 1 WHERE x <> ALL (arr)"
    )
    # untyped brace literal parses via array_in rules
    out = t("SELECT 25 = ANY ('{1,2,25}')")
    assert "exists(array(1, 2, 25)" in out
    # empty untyped array constant-folds (no inferable element type)
    assert "false" in t("SELECT 1 = ANY ('{}')")
    assert "true" in t("SELECT 1 = ALL ('{}')")


def test_group_id_rewrite():
    out = t(
        "SELECT a, count(*), GROUP_ID() FROM t "
        "GROUP BY GROUPING SETS ((a), (a))"
    )
    assert "row_number() OVER (PARTITION BY grouping_id(a), a" in out
    # round 12: plain GROUP BY is a single grouping set, so GROUP_ID()
    # is the constant 0 (parse_agg.c) instead of raising
    out = t("SELECT GROUP_ID() FROM t GROUP BY a")
    assert "GROUP_ID" not in out.upper() or "0" in out
    assert re.search(r"SELECT\s+0\s+FROM", out)
    # round 12: multiple composed constructs number over the union of
    # ALL grouping expressions (qp_olap_mdqa.sql shapes)
    out = t("SELECT a, GROUP_ID() FROM t GROUP BY ROLLUP(a), CUBE(b), c")
    assert "grouping_id(a, b, c), a, b, c" in out


def test_mixed_interval_split():
    # PG unified interval values split into Spark's disjoint YM/DT
    # types in additive position; exact because PG applies months
    # before days before time (timestamp.c interval_pl ordering).
    out = t("SELECT ts + INTERVAL '5 months 12 hours' FROM x")
    assert "+ INTERVAL '5 months' + INTERVAL '12 hours'" in out
    out = t("SELECT ts - INTERVAL '1 year 2 mons 3 days 04:05:06' FROM x")
    # PG's 'mons' abbreviation normalizes to Spark's 'months'
    assert "- INTERVAL '1 year 2 months'" in out
    assert "- INTERVAL '3 days 04:05:06'" in out
    # single-kind intervals stay untouched
    assert "INTERVAL '3 days'" in t("SELECT ts + INTERVAL '3 days' FROM x")
    # non-additive mixed interval: loud
    import pytest

    with pytest.raises(NotImplementedError, match="interval"):
        t("SELECT INTERVAL '5 months 12 hours' AS i")


def test_multidim_subscripts_nest():
    """Round 8: a[i][j] maps onto nested 1-based try_element_at (the
    literal-rectangle subset of PG multidim arrays); slices stay
    loud."""
    out = t("SELECT m[1][2] AS v FROM x")
    assert "try_element_at(try_element_at(m, 1), 2)" in out
    # nested ARRAY literals and single subscripts still fine
    assert "array(array(1), array(2))" in t(
        "SELECT ARRAY[ARRAY[1], ARRAY[2]] FROM x"
    )


def test_multiarg_grouping_subset_arithmetic():
    # PG GROUPING(a, b) accepts ANY SUBSET of the grouping columns;
    # Spark's grouping_id() demands the full list, so the frontend
    # expands to per-column bit arithmetic.
    out = t("SELECT GROUPING(a, b) FROM x GROUP BY CUBE (a, b, c)")
    assert "grouping(a) * 2 + grouping(b)" in out
    out = t("SELECT GROUPING(a, b, c) FROM x GROUP BY CUBE (a, b, c)")
    assert "grouping(a) * 4 + grouping(b) * 2 + grouping(c)" in out
    # single-arg stays native (Spark accepts GROUPING(col) as-is)
    assert "GROUPING(a)" in t("SELECT GROUPING(a) FROM x GROUP BY CUBE (a)")


def test_group_id_alias_grouping_items_spelled():
    # round 12: _substitute_gb_aliases spells SELECT aliases inside
    # grouping constructs as their defining expressions, so GROUP_ID()
    # no longer needs to refuse them (qp_olap_mdqa.sql)
    out = t(
        "SELECT a + 1 AS ka, GROUP_ID() FROM x "
        "GROUP BY GROUPING SETS ((ka), (ka))"
    )
    assert "GROUPING SETS (((a + 1)), ((a + 1)))" in out
    assert "row_number() OVER (PARTITION BY grouping_id((a + 1))" in out


def test_null_ordering_trailing_comment_not_swallowed():
    """A line comment at the end of an ORDER BY item must not swallow
    the appended NULLS clause (ADVICE r9 medium): the clause goes
    before the comment, the comment re-attaches after it."""
    out = t("SELECT a FROM t ORDER BY a -- top key\n, b LIMIT 5")
    # the NULLS clause precedes the restored comment on the first item
    assert "ORDER BY a NULLS LAST" in out
    assert "-- top key" in out
    assert ", b NULLS LAST" in out.replace("\n", " ")
    # DESC with a trailing comment keeps FIRST placement
    out = t("SELECT a FROM t ORDER BY a DESC -- note\n LIMIT 1")
    assert "a DESC NULLS FIRST" in out
    # block comments too
    out = t("SELECT a FROM t ORDER BY a /* c */ LIMIT 1")
    assert "a NULLS LAST" in out
    assert "/* c */" in out
    # already-explicit NULLS survives with its comment
    out = t("SELECT a FROM t ORDER BY a NULLS FIRST -- c\n LIMIT 1")
    assert "a NULLS FIRST" in out
    assert out.count("NULLS") == 1


def test_negative_or_zero_subscript_loud():
    """PG returns NULL for zero/negative subscripts; Spark indexes
    from the end (or raises). Loud-fail instead of silent divergence
    (ADVICE r9 low)."""
    import pytest

    with pytest.raises(NotImplementedError, match="subscript"):
        t("SELECT a[-1] FROM x")
    with pytest.raises(NotImplementedError, match="subscript"):
        t("SELECT a[0] FROM x")
    # positive subscripts still rewrite
    assert "try_element_at(a, 1)" in t("SELECT a[1] FROM x")


# ---------------------------------------------------------------------------
# Round-9 frontend additions: window EXCLUDE lowering, DISTINCT ON in
# subqueries, generate_series with scalar-subquery bounds.
# ---------------------------------------------------------------------------


def test_window_exclude_current_row_lowering():
    out = t(
        "select vn, sum(vn) over (w) from sale window w as "
        "(order by vn rows between unbounded preceding and unbounded "
        "following exclude current row)"
    )
    assert "exclude" not in out.lower()
    assert "window" not in out.lower()
    assert "coalesce(vn, 0)" in out.lower()
    assert "case when count(vn) over ()" in out.lower()


def test_window_exclude_group_and_ties_lowering():
    for mode, frag in (("group", "- coalesce(sum(vn) over"),
                       ("ties", "+ coalesce(vn, 0)")):
        out = t(
            f"select sum(vn) over (order by vn rows between unbounded "
            f"preceding and unbounded following exclude {mode}) from sale"
        )
        assert "exclude" not in out.lower()
        assert frag in out.lower()
        assert "partition by vn" in out.lower()


def test_window_exclude_no_others_stripped():
    out = t(
        "select sum(vn) over (order by vn rows between unbounded preceding "
        "and unbounded following exclude no others) from sale"
    )
    assert "exclude" not in out.lower()
    assert "rows between unbounded preceding" in out.lower()


def test_window_exclude_partial_frame_fails_loudly():
    import pytest

    with pytest.raises(NotImplementedError):
        t(
            "select sum(vn) over (order by vn rows between 1 preceding and "
            "current row exclude ties) from sale"
        )


def test_window_exclude_non_sum_fails_loudly():
    import pytest

    with pytest.raises(NotImplementedError):
        t(
            "select avg(vn) over (order by vn rows between unbounded "
            "preceding and unbounded following exclude group) from sale"
        )


def test_distinct_on_inside_subquery_rewritten():
    out = t(
        "select * from t0 where (i, j) in "
        "(select distinct on (i) i, j from t0 order by i, j desc)"
    )
    assert "distinct on" not in out.lower()
    assert "row_number()" in out.lower()
    assert "rn__ = 1" in out


def test_generate_series_subquery_bound():
    out = t(
        "select g from generate_series(0, (select max(x) from b)) gs(g)"
    )
    assert "generate_series" not in out.lower()
    assert "explode(sequence(0, (select max(x) from b)))" in out.lower()


def test_round12_grouping_passes():
    # alias spelled inside a composite (PG parse_clause alias
    # resolution); Spark can't reach aliases inside construct parens
    out = t("SELECT a+1 AS k, count(*) FROM x GROUP BY ROLLUP((k, b))")
    assert "ROLLUP(((a+1), b))" in out
    # nested constructs inside GROUPING SETS expand to explicit sets,
    # recursively, duplicates kept (groupingsets.sql:171)
    out = t("SELECT count(*) FROM x "
            "GROUP BY GROUPING SETS(a, GROUPING SETS(a, CUBE(b)))")
    assert "GROUPING SETS ((a), (a), (b), ())" in out
    # a member also grouped OUTSIDE every construct is dropped from
    # the construct (PG merges identical grouping exprs into one
    # sortgroupref -> the column never nulls)
    out = t("SELECT a, count(*) FROM x GROUP BY ROLLUP((a),(b)), a")
    assert "GROUPING SETS ((b), (), ())" in out or \
           "ROLLUP((), (b))" in out
    # GROUPING SETS(()) is the cross-product identity: dropped, which
    # unlocks the plain-grouping GROUP_ID()/GROUPING() -> 0 lowering
    out = t("SELECT GROUPING(a), GROUP_ID(), count(*) FROM x "
            "GROUP BY (a,a), GROUPING SETS(()), b")
    assert "GROUPING SETS" not in out.upper()
    assert "grouping(" not in out.lower()
    # targetlist expression matching a construct member nullifies
    # per set
    out = t("SELECT a+b AS k, count(*) FROM x "
            "GROUP BY ROLLUP((a+b),(c)), a, b")
    assert "CASE WHEN grouping(a+b) = 1 THEN NULL ELSE a+b END" in out


def test_round12_interval_abbreviations():
    out = t("SELECT d + interval '2 mins' FROM x")
    assert "interval '2 minutes'" in out
    out = t("SELECT d + interval '3 hrs' FROM x")
    assert "interval '3 hours'" in out


#: a GROUP BY in the second branch of a UNION ALL: the grouping passes
#: must read the SELECT list of that branch, not the first one
XBLOCK_ALIAS = (
    "SELECT a AS x, 1 AS c FROM t UNION ALL SELECT b, x FROM w "
    "GROUP BY ROLLUP(b, x)"
)
XBLOCK_WRAP = (
    "SELECT a + 1 AS y, 0 AS z FROM t UNION ALL "
    "SELECT a + 1 AS y, count(*) FROM u GROUP BY ROLLUP(a + 1, b)"
)
XBLOCK_VIEWS = {
    "t": "SELECT * FROM (VALUES (1), (2)) AS v(a)",
    "w": "SELECT * FROM (VALUES (1, 10), (2, 20)) AS v(b, x)",
    "u": "SELECT * FROM (VALUES (1, 1), (2, 2)) AS v(a, b)",
}


def test_grouping_passes_read_the_grouped_block():
    # the first branch's `a AS x` is not spelled into the ROLLUP
    assert "ROLLUP(b, x)" in t(XBLOCK_ALIAS)
    # the grouping() wrap lands on the branch that groups
    first, second = t(XBLOCK_WRAP).split("UNION ALL")
    assert "grouping(" not in first
    assert "CASE WHEN grouping(a + 1) = 1 THEN NULL" in second


@pytest.mark.parametrize("sql", [XBLOCK_ALIAS, XBLOCK_WRAP])
def test_grouped_union_branch_matches_duckdb(spark, sql):
    from tests.conftest import assert_matches_oracle

    con = duckdb.connect()
    try:
        for name, body in XBLOCK_VIEWS.items():
            con.execute(f"CREATE VIEW {name} AS {body}")
            spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW {name} AS {body}")
        assert assert_matches_oracle(spark.sql(t(sql)), con, sql) == 7
    finally:
        for name in XBLOCK_VIEWS:
            spark.catalog.dropTempView(name)
        con.close()


def test_plpgsql_table_form_select_item_spelling_from(spark):
    # the body's FROM is the clause keyword, not the `from` inside the
    # select item's identifier
    from cloudberry_spark.functions.plpgsql import create_plpgsql_function

    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW plpg_from_t AS SELECT * FROM "
        "(VALUES (1, 10), (2, 20)) AS v(k, date_from_x)"
    )
    try:
        name = create_plpgsql_function(
            spark,
            "CREATE FUNCTION plpg_from_f(p int) RETURNS int AS $$\n"
            "DECLARE r int; BEGIN\n"
            "SELECT date_from_x FROM plpg_from_t WHERE k = p INTO r;\n"
            "RETURN r; END; $$ LANGUAGE plpgsql",
            table_form=True,
        )
        rows = spark.sql(f"SELECT * FROM {name}(2)").collect()
        assert [tuple(r) for r in rows] == [(20,)]
        assert rows[0].__fields__ == [name]
    finally:
        spark.catalog.dropTempView("plpg_from_t")
