"""Unit tests for the shared SQL-text scanner (no Spark needed)."""

from __future__ import annotations

import re

import pytest

from cloudberry_spark.sql.sqltext import (
    COMPOSITE,
    EMPTY,
    EXPR,
    clause_end,
    clause_map,
    depth_at,
    group_items,
    iter_top,
    match_paren,
    open_parens,
    query_blocks,
    split_top,
)

QUOTED = "f(a, ')'), 'it''s, (x', b -- c, (\n, /* d, ) */ e"


def test_split_top_skips_strings_and_comments():
    assert split_top(QUOTED) == [
        "f(a, ')')",
        " 'it''s, (x'",
        " b -- c, (\n",
        " /* d, ) */ e",
    ]


def test_split_top_nested_parens():
    assert split_top("a, f(b, g(c, d)), (e, f)") == [
        "a", " f(b, g(c, d))", " (e, f)"
    ]


def test_split_top_keeps_empty_tail_and_parts():
    assert split_top("") == [""]
    assert split_top("a,") == ["a", ""]
    assert split_top("a,,b") == ["a", "", "b"]


def test_split_top_multichar_separator():
    # jsonpath's filter connectives
    assert split_top('@.a > 1 && (@.b || @.c) && @.d == "x"', "&&") == [
        "@.a > 1 ", " (@.b || @.c) ", ' @.d == "x"'
    ]
    assert split_top("a || 'b || c' || d", "||") == ["a ", " 'b || c' ", " d"]


def test_split_top_pattern_separator():
    or_re = re.compile(" or ", re.I)
    arms = split_top("a = 1 OR (b = 2 or c = 3) or d", or_re)
    assert arms == ["a = 1", "(b = 2 or c = 3)", "d"]


def test_split_top_stops_at_unmatched_close():
    # past a ')' that closes an outer paren, nothing splits
    assert split_top("a, b), c") == ["a", " b), c"]


def test_iter_top_yields_depth0_hits_then_scope_end():
    text = "x AS (y AS z), 'AS', w AS v) AS tail"
    hits = list(iter_top(text, r"\bAS\b"))
    assert [(m.start(), m.group(), m.lastgroup) for m in hits] == [
        (2, "AS", "hit"),
        (text.index("AS v"), "AS", "hit"),
        (text.index(") AS tail"), ")", "close"),
    ]


def test_iter_top_from_pos_and_keyword_stop():
    sql = "SELECT a, (SELECT b FROM t) FROM u WHERE c"
    stop = re.compile(r"\b(FROM|WHERE)\b", re.I)
    assert next(iter_top(sql, stop, 6)).start() == sql.index("FROM u")
    # inside a subquery the walk ends at the subquery's close paren
    inner = sql.index("b FROM t")
    first = next(iter_top(sql, re.compile(r"\bWHERE\b"), inner))
    assert (first.group(), first.lastgroup) == (")", "close")


def test_iter_top_other_brackets():
    case = "CASE x WHEN 1 THEN CASE WHEN y THEN 2 END ELSE 3 END tail"
    toks = [
        m.group()
        for m in iter_top(
            case, r"\b(?:WHEN|THEN)\b", 4,
            (r"(?i:\bCASE\b)", r"(?i:\bEND\b)"),
        )
    ]
    assert toks == ["WHEN", "THEN", "END"]


def test_match_paren_forward():
    s = "f(a, g(b), ')', -- )\n c) + 1"
    assert match_paren(s, 1) == s.index(") + 1")
    assert match_paren(s, 6) == 8
    assert match_paren("/* ( */ (a)", 8) == 10


def test_match_paren_backward():
    s = "x + f(a, g(b), ')', -- (\n c)"
    assert match_paren(s, len(s) - 1) == 5
    assert match_paren(s, s.index(")")) == s.index("(b")


@pytest.mark.parametrize(
    "text, i",
    [("f(a, (b)", 1), ("')' )", 4), ("(a", 0), ("a)", 1), ("')'", 1)],
)
def test_match_paren_unbalanced_is_minus_one(text, i):
    assert match_paren(text, i) == -1


def test_depth_and_open_parens():
    s = "a (b, ')(', (c -- (\n d"
    assert depth_at(s, len(s)) == 2
    assert open_parens(s, len(s)) == [2, 12]
    assert depth_at("a) b", 4) == -1
    assert open_parens("a) (b", 5) == [3]


def _bodies(sql: str, block) -> dict[str, str]:
    return {name: sql[c.start : c.end].strip() for name, c in block.items()}


def test_clause_map_spans_every_clause():
    sql = (
        "SELECT DISTINCT a AS x, f(b) FROM t JOIN u ON t.k = u.k "
        "WHERE a IS DISTINCT FROM b GROUP BY ROLLUP(a, b) HAVING 1 = 1 "
        "WINDOW w AS (ORDER BY a) ORDER BY 1 LIMIT 3 OFFSET 2"
    )
    block = clause_map(sql)
    assert _bodies(sql, block) == {
        "select": "a AS x, f(b)",
        "from": "t JOIN u ON t.k = u.k",
        "where": "a IS DISTINCT FROM b",
        "group by": "ROLLUP(a, b)",
        "having": "1 = 1",
        "window": "w AS (ORDER BY a)",
        "order by": "1",
        "limit": "3 OFFSET 2",
    }
    assert sql[block["group by"].head :].startswith("GROUP BY")
    assert block["select"].head == 0


def test_clause_map_skips_with_subqueries_strings_and_comments():
    sql = (
        "WITH c AS (SELECT k FROM v GROUP BY k) "
        "SELECT date_from_x, 'a FROM b', (SELECT max(k) FROM c) AS m "
        "-- GROUP BY nothing\n"
        "FROM /* WHERE */ t WHERE x IN (SELECT k FROM c WHERE k > 0)"
    )
    assert _bodies(sql, clause_map(sql)) == {
        "select": "date_from_x, 'a FROM b', (SELECT max(k) FROM c) AS m "
        "-- GROUP BY nothing",
        "from": "/* WHERE */ t",
        "where": "x IN (SELECT k FROM c WHERE k > 0)",
    }
    # an alias or identifier that spells a keyword opens no clause
    sql = "SELECT count(*) OVER () AS window FROM t GROUP BY a"
    assert _bodies(sql, clause_map(sql))["from"] == "t"


def test_query_blocks_one_per_set_operation_branch():
    sql = (
        "SELECT a AS x FROM t UNION ALL SELECT b, x FROM w "
        "GROUP BY ROLLUP(b, x) EXCEPT (SELECT 1 FROM v) ORDER BY 1"
    )
    blocks = [_bodies(sql, b) for b in query_blocks(sql)]
    assert blocks == [
        {"select": "a AS x", "from": "t"},
        {"select": "b, x", "from": "w", "group by": "ROLLUP(b, x)"},
    ]


def test_clause_map_inside_a_scope_stops_at_its_paren():
    sql = "SELECT * FROM (SELECT a FROM t GROUP BY a) s WHERE z"
    inner = clause_map(sql, sql.index("(") + 1)
    assert _bodies(sql, inner) == {"select": "a", "from": "t", "group by": "a"}
    assert sql[inner["group by"].end] == ")"
    assert clause_map("VALUES (1), (2)") is None
    # where a clause body stops, from inside it
    gb = sql.index("GROUP BY") + len("GROUP BY")
    assert sql[clause_end(sql, gb)] == ")"
    where = sql.index("WHERE") + len("WHERE")
    assert clause_end(sql, where) == len(sql)


def test_group_items_kinds():
    items = group_items(" a + 1, (b, c), (), (d) * 2, f(x) ")
    assert [(it.kind, it.members) for it in items] == [
        (EXPR, ("a + 1",)),
        (COMPOSITE, ("b", "c")),
        (EMPTY, ()),
        (EXPR, ("(d) * 2",)),
        (EXPR, ("f(x)",)),
    ]
    # raw parts rejoin to the clause; blank parts are dropped
    assert ",".join(it.raw for it in items) == (
        " a + 1, (b, c), (), (d) * 2, f(x) "
    )
    assert [it.text for it in group_items("a,,b ,")] == ["a", "b"]


def test_group_items_constructs_nest_and_normalize():
    (item,) = group_items(
        "grouping   sets ((a), ROLLUP(b, cube(c)), (), GROUPING SETS (()))"
    )
    assert item.kind == "GROUPING SETS"
    kinds = [a.kind for a in item.args]
    assert kinds == [COMPOSITE, "ROLLUP", EMPTY, "GROUPING SETS"]
    # ROLLUP and CUBE take expressions: a nested cube(c) is a call
    assert [a.kind for a in item.args[1].args] == [EXPR, EXPR]
    assert [a.kind for a in item.args[3].args] == [EMPTY]
    assert item.exprs() == ["a", "b", "cube(c)"]
    (cube,) = group_items("Cube (a, (b, a))")
    assert (cube.kind, cube.exprs()) == ("CUBE", ["a", "b", "a"])
    # a construct head not closed at the item's end is an expression
    assert group_items("rollup(a) + 1")[0].kind == EXPR
