"""Unit tests for the shared SQL-text scanner (no Spark needed)."""

from __future__ import annotations

import re

import pytest

from cloudberry_spark.sql.sqltext import (
    depth_at,
    iter_top,
    match_paren,
    open_parens,
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
