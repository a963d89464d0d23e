"""SQL text scanning by quotes and parentheses.

The one place the engine walks SQL (and PL/pgSQL) text by paren depth.
The reference reads SQL with one lexer (``scan.l``) in front of one
grammar (``gram.y``); this module is the part of that lexer the rewrite
passes share, and the place a full token lexer grows from:

- ``STRING_OR_COMMENT_RE`` recognizes string literals and comments;
  every scan here steps over them, so a ``(``, ``,`` or keyword inside
  ``'a (b'`` or ``-- don't (`` never counts;
- ``depth_at`` and ``open_parens`` report the nesting at a position;
- ``match_paren`` pairs a paren with its partner, forward from ``(``
  or backward from ``)``;
- ``iter_top`` is the depth-0 iterator, and ``split_top`` splits on a
  depth-0 separator.

On top of those sit two readers of query structure, the part of the
grammar the rewrite passes share:

- ``query_blocks``/``clause_map`` give the clause map of a query block
  (gram.y ``simple_select``): the depth-0 spans of its SELECT list,
  FROM, WHERE, GROUP BY, HAVING, WINDOW, ORDER BY and LIMIT, read with
  one keyword set; ``select_list`` reads just the SELECT list, and
  ``clause_end`` finds where a clause body stops;
- ``group_items`` parses a GROUP BY clause into ``GroupItem``s
  (gram.y ``group_by_item``): ``()``, an expression, a parenthesized
  composite, or a GROUPING SETS/CUBE/ROLLUP construct with its kind
  normalized and its arguments parsed.

Unbalanced input never raises: ``match_paren`` returns -1, and a
depth-0 walk ends at a ``)`` that closes a paren opened before it.
"""

from __future__ import annotations

import functools
import re
from collections.abc import Iterator
from typing import NamedTuple

#: String literals and SQL comments in ONE alternation, so a left-to-
#: right scan resolves nesting the way the PG lexer does: an apostrophe
#: inside `-- don't ...` or /* ... */ never pairs with a later quote,
#: and a `--` inside 'a -- b' stays literal text.
STRING_OR_COMMENT_RE = re.compile(
    r"'(?:[^']|'')*'|--[^\n]*|/\*(?:[^*]|\*(?!/))*\*/"
)

#: the bracket pair of an ordinary paren walk, as regex sources
_PARENS = (r"\(", r"\)")

_INLINE_FLAGS = ((re.I, "i"), (re.M, "m"), (re.S, "s"), (re.X, "x"))


def _source(pattern: str | re.Pattern) -> str:
    """Regex source of ``pattern``; a compiled pattern keeps its flags
    as a scoped inline group."""
    if isinstance(pattern, str):
        return pattern
    flags = "".join(c for f, c in _INLINE_FLAGS if pattern.flags & f)
    return f"(?{flags}:{pattern.pattern})" if flags else pattern.pattern


@functools.lru_cache(maxsize=256)
def _scanner(hit: str | None, brackets: tuple[str, str]) -> re.Pattern:
    """One alternation over skipped text, the bracket pair and ``hit``;
    the earlier alternative wins at a position."""
    alts = [
        f"(?P<skip>{STRING_OR_COMMENT_RE.pattern})",
        f"(?P<open>{brackets[0]})",
        f"(?P<close>{brackets[1]})",
    ]
    if hit is not None:
        alts.append(f"(?P<hit>{hit})")
    return re.compile("|".join(alts))


def depth_at(text: str, i: int) -> int:
    """Opens minus closes in ``text[:i]``: 0 at top level, negative
    past an unmatched ``)``."""
    head = text[:i]
    # the frontend's masked text has no literals or comments: skip the
    # regex pass there and count at C speed
    if "'" in head or "--" in head or "/*" in head:
        head = STRING_OR_COMMENT_RE.sub("", head)
    return head.count("(") - head.count(")")


def open_parens(text: str, i: int) -> list[int]:
    """Indices of the ``(`` still open at ``i``, outermost first. An
    unmatched ``)`` before ``i`` closes nothing."""
    stack: list[int] = []
    for m in _scanner(None, _PARENS).finditer(text, 0, i):
        if m.lastgroup == "open":
            stack.append(m.start())
        elif m.lastgroup == "close" and stack:
            stack.pop()
    return stack


def match_paren(text: str, i: int) -> int:
    """Index of the paren paired with the one at ``i``: forward from a
    ``(``, backward from a ``)``. -1 when it has no partner."""
    if text[i] == ")":
        opens = open_parens(text, i)
        return opens[-1] if opens else -1
    for m in iter_top(text, None, i + 1):
        return m.start()
    return -1


def iter_top(
    text: str,
    pattern: str | re.Pattern | None,
    pos: int = 0,
    brackets: tuple[str, str] = _PARENS,
) -> Iterator[re.Match]:
    """Each match of ``pattern`` in ``text[pos:]`` at bracket depth 0
    (relative to ``pos``), outside strings and comments.

    A close bracket at depth 0 ends the walk: it is the end of the
    enclosing scope, and is yielded last, as a match whose
    ``lastgroup`` is ``"close"``. So ``next(iter_top(...)).start()``
    finds the first stop keyword or the scope's end. Read a match
    through ``start``/``end``/``group()``: the groups are the
    scanner's, not ``pattern``'s. ``brackets`` are regex sources;
    ``(r"(?i:\\bCASE\\b)", r"(?i:\\bEND\\b)")`` walks CASE nesting."""
    hit = None if pattern is None else _source(pattern)
    depth = 0
    for m in _scanner(hit, brackets).finditer(text, pos):
        kind = m.lastgroup
        if kind == "open":
            depth += 1
        elif kind == "close":
            if depth == 0:
                yield m
                return
            depth -= 1
        elif kind == "hit" and depth == 0:
            yield m


def split_top(text: str, sep: str | re.Pattern = ",") -> list[str]:
    """``text`` split on depth-0 ``sep`` (a literal string or a compiled
    pattern). Parts are unstripped and the tail is always kept, so
    ``""`` gives ``[""]``; past an unmatched ``)`` nothing splits."""
    hit = re.escape(sep) if isinstance(sep, str) else sep
    parts, start = [], 0
    for m in iter_top(text, hit):
        if m.lastgroup == "close":
            break
        parts.append(text[start : m.start()])
        start = m.end()
    parts.append(text[start:])
    return parts


#: the clauses of a query block, in grammar order (gram.y
#: ``simple_select`` and ``select_limit``); LIMIT, OFFSET and FETCH all
#: open the one "limit" clause
CLAUSES = (
    "select", "from", "where", "group by", "having", "window",
    "order by", "limit",
)
_CLAUSE_OF = {
    "SELECT": "select", "FROM": "from", "WHERE": "where",
    "GROUP": "group by", "HAVING": "having", "WINDOW": "window",
    "ORDER": "order by", "LIMIT": "limit", "OFFSET": "limit",
    "FETCH": "limit",
}
_SET_OPS = ("UNION", "INTERSECT", "EXCEPT")

_SELECT_HEAD_RE = re.compile(r"SELECT(?:\s+(?:DISTINCT|ALL)\b)?", re.I)
#: every keyword that opens a clause or ends a block, in one pattern.
#: SELECT takes its DISTINCT/ALL along; WINDOW counts only before a
#: ``name AS (`` definition, so a column aliased ``window`` opens no
#: clause; and ``DISTINCT FROM`` is read only to be stepped over: the
#: FROM of ``a IS DISTINCT FROM b`` opens no clause either.
_BLOCK_KW = (
    rf"(?i:\b(?:{_SELECT_HEAD_RE.pattern}|DISTINCT\s+FROM|FROM"
    r"|WHERE|(?:GROUP|ORDER)\s+BY|HAVING|WINDOW(?=\s+\w+\s+AS\s*\()"
    r"|LIMIT|OFFSET|FETCH|UNION|INTERSECT|EXCEPT)\b)"
)


class Clause(NamedTuple):
    """One clause of a query block: its keyword starts at ``head``,
    its body is ``text[start:end]``."""

    head: int
    start: int
    end: int


def query_blocks(text: str, pos: int = 0) -> Iterator[dict[str, Clause]]:
    """The clause map of each query block at depth 0 of the scope at
    ``pos``, in order: one per set-operation branch spelled without
    parens.

    A map takes names from ``CLAUSES`` to ``Clause`` spans and always
    holds "select", whose body is the select list after any
    DISTINCT/ALL. A body runs to the next clause keyword that comes
    later in grammar order, so a keyword out of order belongs to the
    body (the FROM of ``ROWS FROM (..)`` in a FROM list). A block ends
    at a depth-0 UNION/INTERSECT/EXCEPT, at the scope's closing paren,
    or at the end of ``text``."""
    block: dict[str, Clause] | None = None
    cur = ""
    for m in iter_top(text, _BLOCK_KW, pos):
        word = m.group().split(None, 1)[0].upper()
        ends = m.lastgroup == "close" or word in _SET_OPS
        name = _CLAUSE_OF.get(word)
        if block is None:
            if name == "select":
                block, cur = {name: Clause(m.start(), m.end(), -1)}, name
        elif ends or (
            name is not None and CLAUSES.index(name) > CLAUSES.index(cur)
        ):
            block[cur] = block[cur]._replace(end=m.start())
            if ends:
                yield block
                block = None
            else:
                block[name], cur = Clause(m.start(), m.end(), -1), name
        if m.lastgroup == "close":
            return
    if block is not None:
        block[cur] = block[cur]._replace(end=len(text))
        yield block


def clause_map(text: str, pos: int = 0) -> dict[str, Clause] | None:
    """Clause map of the block whose SELECT is the first one at depth 0
    (relative to ``pos``) at or after ``pos``; None when there is none
    before the scope ends."""
    return next(query_blocks(text, pos), None)


def select_list(text: str, pos: int) -> Clause:
    """The "select" clause of the block whose SELECT keyword starts at
    ``pos``, read without the rest of the block."""
    head = _SELECT_HEAD_RE.match(text, pos)
    return Clause(pos, head.end(), clause_end(text, head.end()))


def clause_end(text: str, pos: int) -> int:
    """Where a clause body that starts at ``pos`` stops: at the next
    depth-0 clause keyword or set operation, at the scope's closing
    paren, or at the end of ``text``."""
    for m in iter_top(text, _BLOCK_KW, pos):
        if not m.group().upper().startswith("DISTINCT"):
            return m.start()
    return len(text)


#: the grouping constructs, by their normalized kind
CONSTRUCTS = ("GROUPING SETS", "CUBE", "ROLLUP")
#: the other kinds of a GROUP BY item
EMPTY, EXPR, COMPOSITE = "()", "expr", "composite"

_CONSTRUCT_HEAD_RE = re.compile(r"(GROUPING\s+SETS|CUBE|ROLLUP)\s*\(", re.I)


class GroupItem(NamedTuple):
    """One GROUP BY item (gram.y ``group_by_item``)."""

    #: the item as split from its list, unstripped
    raw: str
    #: EMPTY, EXPR, COMPOSITE, or one of ``CONSTRUCTS``
    kind: str
    #: an EXPR's own text, or a COMPOSITE's members
    members: tuple[str, ...] = ()
    #: a construct's arguments, parsed as items
    args: tuple[GroupItem, ...] = ()

    @property
    def text(self) -> str:
        return self.raw.strip()

    def exprs(self) -> list[str]:
        """Every expression the item groups by, composites and
        constructs flattened, in order (repeats kept)."""
        if self.kind in CONSTRUCTS:
            return [e for a in self.args for e in a.exprs()]
        return list(self.members)


def group_items(clause: str, constructs: bool = True) -> list[GroupItem]:
    """The items of a GROUP BY list, blank parts dropped, each
    classified once. A construct's arguments are parsed the same way,
    but ROLLUP and CUBE take expression lists: inside them, and
    wherever ``constructs`` is false, ``cube(x)`` is a call, as in
    PG."""
    items = []
    for raw in split_top(clause):
        text = raw.strip()
        if not text:
            continue
        m = _CONSTRUCT_HEAD_RE.match(text) if constructs else None
        if re.fullmatch(r"\(\s*\)", text):
            items.append(GroupItem(raw, EMPTY))
        elif text[0] == "(" and match_paren(text, 0) == len(text) - 1:
            members = (p.strip() for p in split_top(text[1:-1]))
            items.append(
                GroupItem(raw, COMPOSITE, tuple(filter(None, members)))
            )
        elif m and match_paren(text, m.end() - 1) == len(text) - 1:
            kind = re.sub(r"\s+", " ", m.group(1).upper())
            args = group_items(text[m.end() : -1], kind == "GROUPING SETS")
            items.append(GroupItem(raw, kind, args=tuple(args)))
        else:
            items.append(GroupItem(raw, EXPR, (text,)))
    return items
