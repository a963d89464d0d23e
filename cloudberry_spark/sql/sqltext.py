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

Unbalanced input never raises: ``match_paren`` returns -1, and a
depth-0 walk ends at a ``)`` that closes a paren opened before it.
"""

from __future__ import annotations

import functools
import re
from collections.abc import Iterator

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
