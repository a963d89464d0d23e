"""SQL/JSON path language compiler — jsonb_path_query over Spark VARIANT.

The reference implements the full SQL/JSON path language in
/root/reference/src/backend/utils/adt/jsonpath_exec.c (2,817 LoC: an
interpreter over JsonPathItem nodes) with the grammar in
jsonpath_gram.y. Spark 4's native answer to jsonb is the VARIANT type
(parse_json / variant_get / schema_of_variant — binary-encoded,
predicate-pushdown-friendly), so instead of interpreting path items
per row in Python, this module COMPILES a jsonpath expression once,
at plan time, into a Spark SQL expression tree over variant values:

    $.items[*] ? (@.qty > 45).price.double()
      → filter/transform/variant_get higher-order expression

Everything stays JVM-side (whole-stage codegen applies); the compiled
expression is the same shape the reference's executor walks, but
vectorized.

Supported subset (lax mode):
- member access ``.key``, array index ``[n]`` (0-based, as in PG
  jsonpath), wildcard ``[*]``
- filters ``? (pred)`` with ``@`` / ``@.key`` / ``@[n]`` operands,
  comparison ops, ``&&`` / ``||``, ``exists(@.key)``, and scalar
  arithmetic on the operand (``@.qty * 2 > 50``)
- item methods ``.size()``, ``.type()``, ``.double()``, ``.abs()``,
  ``.floor()``, ``.ceiling()``
Everything else (``**``, datetime(), keyvalue(), strict mode, $vars)
raises NotImplementedError loudly.
"""

from __future__ import annotations

import re

from cloudberry_spark.sql.sqltext import depth_at, split_top

__all__ = [
    "compile_jsonpath",
    "jsonb_path_query_array",
    "jsonb_path_exists",
]

_TOKEN_RE = re.compile(
    r"\s*(?:"
    r"(?P<root>\$)"
    r"|\.(?P<method>size|type|double|abs|floor|ceiling)\(\)"
    r"|\.(?P<member>[A-Za-z_]\w*)"
    r"|\[(?P<lo>\d+)\s+to\s+(?P<hi>\d+)\]"
    r"|\[(?P<index>\d+)\]"
    r"|\[(?P<star>\*)\]"
    r"|\?\s*\((?P<filter>(?:[^()'\"]|'[^']*'|\"[^\"]*\"|\([^()]*\))*)\)"
    r")"
)

#: schema_of_variant prefixes -> PG jsonb_typeof names
_TYPE_CASE = (
    "CASE WHEN {s} LIKE 'ARRAY%' THEN 'array' "
    "WHEN {s} LIKE 'OBJECT%' OR {s} LIKE 'STRUCT%' THEN 'object' "
    "WHEN {s} = 'STRING' THEN 'string' "
    "WHEN {s} = 'BOOLEAN' THEN 'boolean' "
    "WHEN {s} = 'VOID' THEN 'null' "
    "ELSE 'number' END"
)


class _Value:
    """Compilation state: a single variant expression or a sequence
    (array<variant>) — PG lax mode's item-vs-sequence duality."""

    def __init__(self, expr: str, is_seq: bool, done: bool = False):
        self.expr = expr
        self.is_seq = is_seq
        self.done = done  # a method produced a final (non-variant) value

    def map_elements(self, fn) -> "_Value":
        if self.is_seq:
            return _Value(
                f"transform({self.expr}, x -> {fn('x')})", True
            )
        return _Value(fn(self.expr), False)


def _filter_operand(expr: str, var: str) -> str:
    """Compile a filter operand (@, @.key, @[n], with optional method)
    to a variant-or-scalar SQL expression over lambda var `var`."""
    expr = expr.strip()
    if not expr.startswith("@"):
        raise NotImplementedError(f"jsonpath filter operand {expr!r}")
    rest = expr[1:]
    cur = var
    final = None
    while rest:
        m = re.match(r"\.(size|type|double|abs|floor|ceiling)\(\)", rest)
        if m:
            meth = m.group(1)
            rest = rest[m.end() :]
            if meth == "size":
                final = f"size(variant_get({cur}, '$', 'array<variant>'))"
            elif meth == "type":
                final = _TYPE_CASE.format(s=f"schema_of_variant({cur})")
            elif meth == "double":
                final = f"variant_get({cur}, '$', 'double')"
            else:
                final = f"{meth}(variant_get({cur}, '$', 'double'))"
            continue
        m = re.match(r"\.([A-Za-z_]\w*)", rest)
        if m:
            cur = f"variant_get({cur}, '$.{m.group(1)}')"
            rest = rest[m.end() :]
            continue
        m = re.match(r"\[(\d+)\]", rest)
        if m:
            cur = f"variant_get({cur}, '$[{m.group(1)}]')"
            rest = rest[m.end() :]
            continue
        raise NotImplementedError(f"jsonpath filter operand tail {rest!r}")
    return final if final is not None else cur


_CMP_RE = re.compile(
    r"^(?P<lhs>.+?)\s*(?P<op><=|>=|==|!=|<>|<|>)\s*(?P<rhs>.+)$"
)
_ARITH_RE = re.compile(r"^(?P<base>.+?)\s*(?P<aop>[+\-*/])\s*(?P<num>-?\d+(?:\.\d+)?)$")


def _compile_pred(pred: str, var: str) -> str:
    """Filter predicate -> SQL boolean over lambda variable `var`."""
    pred = pred.strip()
    # || then && (lowest precedence first)
    for sep, sql_op in (("||", " OR "), ("&&", " AND ")):
        parts = split_top(pred, sep)
        if len(parts) > 1:
            return "(" + sql_op.join(_compile_pred(p, var) for p in parts) + ")"
    if pred.startswith("(") and pred.endswith(")"):
        inner = pred[1:-1]
        if depth_at(inner, len(inner)) == 0:
            return _compile_pred(inner, var)
    m = re.match(r"^exists\s*\((?P<e>.+)\)$", pred, re.I)
    if m:
        return f"({_filter_operand(m.group('e'), var)}) IS NOT NULL"
    # SQL/JSON string predicates (jsonpath_exec.c executeLikeRegex /
    # jpiStartsWith): like_regex with optional flag "i", starts with
    m = re.match(
        r'^(?P<e>.+?)\s+like_regex\s+"(?P<rx>[^"]*)"'
        r'(?:\s+flag\s+"(?P<fl>[^"]*)")?$',
        pred,
        re.I,
    )
    if m:
        rx = m.group("rx").replace("\\", "\\\\").replace("'", "''")
        if m.group("fl") and "i" in m.group("fl").lower():
            rx = "(?i)" + rx
        op = _filter_operand(m.group("e"), var)
        return f"regexp_like(variant_get({op}, '$', 'string'), '{rx}')"
    m = re.match(
        r'^(?P<e>.+?)\s+starts\s+with\s+"(?P<p>[^"]*)"$', pred, re.I
    )
    if m:
        lit = m.group("p").replace("'", "''")
        op = _filter_operand(m.group("e"), var)
        return f"startswith(variant_get({op}, '$', 'string'), '{lit}')"
    m = _CMP_RE.match(pred)
    if not m:
        raise NotImplementedError(f"jsonpath predicate {pred!r}")
    lhs, op, rhs = m.group("lhs").strip(), m.group("op"), m.group("rhs").strip()
    if op == "==":
        op = "="
    # operand arithmetic: (@.qty * 2) > 50
    am = _ARITH_RE.match(lhs)
    arith = ""
    if am and am.group("base").strip().startswith("@"):
        lhs = am.group("base").strip()
        arith = f" {am.group('aop')} {am.group('num')}"
    operand = _filter_operand(lhs, var)
    if re.fullmatch(r"'[^']*'", rhs):
        return f"(variant_get({operand}, '$', 'string') {op} {rhs})"
    if re.fullmatch(r"-?\d+(?:\.\d+)?", rhs):
        return (
            f"((variant_get({operand}, '$', 'double'){arith}) {op} {rhs})"
        )
    if rhs.lower() in ("true", "false"):
        return f"(variant_get({operand}, '$', 'boolean') {op} {rhs})"
    raise NotImplementedError(f"jsonpath comparison rhs {rhs!r}")


def compile_jsonpath(json_expr: str, path: str) -> _Value:
    """Compile `jsonb_path_query(json_expr, path)` to a _Value whose
    .expr is a Spark SQL expression (variant, array<variant>, or a
    final scalar when the path ends in a method)."""
    # mode prefix (jsonpath_gram.y): lax is PG's default and ours;
    # strict mode (errors instead of sequence adaptation) has no
    # Spark expression analog and fails loudly.
    path = path.strip()
    if path.startswith("lax "):
        path = path[4:]
    elif path.startswith("strict "):
        raise NotImplementedError(
            "jsonpath strict mode is not supported (lax is the "
            "default on both engines' happy path)"
        )
    pos = 0
    val: _Value | None = None
    while pos < len(path):
        m = _TOKEN_RE.match(path, pos)
        if not m or m.end() == pos:
            raise NotImplementedError(
                f"jsonpath: cannot parse at {path[pos:]!r}"
            )
        pos = m.end()
        if m.group("root"):
            if val is not None:
                raise NotImplementedError("jsonpath: $ mid-path")
            val = _Value(f"parse_json({json_expr})", False)
            continue
        if val is None:
            raise NotImplementedError("jsonpath must start at $")
        if val.done:
            raise NotImplementedError(
                "jsonpath: steps after a terminal method"
            )
        if m.group("member"):
            k = m.group("member")
            val = val.map_elements(lambda v, k=k: f"variant_get({v}, '$.{k}')")
        elif m.group("lo") is not None:
            # $[lo to hi] range subscript (jsonpath_exec.c
            # executeItemOptUnwrapTarget array ranges): inclusive
            # 0-based bounds -> slice(arr, lo+1, hi-lo+1)
            lo, hi = int(m.group("lo")), int(m.group("hi"))
            arr = (
                val.expr
                if val.is_seq
                else f"variant_get({val.expr}, '$', 'array<variant>')"
            )
            val = _Value(
                f"slice({arr}, {lo + 1}, {hi - lo + 1})", True
            )
        elif m.group("index") is not None:
            n = int(m.group("index"))
            if val.is_seq:
                val = _Value(f"element_at({val.expr}, {n + 1})", False)
            else:
                val = _Value(f"variant_get({val.expr}, '$[{n}]')", False)
        elif m.group("star"):
            if val.is_seq:
                val = _Value(
                    f"flatten(transform({val.expr}, "
                    f"x -> variant_get(x, '$', 'array<variant>')))",
                    True,
                )
            else:
                val = _Value(
                    f"variant_get({val.expr}, '$', 'array<variant>')", True
                )
        elif m.group("filter") is not None:
            pred = m.group("filter")
            if val.is_seq:
                val = _Value(
                    f"filter({val.expr}, x -> {_compile_pred(pred, 'x')})",
                    True,
                )
            else:
                # lax scalar filter: value survives or becomes NULL
                val = _Value(
                    f"CASE WHEN {_compile_pred(pred, val.expr)} "
                    f"THEN {val.expr} END",
                    False,
                )
        elif m.group("method"):
            meth = m.group("method")
            if meth == "size":
                e = (
                    f"size({val.expr})"
                    if val.is_seq
                    else (
                        f"CASE WHEN schema_of_variant({val.expr}) LIKE "
                        f"'ARRAY%' THEN size(variant_get({val.expr}, '$', "
                        f"'array<variant>')) ELSE 1 END"
                    )
                )
                val = _Value(e, False, done=True)
            elif meth == "type":
                val = val.map_elements(
                    lambda v: _TYPE_CASE.format(s=f"schema_of_variant({v})")
                )
                val.done = True
            elif meth == "double":
                val = val.map_elements(
                    lambda v: f"variant_get({v}, '$', 'double')"
                )
                val.done = True
            else:  # abs / floor / ceiling
                val = val.map_elements(
                    lambda v, f=meth: f"{f}(variant_get({v}, '$', 'double'))"
                )
                val.done = True
    if val is None:
        raise NotImplementedError("empty jsonpath")
    return val


def jsonb_path_query_array(
    json_expr: str, path: str, elem_type: str = "string"
) -> str:
    """jsonb_path_query_array(j, path) — results as a typed array."""
    v = compile_jsonpath(json_expr, path)
    if not v.is_seq:
        raise NotImplementedError("path does not produce a sequence")
    if v.done:
        return v.expr
    return f"transform({v.expr}, x -> variant_get(x, '$', '{elem_type}'))"


def jsonb_path_exists(json_expr: str, path: str) -> str:
    """jsonb_path_exists(j, path) — does the path yield any item?"""
    v = compile_jsonpath(json_expr, path)
    if v.is_seq:
        return f"(size({v.expr}) > 0)"
    return f"({v.expr} IS NOT NULL)"
