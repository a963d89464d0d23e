"""PL/pgSQL (stateless scalar subset) -> Spark SQL expression compiler.

The reference executes PL/pgSQL procedurally, one statement at a time
(/root/reference/src/pl/plpgsql/src/pl_exec.c — exec_stmt_if,
exec_stmt_assign, exec_stmt_return; grammar in pl_gram.y). For the
stateless scalar subset — DECLARE with optional initializers,
``v := expr`` / ``v = expr`` assignments, ``IF/ELSIF/ELSE/END IF``, and
``RETURN expr`` — the function is a pure expression over its arguments,
so instead of a row-at-a-time Python interpreter (the slow path on
Spark) we SYMBOLICALLY EXECUTE the body at CREATE time into one Spark
SQL expression:

- assignments substitute into an environment (var -> parenthesized
  SQL expression), exactly SSA-style;
- IF compiles to CASE WHEN, with the statement tail replayed inside
  each arm so fall-through assignments compose;
- RETURN terminates a path with the fully-substituted expression.

The resulting expression registers as a Spark SQL-bodied temporary
function (``CREATE FUNCTION ... RETURN expr``), which Catalyst INLINES
into the calling plan — whole-stage codegen applies, predicate pushdown
still works through it, and there is zero per-row Python cost. That is
the Spark-first answer to "my warehouse is full of small plpgsql
helpers": the majority class of them (branching scalar logic) becomes
free. Constant-range FOR loops unroll at compile time
(exec_stmt_fori) and WHILE loops unroll to a bounded CASE chain of
_WHILE_CAP iterations (exec_stmt_while; rows still looping at the cap
yield NULL — the single-expression analog of non-termination).
Cursors, EXCEPTION blocks, PERFORM and embedded SQL statements remain
out of scope and raise NotImplementedError loudly.

Positional parameters ``$1..$n`` (the recursion_test style in the
reference's plpgsql.sql:1437-1446) are bound to generated arg names.
PG-dialect expressions inside the body go through translate_pg_sql, so
``||``, ``::type`` casts etc. work.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

from cloudberry_spark.sql.pgcompat import translate_pg_sql
from cloudberry_spark.sql.sqltext import (
    clause_map,
    iter_top,
    match_paren,
    split_top,
)

__all__ = ["compile_plpgsql", "create_plpgsql_function"]

#: PG type name -> Spark SQL type (subset; mirrors pgcompat's cast map)
_TYPE_MAP = {
    "int": "INT",
    "int4": "INT",
    "integer": "INT",
    "int8": "BIGINT",
    "bigint": "BIGINT",
    "smallint": "SMALLINT",
    "int2": "SMALLINT",
    "float8": "DOUBLE",
    "float4": "FLOAT",
    "real": "FLOAT",
    "double precision": "DOUBLE",
    "numeric": "DECIMAL(38,9)",
    "text": "STRING",
    "varchar": "STRING",
    "bpchar": "STRING",
    "char": "STRING",
    "bool": "BOOLEAN",
    "boolean": "BOOLEAN",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
    "timestamptz": "TIMESTAMP",
}


def _map_type(pg_type: str) -> str:
    t = pg_type.strip().lower()
    m = re.match(r"(numeric|decimal)\s*\(([^)]*)\)", t)
    if m:
        return f"DECIMAL({m.group(2)})"
    m = re.match(r"(varchar|char|bpchar)\s*\(", t)
    if m:
        return "STRING"
    return _TYPE_MAP.get(t, pg_type.upper())


_WS_OR_COMMENT = re.compile(r"(?:\s+|--[^\n]*\n?|/\*.*?\*/)+", re.S)


class _Parser:
    """Recursive-descent over the masked body text."""

    def __init__(self, text: str):
        self.text = text
        self.pos = 0

    def _skip_ws(self) -> None:
        m = _WS_OR_COMMENT.match(self.text, self.pos)
        if m:
            self.pos = m.end()

    def peek_kw(self, *kws: str) -> str | None:
        self._skip_ws()
        for kw in kws:
            pat = r"\s+".join(re.escape(w) for w in kw.split())
            m = re.match(rf"(?i:{pat})\b", self.text[self.pos :])
            if m:
                return kw
        return None

    def take_kw(self, *kws: str) -> str | None:
        kw = self.peek_kw(*kws)
        if kw is None:
            return None
        pat = r"\s+".join(re.escape(w) for w in kw.split())
        m = re.match(rf"(?i:{pat})\b", self.text[self.pos :])
        self.pos += m.end()
        return kw

    def until(self, *stop_kws: str) -> str:
        """Consume text up to (not including) the next depth-0 stop
        keyword or ';'. Keywords only stop at paren depth 0."""
        self._skip_ws()
        start = self.pos
        stop = "|".join(
            ";" if kw == ";"
            else r"(?<!\w)(?i:%s)\b" % r"\s+".join(map(re.escape, kw.split()))
            for kw in stop_kws
        )
        m = next(iter_top(self.text, stop, start), None)
        self.pos = m.start() if m else len(self.text)
        return self.text[start : self.pos].strip()

    def expect(self, token: str) -> None:
        self._skip_ws()
        if not self.text.startswith(token, self.pos):
            raise NotImplementedError(
                f"plpgsql subset: expected {token!r} at "
                f"...{self.text[self.pos : self.pos + 40]!r}"
            )
        self.pos += len(token)

    def at_end(self) -> bool:
        self._skip_ws()
        return self.pos >= len(self.text)


def _parse_stmts(p: _Parser, terminators: tuple[str, ...]) -> list:
    """stmt list until one of `terminators` (not consumed)."""
    stmts: list = []
    while not p.at_end():
        if p.peek_kw(*terminators):
            return stmts
        p._skip_ws()
        # <<label>> before a loop or a nested block (pl_gram.y
        # opt_block_label); the label scopes EXIT/CONTINUE targets and
        # block-qualified variable names
        label = None
        lm = re.match(r"<<\s*([A-Za-z_]\w*)\s*>>", p.text[p.pos :])
        if lm:
            label = lm.group(1).lower()
            p.pos += lm.end()
        if p.take_kw("DECLARE", "BEGIN"):
            # nested block (pl_exec.c exec_stmt_block): DECLARE'd names
            # shadow outer ones and revert at END; label-qualified
            # references (label.var) reach the block's own bindings
            back = p.text[: p.pos].rstrip().upper()
            has_decl = back.endswith("DECLARE")
            decls_text = ""
            if has_decl:
                decls_text = p.until("BEGIN")
                if not p.take_kw("BEGIN"):
                    raise NotImplementedError(
                        "plpgsql subset: nested DECLARE without BEGIN"
                    )
            body = _parse_stmts(p, ("END",))
            if not p.take_kw("END"):
                raise NotImplementedError(
                    "plpgsql subset: nested block missing END"
                )
            p.expect(";")
            stmts.append(("block", label, decls_text, body))
            continue
        if p.take_kw("EXIT"):
            tgt = None
            p._skip_ws()
            tm = re.match(r"([A-Za-z_]\w*)", p.text[p.pos :])
            if tm and tm.group(1).upper() != "WHEN":
                tgt = tm.group(1).lower()
                p.pos += tm.end()
            cond = None
            if p.take_kw("WHEN"):
                cond = p.until(";")
            else:
                p._skip_ws()
            p.expect(";")
            stmts.append(("exit", tgt, cond))
            continue
        if p.take_kw("CONTINUE"):
            tgt = None
            p._skip_ws()
            tm = re.match(r"([A-Za-z_]\w*)", p.text[p.pos :])
            if tm and tm.group(1).upper() != "WHEN":
                tgt = tm.group(1).lower()
                p.pos += tm.end()
            cond = None
            if p.take_kw("WHEN"):
                cond = p.until(";")
            else:
                p._skip_ws()
            p.expect(";")
            stmts.append(("continue", tgt, cond))
            continue
        if p.take_kw("FOR"):
            # FOR i IN <int>..<int> LOOP stmts END LOOP; — constant
            # bounds unroll at compile time (pl_exec.c exec_stmt_fori;
            # non-constant bounds would need runtime iteration, which
            # has no single-expression form — rejected loudly below)
            p._skip_ws()
            qm = re.match(
                r"([A-Za-z_]\w*)\s+(?i:IN)\s+(?=(?i:SELECT)\b)",
                p.text[p.pos :],
            )
            if qm:
                # FOR r IN SELECT ... LOOP acc := acc + f(r.col); END
                # LOOP; — the data-dependent loop (pl_exec.c
                # exec_stmt_fors). Sequential += accumulation is a
                # commutative reduce, so it compiles to a scalar
                # aggregate subquery instead of row-at-a-time
                # iteration (the join/aggregate form).
                p.pos += qm.end()
                query = p.until("LOOP")
                if not p.take_kw("LOOP"):
                    raise NotImplementedError(
                        "plpgsql subset: missing LOOP"
                    )
                body = _parse_stmts(p, ("END LOOP",))
                if not p.take_kw("END LOOP"):
                    raise NotImplementedError(
                        "plpgsql subset: missing END LOOP"
                    )
                p.expect(";")
                stmts.append(("forq", qm.group(1).lower(), query, body))
                if label is not None:
                    raise NotImplementedError(
                        "plpgsql subset: labels on query loops are not "
                        "supported (the loop compiles to an aggregate)"
                    )
                continue
            fm = re.match(
                r"([A-Za-z_]\w*)\s+(?i:IN)\s+(?:(?i:REVERSE)\s+)?"
                r"(-?\d+)\s*\.\.\s*(-?\d+)",
                p.text[p.pos :],
            )
            if not fm:
                raise NotImplementedError(
                    "plpgsql subset: FOR supports only constant integer "
                    "ranges (FOR i IN 1..10 LOOP ...) or FOR r IN "
                    "SELECT ... accumulation loops"
                )
            p.pos += fm.end()
            if not p.take_kw("LOOP"):
                raise NotImplementedError("plpgsql subset: missing LOOP")
            body = _parse_stmts(p, ("END LOOP",))
            if not p.take_kw("END LOOP"):
                raise NotImplementedError("plpgsql subset: missing END LOOP")
            p.expect(";")
            a, b = int(fm.group(2)), int(fm.group(3))
            # PG iterates from the FIRST bound to the second: REVERSE
            # 3..1 counts down 3,2,1 (exec_stmt_fori step sign)
            reverse = "reverse" in fm.group(0).lower()
            rng = range(a, b - 1, -1) if reverse else range(a, b + 1)
            if len(rng) > 64:
                raise NotImplementedError(
                    "plpgsql subset: FOR range unrolls at compile time; "
                    f"{len(rng)} iterations exceeds the 64-iteration cap"
                )
            stmts.append(("for", fm.group(1).lower(), list(rng), body, label))
        elif p.take_kw("WHILE"):
            # WHILE cond LOOP stmts END LOOP; — unrolled to a bounded
            # CASE chain at compile time (pl_exec.c exec_stmt_while).
            # The body must be straight-line (assignments / constant
            # FORs); paths still looping after _WHILE_CAP iterations
            # yield NULL — the single-expression analog of a
            # non-terminating loop.
            cond = p.until("LOOP")
            if not p.take_kw("LOOP"):
                raise NotImplementedError("plpgsql subset: missing LOOP")
            body = _parse_stmts(p, ("END LOOP",))
            if not p.take_kw("END LOOP"):
                raise NotImplementedError("plpgsql subset: missing END LOOP")
            p.expect(";")
            stmts.append(("while", cond, body))
            if label is not None:
                raise NotImplementedError(
                    "plpgsql subset: labels on WHILE are not supported"
                )
        elif p.take_kw("IF"):
            arms = []
            cond = p.until("THEN")
            p.take_kw("THEN")
            body = _parse_stmts(p, ("ELSIF", "ELSEIF", "ELSE", "END IF"))
            arms.append((cond, body))
            while p.take_kw("ELSIF", "ELSEIF"):
                cond = p.until("THEN")
                p.take_kw("THEN")
                arms.append(
                    (
                        cond,
                        _parse_stmts(
                            p, ("ELSIF", "ELSEIF", "ELSE", "END IF")
                        ),
                    )
                )
            else_body: list = []
            if p.take_kw("ELSE"):
                else_body = _parse_stmts(p, ("END IF",))
            if not p.take_kw("END IF"):
                raise NotImplementedError("plpgsql subset: missing END IF")
            p.expect(";")
            stmts.append(("if", arms, else_body))
        elif p.take_kw("RETURN"):
            expr = p.until(";")
            p.expect(";")
            stmts.append(("return", expr))
        elif p.take_kw("NULL"):
            p.expect(";")  # no-op statement
        else:
            # assignment: ident := expr  or  ident = expr (pl_gram.y
            # accepts both; reference plpgsql.sql:1441 uses '=')
            p._skip_ws()
            m = re.match(r"([A-Za-z_][\w.]*)\s*:?=", p.text[p.pos :])
            if not m:
                raise NotImplementedError(
                    "plpgsql subset: unsupported statement at "
                    f"{p.text[p.pos : p.pos + 40]!r} (loops, cursors, "
                    "EXCEPTION, PERFORM and SQL statements are out of "
                    "the stateless scalar subset)"
                )
            p.pos += m.end()
            expr = p.until(";")
            p.expect(";")
            stmts.append(("assign", m.group(1).lower(), expr))
    return stmts


#: dotted pair first so label-qualified (outerblock.param1) and record
#: (rec.field) references resolve as one unit; unresolved dotted names
#: (table.col inside SQL subqueries) pass through untouched
_IDENT_RE = re.compile(
    r"\b[A-Za-z_]\w*\.[A-Za-z_]\w*\b|\b[A-Za-z_]\w*\b|\$\d+"
)


def _subst(expr: str, env: dict[str, str]) -> str:
    """Replace variable references with their current (parenthesized)
    symbolic values. $N positionals live in env under '$N'."""

    def repl(m: re.Match) -> str:
        return env.get(m.group(0).lower(), m.group(0))

    return _IDENT_RE.sub(repl, expr).strip()


def _apply_query_loop(
    var: str, query: str, body: list, env: dict[str, str]
) -> dict[str, str]:
    """Environment effect of ``FOR var IN <query> LOOP body END LOOP``.

    Each body statement must be ``acc := acc + expr`` (expr may use
    var.field record references): sequential += accumulation is
    order-insensitive, so it becomes

        acc := acc + coalesce((SELECT sum(expr) FROM (query) var), 0)

    — one scalar-aggregate subquery per accumulator, which Catalyst
    plans as a plain aggregate (and decorrelates if query references
    outer columns). Anything else inside the loop (cross-accumulator
    reads, IF, RETURN) has no single-expression form and fails loudly.
    """
    # protect var.field record refs from variable substitution (a
    # declared variable named like the FIELD must not substitute into
    # the record reference)
    recs: list[str] = []

    def _mask_rec(m: re.Match) -> str:
        recs.append(m.group(0))
        return f"__rec{len(recs) - 1}__"

    accs: list[str] = []
    for s in body:
        if s[0] != "assign":
            raise NotImplementedError(
                "plpgsql subset: FOR-IN-SELECT bodies support only "
                "`acc := acc + expr` accumulations"
            )
        acc, rhs = s[1], s[2]
        rm = re.match(
            rf"\s*{re.escape(acc)}\s*\+\s*(.+)$", rhs, re.I | re.S
        )
        if rm is None:
            raise NotImplementedError(
                "plpgsql subset: FOR-IN-SELECT accumulations must have "
                f"the shape `{acc} := {acc} + expr`"
            )
        if acc in accs:
            raise NotImplementedError(
                "plpgsql subset: one accumulation per accumulator "
                "inside a FOR-IN-SELECT loop"
            )
        step = re.sub(rf"\b{re.escape(var)}\.\w+", _mask_rec, rm.group(1))
        for other in (b[1] for b in body if b is not s):
            if re.search(rf"\b{re.escape(other)}\b", step, re.I):
                raise NotImplementedError(
                    "plpgsql subset: FOR-IN-SELECT accumulators must "
                    "be independent of each other"
                )
        step = _subst(step, env)
        qtext = re.sub(rf"\b{re.escape(var)}\.\w+", _mask_rec, query)
        qtext = _subst(qtext, env)
        qtext = re.sub(
            r"__rec(\d+)__", lambda g: recs[int(g.group(1))], qtext
        )
        # Spark rejects aggregates whose argument mixes outer (function
        # argument) and local (record) references, so split the step
        # into top-level signed terms: record terms ride sum(), free
        # terms ride count(*) * term — sum(A + B) = sum(A) + count(*)*B
        # for record-free B. Terms the splitter cannot see through stay
        # in the sum and fail loudly if Spark cannot plan them. A '-'
        # that looks like a unary minus (start of the step or right after
        # another operator) binds to its term.
        terms, start, sign = [], 0, "+"
        for m in iter_top(step, "[+-]"):
            if m.lastgroup == "hit" and step[start : m.start()].strip():
                terms.append((sign, step[start : m.start()].strip()))
                sign, start = m.group(), m.end()
        terms.append((sign, step[start:].strip()))
        rec_terms = [t for t in terms if "__rec" in t[1]]
        free_terms = [t for t in terms if "__rec" not in t[1]]
        parts = []
        if rec_terms:
            rec_expr = _join_terms(rec_terms)
            rec_expr = re.sub(
                r"__rec(\d+)__", lambda g: recs[int(g.group(1))], rec_expr
            )
            parts.append(
                f"coalesce((SELECT sum({rec_expr}) "
                f"FROM ({qtext}) {var}), 0)"
            )
        if free_terms:
            parts.append(
                f"({_join_terms(free_terms)}) * "
                f"(SELECT count(*) FROM ({qtext}) {var})"
            )
        agg = " + ".join(parts) if parts else "0"
        env = {**env, acc: f"({env.get(acc, acc)} + {agg})"}
        accs.append(acc)
    return env


def _join_terms(terms: list[tuple[str, str]]) -> str:
    out = ""
    for sign, term in terms:
        if not out:
            out = term if sign == "+" else f"-({term})"
        else:
            out += f" {sign} {term}"
    return out


class _LoopExit(Exception):
    """Compile-time EXIT unwinding (exec_stmt_exit): carries the target
    loop label (None = innermost) and the environment as of the raise —
    assignments earlier in the same iteration must survive the unwind."""

    def __init__(self, label: str | None, env: dict[str, str]):
        self.label = label
        self.env = env


class _LoopContinue(Exception):
    def __init__(self, label: str | None, env: dict[str, str]):
        self.label = label
        self.env = env


_FOLD_KEYWORDS = frozenset(
    "and or not in between is null true false case when then else end "
    "like cast as int integer bigint double string boolean mod "
    "abs".split()
)


def _fold_bool(expr: str) -> bool | None:
    """Constant-fold a fully-substituted boolean condition at compile
    time (the unrolled-loop analog of exec_stmt_exit's runtime test).
    Loop state is literal arithmetic after substitution, so most
    EXIT/CONTINUE WHEN conditions fold; anything still referencing an
    identifier (a function parameter, a masked string literal) returns
    None — the caller loud-fails. Folding evaluates through DuckDB so
    SQL semantics (integer division, NULL logic) are exact."""
    for m in _IDENT_RE.finditer(expr):
        tok = m.group(0).lower()
        if tok.startswith("$") or tok in _FOLD_KEYWORDS:
            continue
        return None
    import duckdb

    try:
        r = duckdb.sql(
            f"SELECT CASE WHEN {expr} THEN 1 ELSE 0 END"
        ).fetchone()
    except Exception:
        return None
    return bool(r[0])


def _run_straightline(stmts: list, env: dict[str, str]) -> dict[str, str]:
    """Execute a straight-line block (assignments, nested constant FOR
    loops, compile-time-foldable IFs, EXIT/CONTINUE) for its
    environment effect — the unrolled loop body. EXIT and CONTINUE
    unwind through Python exceptions during this compile-time
    interpretation; their WHEN conditions (and IF conditions inside
    loop bodies) must constant-fold — loop counters and literal
    accumulators do, free function parameters do not and fail loudly."""
    for s in stmts:
        if s[0] == "assign":
            env = {**env, s[1]: f"({_subst(s[2], env)})"}
        elif s[0] == "for":
            _, var, rng, body, label = (s + (None,))[:5] if len(s) < 5 else s
            saved = env.get(var)
            propagate: tuple[type, str] | None = None
            for iv in rng:
                env = {**env, var: str(iv)}
                try:
                    env = _run_straightline(body, env)
                except _LoopContinue as c:
                    env = c.env
                    if c.label is not None and c.label != label:
                        propagate = (_LoopContinue, c.label)
                        break
                    continue
                except _LoopExit as x:
                    env = x.env
                    if x.label is not None and x.label != label:
                        propagate = (_LoopExit, x.label)
                        break
                    break
            # loop var goes out of scope before any outward unwind
            env = {k: v for k, v in env.items() if k != var}
            if saved is not None:
                env[var] = saved
            if propagate is not None:
                raise propagate[0](propagate[1], env)
        elif s[0] == "forq":
            env = _apply_query_loop(s[1], s[2], s[3], env)
        elif s[0] in ("exit", "continue"):
            _, tgt, cond = s
            fire = True
            if cond is not None:
                folded = _fold_bool(_subst(cond, env))
                if folded is None:
                    raise NotImplementedError(
                        "plpgsql subset: EXIT/CONTINUE WHEN condition "
                        "must constant-fold at unroll time (loop "
                        "counters and literal accumulators do; free "
                        f"parameters do not): {cond!r}"
                    )
                fire = folded
            if fire:
                raise (_LoopExit if s[0] == "exit" else _LoopContinue)(
                    tgt, env
                )
        elif s[0] == "if":
            # IF inside a loop body: the condition must fold at unroll
            # time (it usually tests the loop counter); exactly one arm
            # executes for its env effect
            _, arms, else_body = s
            taken = None
            for cond, body in arms:
                folded = _fold_bool(_subst(cond, env))
                if folded is None:
                    raise NotImplementedError(
                        "plpgsql subset: IF inside a loop body must "
                        f"constant-fold at unroll time: {cond!r}"
                    )
                if folded:
                    taken = body
                    break
            env = _run_straightline(
                list(taken if taken is not None else else_body), env
            )
        else:
            raise NotImplementedError(
                "plpgsql subset: FOR bodies support assignments, nested "
                "constant FOR loops, foldable IFs and EXIT/CONTINUE "
                "only (no RETURN inside a loop)"
            )
    return env


#: WHILE loops unroll to this many iterations; data needing more hits
#: the NULL (non-terminated) arm. 32 keeps the generated CASE chain
#: well under Spark's expression-size comfort zone for typical bodies.
_WHILE_CAP = 32


def _compile_while(
    cond: str,
    body: list,
    tail: list,
    env: dict[str, str],
    depth: int,
    handler: str | None = None,
    pending: tuple[str, ...] = (),
) -> str:
    """Unroll `WHILE cond LOOP body END LOOP; tail` into nested CASEs:
    each level tests the (symbolically advanced) condition, exiting
    into the tail's expression with that level's environment."""
    cond_s = _subst(cond, env)
    if handler is not None:
        # this level's condition is evaluated whenever control reaches
        # it, so its division sites join the pending guard set for the
        # exit path and for every deeper level
        pending = pending + tuple(_div_zero_guards(cond_s))
    exit_expr = _compile_block(tail, env, handler, pending)
    if exit_expr is None:
        raise NotImplementedError(
            "plpgsql subset: every control path must RETURN"
        )
    if depth >= _WHILE_CAP:
        return f"CASE WHEN NOT ({cond_s}) THEN {exit_expr} ELSE NULL END"
    nxt = _compile_while(
        cond, body, tail, _run_straightline(body, env), depth + 1,
        handler, pending,
    )
    return f"CASE WHEN NOT ({cond_s}) THEN {exit_expr} ELSE {nxt} END"


def _guarded(expr: str, handler: str | None, pending: tuple[str, ...]) -> str:
    """Wrap a RETURN-path expression with its division_by_zero guards:
    the pending set (divisions PG already evaluated on the way here —
    assignments and branch conditions) plus the expression's own sites.
    Guards fire per control path, so a division in a branch PG never
    takes cannot trip the handler (the ADVICE r7 conditional-division
    fix)."""
    if handler is None:
        return expr
    guards = list(
        dict.fromkeys(list(pending) + _div_zero_guards(expr))
    )
    if not guards:
        return expr
    return (
        f"CASE WHEN {' OR '.join(guards)} THEN {handler} ELSE {expr} END"
    )


def _compile_block(
    stmts: list,
    env: dict[str, str],
    handler: str | None = None,
    pending: tuple[str, ...] = (),
) -> str | None:
    """Symbolically execute; returns the RETURN expression reached on
    this path, or None if the block falls through.

    ``handler``/``pending`` implement EXCEPTION WHEN division_by_zero
    with PG's evaluation-order semantics: each statement that PG would
    evaluate on the way to a RETURN (assignment right-hand sides, IF /
    ELSIF conditions in order, WHILE conditions) contributes its
    division sites to the pending guard set for everything downstream,
    and each RETURN expression adds its own sites — so the handler
    fires exactly when an *evaluated* division has a zero divisor.
    Divisions introduced inside FOR / query-loop bodies are guarded at
    their use sites (lazily, via substitution) rather than at loop
    execution time — the one remaining timing approximation, noted in
    compile_plpgsql."""
    for i, s in enumerate(stmts):
        if s[0] == "assign":
            rhs = _subst(s[2], env)
            if handler is not None:
                # PG evaluates the RHS at the assignment, before any
                # later branching — its guards join every later path
                pending = pending + tuple(_div_zero_guards(rhs))
            env = {**env, s[1]: f"({rhs})"}
            # keep a block-label-qualified alias (label.var) in sync;
            # with nested same-name declarations the plain name is
            # ambiguous against multiple aliases — loud-fail
            aliases = [
                k for k in env if k.endswith(f".{s[1]}") and "." in k
            ]
            if len(aliases) == 1:
                env[aliases[0]] = env[s[1]]
            elif len(aliases) > 1:
                raise NotImplementedError(
                    "plpgsql subset: assignment to a variable shadowed "
                    "across multiple labeled blocks is ambiguous; "
                    "qualify the target"
                )
        elif s[0] == "return":
            return _guarded(_subst(s[1], env), handler, pending)
        elif s[0] == "for":
            env = _run_straightline([s], env)
        elif s[0] == "forq":
            env = _apply_query_loop(s[1], s[2], s[3], env)
        elif s[0] == "while":
            return _compile_while(
                s[1], s[2], stmts[i + 1 :], env, 0, handler, pending
            )
        elif s[0] in ("exit", "continue"):
            raise NotImplementedError(
                "plpgsql subset: EXIT/CONTINUE outside a loop"
            )
        elif s[0] == "restore":
            # nested-block END: inner declarations revert (shadowed
            # outer bindings restore, block-local names and the
            # label-qualified aliases disappear)
            _, saved, label, declared = s
            env = dict(env)
            for v in declared:
                if saved.get(v) is not None:
                    env[v] = saved[v]
                else:
                    env.pop(v, None)
                if label is not None:
                    env.pop(f"{label}.{v}", None)
        elif s[0] == "block":
            # nested block (exec_stmt_block): run declarations into a
            # shadowing scope, splice body + restore + tail so RETURNs
            # inside the block compose with the outer continuation
            _, label, decls_text, body = s
            declared: list[str] = []
            env2 = dict(env)
            for var, vtype, init in _parse_decls(decls_text):
                declared.append(var)
                val = (
                    f"({_subst(init, env2)})"
                    if init
                    else f"(CAST(NULL AS {_map_type(vtype)}))"
                )
                env2[var] = val
                if label is not None:
                    env2[f"{label}.{var}"] = val
            saved = {v: env.get(v) for v in declared}
            rest = [("restore", saved, label, declared)] + list(
                stmts[i + 1 :]
            )
            return _compile_block(
                list(body) + rest, env2, handler, pending
            )
        else:  # if
            _, arms, else_body = s
            tail = stmts[i + 1 :]
            parts = []
            arm_pending = pending
            for cond, body in arms:
                cond_s = _subst(cond, env)
                if handler is not None:
                    # IF/ELSIF conditions evaluate in order: arm k's
                    # body (and later arms) see guards for conds 1..k
                    arm_pending = arm_pending + tuple(
                        _div_zero_guards(cond_s)
                    )
                sub = _compile_block(
                    list(body) + tail, env, handler, arm_pending
                )
                parts.append((cond_s, sub))
            else_expr = _compile_block(
                list(else_body) + tail, env, handler, arm_pending
            )
            if any(b is None for _, b in parts) or else_expr is None:
                raise NotImplementedError(
                    "plpgsql subset: every control path must RETURN"
                )
            case = "CASE " + " ".join(
                f"WHEN {c} THEN {b}" for c, b in parts
            )
            return f"{case} ELSE {else_expr} END"
    return None


#: right-hand operand of a division: parenthesized group (2 deep), a
#: function call / identifier chain, or a numeric literal
_DIV_OPERAND_RE = re.compile(
    r"/\s*(\((?:[^()]|\([^()]*\))*\)"
    r"|[A-Za-z_$][\w.$]*\s*\((?:[^()]|\([^()]*\))*\)"
    r"|[A-Za-z_$][\w.$]*|\d+(?:\.\d+)?)"
)


def _div_zero_guards(expr: str) -> list[str]:
    """One `divisor = 0` guard per division site in the compiled
    expression (string literals are still masked at this point, so a
    '/' inside one is invisible). A '/' whose divisor the operand
    grammar cannot parse fails loudly rather than guard silently."""
    guards = [
        f"({m.group(1)}) = 0" for m in _DIV_OPERAND_RE.finditer(expr)
    ]
    if len(guards) != expr.count("/"):
        raise NotImplementedError(
            "plpgsql subset: cannot analyze a division site for the "
            "EXCEPTION division_by_zero guard; parenthesize the divisor"
        )
    # dedupe, order-preserving
    return list(dict.fromkeys(guards))


_CREATE_RE = re.compile(
    r"CREATE\s+(?:OR\s+REPLACE\s+)?FUNCTION\s+([A-Za-z_]\w*)\s*"
    r"\(([^)]*)\)\s*RETURNS\s+([A-Za-z_][\w ]*(?:\([^)]*\))?)\s*AS\s*"
    r"(?:(\$[A-Za-z_]*\$)(.*?)\4|'((?:[^']|'')*)')\s*LANGUAGE\s+plpgsql",
    re.I | re.S,
)

_DECLARE_RE = re.compile(
    r"^\s*DECLARE\s+(.*?)\s*BEGIN\b", re.I | re.S
)
_BEGIN_RE = re.compile(r"^\s*BEGIN\b", re.I)


def _parse_decls(decl_text: str) -> list[tuple[str, str, str | None]]:
    """DECLARE section -> [(var, pg_type, init_or_None)]."""
    out: list[tuple[str, str, str | None]] = []
    for decl in decl_text.split(";"):
        decl = decl.strip()
        if not decl:
            continue
        dmm = re.match(
            r"([A-Za-z_]\w*)\s+([\w ()0-9,]+?)(?:\s*:?=\s*(.+))?$",
            decl,
            re.S,
        )
        if not dmm:
            raise NotImplementedError(
                f"plpgsql subset: bad declaration {decl!r}"
            )
        var, vtype, init = dmm.groups()
        out.append((var.lower(), vtype, init.strip() if init else None))
    return out


def compile_plpgsql(create_stmt: str) -> tuple[str, str, str, str]:
    """Compile a CREATE FUNCTION ... LANGUAGE plpgsql statement.

    Returns (name, spark_args, spark_return_type, spark_expression).
    """
    m = _CREATE_RE.search(create_stmt)
    if not m:
        raise NotImplementedError(
            "not a recognizable CREATE FUNCTION ... LANGUAGE plpgsql"
        )
    name, argtext, rettype, _, dollar_body, quote_body = m.groups()
    body = (
        dollar_body
        if dollar_body is not None
        # quote-delimited body (reference plpgsql.sql:1437 style):
        # doubled quotes un-escape to single
        else quote_body.replace("''", "'")
    )

    # arguments: [argname] type, ...; unnamed args become arg1..argN
    # addressable as $N (pl_comp.c positional-parameter binding)
    env: dict[str, str] = {}
    spark_args = []
    for idx, raw in enumerate(
        [a for a in argtext.split(",") if a.strip()], start=1
    ):
        words = raw.strip().split()
        if len(words) == 1 or words[0].lower() in _TYPE_MAP:
            argname, argtype = f"arg{idx}", " ".join(words)
        else:
            argname, argtype = words[0].lower(), " ".join(words[1:])
        env[f"${idx}"] = argname
        spark_args.append(f"{argname} {_map_type(argtype)}")

    # mask string literals so ';' / keywords inside them never reach
    # the statement parser; restored into the final expression
    lits: list[str] = []

    def _mask(lm: re.Match) -> str:
        lits.append(lm.group(0))
        return f"__plit{len(lits) - 1}__"

    body = re.sub(r"'(?:[^']|'')*'", _mask, body)

    # function-name-qualified parameter references (pl_comp.c makes
    # every function's own name a label for its parameters:
    # fn_name.param — the pl_qual_names shape)
    for argdef in spark_args:
        an = argdef.split()[0]
        env[f"{name.lower()}.{an}"] = an

    # optional top-level <<label>> (pl_gram.y opt_block_label): the
    # outermost block's declarations gain label-qualified aliases
    top_label = None
    tlm = re.match(r"\s*<<\s*([A-Za-z_]\w*)\s*>>", body)
    if tlm:
        top_label = tlm.group(1).lower()
        body = body[tlm.end() :]

    # strip DECLARE ... BEGIN ... END;
    dm = _DECLARE_RE.match(body)
    record_vars: set[str] = set()
    if dm:
        for var, vtype, init in _parse_decls(dm.group(1)):
            if vtype.strip().lower() == "record":
                # record variables bind via SELECT ... INTO rec; their
                # fields live under dotted keys (rec.field)
                record_vars.add(var)
                continue
            env[var] = (
                f"({init})"
                if init
                else f"(CAST(NULL AS {_map_type(vtype)}))"
            )
            if top_label is not None:
                env[f"{top_label}.{var}"] = env[var]
        body = body[dm.end() :]
    else:
        bm = _BEGIN_RE.match(body)
        if not bm:
            raise NotImplementedError("plpgsql subset: missing BEGIN")
        body = body[bm.end() :]

    # normalize the `SELECT INTO tgt <list> FROM ...` spelling
    # (pl_gram.y accepts INTO anywhere; the reference uses select-into
    # first) to the trailing-INTO form both rewrites below handle
    body = re.sub(
        r"(?i:\bSELECT\s+INTO\s+)([A-Za-z_]\w*)\s+"
        r"((?:[^;()]|\((?:[^()]|\([^()]*\))*\))*?)"
        r"((?i:\bFROM\b)(?:[^;()]|\((?:[^()]|\([^()]*\))*\))*;)",
        lambda nm: f"SELECT {nm.group(2).strip()} INTO {nm.group(1)} {nm.group(3)}",
        body,
    )

    # record SELECT INTO (pl_exec.c exec_stmt_execsql row target):
    # `SELECT a, b INTO rec FROM ... ;` binds one dotted env key per
    # select-list item to an independent scalar subquery over the same
    # FROM/WHERE — deterministic single-row queries only (the
    # reference's `select into rec * from t where pk = x` class, spelled
    # with an explicit column list).
    def _rec_into(sm: re.Match) -> str:
        sel_list, rec, rest = sm.group(1), sm.group(2).lower(), sm.group(3)
        if rec not in record_vars:
            return sm.group(0)
        outs = []
        for it in split_top(sel_list):
            it = it.strip()
            am = re.match(r"(.+?)\s+(?:AS\s+)?([A-Za-z_]\w*)$", it, re.I | re.S)
            fld = (
                am.group(2)
                if am and not re.fullmatch(r"[\w.]+", it)
                else it.split(".")[-1]
            )
            ex = am.group(1) if am and not re.fullmatch(r"[\w.]+", it) else it
            outs.append(f"{rec}.{fld.lower()} := (SELECT {ex} {rest});")
        return " ".join(outs)

    body = re.sub(
        r"(?i:\bSELECT\b)\s+"
        r"((?:[^;()]|\((?:[^()]|\([^()]*\))*\))*?)"
        r"\s+(?i:INTO)\s+([A-Za-z_]\w*)\s+"
        r"((?i:FROM)\b(?:[^;()]|\((?:[^()]|\([^()]*\))*\))*);",
        _rec_into,
        body,
    )

    body = re.sub(r"(?i:\bEND\s*;?\s*)$", "", body.strip())

    # SELECT ... INTO var; (pl_gram.y INTO-target capture) becomes an
    # ordinary assignment from a scalar subquery: `SELECT d FROM bar
    # WHERE c = $1 LIMIT 1 INTO r;` == `r := (SELECT d FROM bar WHERE
    # c = $1 LIMIT 1);` — the single-row-single-column subset; a
    # multi-column INTO list stays out and fails loudly at the parser.
    body = re.sub(
        r"(?i:\bSELECT\b)\s+"
        r"((?:[^;()]|\((?:[^()]|\([^()]*\))*\))*?)"
        r"\s+(?i:INTO)\s+([A-Za-z_]\w*)\s*;",
        lambda sm: f"{sm.group(2)} := (SELECT {sm.group(1)});",
        body,
    )

    # EXCEPTION WHEN division_by_zero/OTHERS THEN <stmts> (pl_exec.c
    # exec_stmt_block): the only exception a pure scalar expression can
    # raise here is division by zero, so the handler compiles to
    # per-control-path guards on every division site PG would evaluate
    # on that path (assignments, IF/ELSIF/WHILE conditions in order,
    # the RETURN expression) — a division inside a branch PG never
    # takes cannot trip the handler, and a NULL divisor is NOT an
    # exception and still flows through the main expression as NULL.
    # Remaining approximation: divisions introduced inside FOR /
    # query-loop bodies are guarded where their value is used, not at
    # loop-iteration time.
    handler_src = None
    for x in re.finditer(r"\bEXCEPTION\b", body, re.I):
        if body.count("(", 0, x.start()) == body.count(")", 0, x.start()):
            handler_src = body[x.end() :]
            body = body[: x.start()]
            break
    handler_expr = None
    if handler_src is not None:
        hm = re.match(
            r"\s*WHEN\s+(division_by_zero|OTHERS)\s+THEN\s+(.*)$",
            handler_src,
            re.I | re.S,
        )
        if not hm:
            raise NotImplementedError(
                "plpgsql subset: only EXCEPTION WHEN division_by_zero "
                "/ OTHERS THEN ... is supported"
            )
        handler_expr = _compile_block(
            _parse_stmts(_Parser(hm.group(2)), ()), dict(env)
        )
        if handler_expr is None:
            raise NotImplementedError(
                "plpgsql subset: the EXCEPTION handler must RETURN"
            )

    stmts = _parse_stmts(_Parser(body), ())
    expr = _compile_block(stmts, env, handler_expr)
    if expr is None:
        raise NotImplementedError(
            "plpgsql subset: function body never RETURNs"
        )
    expr = re.sub(r"__plit(\d+)__", lambda pm: lits[int(pm.group(1))], expr)
    return (
        name.lower(),
        ", ".join(spark_args),
        _map_type(rettype),
        translate_pg_sql(f"SELECT {expr}")[len("SELECT ") :],
    )


def compile_plpgsql_setof(create_stmt: str) -> tuple[str, str, str, str]:
    """Compile a RETURNS SETOF / RETURNS TABLE plpgsql function whose
    body is ``BEGIN RETURN QUERY <select>; END`` (pl_exec.c
    exec_stmt_return_query) into a Spark SQL TABLE function.

    Returns (name, spark_args, table_cols, select_sql). The query text
    goes through translate_pg_sql, so PG-dialect bodies work; anything
    beyond a single RETURN QUERY (loops appending rows, RETURN NEXT)
    stays out of the subset and fails loudly.
    """
    m = _CREATE_RE.search(create_stmt)
    if not m:
        raise NotImplementedError(
            "not a recognizable CREATE FUNCTION ... LANGUAGE plpgsql"
        )
    name, argtext, rettype, _, dollar_body, quote_body = m.groups()
    body = (
        dollar_body
        if dollar_body is not None
        else quote_body.replace("''", "'")
    )
    rt = rettype.strip()
    sm = re.match(r"SETOF\s+(.+)$", rt, re.I)
    tm = re.match(r"TABLE\s*\((.*)\)\s*$", rt, re.I | re.S)
    if sm:
        # PG names a SETOF-scalar result column after the function
        table_cols = f"{name.lower()} {_map_type(sm.group(1))}"
    elif tm:
        cols = []
        for col in tm.group(1).split(","):
            w = col.strip().split()
            cols.append(f"{w[0]} {_map_type(' '.join(w[1:]))}")
        table_cols = ", ".join(cols)
    else:
        raise NotImplementedError(
            "compile_plpgsql_setof needs RETURNS SETOF/TABLE"
        )
    spark_args = []
    for idx, raw in enumerate(
        [a for a in argtext.split(",") if a.strip()], start=1
    ):
        words = raw.strip().split()
        if len(words) == 1 or words[0].lower() in _TYPE_MAP:
            argname, argtype = f"arg{idx}", " ".join(words)
        else:
            argname, argtype = words[0].lower(), " ".join(words[1:])
        spark_args.append(f"{argname} {_map_type(argtype)}")
    # strip an optional DECLARE section (loop variables)
    body = re.sub(r"^\s*DECLARE\s+.*?(?=(?i:\bBEGIN\b))", "", body,
                  flags=re.I | re.S)
    bm = re.fullmatch(
        r"\s*BEGIN\s+RETURN\s+QUERY\s+(.*?);?\s*END\s*;?\s*",
        body,
        re.I | re.S,
    )
    if bm:
        query = bm.group(1).strip()
    else:
        # FOR v IN <query> LOOP RETURN NEXT v; END LOOP; RETURN; — the
        # reference's canonical SETOF idiom (qp_functions_in_contexts_
        # setup.sql func1_sql_setint_*): row-at-a-time emission of the
        # query's rows IS the query, so it compiles to the same table
        # function as RETURN QUERY (no per-row execution).
        fm = re.fullmatch(
            r"\s*BEGIN\s+FOR\s+([A-Za-z_]\w*)\s+IN\s+(.*?)\s+LOOP\s+"
            r"RETURN\s+NEXT\s+\1\s*;\s*END\s+LOOP\s*;\s*"
            r"(?:RETURN\s*;)?\s*END\s*;?\s*",
            body,
            re.I | re.S,
        )
        if not fm:
            raise NotImplementedError(
                "plpgsql SETOF subset: body must be BEGIN RETURN QUERY "
                "<select>; END or BEGIN FOR v IN <select> LOOP RETURN "
                "NEXT v; END LOOP; RETURN; END (row-transforming RETURN "
                "NEXT bodies have no single-query form)"
            )
        query = fm.group(2).strip()
    # $N positionals -> argument names (pl_comp.c positional binding)
    argnames = [a.split()[0] for a in spark_args]
    query = re.sub(
        r"\$(\d+)",
        lambda pm: argnames[int(pm.group(1)) - 1],
        query,
    )
    return (
        name.lower(),
        ", ".join(spark_args),
        table_cols,
        translate_pg_sql(query),
    )


def create_plpgsql_function(
    spark: SparkSession, create_stmt: str, table_form: bool = False
) -> str:
    """Compile + register as a Catalyst-inlined SQL temporary function
    (scalar) or SQL table function (RETURNS SETOF/TABLE + RETURN
    QUERY / RETURN NEXT loop); returns the function name.

    ``table_form=True`` registers a SCALAR function as a single-row
    table function instead, so PG's function-in-FROM placement
    (`SELECT * FROM f(5)`, qp_functions_in_from.sql) runs natively:
    PG names the one result column after the function, which the
    wrapper reproduces."""
    m = _CREATE_RE.search(create_stmt)
    if m and re.match(r"\s*(SETOF|TABLE)\b", m.group(3), re.I):
        name, args, cols, sql = compile_plpgsql_setof(create_stmt)
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({args}) "
            f"RETURNS TABLE ({cols}) RETURN {sql}"
        )
        return name
    name, args, ret, expr = compile_plpgsql(create_stmt)
    if table_form:
        body = f"SELECT {expr} AS {name}"
        # a body that is exactly one scalar subquery (the SELECT ...
        # INTO r form) must be unwrapped into the table function's own
        # query: Spark does not resolve function parameters inside
        # subqueries of a SQLTableFunction body, but resolves them
        # fine in the body's top-level WHERE/LIMIT
        q = expr.strip()
        while q.startswith("(") and match_paren(q, 0) == len(q) - 1:
            q = q[1:-1].strip()
        block = clause_map(q) if re.match(r"SELECT\b", q, re.I) else None
        if block is not None and "from" in block:
            sel, frm = block["select"], block["from"]
            item = q[sel.start : sel.end].strip()
            if "," not in item:
                body = f"{q[: sel.start]} ({item}) AS {name} {q[frm.head :]}"
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({args}) "
            f"RETURNS TABLE ({name} {ret}) RETURN {body}"
        )
        return name
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({args}) "
        f"RETURNS {ret} RETURN {expr}"
    )
    return name
