"""Declarative partition hierarchy + planner-level pruning matrix.

Reference: src/test/regress/sql/partition_prune_append.sql (1,141
lines) — PG 12's declarative syntax (``PARTITION OF .. FOR VALUES``)
driven through an EXPLAIN matrix whose expected scans pin the
partition-pruning planner (partprune.c get_matching_partitions).

Model: a partition tree where every partitioned node prunes its
children INDEPENDENTLY of ancestors/siblings at other levels (exactly
PG's per-level behaviour — e.g. ``a <= 10`` keeps
rlp_default_default even though every value <= 10 is consumed by
sibling ranges at the parent level). A child survives a predicate iff
some candidate value in ITS OWN level-local domain (list values;
range interval samples; the complement samples for DEFAULT children,
NULL when no null-sibling exists) can satisfy the predicate with the
other columns free.

Spark-first evaluation: per query the predicate is evaluated ONCE
over a small candidate grid (cartesian pools per key column, NULLs
included) as a plain Spark filter — the JVM computes three-valued
logic exactly; the survival walk is then pure Python over the tiny
passing set. At 100 TB this is the planner path, not the data path:
the pruned leaf set is what a file-source scan would open.

The registered matrices carry the reference's own expected/.out scan
sets as oracles. Exclusions (MIGRATION.md): the ``a = 1::numeric``
probe (PG disables pruning on a cross-type comparison — we prune,
which is strictly better and documented), collation-mismatch probes
(C-collation byte order is the engine's only collation),
runtime/exec-time pruning EXPLAIN internals.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from cloudberry_spark.registry import register
from cloudberry_spark.sql.sqltext import split_top

_OPEN = object()
_OR_RE = re.compile(" or ", re.I)


@dataclass
class _Node:
    name: str
    parent: str | None
    bound: tuple  # ("in", vals) | ("range", lo, hi) | ("default",) | ("root",)
    key: str | None = None  # set when this node is itself partitioned
    children: list[str] = field(default_factory=list)


class DeclPartTable:
    """PG-12-style declarative partition tree over one Spark schema."""

    def __init__(self, spark: SparkSession, name: str, cols_ddl: str,
                 key: str):
        self.spark = spark
        self.cols_ddl = cols_ddl
        self.cols = [c.strip().split()[0] for c in cols_ddl.split(",")]
        self.nodes: dict[str, _Node] = {
            name: _Node(name, None, ("root",), key=key)
        }
        self.root = name

    def add(self, name: str, parent: str, bound: tuple,
            subkey: str | None = None) -> None:
        self.nodes[name] = _Node(name, parent, bound, key=subkey)
        self.nodes[parent].children.append(name)

    # -- candidate pools ------------------------------------------------

    def _pool(self, col: str):
        """Level-local candidate values for one key column: every list
        value, every range bound and its off-by-one neighbours, gap /
        extreme samples for defaults, NULL."""
        vals: set = set()
        for n in self.nodes.values():
            pk = self.nodes[n.parent].key if n.parent else None
            if pk != col:
                continue
            if n.bound[0] == "in":
                vals.update(v for v in n.bound[1] if v is not None)
            elif n.bound[0] == "range":
                lo, hi = n.bound[1], n.bound[2]
                for v in (lo, hi):
                    if v is not _OPEN:
                        vals.update(self._near(v))
        out = set()
        for v in vals:
            out.update(self._near(v))
        out.add(None)
        if out - {None}:
            out.add(self._sentinel(next(iter(out - {None}))))
        return out

    @staticmethod
    def _near(v):
        if isinstance(v, (int, float)):
            # fractional witnesses too: PG prunes on BOUNDARY
            # arithmetic, so a gap like (30, 31) keeps the default
            # partition alive even though no INTEGER lives in it
            return {v - 1, v - 0.5, v, v + 0.5, v + 1}
        if isinstance(v, str):
            # v+' ' sits just above v; the prefix and '' sit below —
            # default partitions need unlisted samples on BOTH sides
            return {v, v + " ", v[:-1], ""}
        return {v}

    @staticmethod
    def _sentinel(example):
        return (10**7 if isinstance(example, (int, float))
                else "\x7e\x7e\x7e")

    def _grid(self, extra: dict[str, set]) -> DataFrame:
        pools = []
        for c in self.cols:
            p = self._pool(c) | extra.get(c, set())
            pools.append(sorted(
                (float(v) if isinstance(v, int) else v
                 for v in p if v is not None),
                key=str) + [None])
        rows = [()]
        for p in pools:
            rows = [r + (v,) for r in rows for v in p]
        # integral key columns become DOUBLE so fractional gap
        # witnesses survive the schema
        ddl = re.sub(r"\b(INT|BIGINT|SMALLINT)\b", "DOUBLE",
                     self.cols_ddl, flags=re.I)
        return self.spark.createDataFrame(rows, ddl)

    # -- per-level domain membership (pure Python) ----------------------

    def _in_domain(self, node: _Node, v) -> bool:
        kind = node.bound[0]
        if kind == "in":
            return v in node.bound[1]
        if kind == "range":
            if v is None:
                return False
            lo, hi = node.bound[1], node.bound[2]
            return ((lo is _OPEN or v >= lo)
                    and (hi is _OPEN or v < hi))
        # DEFAULT: level-local complement of the siblings
        sibs = [
            self.nodes[s] for s in self.nodes[node.parent].children
            if s != node.name
        ]
        if v is None:
            return not any(
                s.bound[0] == "in" and None in s.bound[1] for s in sibs)
        return not any(
            s.bound[0] != "default" and self._in_domain(s, v)
            for s in sibs)

    # -- pruning --------------------------------------------------------

    def prune(self, predicate: str,
              literal_pool: dict[str, set] | None = None) -> list[str]:
        """Leaf names a planner scan of ``predicate`` cannot exclude.

        Mirrors partprune.c: each level prunes independently with the
        level-local child domains, EXCEPT that an OR arm proven
        unsatisfiable against the subtree's accumulated ancestor
        bounds is dropped before the level's own pruning (the
        ``a = 1 OR b = 'ab'`` case: the a-arm never reaches the
        b-keyed level under rlp3's [15,20) bound)."""
        grid = self._grid(literal_pool or {})
        # top-level OR arms; a non-OR predicate is its own single arm
        arms = [a.strip() for a in split_top(predicate, _OR_RE)]
        flagged = grid.selectExpr(
            *self.cols,
            *[f"coalesce(CAST(({a}) AS BOOLEAN), false) AS __arm{i}"
              for i, a in enumerate(arms)],
        )
        rows = [tuple(r) for r in flagged.collect()]
        ncol = len(self.cols)
        colidx = {c: i for i, c in enumerate(self.cols)}

        def in_ancestors(row, node: _Node) -> bool:
            """Row satisfies every bound STRICTLY ABOVE node's level
            (PG filters OR arms by the ancestor constraints before
            pruning a level, never by the level's own domains)."""
            cur = self.nodes[node.parent] if node.parent else None
            while cur is not None and cur.parent is not None:
                key = self.nodes[cur.parent].key
                if not self._in_domain(cur, row[colidx[key]]):
                    return False
                cur = self.nodes[cur.parent]
            return True

        out = []

        def walk(name: str) -> None:
            n = self.nodes[name]
            # OR arms that survive this subtree's ancestor bounds
            live = [
                i
                for i in range(len(arms))
                if any(r[ncol + i] and in_ancestors(r, n)
                       for r in rows)
            ] if n.bound[0] != "root" else list(range(len(arms)))
            if n.bound[0] != "root":
                key = self.nodes[n.parent].key
                ki = colidx[key]

                def bounded_above_ok(r) -> bool:
                    # BOUNDED ancestor constraints reach this level
                    # (rlp5's [31,inf) prunes rlp5_default under
                    # a <= 31); a DEFAULT ancestor's complement does
                    # NOT propagate (rlp_default_default survives
                    # a <= 10) — exactly PG's constraint handling
                    cur = self.nodes[n.parent]
                    while cur.parent is not None:
                        if cur.bound[0] not in ("default", "root"):
                            k = self.nodes[cur.parent].key
                            if not self._in_domain(cur, r[colidx[k]]):
                                return False
                        cur = self.nodes[cur.parent]
                    return True

                ok = any(
                    any(r[ncol + i] for i in live)
                    and self._in_domain(n, r[ki])
                    and bounded_above_ok(r)
                    for r in rows
                )
                if not ok:
                    return
            if not n.children:
                if n.bound[0] != "root":
                    out.append(name)
                return
            for ch in n.children:
                walk(ch)

        walk(self.root)
        return sorted(out)


# ---------------------------------------------------------------------------
# the lp / rlp matrices (fixtures and expected scan sets from
# partition_prune_append.sql:36-141 / expected/partition_prune_append.out)
# ---------------------------------------------------------------------------


def _lp(spark: SparkSession) -> DeclPartTable:
    t = DeclPartTable(spark, "lp", "a STRING", "a")
    t.add("lp_default", "lp", ("default",))
    t.add("lp_ef", "lp", ("in", ["e", "f"]))
    t.add("lp_ad", "lp", ("in", ["a", "d"]))
    t.add("lp_bc", "lp", ("in", ["b", "c"]))
    t.add("lp_g", "lp", ("in", ["g"]))
    t.add("lp_null", "lp", ("in", [None]))
    return t


_LP_CASES = [
    ("all", "TRUE",
     "lp_ad,lp_bc,lp_default,lp_ef,lp_g,lp_null"),
    ("gt_lt", "a > 'a' and a < 'd'", "lp_bc,lp_default"),
    ("gt_le", "a > 'a' and a <= 'd'", "lp_ad,lp_bc,lp_default"),
    ("eq", "a = 'a'", "lp_ad"),
    ("eq_commuted", "'a' = a", "lp_ad"),
    ("not_null", "a is not null",
     "lp_ad,lp_bc,lp_default,lp_ef,lp_g"),
    ("is_null", "a is null", "lp_null"),
    ("eq_or", "a = 'a' or a = 'c'", "lp_ad,lp_bc"),
    ("notnull_and_or", "a is not null and (a = 'a' or a = 'c')",
     "lp_ad,lp_bc"),
    ("ne_single_valued", "a <> 'g'", "lp_ad,lp_bc,lp_default,lp_ef"),
    ("ne_pair", "a <> 'a' and a <> 'd'",
     "lp_bc,lp_default,lp_ef,lp_g"),
    ("not_in", "a not in ('a', 'd')", "lp_bc,lp_default,lp_ef,lp_g"),
    ("ne_multi_valued", "a <> 'a'",
     "lp_ad,lp_bc,lp_default,lp_ef,lp_g"),
    ("contradiction", "a <> 'a' and a is null", ""),
    ("ne_or_null", "(a <> 'a' and a <> 'd') or a is null",
     "lp_bc,lp_default,lp_ef,lp_g,lp_null"),
]


def _rlp(spark: SparkSession) -> DeclPartTable:
    t = DeclPartTable(spark, "rlp", "a INT, b STRING", "a")
    t.add("rlp_default", "rlp", ("default",), subkey="a")
    t.add("rlp_default_default", "rlp_default", ("default",))
    t.add("rlp_default_10", "rlp_default", ("in", [10]))
    t.add("rlp_default_30", "rlp_default", ("in", [30]))
    t.add("rlp_default_null", "rlp_default", ("in", [None]))
    t.add("rlp1", "rlp", ("range", _OPEN, 1))
    t.add("rlp2", "rlp", ("range", 1, 10))
    t.add("rlp3", "rlp", ("range", 15, 20), subkey="b")
    t.add("rlp3_default", "rlp3", ("default",))
    t.add("rlp3abcd", "rlp3", ("in", ["ab", "cd"]))
    t.add("rlp3efgh", "rlp3", ("in", ["ef", "gh"]))
    t.add("rlp3nullxy", "rlp3", ("in", [None, "xy"]))
    t.add("rlp4", "rlp", ("range", 20, 30), subkey="a")
    t.add("rlp4_default", "rlp4", ("default",))
    t.add("rlp4_1", "rlp4", ("range", 20, 25))
    t.add("rlp4_2", "rlp4", ("range", 25, 29))
    t.add("rlp5", "rlp", ("range", 31, _OPEN), subkey="a")
    t.add("rlp5_default", "rlp5", ("default",))
    t.add("rlp5_1", "rlp5", ("range", 31, 40))
    return t


_RLP_CASES = [
    ("lt1", "a < 1", "rlp1"),
    ("lt1_commuted", "1 > a", "rlp1"),
    ("le1", "a <= 1", "rlp1,rlp2"),
    ("eq1", "a = 1", "rlp2"),
    ("le10", "a <= 10",
     "rlp1,rlp2,rlp_default_10,rlp_default_default"),
    ("gt10", "a > 10",
     "rlp3_default,rlp3abcd,rlp3efgh,rlp3nullxy,rlp4_1,rlp4_2,"
     "rlp4_default,rlp5_1,rlp5_default,rlp_default_30,"
     "rlp_default_default"),
    ("lt15", "a < 15",
     "rlp1,rlp2,rlp_default_10,rlp_default_default"),
    ("le15", "a <= 15",
     "rlp1,rlp2,rlp3_default,rlp3abcd,rlp3efgh,rlp3nullxy,"
     "rlp_default_10,rlp_default_default"),
    ("gt15_b_eq", "a > 15 and b = 'ab'",
     "rlp3abcd,rlp4_1,rlp4_2,rlp4_default,rlp5_1,rlp5_default,"
     "rlp_default_30,rlp_default_default"),
    ("eq16", "a = 16",
     "rlp3_default,rlp3abcd,rlp3efgh,rlp3nullxy"),
    ("eq16_b_unlisted", "a = 16 and b in ('not', 'in', 'here')",
     "rlp3_default"),
    ("eq16_b_lt", "a = 16 and b < 'ab'", "rlp3_default"),
    ("eq16_b_le", "a = 16 and b <= 'ab'", "rlp3_default,rlp3abcd"),
    ("eq16_b_null", "a = 16 and b is null", "rlp3nullxy"),
    ("a_null", "a is null", "rlp_default_null"),
    ("a_not_null", "a is not null",
     "rlp1,rlp2,rlp3_default,rlp3abcd,rlp3efgh,rlp3nullxy,rlp4_1,"
     "rlp4_2,rlp4_default,rlp5_1,rlp5_default,rlp_default_10,"
     "rlp_default_30,rlp_default_default"),
    ("gt30", "a > 30", "rlp5_1,rlp5_default,rlp_default_default"),
    ("le31", "a <= 31",
     "rlp1,rlp2,rlp3_default,rlp3abcd,rlp3efgh,rlp3nullxy,rlp4_1,"
     "rlp4_2,rlp4_default,rlp5_1,rlp_default_10,rlp_default_30,"
     "rlp_default_default"),
    ("eq_or_eq", "a = 1 or a = 7", "rlp2"),
    ("eq_or_b", "a = 1 or b = 'ab'",
     "rlp1,rlp2,rlp3abcd,rlp4_1,rlp4_2,rlp4_default,rlp5_1,"
     "rlp5_default,rlp_default_10,rlp_default_30,"
     "rlp_default_default,rlp_default_null"),
    ("between_gap", "a > 20 and a < 27", "rlp4_1,rlp4_2"),
    ("eq29_default", "a = 29", "rlp4_default"),
]


def _matrix(spark: SparkSession, table: DeclPartTable,
            cases) -> DataFrame:
    import re as _re

    rows = []
    for label, pred, _exp in cases:
        # the predicate's own literals join the candidate pools:
        # string literals feed the string key column, integers the
        # integer one (with off-by-one neighbours for range edges)
        lits: dict[str, set] = {}
        strcol = "b" if "b" in table.cols else table.cols[0]
        for s in _re.findall(r"'([^']*)'", pred):
            lits.setdefault(strcol, set()).update({s, s + " "})
        for n in _re.findall(r"(?<![\w'.])(\d+)(?!['\w])", pred):
            lits.setdefault("a", set()).update(
                {int(n) - 1, int(n), int(n) + 1})
        if table.cols == ["a"]:  # single string-keyed table (lp)
            lits = {"a": lits.get(strcol, set())}
        rows.append((label, ",".join(table.prune(pred, lits))))
    return spark.createDataFrame(rows, "case STRING, leaves STRING")


@register(
    "regress_prune_lp_matrix",
    oracle="SELECT * FROM (VALUES "
           + ", ".join(f"('{c}', '{e}')" for c, _p, e in _LP_CASES)
           + ") t(\"case\", leaves)",
    doc="partition_prune_append.sql:36-141 — the LIST pruning matrix "
        "over lp (5 value partitions + null partition + default): 15 "
        "predicate shapes (ranges over list values, <> against "
        "single- vs multi-valued partitions, NOT IN, IS [NOT] NULL, "
        "OR arms, a contradiction pruning everything). Expected leaf "
        "sets are the reference's own EXPLAIN scans "
        "(expected/partition_prune_append.out).",
    tags=("partition_prune", "plans"),
)
def regress_prune_lp_matrix(spark: SparkSession, sf_dir: str):
    return _matrix(spark, _lp(spark), _LP_CASES)


@register(
    "regress_prune_rlp_matrix",
    oracle="SELECT * FROM (VALUES "
           + ", ".join(f"('{c}', '{e}')" for c, _p, e in _RLP_CASES)
           + ") t(\"case\", leaves)",
    doc="partition_prune_append.sql rlp battery — a three-deep mixed "
        "hierarchy: RANGE root (minvalue/maxvalue bounds) over a "
        "LIST-subpartitioned DEFAULT, a LIST level keyed on a "
        "DIFFERENT column (b), and two nested RANGE levels with "
        "their own defaults. 21 predicate shapes pin PG's PER-LEVEL "
        "pruning (rlp_default_default survives `a <= 10` even though "
        "parent-level ranges consume every such value — each level "
        "prunes independently), boundary inclusivity, cross-column "
        "conjunctions reaching the b-keyed level, and default "
        "exclusion when the constraint interval is covered "
        "(`a > 20 and a < 27` prunes rlp4_default).",
    tags=("partition_prune", "plans"),
)
def regress_prune_rlp_matrix(spark: SparkSession, sf_dir: str):
    return _matrix(spark, _rlp(spark), _RLP_CASES)
