"""GPDB CREATE-time partition specification language (partition1.sql).

Reference: src/test/regress/sql/partition1.sql (1,768 lines) and
expected/partition1.out over the classic Greenplum syntax
(gram.y/parse_partition.c):

    PARTITION BY LIST (col)  (PARTITION aa VALUES ('a','b'), ...)
    PARTITION BY RANGE (col) (PARTITION aa START (v) [INCLUSIVE|
        EXCLUSIVE] END (v) [INCLUSIVE|EXCLUSIVE] [EVERY (step)], ...)
    [SUBPARTITION BY .. SUBPARTITION TEMPLATE ( .. )]
    plus DEFAULT PARTITION name.

Semantics implemented to the reference's .out:
* entries may be written out of order — they are SORTED by start
  before validation/derivation (partition1.sql:313-320 "we can sort
  them now so this is legal");
* a missing END derives from the NEXT entry's START (exclusive);
  deriving from an entry with no start raises PG's "cannot derive
  ending value of partition based upon starting of next partition";
  first/last bounds may stay open (MPP-3607);
* START defaults to INCLUSIVE, END to EXCLUSIVE; INCLUSIVE ends are
  legal only when the neighbour's start is EXCLUSIVE (overlap error
  otherwise, naming both children exactly like the .out);
* EVERY expands [start, end) by repeated step addition — calendar
  months for month intervals, day arithmetic for day intervals,
  plain addition for numerics — with a clipped final chunk; children
  are named ``<name>_1 .. <name>_k``;
* child relations follow the GPDB naming rule ``<tbl>_1_prt_<name>``
  (ordinal for anonymous entries) and
  ``<tbl>_1_prt_<p>_2_prt_<s>`` for template subpartitions;
* a row matching no partition raises "no partition for partitioning
  key" unless a DEFAULT partition exists (only one; must be named;
  refuses boundary specs);
* LIST values coerce to the key column's type (int -> char, numeric).

Spark-first: the partitioned table is ONE DataFrame with a
``__leaf`` routing column computed by a chained ``F.when`` over the
leaf predicates — pure JVM expressions, so routing scales with the
data, and every child "relation" is a predicate view, exactly the
partition-pruning story of sources/external.py. Exclusions
(MIGRATION.md): composite-type LIST keys, user-defined '+' operators
for EVERY, tablespace/appendonly clauses, CTAS-over-partition-spec.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from datetime import date, timedelta
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudberry_spark.sql.sqltext import match_paren, split_top


class PartitionSpecError(Exception):
    """Raised with the reference's own error wording."""


_UNBALANCED = "unbalanced parens in partition spec"


# ---------------------------------------------------------------------------
# literal values
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Interval:
    months: int = 0
    days: int = 0


def _parse_interval(lit: str) -> Interval:
    months = days = 0
    for n, unit in re.findall(r"(-?\d+)\s*([a-z]+)", lit, re.I):
        u = unit.lower()
        n = int(n)
        if u.startswith("year"):
            months += 12 * n
        elif u.startswith("mon"):
            months += n
        elif u.startswith("week"):
            days += 7 * n
        elif u.startswith("day"):
            days += n
        else:
            raise PartitionSpecError(
                f"unsupported EVERY interval unit: {unit}")
    return Interval(months, days)


def _add_months(d: date, m: int) -> date:
    y, mo = divmod((d.year * 12 + d.month - 1) + m, 12)
    day = d.day
    # clamp like PG's timestamp_pl_interval
    for dd in (day, 30, 29, 28):
        try:
            return date(y, mo + 1, dd)
        except ValueError:
            continue
    raise AssertionError


def _step(v, step):
    if isinstance(step, Interval):
        assert isinstance(v, date)
        return _add_months(v, step.months) + timedelta(days=step.days)
    return v + step


def _parse_value(tok: str):
    tok = tok.strip()
    m = re.match(r"^date\s*'([^']+)'$", tok, re.I)
    if m:
        y, mo, d = (int(x) for x in m.group(1).split("-"))
        return date(y, mo, d)
    m = re.match(r"^interval\s*'([^']+)'$", tok, re.I)
    if m:
        return _parse_interval(m.group(1))
    m = re.match(r"^'(.*)'$", tok, re.S)
    if m:
        return m.group(1)
    if re.fullmatch(r"-?\d+", tok):
        return int(tok)
    if re.fullmatch(r"-?\d*\.\d+", tok):
        return Decimal(tok)
    # simple constant arithmetic (partition1.sql "Expressions are
    # allowed"): digits and + - * / ( ) only
    if re.fullmatch(r"[\d\s+\-*/().]+", tok):
        val = eval(tok, {"__builtins__": {}})  # noqa: S307 - sanitized
        return int(val) if isinstance(val, int) else Decimal(str(val))
    raise PartitionSpecError(f"unsupported partition bound literal: {tok}")


def _render(v) -> str:
    if isinstance(v, date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(v)


def _coerce(v, dtype: str):
    """LIST value -> key column type (cross-type coercion tier)."""
    t = dtype.lower()
    if t in ("string", "varchar", "char") and not isinstance(v, str):
        return str(v)
    if t in ("int", "bigint", "smallint") and isinstance(v, str):
        return int(v)
    if t.startswith("decimal") and isinstance(v, (int, str)):
        return Decimal(str(v))
    return v


# ---------------------------------------------------------------------------
# spec model
# ---------------------------------------------------------------------------


class RangePart:
    """One RANGE entry: bounds + inclusivity + optional EVERY step."""

    def __init__(self, name: str | None = None):
        self.name = name
        self.start = self.end = self.every = None
        self.start_inc, self.end_inc = True, False
        self.start_given = self.end_given = False
        self.sub_entries: str | None = None


class _Level:
    def __init__(self, kind: str, key: str):
        self.kind = kind.upper()
        self.key = key.strip()
        self.template: str | None = None


def _parse_entry_range(txt: str, kind_word: str) -> RangePart:
    p = RangePart()
    pos = 0
    nm = re.match(rf"{kind_word}\s+(\w+)\s*", txt, re.I)
    if nm:
        p.name = nm.group(1)
        pos = nm.end()
    while pos < len(txt):
        m = re.match(r"\s*(start|end|every|values)\s*\(", txt[pos:], re.I)
        if m:
            o = pos + m.end() - 1
            c = match_paren(txt, o)
            if c < 0:
                raise PartitionSpecError(_UNBALANCED)
            word = m.group(1).lower()
            inner = txt[o + 1 : c]
            pos = c + 1
            im = re.match(r"\s*(inclusive|exclusive)\b", txt[pos:], re.I)
            inc = im.group(1).lower() if im else None
            if im:
                pos += im.end()
            if word == "values":
                raise PartitionSpecError(
                    "invalid use of LIST boundary specification in "
                    "RANGE partition")
            if word == "every":
                p.every = _parse_value(inner)
                continue
            vals = [v.strip() for v in split_top(inner) if v.strip()]
            if len(vals) != 1:
                raise PartitionSpecError(
                    f"number of {word.upper()} values should cover "
                    "all partition key columns")
            v = _parse_value(vals[0])
            if word == "start":
                p.start, p.start_given = v, True
                if inc:
                    p.start_inc = inc == "inclusive"
            else:
                p.end, p.end_given = v, True
                if inc:
                    p.end_inc = inc == "inclusive"
            continue
        sm = re.match(r"\s*\(", txt[pos:])
        if sm:
            o = pos + sm.end() - 1
            c = match_paren(txt, o)
            if c < 0:
                raise PartitionSpecError(_UNBALANCED)
            p.sub_entries = txt[o + 1 : c]
            pos = c + 1
            continue
        if txt[pos:].strip():
            raise PartitionSpecError(
                f"invalid partition specification near: {txt[pos:][:40]}")
        break
    return p


class GpPartitionedTable:
    """One partitioned table: rows + leaf routing predicates."""

    def __init__(self, spark: SparkSession, name: str, cols_ddl: str,
                 spec: str):
        self.spark = spark
        self.name = name
        self.cols = [c.strip() for c in cols_ddl.split(",")]
        self.dtypes = {
            c.strip().split()[0]: c.strip().split()[1]
            for c in self.cols
        }
        self.df = spark.createDataFrame(
            [], ", ".join(self.cols) + ", __leaf STRING")
        self.default_leaf: str | None = None
        self.leaves: list[tuple[str, str]] = []  # (leaf name, predicate)
        self._parse(spec)

    # -- parsing --------------------------------------------------------

    def _parse(self, spec: str) -> None:
        hm = re.match(
            r"\s*partition\s+by\s+(list|range)\s*\(([^)]*)\)\s*", spec,
            re.I)
        if not hm:
            raise PartitionSpecError("no partition spec")
        lvl1 = _Level(hm.group(1), hm.group(2))
        self.range_key = lvl1.key
        if "," in lvl1.key and lvl1.kind == "RANGE":
            raise PartitionSpecError(
                "too many columns for RANGE partition -- only one "
                "column is allowed")
        rest = spec[hm.end():]
        lvl2 = None
        sm = re.match(
            r"subpartition\s+by\s+(list|range)\s*\(([^)]*)\)\s*", rest,
            re.I)
        if sm:
            lvl2 = _Level(sm.group(1), sm.group(2))
            rest = rest[sm.end():]
            tm = re.match(r"subpartition\s+template\s*\(", rest, re.I)
            if tm:
                c = match_paren(rest, tm.end() - 1)
                if c < 0:
                    raise PartitionSpecError(_UNBALANCED)
                lvl2.template = rest[tm.end() : c]
                rest = rest[c + 1 :].strip()
        bm = re.match(r"\s*\(", rest)
        if not bm:
            raise PartitionSpecError("no partition spec body")
        c = match_paren(rest, bm.end() - 1)
        if c < 0:
            raise PartitionSpecError(_UNBALANCED)
        body = rest[bm.end() : c]
        parts = self._parse_level(body, lvl1, "partition")
        for leaf, pred, sub in parts:
            if sub is None and lvl2 is not None and lvl2.template:
                sub = lvl2.template
            if sub is not None and lvl2 is not None:
                for sleaf, spred, _ in self._parse_level(
                        sub, lvl2, "subpartition"):
                    sname = sleaf.split("_1_prt_")[1]
                    self.leaves.append(
                        (f"{leaf}_2_prt_{sname}",
                         f"({pred}) AND ({spred})"))
            else:
                self.leaves.append((leaf, pred))

    def _parse_level(self, body: str, lvl: _Level, word: str):
        """-> [(leaf_name, predicate, sub_entries|None)]"""
        entries = [e.strip() for e in split_top(body) if e.strip()]
        out = []
        if lvl.kind == "LIST":
            seen_names: set[str] = set()
            seen_vals: set = set()
            anon = 0
            for e in entries:
                em = re.match(
                    rf"(?:{word}\s+(\w+)\s+)?values\s*\(", e, re.I)
                if not em:
                    nm = re.match(rf"{word}\s+(\w+)\s*(.*)$", e,
                                  re.I | re.S)
                    if nm and re.search(r"\b(start|end)\s*\(",
                                        nm.group(2), re.I):
                        raise PartitionSpecError(
                            "invalid boundary specification for LIST "
                            "partition")
                    if nm:
                        raise PartitionSpecError(
                            "missing boundary specification in "
                            f'partition "{nm.group(1)}" of type LIST')
                    raise PartitionSpecError(
                        f"invalid LIST partition entry: {e[:40]}")
                name = em.group(1)
                o = em.end() - 1
                c = match_paren(e, o)
                if c < 0:
                    raise PartitionSpecError(_UNBALANCED)
                vals = [
                    _coerce(_parse_value(v.strip()),
                            self.dtypes.get(lvl.key, "string"))
                    for v in split_top(e[o + 1 : c]) if v.strip()
                ]
                tail = e[c + 1 :].strip()
                sub = None
                if tail.startswith("("):
                    sc = match_paren(tail, 0)
                    if sc < 0:
                        raise PartitionSpecError(_UNBALANCED)
                    sub = tail[1:sc]
                if name is None:
                    anon += 1
                    name = str(anon)
                leaf = f"{self.name}_1_prt_{name}"
                if leaf in seen_names:
                    raise PartitionSpecError(
                        f'relation "{leaf}" already exists')
                seen_names.add(leaf)
                for v in vals:
                    if v in seen_vals:
                        raise PartitionSpecError(
                            f"duplicate VALUES in partition "
                            f'"{leaf}": {v!r}')
                    seen_vals.add(v)
                pred = (f"{lvl.key} IN ("
                        + ", ".join(_render(v) for v in vals) + ")")
                out.append((leaf, pred, sub))
            return out
        # RANGE
        parts: list[RangePart] = []
        anon = 0
        for e in entries:
            dm = re.match(rf"default\s+{word}\s*(\w+)?\s*(.*)$", e,
                          re.I | re.S)
            if dm:
                if not dm.group(1):
                    raise PartitionSpecError(
                        "missing name for DEFAULT partition")
                if dm.group(2).strip():
                    raise PartitionSpecError(
                        "invalid use of boundary specification in "
                        "DEFAULT partition "
                        f'"{dm.group(1)}"')
                if self.default_leaf is not None:
                    raise PartitionSpecError(
                        "multiple default partitions are not allowed")
                self.default_leaf = f"{self.name}_1_prt_{dm.group(1)}"
                continue
            p = _parse_entry_range(e, word)
            if p.name is None:
                anon += 1
                p.name = str(anon)
            parts.append(p)
        # WRITTEN-order pass first: an entry with no START takes the
        # previous entry's END (the j1/j2 end-only chain); if the
        # previous entry has no end either, GPDB reports the
        # derivation error on the PREVIOUS partition's missing end
        # (partition1.sql:24-34 — the comma-before-end case)
        for i, p in enumerate(parts):
            if not p.start_given and i > 0:
                prev = parts[i - 1]
                if not prev.end_given:
                    raise PartitionSpecError(
                        "cannot derive ending value of partition "
                        "based upon starting of next partition")
                p.start = prev.end
                p.start_given = True
                p.start_inc = not prev.end_inc
        # then sort by start (open-below first) and derive missing
        # ENDS from the next entry's start (partition1.sql:313-320)
        parts.sort(
            key=lambda p: _sort_key(p.start) if p.start_given
            else _NEG_INF
        )
        for i, p in enumerate(parts):
            if p.start_given and p.end_given and not _lt(p.start, p.end):
                raise PartitionSpecError(
                    "empty range bound specified for partition "
                    f'"{self.name}_1_prt_{p.name}"')
            if not p.end_given and p.every is None:
                nxt = parts[i + 1] if i + 1 < len(parts) else None
                if nxt is not None:
                    if not nxt.start_given:
                        raise PartitionSpecError(
                            "cannot derive ending value of partition "
                            "based upon starting of next partition")
                    p.end = nxt.start
                    p.end_inc = False
        # overlap validation (inclusive-boundary aware)
        for a, b in zip(parts, parts[1:]):
            if a.end is None or not b.start_given:
                if a.end is None and b.start_given:
                    raise PartitionSpecError(
                        f'partition "{self.name}_1_prt_{b.name}" would '
                        f'overlap partition '
                        f'"{self.name}_1_prt_{a.name}"')
                continue
            if _lt(b.start, a.end) or (
                b.start == a.end and a.end_inc and b.start_inc
            ):
                raise PartitionSpecError(
                    f'partition "{self.name}_1_prt_{b.name}" would '
                    f'overlap partition "{self.name}_1_prt_{a.name}"')
        out = []
        seen: set[str] = set()
        for p in parts:
            chunks = [p]
            if p.every is not None:
                if not (p.start_given and p.end_given):
                    raise PartitionSpecError(
                        "EVERY requires both START and END")
                chunks = []
                lo = p.start
                k = 1
                while _lt(lo, p.end):
                    hi = _step(lo, p.every)
                    if _lt(p.end, hi):
                        hi = p.end
                    cp = RangePart(f"{p.name}_{k}")
                    cp.start, cp.end = lo, hi
                    cp.start_given = cp.end_given = True
                    cp.start_inc, cp.end_inc = True, False
                    if k == 1:
                        cp.start_inc = p.start_inc
                    if hi == p.end:
                        cp.end_inc = p.end_inc
                    chunks.append(cp)
                    lo = hi
                    k += 1
            for cp in chunks:
                leaf = f"{self.name}_1_prt_{cp.name}"
                if leaf in seen:
                    raise PartitionSpecError(
                        f'relation "{leaf}" already exists')
                seen.add(leaf)
                conds = []
                if cp.start_given or cp.start is not None:
                    op = ">=" if cp.start_inc else ">"
                    conds.append(f"{lvl.key} {op} {_render(cp.start)}")
                if cp.end is not None:
                    op = "<=" if cp.end_inc else "<"
                    conds.append(f"{lvl.key} {op} {_render(cp.end)}")
                out.append(
                    (leaf, " AND ".join(conds) or "TRUE", p.sub_entries))
        return out

    # -- runtime --------------------------------------------------------

    def _route_col(self) -> F.Column:
        expr = None
        for leaf, pred in self.leaves:
            cond = F.expr(pred)
            expr = (F.when(cond, F.lit(leaf)) if expr is None
                    else expr.when(cond, F.lit(leaf)))
        return expr.otherwise(F.lit(self.default_leaf))

    def insert_values(self, rows: list[tuple]) -> None:
        new = self.spark.createDataFrame(rows, ", ".join(self.cols))
        routed = new.withColumn("__leaf", self._route_col())
        if self.default_leaf is None:
            bad = routed.filter(F.col("__leaf").isNull()).count()
            if bad:
                raise PartitionSpecError(
                    "no partition for partitioning key")
        self.df = self.df.unionByName(routed)

    def read(self) -> DataFrame:
        return self.df.drop("__leaf")

    def child(self, leaf: str) -> DataFrame:
        return self.df.filter(F.col("__leaf") == leaf).drop("__leaf")

    def routing(self) -> DataFrame:
        return self.df

    def leaf_bounds(self) -> list[tuple[str, str]]:
        return list(self.leaves)


_NEG_INF = float("-inf")


def _sort_key(v):
    if isinstance(v, date):
        return v.toordinal()
    if isinstance(v, (int, Decimal)):
        return float(v)
    return v


def _lt(a, b) -> bool:
    return _sort_key(a) < _sort_key(b)


# ---------------------------------------------------------------------------
# registered queries (partition1.sql fixtures; oracles spell the same
# routing as SQL CASE over the same VALUES on DuckDB)
# ---------------------------------------------------------------------------

from cloudberry_spark.registry import register  # noqa: E402


@register(
    "regress_part1_list_routing",
    oracle="""
SELECT CASE WHEN b IN ('a','b','c','d') THEN 'ggg_1_prt_aa'
            ELSE 'ggg_1_prt_bb' END AS leaf,
       a, b, count(*) AS n
FROM (SELECT 'x' AS a, chr(CAST(96 + ((i - 1) % 7) + 1 AS INT)) AS b
      FROM generate_series(1, 14) t(i))
GROUP BY 1, 2, 3
""",
    doc="partition1.sql:107-135 — basic LIST partition: 14 inserts "
        "route to ggg_1_prt_aa (values a-d) and ggg_1_prt_bb (e-g); "
        "the child-relation selects read back exactly the routed "
        "rows (expected/partition1.out:131-168).",
    tags=("partition_spec", "ddl"),
)
def regress_part1_list_routing(spark: SparkSession, sf_dir: str):
    t = GpPartitionedTable(
        spark, "ggg", "a STRING, b STRING, d STRING",
        "partition by LIST (b) ("
        "partition aa values ('a','b','c','d'), "
        "partition bb values ('e','f','g'))")
    t.insert_values([("x", ch, None) for ch in "abcdefg" * 2])
    return (t.routing()
            .groupBy(F.col("__leaf").alias("leaf"), "a", "b")
            .agg(F.count("*").alias("n")))


@register(
    "regress_part1_rank_template",
    oracle="""
SELECT 'rank_1_prt_' || CASE WHEN gender = 'M' THEN 'boys'
                             ELSE 'girls' END
       || '_2_prt_' || CAST(year(yr) - 2000 AS VARCHAR) AS leaf,
       id
FROM (VALUES (1, DATE '2001-01-15', 'M'), (2, DATE '2002-02-15', 'M'),
             (3, DATE '2003-03-15', 'M'), (4, DATE '2004-04-15', 'M'),
             (5, DATE '2005-05-15', 'M'), (6, DATE '2001-01-15', 'F'),
             (7, DATE '2002-02-15', 'F'), (8, DATE '2003-03-15', 'F'),
             (9, DATE '2004-04-15', 'F'), (10, DATE '2005-05-15', 'F')
     ) t(id, yr, gender)
""",
    doc="partition1.sql:139-171 — the documentation example: LIST "
        "(gender) with a RANGE (year) SUBPARTITION TEMPLATE of five "
        "anonymous start-only entries (ends derive from the next "
        "start, last stays open); children "
        "rank_1_prt_{boys,girls}_2_prt_{1..5} hold one row each "
        "(expected/partition1.out:171-247).",
    tags=("partition_spec", "ddl"),
)
def regress_part1_rank_template(spark: SparkSession, sf_dir: str):
    t = GpPartitionedTable(
        spark, "rank", "id INT, rank INT, year DATE, gender STRING",
        """partition by list (gender)
           subpartition by range (year)
           subpartition template (
             start (date '2001-01-01'), start (date '2002-01-01'),
             start (date '2003-01-01'), start (date '2004-01-01'),
             start (date '2005-01-01'))
           (partition boys values ('M'),
            partition girls values ('F'))""")
    t.insert_values([
        (1, 1, date(2001, 1, 15), "M"), (2, 1, date(2002, 2, 15), "M"),
        (3, 1, date(2003, 3, 15), "M"), (4, 1, date(2004, 4, 15), "M"),
        (5, 1, date(2005, 5, 15), "M"), (6, 1, date(2001, 1, 15), "F"),
        (7, 1, date(2002, 2, 15), "F"), (8, 1, date(2003, 3, 15), "F"),
        (9, 1, date(2004, 4, 15), "F"),
        (10, 1, date(2005, 5, 15), "F")])
    return t.routing().select(F.col("__leaf").alias("leaf"), "id")


@register(
    "regress_part1_every_days",
    oracle="""
SELECT * FROM (VALUES
  ('ggg_1_prt_aa',   '2007-08-01', '2008-01-01'),
  ('ggg_1_prt_bb_1', '2008-01-01', '2008-01-11'),
  ('ggg_1_prt_bb_2', '2008-01-11', '2008-01-21'),
  ('ggg_1_prt_bb_3', '2008-01-21', '2008-01-31'),
  ('ggg_1_prt_bb_4', '2008-01-31', '2008-02-10'),
  ('ggg_1_prt_bb_5', '2008-02-10', '2008-02-20'),
  ('ggg_1_prt_bb_6', '2008-02-20', '2008-03-01')
) t(leaf, lo, hi)
""",
    doc="partition1.sql:235-242 — EVERY (interval '10 days') over "
        "[2008-01-01, 2008-03-01): six children bb_1..bb_6 with a "
        "clipped final chunk, adjacent to the plain aa partition "
        "(child names per expected/partition1.out).",
    tags=("partition_spec", "ddl"),
)
def regress_part1_every_days(spark: SparkSession, sf_dir: str):
    t = GpPartitionedTable(
        spark, "ggg", "a STRING, b DATE, d STRING",
        """partition by range (b)
           (partition aa start (date '2007-08-01')
                         end (date '2008-01-01'),
            partition bb start (date '2008-01-01')
                         end (date '2008-03-01')
                         every (interval '10 days'))""")
    rows = [
        (leaf,
         re.search(r">= DATE '([^']+)'", pred).group(1),
         re.search(r"< DATE '([^']+)'", pred).group(1))
        for leaf, pred in t.leaf_bounds()
    ]
    return spark.createDataFrame(rows, "leaf STRING, lo STRING, hi STRING")


@register(
    "regress_part1_every_months_routing",
    oracle="""
SELECT 'foz_1_prt_1_' || CAST(year(d) - 2000 AS VARCHAR) AS leaf,
       i
FROM (VALUES (1, DATE '2001-01-02'), (2, DATE '2001-10-10'),
             (3, DATE '2002-10-30'), (4, DATE '2003-01-01'),
             (5, DATE '2004-05-05')) t(i, d)
""",
    doc="partition1.sql foz battery — anonymous RANGE partition with "
        "EVERY (interval '1 year') over [2001, 2005): children "
        "1_1..1_4 by year; the out-of-range row (2010) raises 'no "
        "partition for partitioning key' "
        "(tests/test_partition_spec.py).",
    tags=("partition_spec", "ddl"),
)
def regress_part1_every_months_routing(spark: SparkSession, sf_dir: str):
    t = GpPartitionedTable(
        spark, "foz", "i INT, d DATE",
        "partition by range (d) (start (date '2001-01-01') "
        "end (date '2005-01-01') every(interval '1 year'))")
    t.insert_values([
        (1, date(2001, 1, 2)), (2, date(2001, 10, 10)),
        (3, date(2002, 10, 30)), (4, date(2003, 1, 1)),
        (5, date(2004, 5, 5))])
    return t.routing().select(F.col("__leaf").alias("leaf"), "i")


@register(
    "regress_part1_default_partition",
    oracle="""
SELECT CASE WHEN bb < DATE '2008-01-01' THEN 'jjj_1_prt_j1'
            WHEN bb < DATE '2009-01-01' THEN 'jjj_1_prt_j2'
            ELSE 'jjj_1_prt_j3' END AS leaf,
       aa
FROM (VALUES (1, DATE '2007-06-01'), (2, DATE '2008-06-01'),
             (3, DATE '2012-01-01')) t(aa, bb)
""",
    doc="partition1.sql DEFAULT-partition battery: open-below j1 "
        "(end-only bound), j2, and DEFAULT j3 catching the "
        "out-of-range 2012 row; only one default allowed and it "
        "refuses boundary specs (error pins in "
        "tests/test_partition_spec.py).",
    tags=("partition_spec", "ddl"),
)
def regress_part1_default_partition(spark: SparkSession, sf_dir: str):
    t = GpPartitionedTable(
        spark, "jjj", "aa INT, bb DATE",
        "partition by range(bb) ("
        "partition j1 end (date '2008-01-01'), "
        "partition j2 end (date '2009-01-01'), "
        "default partition j3)")
    t.insert_values([(1, date(2007, 6, 1)), (2, date(2008, 6, 1)),
                     (3, date(2012, 1, 1))])
    return t.routing().select(F.col("__leaf").alias("leaf"), "aa")


@register(
    "regress_part1_unordered_derive",
    oracle="""
SELECT * FROM (VALUES
  ('ggg_1_prt_aa', '>= 2007-01-01', '< 2008-01-01'),
  ('ggg_1_prt_bb', '>= 2008-01-01', 'open')
) t(leaf, lo, hi)
""",
    doc="partition1.sql:313-320 — entries written out of order "
        "(bb first) with NO ends: the spec sorts by start and "
        "derives aa's end from bb's start; bb stays open above "
        "('formerly we could not set end of first partition ... but "
        "we can sort them now so this is legal').",
    tags=("partition_spec", "ddl"),
)
def regress_part1_unordered_derive(spark: SparkSession, sf_dir: str):
    t = GpPartitionedTable(
        spark, "ggg", "a STRING, b DATE, d STRING",
        "partition by range (b) ("
        "partition bb start (date '2008-01-01') , "
        "partition aa start (date '2007-01-01'))")
    rows = []
    for leaf, pred in t.leaf_bounds():
        lo = re.search(r">= DATE '([^']+)'", pred)
        hi = re.search(r"< DATE '([^']+)'", pred)
        rows.append((leaf, f">= {lo.group(1)}" if lo else "open",
                     f"< {hi.group(1)}" if hi else "open"))
    return spark.createDataFrame(rows, "leaf STRING, lo STRING, hi STRING")


@register(
    "regress_part1_list_coercion",
    oracle="""
SELECT CASE WHEN a IN ('1','2') THEN 'ggg_1_prt_aa' END AS leaf,
       i
FROM (VALUES (10, '1'), (20, '2')) t(i, a)
""",
    doc="partition1.sql:327-333 — cross-type coercion: LIST "
        "values(1, 2) against a char(1) key coerce to '1','2' "
        "(int -> char tier; the numeric tier rides the same path).",
    tags=("partition_spec", "ddl"),
)
def regress_part1_list_coercion(spark: SparkSession, sf_dir: str):
    t = GpPartitionedTable(
        spark, "ggg", "i INT, a STRING",
        "partition by list(a) (partition aa values(1, 2))")
    t.insert_values([(10, "1"), (20, "2")])
    return t.routing().select(F.col("__leaf").alias("leaf"), "i")


# ---------------------------------------------------------------------------
# ALTER TABLE ADD / DROP PARTITION (partition1.sql:700-900, MPP-3350,
# MPP-3607 open intervals)
# ---------------------------------------------------------------------------


def _pred_bounds(pred: str):
    """(lo, hi) of a leaf predicate (None = open side)."""
    lo = re.search(r">=?\s*(DATE '[^']+'|-?[\d.]+)", pred)
    hi = re.search(r"<=?\s*(DATE '[^']+'|-?[\d.]+)", pred)

    def val(m):
        if m is None:
            return None
        tok = m.group(1)
        return _parse_value(tok if not tok.upper().startswith("DATE")
                            else tok.lower())

    return val(lo), val(hi)


class GpAlterPartitionMixin:
    """ADD/DROP PARTITION over GpPartitionedTable's leaf list.

    Open-bound derivation (MPP-3607): an end-only ADD takes its start
    from the greatest existing END strictly BELOW the new end (none ->
    open below), an start-only ADD takes its end from the smallest
    existing START strictly ABOVE the new start (none -> open above);
    overlap is then validated against every existing leaf, naming the
    overlapped child exactly like expected/partition1.out:743-790.
    """

    def add_partition(self, entry: str) -> None:
        dm = re.match(r"\s*default\s+partition\s+(\w+)\s*$", entry, re.I)
        if dm:
            leaf = f"{self.name}_1_prt_{dm.group(1)}"
            if self.default_leaf is not None:
                if self.default_leaf == leaf:
                    raise PartitionSpecError(
                        f'relation "{leaf}" already exists')
                raise PartitionSpecError(
                    f'partition "{leaf}" conflicts with existing '
                    f'default partition "{self.default_leaf}"')
            self.default_leaf = leaf
            return
        p = _parse_entry_range(
            "partition " + entry.strip()
            if not re.match(r"\s*(partition\b|start\b|end\b)", entry,
                            re.I) else entry.strip(), "partition")
        if p.name is None:
            p.name = str(
                1 + sum(1 for leaf, _ in self.leaves
                        if re.fullmatch(
                            rf"{re.escape(self.name)}_1_prt_\d+", leaf)))
        leaf = f"{self.name}_1_prt_{p.name}"
        if any(leaf == x for x, _ in self.leaves):
            raise PartitionSpecError(
                f'relation "{leaf}" already exists')
        if not p.start_given and not p.end_given:
            raise PartitionSpecError(
                "missing boundary specification in partition "
                f'"{p.name}" of type RANGE')
        bounds = [(x, *_pred_bounds(pred)) for x, pred in self.leaves]
        if p.start_given and not p.end_given:
            above = [lo for _x, lo, _hi in bounds
                     if lo is not None and _lt(p.start, lo)]
            if above:
                p.end = min(above, key=_sort_key)
        elif p.end_given and not p.start_given:
            below = [hi for _x, _lo, hi in bounds
                     if hi is not None and _lt(hi, p.end)]
            if below:
                p.start = max(below, key=_sort_key)
                p.start_given = True
        if (p.start_given and p.end is not None
                and not _lt(p.start, p.end)):
            raise PartitionSpecError(
                f'empty range bound specified for partition "{leaf}"')
        for x, lo, hi in bounds:
            # intervals [lo, hi) with None = open; overlap iff each
            # starts below the other's end
            new_lo, new_hi = (p.start if p.start_given else None), p.end
            lo_ok = hi is None or new_lo is None or _lt(new_lo, hi)
            hi_ok = new_hi is None or lo is None or _lt(lo, new_hi)
            if lo_ok and hi_ok:
                raise PartitionSpecError(
                    f'partition "{leaf}" would overlap partition '
                    f'"{x}"')
        conds = []
        kcol = self.range_key
        if p.start_given or p.start is not None:
            conds.append(f"{kcol} >= {_render(p.start)}")
        if p.end is not None:
            conds.append(f"{kcol} < {_render(p.end)}")
        self.leaves.append((leaf, " AND ".join(conds) or "TRUE"))

    def drop_partition(self, name: str) -> None:
        leaf = f"{self.name}_1_prt_{name}"
        for i, (x, _pred) in enumerate(self.leaves):
            if x == leaf:
                del self.leaves[i]
                self.df = self.df.filter(F.col("__leaf") != leaf)
                return
        raise PartitionSpecError(
            f'relation "public.{leaf}" does not exist')


# attach without disturbing the class layout
GpPartitionedTable.add_partition = GpAlterPartitionMixin.add_partition
GpPartitionedTable.drop_partition = GpAlterPartitionMixin.drop_partition


@register(
    "regress_part1_add_partition_journey",
    oracle="""
SELECT * FROM (VALUES
  ('add aa again',     'ERROR: relation hhh_1_prt_aa already exists'),
  ('add cc no spec',   'ERROR: missing boundary'),
  ('add cc 2008-2010', 'ERROR: overlap hhh_1_prt_bb'),
  ('add cc end 2008',  'ERROR: overlap hhh_1_prt_aa'),
  ('add cc reversed',  'ERROR: empty range'),
  ('add cc end 2010',  'ok >= 2009-01-01 < 2010-01-01'),
  ('add anon 2010-02', 'ok hhh_1_prt_1'),
  ('open add start 2', 'ok >= 2 < 3'),
  ('open add end 4',   'ok >= 3 < 4')
) t(op, outcome)
""",
    doc="partition1.sql:700-790 + MPP-3607 — the ALTER TABLE ADD "
        "PARTITION journey: already-exists, no-spec, overlap (naming "
        "the overlapped child), reversed bounds, the derived "
        "end-only add terminating on the neighbour, the anonymous "
        "MPP-3350 add, and both open-interval derivations. Outcomes "
        "mirror expected/partition1.out:743-790.",
    tags=("partition_spec", "ddl"),
)
def regress_part1_add_partition_journey(spark: SparkSession,
                                        sf_dir: str) -> DataFrame:
    out = []

    def attempt(label, fn):
        try:
            res = fn()
            out.append((label, f"ok {res}" if res else "ok"))
        except PartitionSpecError as ex:
            msg = str(ex)
            if "already exists" in msg:
                out.append((label, "ERROR: relation hhh_1_prt_aa "
                                   "already exists"))
            elif "missing boundary" in msg:
                out.append((label, "ERROR: missing boundary"))
            elif "would overlap" in msg:
                m = re.search(r'overlap partition "(\w+)"', msg)
                out.append((label, f"ERROR: overlap {m.group(1)}"))
            elif "empty range" in msg:
                out.append((label, "ERROR: empty range"))
            else:
                out.append((label, f"ERROR: {msg[:40]}"))

    t = GpPartitionedTable(
        spark, "hhh", "a STRING, b DATE, d STRING",
        "partition by range (b) ("
        "partition aa start (date '2007-01-01') "
        "end (date '2008-01-01'), "
        "partition bb start (date '2008-01-01') "
        "end (date '2009-01-01'))")

    def bounds(tbl, leaf):
        pred = dict(tbl.leaf_bounds())[leaf]
        return (pred.replace(tbl.range_key + " ", "")
                .replace("DATE '", "").replace("'", "")
                .replace(" AND ", " "))

    attempt("add aa again", lambda: t.add_partition(
        "partition aa start (date '2010-01-01') "
        "end (date '2011-01-01')"))
    attempt("add cc no spec", lambda: t.add_partition("partition cc"))
    attempt("add cc 2008-2010", lambda: t.add_partition(
        "partition cc start (date '2008-01-01') "
        "end (date '2010-01-01')"))
    attempt("add cc end 2008", lambda: t.add_partition(
        "partition cc end (date '2008-01-01')"))
    attempt("add cc reversed", lambda: t.add_partition(
        "partition cc start (date '2010-01-01') "
        "end (date '2009-01-01')"))
    attempt("add cc end 2010", lambda: (
        t.add_partition("partition cc end (date '2010-01-01')"),
        bounds(t, "hhh_1_prt_cc"))[1])
    attempt("add anon 2010-02", lambda: (
        t.add_partition("end (date '2010-02-01')"),
        "hhh_1_prt_1")[1])
    ne = GpPartitionedTable(
        spark, "no_end1", "aa INT, b INT",
        "partition by range (b) (partition foo start (3))")
    attempt("open add start 2", lambda: (
        ne.add_partition("partition baz start (2)"),
        bounds(ne, "no_end1_1_prt_baz"))[1])
    ns = GpPartitionedTable(
        spark, "no_start1", "aa INT, b INT",
        "partition by range (b) (partition foo end (3))")
    attempt("open add end 4", lambda: (
        ns.add_partition("partition baz end (4)"),
        bounds(ns, "no_start1_1_prt_baz"))[1])
    return spark.createDataFrame(out, "op STRING, outcome STRING")
