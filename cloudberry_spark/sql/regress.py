"""PG regress-corpus parity: the reference's own test queries through
the pgcompat frontend.

The reference validates its engine with the pg_regress corpus
(/root/reference/src/test/regress/sql/, 623 files; scheduled by
src/test/regress/greenplum_schedule). This module ports a curated slice
of that corpus — window.sql, aggregates.sql, join.sql, groupingsets
shapes — keeping each query's text as close to the original as
possible. The classic regress tables (empsalary, tenk1, J1_TBL/J2_TBL,
int4_tbl, varchar_tbl, gstest) are rebuilt as deterministic CTE
preludes shared verbatim by BOTH engines, so:

- the Spark side runs ``translate_pg_sql(PRELUDE + original_text)`` —
  i.e. arbitrary PG-dialect SQL through the compat frontend, not a
  hand-built DataFrame;
- the DuckDB oracle runs ``PRELUDE + original_text`` untranslated
  (DuckDB natively speaks the PG dialect), giving an independent
  engine's answer for the identical statement.

tenk1 here is a deterministic analogue of the regress tenk1 (unique2 is
the i*37 mod 10000 permutation rather than a random shuffle — same
cardinalities and modular-column structure, reproducible everywhere).

Adaptations, applied uniformly and noted per query: output expressions
gain ``AS`` aliases (the harness matches columns by name), statements
that only EXPLAIN in the reference are executed (often via COUNT
wrappers), and server-internal features (custom logging aggregates,
GROUP_ID()) are substituted with portable equivalents.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from cloudberry_spark.registry import register
from cloudberry_spark.sql.pgcompat import translate_pg_sql
from cloudberry_spark.sql.scale_fixture import prelude_views

#: Shared table-building prelude. Both engines prune unreferenced CTEs,
#: so every query carries the full set.
PRELUDE = """
WITH empsalary(depname, empno, salary, enroll_date) AS (
  VALUES ('develop', 10, 5200, DATE '2007-08-01'),
         ('sales', 1, 5000, DATE '2006-10-01'),
         ('personnel', 5, 3500, DATE '2007-12-10'),
         ('sales', 4, 4800, DATE '2007-08-08'),
         ('personnel', 2, 3900, DATE '2006-12-23'),
         ('develop', 7, 4200, DATE '2008-01-01'),
         ('develop', 9, 4500, DATE '2008-01-01'),
         ('sales', 3, 4800, DATE '2007-08-01'),
         ('develop', 8, 6000, DATE '2006-10-01'),
         ('develop', 11, 5200, DATE '2007-08-15')
),
tenk1 AS (
  -- every column pinned BIGINT: Spark sequence() yields INT while
  -- DuckDB generate_series yields BIGINT, and the driver hash is
  -- dtype-sensitive (the int32-vs-int64 class that went red in r2).
  -- (comments are masked in the same pass as literals —
  -- _STRING_OR_COMMENT_RE — so apostrophes here are safe.)
  SELECT CAST(i AS BIGINT) AS unique1,
         CAST((i * 37) % 10000 AS BIGINT) AS unique2,
         CAST(i % 2 AS BIGINT) AS two, CAST(i % 4 AS BIGINT) AS four,
         CAST(i % 10 AS BIGINT) AS ten, CAST(i % 20 AS BIGINT) AS twenty,
         CAST(i % 100 AS BIGINT) AS hundred,
         CAST(i % 1000 AS BIGINT) AS thousand,
         CAST(i % 2000 AS BIGINT) AS twothousand,
         CAST(i % 5000 AS BIGINT) AS fivethous,
         CAST(i % 10000 AS BIGINT) AS tenthous
  FROM generate_series(0, 9999) AS gs(i)
),
j1_tbl(i, j, t) AS (
  VALUES (1, 4, 'one'), (2, 3, 'two'), (3, 2, 'three'), (4, 1, 'four'),
         (5, 0, 'five'), (6, 6, 'six'), (7, 7, 'seven'), (8, 8, 'eight'),
         (0, NULL, 'zero'), (NULL, NULL, 'null'), (NULL, 0, 'zero')
),
j2_tbl(i, k) AS (
  VALUES (1, -1), (2, 2), (3, -3), (2, 4), (5, -5), (5, -5),
         (0, NULL), (NULL, NULL), (NULL, 0)
),
int4_tbl(f1) AS (
  VALUES (0), (123456), (-123456), (2147483647), (-2147483647)
),
varchar_tbl(f1) AS (
  VALUES ('a'), ('ab'), ('abcd'), ('abcd    ')
),
gstest(a, b, v) AS (
  VALUES (1, 1, 10), (1, 1, 11), (1, 2, 12), (1, 2, 13), (1, 3, 14),
         (2, 3, 15), (3, 3, 16), (3, 4, 17), (4, 1, 18), (4, 1, 19)
),
int8_tbl(q1, q2) AS (
  VALUES (CAST(123 AS BIGINT), CAST(456 AS BIGINT)),
         (123, 4567890123456789),
         (4567890123456789, 123),
         (4567890123456789, 4567890123456789),
         (4567890123456789, -4567890123456789)
),
subselect_tbl(f1, f2, f3) AS (
  VALUES (1, 2, CAST(3 AS DOUBLE)), (2, 3, 4), (3, 4, 5), (1, 1, 1),
         (2, 2, 2), (3, 3, 3), (6, 7, 8), (8, 9, NULL)
),
case_tbl(i, f) AS (
  VALUES (1, CAST(10.1 AS DOUBLE)), (2, 20.2), (3, -30.3), (4, NULL)
),
onek AS (
  SELECT * FROM tenk1 WHERE unique1 < 1000
),
bfv_customer(cn, cname, cloc) AS (
  VALUES (1, 'Macbeth', 'Inverness'), (2, 'Duncan', 'Forres'),
         (3, 'Lady Macbeth', 'Inverness'), (4, 'Witches, Inc', 'Lonely Heath')
),
sale(cn, vn, pn, dt, qty, prc) AS (
  VALUES (2, 40, 100, DATE '1401-01-01', 1100, CAST(2400 AS DOUBLE)),
         (1, 10, 200, DATE '1401-03-01', 1, 0),
         (3, 40, 200, DATE '1401-04-01', 1, 0),
         (1, 20, 100, DATE '1401-05-01', 1, 0),
         (1, 30, 300, DATE '1401-05-02', 1, 0),
         (1, 50, 400, DATE '1401-06-01', 1, 0),
         (2, 50, 400, DATE '1401-06-01', 1, 0),
         (1, 30, 500, DATE '1401-06-01', 12, 5),
         (3, 30, 500, DATE '1401-06-01', 12, 5),
         (3, 30, 600, DATE '1401-06-01', 12, 5),
         (4, 40, 700, DATE '1401-06-01', 1, 1),
         (4, 40, 800, DATE '1401-06-01', 1, 1)
),
city(cid, cityname, countrycode, district, population) AS (
  SELECT i, 'City_' || i, 'C' || CAST(i % 7 AS STRING),
         'D' || CAST(i % 3 AS STRING), ((i * 37) % 97) * 10000 + i
  FROM generate_series(1, 60) t(i)
),
country(code, countryname, continent, region, cpop, gnp) AS (
  SELECT 'C' || CAST(i AS STRING), 'Country_' || i,
         'Cont_' || CAST(i % 3 AS STRING), 'R' || CAST(i % 5 AS STRING),
         (i + 1) * 1000000, CAST((i + 1) * 1111.5 AS DOUBLE)
  FROM generate_series(0, 6) t(i)
),
countrylanguage(countrycode, language, isofficial, percentage) AS (
  SELECT 'C' || CAST(i % 7 AS STRING), 'Lang_' || CAST(i % 4 AS STRING),
         i % 2 = 0, CAST((i * 13) % 100 AS DOUBLE)
  FROM generate_series(1, 20) t(i)
),
product(pn, pname, pcolor) AS (
  VALUES (100, 'Sword', 'Black'), (200, 'Dream', 'Black'),
         (300, 'Castle', 'Grey'), (400, 'Justice', 'Clear'),
         (500, 'Donuts', 'Plain'), (600, 'Donuts', 'Chocolate'),
         (700, 'Hamburger', 'Grey'), (800, 'Fries', 'Grey')
),
test1 AS (
  SELECT CAST(a AS BIGINT) AS x, CAST(b AS BIGINT) AS y,
         CAST(a * 10 + b AS DOUBLE) AS z
  FROM generate_series(1, 5) AS a(a), generate_series(1, 5) AS b(b)
),
timestamp_tbl(d1) AS (
  VALUES (TIMESTAMP '1997-01-02 00:00:00'),
         (TIMESTAMP '1997-01-02 03:04:05'),
         (TIMESTAMP '1997-02-10 17:32:01'),
         (TIMESTAMP '2000-12-31 17:32:01'),
         (TIMESTAMP '2001-01-01 17:32:01'),
         (TIMESTAMP '1902-05-05 01:02:03'),
         (TIMESTAMP '2038-04-08 12:00:00')
),
t1(c1) AS (
  SELECT CAST(i AS INT) FROM generate_series(1, 10) AS gs(i)
),
t2(c2) AS (
  SELECT CAST(i AS INT) FROM generate_series(1, 5) AS gs(i)
),
t3(c3) AS (
  VALUES (1), (2), (3)
),
t4(c4) AS (
  VALUES (1), (2)
),
t1n(c1n) AS (
  VALUES (1), (2), (3), (NULL), (5), (6), (7)
),
g1(a, b, c) AS (
  VALUES (1,1,1), (1,1,2), (1,2,2), (2,2,2), (2,2,3), (2,3,3),
         (3,3,3), (3,3,3), (3,3,4), (3,4,4), (4,4,4)
),
l1(w, x, y, z) AS (
  SELECT CAST(i AS INT), CAST(i AS INT), CAST(i AS INT), CAST(i AS INT)
  FROM generate_series(1, 10) AS gs(i)
),
dqa_t1 AS (
  SELECT CAST(i % 23 AS INT) AS d, CAST(i % 12 AS INT) AS i,
         CAST(i % 10 AS TEXT) AS c, DATE '2009-06-10' + CAST(i % 34 AS INT) AS dt
  FROM generate_series(0, 99) AS gs(i)
),
dqa_t2 AS (
  SELECT CAST(i % 34 AS INT) AS d, CAST(i % 45 AS INT) AS i,
         CAST(i % 10 AS TEXT) AS c, DATE '2009-06-10' + CAST(i % 56 AS INT) AS dt
  FROM generate_series(0, 99) AS gs(i)
),
weibull(id, x1, x2, y) AS (
  VALUES (1, CAST(41.9 AS DOUBLE), CAST(29.1 AS DOUBLE),
          CAST(251.3 AS DOUBLE)),
         (2, 43.4, 29.3, 251.3), (3, 43.9, 29.5, 248.3),
         (4, 44.5, 29.7, 267.5), (5, 47.3, 29.9, 273.0),
         (6, 47.5, 30.3, 276.5), (7, 47.9, 30.5, 270.3),
         (8, 50.2, 30.7, 274.9), (9, 52.8, 30.8, 285.0),
         (10, 53.2, 30.9, 290.0), (11, 56.7, 31.5, 297.0),
         (12, 57.0, 31.7, 302.5), (13, 63.5, 31.9, 304.5),
         (14, 65.3, 32.0, 309.3), (15, 71.1, 32.1, 321.7),
         (16, 77.0, 32.5, 330.7), (17, 77.8, 32.9, 349.0)
),
date_tbl(f1) AS (
  VALUES (DATE '1957-04-09'), (DATE '1957-06-13'), (DATE '1996-02-28'),
         (DATE '1996-02-29'), (DATE '1996-03-01'), (DATE '1996-03-02'),
         (DATE '1997-02-28'), (DATE '1997-03-01'), (DATE '1997-03-02'),
         (DATE '2000-04-01'), (DATE '2000-04-02'), (DATE '2000-04-03'),
         (DATE '2038-04-08'), (DATE '2039-04-09'), (DATE '2040-04-10')
),
qp_csq_t1(a, b) AS (
  VALUES (1, 2), (3, 4), (5, 6), (7, 8)
),
qp_csq_t2(x, y) AS (
  VALUES (1, 1), (3, 9), (5, 25), (7, 49)
),
csq_a(i, j) AS (
  VALUES (1, 1), (19, 5), (99, 62), (1, 1), (78, -1)
),
csq_b(i, j) AS (
  VALUES (1, 43), (88, 1), (-1, 62), (1, 1), (32, 5), (2, 7)
),
csq_c(i, j) AS (
  VALUES (1, 889), (288, 1), (-1, 625), (32, 65), (32, 62), (3, -1),
         (99, 7), (78, 62), (2, 7)
),
csq_e(i, j) AS (
  VALUES (1, 889), (288, 1), (-1, 625), (32, 65), (32, 62), (3, -1),
         (99, 7), (78, 62)
),
aggtest(a, b) AS (
  -- src/test/regress/data/agg.data (a int4, b float4; float4 cells are
  -- exactly representable so DOUBLE carries them bit-identically)
  VALUES (56, CAST(7.8 AS DOUBLE)), (100, 99.097),
         (0, 0.09561), (42, 324.78)
),
float4_tbl(f1) AS (
  VALUES (CAST(0 AS float4)), (CAST(1004.3 AS float4)),
         (CAST(-34.84 AS float4)),
         (CAST(1.2345678901234e+20 AS float4)),
         (CAST(1.2345678901234e-20 AS float4))
),
num_data(id, val) AS (
  -- numeric.sql num_data rows (t0-t9)
  VALUES (0, CAST(0 AS DECIMAL(28,12))), (1, 0),
         (2, -34338492.215397047), (3, 4.31), (4, 7799461.4119),
         (5, 16397.038491), (6, 93901.57763026), (7, -83028485),
         (8, 74881), (9, -24926804.045047420)
),
bfv_x(a, b, c) AS (
  SELECT CAST(i AS BIGINT), CAST(i AS BIGINT), CAST(i AS BIGINT)
  FROM generate_series(1, 10) AS gs(i)
),
bfv_y(a, b, c) AS (
  SELECT * FROM bfv_x
),
bj_t1(a, b, c) AS (
  VALUES (1, 1, 1), (2, 1, 2), (3, NULL, 3)
),
bj_t2(a, b) AS (
  VALUES (2, 3)
),
bj_t3(a, b, c) AS (
  SELECT 1 AS a, 1 AS b, 1 AS c WHERE 1 = 0
),
bjfoo(a, b) AS (
  SELECT CAST(i AS BIGINT), CAST(i + 1 AS BIGINT)
  FROM generate_series(1, 10) AS gs(i)
),
bjbar(c, d) AS (
  SELECT CAST(i AS BIGINT), CAST(i + 1 AS BIGINT)
  FROM generate_series(1, 10) AS gs(i)
),
bjt(a, b, d) AS (
  SELECT bjfoo.a, bjfoo.b, bjbar.d FROM bjfoo, bjbar WHERE bjfoo.a = bjbar.d
),
qp_vendor(vn) AS (
  SELECT DISTINCT vn FROM sale
),
qp_customer(cn) AS (
  SELECT DISTINCT cn FROM sale
),
qp_product(pn) AS (
  SELECT DISTINCT pn FROM sale
),
graph_tbl(f, t, label) AS (
  VALUES (1, 2, 'arc 1 -> 2'), (1, 3, 'arc 1 -> 3'), (2, 3, 'arc 2 -> 3'),
         (1, 4, 'arc 1 -> 4'), (4, 5, 'arc 4 -> 5'), (5, 1, 'arc 5 -> 1')
),
gstest2(a, b, c) AS (
  VALUES (1, 1, 1), (1, 1, 1), (1, 1, 2), (1, 2, 2), (2, 2, 2)
),
filter_test(i, j) AS (
  -- src/test/regress/sql/filter.sql:1-13
  VALUES (1, 1), (2, 1), (3, 1), (4, 2), (NULL, 2), (6, 2),
         (7, 3), (8, NULL), (9, 3), (10, NULL)
),
perct AS (
  -- src/test/regress/sql/percentile.sql:4 (a, a/10 over 1..100;
  -- floor() because int division is double-valued on both engines)
  SELECT CAST(i AS BIGINT) AS a, CAST(floor(i / 10.0) AS BIGINT) AS b
  FROM generate_series(1, 100) AS gs(i)
),
perct3 AS (
  -- percentile.sql:6 (cross with 1..10, keep a%7 < i)
  SELECT a, b FROM perct, generate_series(1, 10) AS g(i)
  WHERE a % 7 < i
),
perct4 AS (
  -- percentile.sql:7-8 (every 10th a nulled; c all-NULL float)
  SELECT CASE WHEN a % 10 = 5 THEN NULL ELSE a END AS a, b,
         CAST(NULL AS DOUBLE) AS c
  FROM perct
),
dd_t1 AS (
  -- src/test/regress/sql/dedupset.sql:10-15 (t1/t2: 1..100 twice)
  SELECT CAST(i AS BIGINT) AS v1, CAST(i AS BIGINT) AS v2
  FROM generate_series(1, 100) AS gs(i)
),
dd_t2 AS (
  SELECT CAST(i AS BIGINT) AS v3, CAST(i AS BIGINT) AS v4
  FROM generate_series(1, 100) AS gs(i)
),
dd_t3 AS (
  SELECT CAST(i AS BIGINT) AS v5, CAST(i AS BIGINT) AS v6
  FROM generate_series(1, 100) AS gs(i)
),
x_outer AS (
  -- src/test/regress/sql/bfv_aggregate.sql:11-14
  SELECT CAST(i % 3 AS BIGINT) AS a, CAST(i AS BIGINT) AS b,
         CAST(i AS BIGINT) AS c
  FROM generate_series(1, 10) AS gs(i)
),
y_inner AS (
  SELECT CAST(i % 3 AS BIGINT) AS d, CAST(i AS BIGINT) AS e
  FROM generate_series(1, 10) AS gs(i)
),
bfvagg_d AS (
  -- bfv_aggregate.sql:37-38 (to_date YYYY-DD-MM of 2014-01-01 is
  -- 2014-01-01; col2 1..100)
  SELECT TIMESTAMP '2014-01-01 00:00:00' AS col1,
         CAST(i AS BIGINT) AS col2
  FROM generate_series(1, 100) AS gs(i)
),
bfvagg_foo(a, b) AS (
  -- bfv_aggregate.sql:169-170
  VALUES (1, 'aaa'), (2, 'bbb'), (3, 'ccc')
),
mtup1 AS (
  -- bfv_aggregate.sql:197-209: the reference INSERT supplies only
  -- (c0, c1, c3), leaving c4 NULL — kept faithfully
  SELECT 'foo' AS c0, '2015-09-1.1' AS c1, CAST(i AS BIGINT) AS c3,
         CAST(NULL AS BIGINT) AS c4
  FROM generate_series(1, 9) AS gs(i)
),
arrtest_f(f0, f1, f2) AS (
  -- src/test/regress/sql/arrays.sql arrtest_f (9 rows, two cats)
  VALUES (1, 'cat1', CAST(1.21 AS DOUBLE)), (2, 'cat1', 1.24),
         (3, 'cat1', 1.18), (4, 'cat1', 1.26), (5, 'cat1', 1.15),
         (6, 'cat2', 1.15), (7, 'cat2', 1.26), (8, 'cat2', 1.32),
         (9, 'cat2', 1.30)
),
with_test1(i, t, value) AS (
  -- src/test/regress/sql/with_clause.sql fixtures
  SELECT g % 10, 'text' || (g % 20), g % 30 FROM generate_series(0, 99) tg(g)
),
with_test2(i, t, value) AS (
  SELECT g % 100, 'text' || (g % 200), g % 300
  FROM generate_series(0, 999) tg(g)
),
test_having(a, b, c, d) AS (
  -- src/test/regress/sql/select_having.sql fixture (char(8)/char(1)
  -- carried as plain strings on both engines)
  VALUES (0, 1, 'XXXX', 'A'), (1, 2, 'AAAA', 'b'), (2, 2, 'AAAA', 'c'),
         (3, 3, 'BBBB', 'D'), (4, 3, 'BBBB', 'e'), (5, 3, 'bbbb', 'F'),
         (6, 4, 'cccc', 'g'), (7, 4, 'cccc', 'h'), (8, 4, 'CCCC', 'I'),
         (9, 4, 'CCCC', 'j')
),
test_missing_target(a, b, c, d) AS (
  -- select_implicit.sql fixture (same shape, ABAB rows)
  VALUES (0, 1, 'XXXX', 'A'), (1, 2, 'ABAB', 'b'), (2, 2, 'ABAB', 'c'),
         (3, 3, 'BBBB', 'D'), (4, 3, 'BBBB', 'e'), (5, 3, 'bbbb', 'F'),
         (6, 4, 'cccc', 'g'), (7, 4, 'cccc', 'h'), (8, 4, 'CCCC', 'I'),
         (9, 4, 'CCCC', 'j')
),
arr_op(seqno, i, t) AS (
  -- compact analogue of arrays.sql array_op_test (the original is a
  -- 103-row data-file load; these rows reproduce every operator
  -- shape: member overlap, containment both ways, empty, NULL elems)
  VALUES (1, ARRAY[CAST(32 AS BIGINT), 17, 9], ARRAY['AA', 'BB']),
         (2, ARRAY[CAST(17 AS BIGINT)], ARRAY['BB', 'CC']),
         (3, ARRAY[CAST(38 AS BIGINT), 34], ARRAY['AA']),
         (5, ARRAY[CAST(NULL AS BIGINT)], ARRAY['DD', 'AA']),
         (6, ARRAY[CAST(89 AS BIGINT), 32], ARRAY['CC'])
)
"""


def _with_prelude(sql: str, prelude: str | None = None) -> str:
    """Prepend the table prelude; a query carrying its own WITH merges
    its CTE list into the prelude's (hoisting RECURSIVE to the top,
    where both engines require it)."""
    base = PRELUDE if prelude is None else prelude
    m = re.match(r"\s*WITH\s+(RECURSIVE\s+)?", sql, flags=re.I)
    if not m:
        return base + sql
    if m.group(1):
        base = base.replace("WITH ", "WITH RECURSIVE ", 1)
    return base + ",\n" + sql[m.end():]


def register_regress(
    name: str,
    sql: str,
    doc: str,
    tags: tuple[str, ...] = (),
    oracle: str | None = "same",
    prelude: str | None = None,
    scale_views: tuple[str, str] | None = None,
) -> None:
    """Register one regress query: Spark side through translate_pg_sql,
    DuckDB oracle on the identical untranslated text (``oracle='same'``)
    or, where DuckDB lacks the construct, an equivalent spelled-out
    oracle (also run with the prelude). ``prelude`` overrides the
    shared fixture prelude for batteries carrying their own tables
    (e.g. the qp_derived_table T0..T99 ports). ``scale_views`` =
    ``(tag, prelude)`` runs the Spark side over that prelude's
    parquet-backed views instead, which follow the bench-only
    SPARK_GRAFT_DS_SCALE fact multiplier (sql/scale_fixture.py;
    identity when the env is unset)."""
    full = _with_prelude(sql, prelude)
    duck = full if oracle == "same" else _with_prelude(oracle, prelude)
    # parquet-backed prelude views: real stats at scale, and no per-call
    # prelude re-parse at K=1 (r12 opt); the registry wrapper registers
    # them in place of the fixture views
    views = None
    if scale_views is not None:
        views = prelude_views(scale_views[1], scale_views[0])

    @register(name, oracle=duck, doc=doc, tags=("regress",) + tags,
              views=views)
    def _q(spark: SparkSession, sf_dir: str, _sql: str = full,
           _orig: str = sql) -> DataFrame:
        if views is not None:
            return spark.sql(translate_pg_sql(_orig))
        return spark.sql(translate_pg_sql(_sql))

    _q.__name__ = name


# ---------------------------------------------------------------------------
# window.sql
# ---------------------------------------------------------------------------

register_regress(
    "regress_win_sum_over_partition",
    """
SELECT depname, empno, salary,
       CAST(sum(salary) OVER (PARTITION BY depname) AS BIGINT) AS sum_salary
FROM empsalary ORDER BY depname, salary, empno
""",
    "src/test/regress/sql/window.sql:34 — whole-partition sum window.",
    ("window",),
)

register_regress(
    "regress_win_agg_over_groupby",
    """
SELECT four, ten, CAST(SUM(SUM(four)) OVER (PARTITION BY four) AS BIGINT)
           AS ssum,
       AVG(ten) AS aten
FROM tenk1
GROUP BY four, ten ORDER BY four, ten
""",
    "src/test/regress/sql/window.sql:39 — window over a grouped "
    "aggregate (SUM(SUM(x)) OVER): agg feeds the window input.",
    ("window", "aggregate"),
)

register_regress(
    "regress_win_named_window",
    """
SELECT depname, empno, salary, CAST(rank() OVER w AS BIGINT) AS r
FROM empsalary WINDOW w AS (PARTITION BY depname ORDER BY salary)
ORDER BY r, empno
""",
    "src/test/regress/sql/window.sql:44 — WINDOW clause (the original "
    "also re-references `rank() OVER w` inside ORDER BY; Spark resolves "
    "named windows only in the select list, so the ORDER BY goes "
    "through the alias — same rows, same order).",
    ("window",),
)

register_regress(
    "regress_win_cumulative",
    """
SELECT CAST(sum(four) OVER (PARTITION BY ten ORDER BY unique2) AS BIGINT)
           AS sum_1,
       ten, four
FROM tenk1 WHERE unique2 < 10
""",
    "src/test/regress/sql/window.sql:55 — cumulative aggregate "
    "(default RANGE UNBOUNDED PRECEDING..CURRENT ROW frame).",
    ("window",),
)

register_regress(
    "regress_win_ranking",
    """
SELECT CAST(rank() OVER (PARTITION BY four ORDER BY ten) AS BIGINT)
           AS rank_1,
       CAST(dense_rank() OVER (PARTITION BY four ORDER BY ten) AS BIGINT)
           AS drank,
       percent_rank() OVER (PARTITION BY four ORDER BY ten) AS prank,
       cume_dist() OVER (PARTITION BY four ORDER BY ten) AS cdist,
       CAST(ntile(3) OVER (ORDER BY ten, four) AS BIGINT) AS nt,
       ten, four
FROM tenk1 WHERE unique2 < 10
""",
    "src/test/regress/sql/window.sql:60-68 — ranking-family windows "
    "(rank/dense_rank/percent_rank/cume_dist/ntile) on the tenk1 slice.",
    ("window",),
)

register_regress(
    "regress_win_lag_lead",
    """
SELECT lag(ten) OVER (PARTITION BY four ORDER BY ten) AS lag_ten,
       lead(ten * 2, 1) OVER (PARTITION BY four ORDER BY ten) AS lead2,
       lead(ten * 2, 1, -1) OVER (PARTITION BY four ORDER BY ten)
           AS lead2_def,
       first_value(ten) OVER (PARTITION BY four ORDER BY ten) AS fv,
       ten, four
FROM tenk1 WHERE unique2 < 10
""",
    "src/test/regress/sql/window.sql:71-84 — lag/lead with constant "
    "offsets and defaults (the variable-offset lag(ten, four) form is "
    "a documented gap: Spark requires foldable offsets).",
    ("window",),
)

register_regress(
    "regress_win_split_rank_filter",
    """
SELECT * FROM (
  SELECT CAST(rank() OVER (PARTITION BY four ORDER BY ten) AS BIGINT)
             AS rank_1, ten, four
  FROM tenk1 WHERE unique2 < 10) t
WHERE rank_1 < 3
""",
    "src/test/regress/sql/window.sql:113 — rank filter above a window "
    "subquery (the reference's split-window-function optimization "
    "target; Spark evaluates window then filters).",
    ("window",),
)

register_regress(
    "regress_win_frame_options",
    """
SELECT
    empno,
    depname,
    CAST(row_number() OVER (PARTITION BY depname ORDER BY enroll_date,
                            empno) AS BIGINT) AS rn,
    CAST(sum(salary) OVER (PARTITION BY depname ORDER BY enroll_date ROWS
         BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT)
        AS dep_total,
    count(*) OVER (PARTITION BY depname ORDER BY enroll_date RANGE BETWEEN
                   CURRENT ROW AND CURRENT ROW) AS cnt
FROM empsalary ORDER BY depname, enroll_date, empno
""",
    "src/test/regress/sql/window.sql:1076-1085 — mixed frame options "
    "per window function over one partitioning (WindowClause "
    "frameOptions test, executed form; the original pins rank() with an "
    "explicit ROWS frame — Spark rejects custom frames on ranking "
    "functions, a documented divergence, so the explicit-frame columns "
    "here are aggregates with identical frame semantics).",
    ("window",),
)

register_regress(
    "regress_win_qual_pushdown",
    """
SELECT * FROM
  (SELECT depname,
          CAST(sum(salary) OVER (PARTITION BY depname) AS BIGINT)
              AS depsalary,
          min(salary) OVER (PARTITION BY depname || 'A', depname)
              AS depminsalary
   FROM empsalary) emp
WHERE depname = 'sales'
""",
    "src/test/regress/sql/window.sql:1092-1096 — qual pushdown into a "
    "window subquery when every PARTITION BY includes the filter key.",
    ("window",),
)

register_regress(
    "regress_win_rows_frame_values",
    """
SELECT
    p, i, v,
    count(v) OVER wnd AS cnt,
    sum(v) OVER wnd AS s
FROM (VALUES
    (1, 1, NULL), (1, 2, 10), (1, 3, 20), (1, 4, NULL), (1, 5, NULL),
    (1, 6, 30), (2, 1, NULL), (2, 2, 40), (3, 1, 50)
) AS t(p, i, v)
WINDOW wnd AS (PARTITION BY p ORDER BY i
               ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)
ORDER BY p, i
""",
    "src/test/regress/sql/window.sql:1570 — sliding ROWS frame over an "
    "inline VALUES table with NULL gaps (the moving-aggregate test, "
    "with portable count/sum in place of the logging aggregates).",
    ("window",),
)

register_regress(
    "regress_win_reverse_frame",
    """
SELECT empno,
       count(*) OVER (ORDER BY salary DESC ROWS BETWEEN CURRENT ROW
                      AND UNBOUNDED FOLLOWING) AS c
FROM empsalary ORDER BY empno
""",
    "src/test/regress/sql/window.sql:1210 — descending order with a "
    "CURRENT ROW..UNBOUNDED FOLLOWING frame.",
    ("window",),
)

# ---------------------------------------------------------------------------
# aggregates.sql
# ---------------------------------------------------------------------------

register_regress(
    "regress_agg_basic",
    """
SELECT avg(four) AS avg_four, CAST(sum(four) AS BIGINT) AS sum_four,
       max(four) AS max_3, min(unique1) AS min_u, count(*) AS n
FROM tenk1
""",
    "src/test/regress/sql/aggregates.sql:29-52 — basic avg/sum/max/min "
    "scans (the onek/aggtest block, on the deterministic tenk1).",
    ("aggregate",),
)

register_regress(
    "regress_agg_stats",
    """
SELECT round(stddev_pop(b), 6) AS sd_pop,
       round(stddev_samp(b), 6) AS sd_samp,
       round(var_pop(b), 6) AS v_pop,
       round(var_samp(b), 6) AS v_samp
FROM (SELECT CAST(unique1 AS FLOAT8) / 7 AS b
      FROM tenk1 WHERE unique1 < 100) t
""",
    "src/test/regress/sql/aggregates.sql:56-59 — stddev/variance "
    "population and sample forms.",
    ("aggregate",),
)

register_regress(
    "regress_agg_var_single_row",
    """
SELECT var_pop(CAST(1.0 AS FLOAT8)) AS vp,
       var_samp(CAST(2.0 AS FLOAT8)) AS vs,
       stddev_pop(CAST(3.0 AS FLOAT8)) AS sp,
       stddev_samp(CAST(4.0 AS FLOAT8)) AS ss
""",
    "src/test/regress/sql/aggregates.sql:68-69 — population variance "
    "is defined for a single tuple (0), sample variance is not (NULL).",
    ("aggregate",),
)

register_regress(
    "regress_agg_string_agg",
    """
SELECT
  (select string_agg(a, ',') from (values('aaaa'),('bbbb'),('cccc')) g(a))
      AS s1,
  (select string_agg(a, ',')
   from (values('aaaa'),(null),('bbbb'),('cccc')) g(a)) AS s2,
  (select string_agg(a, 'AB')
   from (values(null),(null),('bbbb'),('cccc')) g(a)) AS s3,
  (select string_agg(a, ',') from (values(null),(null)) g(a)) AS s4
""",
    "src/test/regress/sql/aggregates.sql:780-783 — string_agg "
    "null-skipping semantics, incl. the all-NULL => NULL case.",
    ("aggregate",),
)

register_regress(
    "regress_agg_string_agg_distinct",
    """
select string_agg(distinct f1, ',' order by f1) AS s
from varchar_tbl
""",
    "src/test/regress/sql/aggregates.sql:786 — string_agg(DISTINCT ... "
    "ORDER BY) over varchar_tbl, through the frontend's listagg WITHIN "
    "GROUP rewrite.",
    ("aggregate",),
)

register_regress(
    "regress_agg_filter_clause",
    """
select ten, CAST(sum(unique1) filter (where four = 1) AS BIGINT) AS s,
       count(*) filter (where two = 0) AS c
from tenk1 group by ten order by ten
""",
    "src/test/regress/sql/aggregates.sql:821 — aggregate FILTER "
    "clauses beside unfiltered grouping.",
    ("aggregate",),
)

register_regress(
    "regress_agg_percentile",
    """
select percentile_cont(0.5) within group (order by b) AS p50,
       percentile_disc(0.25) within group (order by b) AS p25d
from (SELECT CAST(unique1 AS FLOAT8) AS b FROM tenk1 WHERE unique1 < 101) t
""",
    "src/test/regress/sql/aggregates.sql:831 — ordered-set aggregates "
    "percentile_cont/percentile_disc WITHIN GROUP.",
    ("aggregate", "ordered-set"),
)

register_regress(
    "regress_agg_grouping_sets",
    """
select a, b, GROUPING(a, b) AS g, CAST(sum(v) AS BIGINT) AS s,
       count(*) AS n, max(v) AS m
from gstest group by rollup (a, b)
order by a NULLS LAST, b NULLS LAST, g
""",
    "src/test/regress/sql/groupingsets.sql (gstest1 block; scheduled "
    "via greenplum_schedule) — ROLLUP with multi-argument GROUPING() "
    "bitmask, translated to grouping_id by the frontend.",
    ("aggregate", "groupingsets"),
)

register_regress(
    "regress_agg_grouping_sets_multi",
    """
select a, b, CAST(sum(v) AS BIGINT) AS s
from gstest
group by grouping sets ((a), (b), ())
order by a NULLS LAST, b NULLS LAST, s
""",
    "src/test/regress/sql/groupingsets.sql — explicit GROUPING SETS "
    "list incl. the grand-total () set.",
    ("aggregate", "groupingsets"),
)

# ---------------------------------------------------------------------------
# join.sql
# ---------------------------------------------------------------------------

register_regress(
    "regress_join_alias_cols",
    """
SELECT t1.a AS a, t2.e AS e
  FROM j1_tbl t1 (a, b, c), j2_tbl t2 (d, e)
  WHERE t1.a = t2.d
""",
    "src/test/regress/sql/join.sql:66-69 — correlation names with "
    "column-list aliases over a comma join.",
    ("join",),
)

register_regress(
    "regress_join_cross",
    """
SELECT a.i AS i1, a.j, a.t, b.i AS i2, b.k
  FROM j1_tbl a CROSS JOIN j2_tbl b
""",
    "src/test/regress/sql/join.sql:77-78 — unqualified CROSS JOIN "
    "(99-row product incl. NULL keys; the duplicate i columns aliased "
    "apart — the harness needs unique names).",
    ("join",),
)

register_regress(
    "regress_join_natural",
    """
SELECT *
  FROM j1_tbl NATURAL JOIN j2_tbl
""",
    "src/test/regress/sql/join.sql:146-147 — NATURAL JOIN on the "
    "shared column i (NULLs never match).",
    ("join",),
)

register_regress(
    "regress_join_left_using",
    """
SELECT *
  FROM j1_tbl LEFT JOIN j2_tbl USING (i) WHERE (i = 1)
""",
    "src/test/regress/sql/join.sql:209-210 — LEFT JOIN USING with a "
    "qual on the merged join column.",
    ("join",),
)

register_regress(
    "regress_join_semi_anti",
    """
SELECT
  (select count(*) from tenk1 a
   where unique1 in (select unique2 from tenk1 b)) AS n_semi,
  (select count(*) from tenk1 a
   where unique1 not in (select unique2 from tenk1 b)) AS n_notin,
  (select count(*) from tenk1 a
   where exists (select 1 from tenk1 b where a.unique1 = b.unique2))
      AS n_exists,
  (select count(*) from tenk1 a
   where not exists (select 1 from tenk1 b where a.unique1 = b.unique2))
      AS n_anti,
  (select count(*) from tenk1 a left join tenk1 b on a.unique1 = b.unique2
   where b.unique2 is null) AS n_lasj
""",
    "src/test/regress/sql/join.sql:793-812 — the semijoin/antijoin "
    "recognition battery (IN, NOT IN, EXISTS, NOT EXISTS, LEFT-IS-NULL)"
    ", executed as counts instead of EXPLAIN.",
    ("join", "subquery"),
)

register_regress(
    "regress_join_multiway_full",
    """
SELECT name, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       CAST(n3 AS BIGINT) AS n3
FROM (SELECT * FROM
  (VALUES ('aa', 11), ('bb', 22), ('cc', NULL)) t1(name, n1)
  FULL JOIN (VALUES ('bb', 222), ('cc', 333), ('dd', 444)) t2(name2, n2)
    ON t1.name = t2.name2) x1
FULL JOIN (VALUES ('cc', 3333), ('ee', 5555)) t3(name3, n3)
  ON coalesce(x1.name, x1.name2) = t3.name3
ORDER BY 1
""",
    "src/test/regress/sql/join.sql:243 (multiway full join) — chained "
    "FULL JOINs; USING-merge spelled as coalesce to keep one canonical "
    "name column across both engines.",
    ("join",),
)

register_regress(
    "regress_join_semijoin_selectivity",
    """
select count(*) AS n from int4_tbl i4, tenk1 a
where exists(select * from tenk1 b
             where a.twothousand = b.twothousand
               and a.fivethous <> b.fivethous)
      and i4.f1 = a.tenthous
""",
    "src/test/regress/sql/join.sql:216-220 — semijoin with a "
    "correlated <> qual plus an outer equijoin, executed as a count.",
    ("join", "subquery"),
)

# ---------------------------------------------------------------------------
# SRF / misc
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# subselect.sql
# ---------------------------------------------------------------------------

register_regress(
    "regress_subq_uncorrelated",
    """
SELECT f1 AS uncorrelated_field FROM subselect_tbl
  WHERE f1 IN (SELECT f2 FROM subselect_tbl WHERE
    f2 IN (SELECT f1 FROM subselect_tbl))
""",
    "src/test/regress/sql/subselect.sql:55-58 — nested uncorrelated IN "
    "subselects.",
    ("subquery",),
)

register_regress(
    "regress_subq_row_notin",
    """
SELECT f1, f2
  FROM subselect_tbl
  WHERE (f1, f2) NOT IN (SELECT f2, CAST(f3 AS int4) FROM subselect_tbl
                         WHERE f3 IS NOT NULL)
""",
    "src/test/regress/sql/subselect.sql:60-63 — row-constructor NOT IN "
    "with a NULL-filtered inner side (LASJ_NOTIN semantics). DuckDB "
    "lacks row-constructor IN subqueries, so its oracle is the "
    "NOT-EXISTS expansion (equivalent here: both row sides non-null).",
    ("subquery", "join"),
    oracle="""
SELECT f1, f2
  FROM subselect_tbl t
  WHERE NOT EXISTS (SELECT 1 FROM subselect_tbl s
                    WHERE s.f3 IS NOT NULL
                      AND s.f2 = t.f1 AND CAST(s.f3 AS int4) = t.f2)
""",
)

register_regress(
    "regress_subq_correlated",
    """
SELECT f1 AS correlated_field, f2 AS second_field
  FROM subselect_tbl upper_t
  WHERE f1 IN (SELECT f2 FROM subselect_tbl WHERE f1 = upper_t.f1)
""",
    "src/test/regress/sql/subselect.sql:67-69 — correlated IN "
    "subselect (the original aliases the outer table `upper`, a "
    "reserved function name in Spark, hence upper_t).",
    ("subquery",),
)

register_regress(
    "regress_subq_correlated_expr",
    """
SELECT f1 AS correlated_field, f3 AS second_field
  FROM subselect_tbl upper_t
  WHERE f3 IN (SELECT upper_t.f1 + f2 FROM subselect_tbl
               WHERE f2 = CAST(f3 AS integer))
""",
    "src/test/regress/sql/subselect.sql:76-79 — correlated subselect "
    "whose target list computes on the OUTER column.",
    ("subquery",),
)

# ---------------------------------------------------------------------------
# union.sql
# ---------------------------------------------------------------------------

register_regress(
    "regress_union_mixed_types",
    """
SELECT CAST(x AS DOUBLE) AS two FROM (
  SELECT 1.1 AS x UNION SELECT 2 UNION ALL SELECT 2
) t ORDER BY 1
""",
    "src/test/regress/sql/union.sql:25-41 — mixed numeric-type UNION "
    "(decimal vs int resolves to the wider type; UNION dedups, the "
    "trailing UNION ALL keeps its duplicate).",
    ("setop",),
)

register_regress(
    "regress_setop_intersect_int8",
    """
SELECT q2 AS q FROM int8_tbl INTERSECT SELECT q1 FROM int8_tbl ORDER BY 1
""",
    "src/test/regress/sql/union.sql:98 — INTERSECT over int8_tbl's "
    "overlapping q1/q2 columns.",
    ("setop",),
)

register_regress(
    "regress_setop_except_all_int8",
    """
SELECT q2 AS q FROM int8_tbl EXCEPT ALL SELECT q1 FROM int8_tbl ORDER BY 1
""",
    "src/test/regress/sql/union.sql:104 — EXCEPT ALL multiplicity "
    "semantics (bag difference).",
    ("setop",),
)

register_regress(
    "regress_setop_nested",
    """
(SELECT 1 AS a, 2 AS b, 3 AS c UNION SELECT 4, 5, 6)
INTERSECT SELECT 4, 5, 6
""",
    "src/test/regress/sql/union.sql:117 — set-op nesting: a "
    "parenthesized UNION feeding INTERSECT.",
    ("setop",),
)

register_regress(
    "regress_setop_hashed_counts",
    """
select
  (select count(*) from
    ( select unique1 from tenk1 union select fivethous from tenk1 ) ss)
      AS n_union,
  (select count(*) from
    ( select unique1 from tenk1 intersect select fivethous from tenk1 ) ss)
      AS n_intersect,
  (select count(*) from
    ( select unique1 from tenk1 except select fivethous from tenk1 ) ss)
      AS n_except
""",
    "src/test/regress/sql/union.sql:125-150 — the hashed-setop "
    "battery over tenk1 (union/intersect/except counts).",
    ("setop", "aggregate"),
)

# ---------------------------------------------------------------------------
# with.sql
# ---------------------------------------------------------------------------

register_regress(
    "regress_with_basic",
    """
WITH q1(x, y) AS (SELECT 1, 2)
SELECT q1.x AS x1, q1.y AS y1, q2.x AS x2, q2.y AS y2 FROM q1, q1 AS q2
""",
    "src/test/regress/sql/with.sql:10-11 — basic WITH with column "
    "aliases, referenced twice (self cross join).",
    ("cte",),
)

register_regress(
    "regress_with_recursive_sum",
    """
WITH RECURSIVE t(n) AS (
    VALUES (1)
UNION ALL
    SELECT n+1 FROM t WHERE n < 100
)
SELECT CAST(sum(n) AS BIGINT) AS s FROM t
""",
    "src/test/regress/sql/with.sql:23-29 — WITH RECURSIVE sum of "
    "1..100 (nodeRecursiveunion.c:75), through Spark's native "
    "recursive CTE.",
    ("cte", "recursive"),
)

# ---------------------------------------------------------------------------
# case.sql
# ---------------------------------------------------------------------------

register_regress(
    "regress_case_simple",
    """
SELECT CASE WHEN 1 < 2 THEN 3 END AS simple_when,
       CASE WHEN 1 > 2 THEN 3 END AS simple_default,
       CASE WHEN 1 > 2 THEN 3 ELSE 4 END AS else_default,
       CASE WHEN 1 > 2 THEN 3 WHEN 4 < 5 THEN 6 ELSE 7 END AS two_when,
       CASE 'a' WHEN 'a' THEN 1 ELSE 2 END AS untyped_literal
""",
    "src/test/regress/sql/case.sql:32-75 — the constant CASE battery "
    "(missing ELSE => NULL, searched and simple forms, untyped "
    "literals).",
    ("scalar", "conditional"),
)

register_regress(
    "regress_case_table",
    """
SELECT i,
       CASE WHEN i >= 3 THEN i END AS ge3,
       CASE WHEN i >= 3 THEN (i + i) ELSE i END AS sum_or_i,
       CASE WHEN f IS NULL THEN 'null-f' ELSE 'has-f' END AS f_tag
FROM case_tbl ORDER BY i
""",
    "src/test/regress/sql/case.sql (CASE_TBL block) — CASE over table "
    "rows incl. NULL branches.",
    ("scalar", "conditional"),
)

# ---------------------------------------------------------------------------
# strings.sql / boolean.sql / limit.sql / olap_group.sql
# ---------------------------------------------------------------------------

register_regress(
    "regress_strings_like",
    """
SELECT 'hawkeye' LIKE 'h%' AS t1, 'hawkeye' NOT LIKE 'h%' AS f1,
       'hawkeye' LIKE 'H%' AS f2, 'hawkeye' NOT LIKE 'H%' AS t2,
       'hawkeye' LIKE 'h%eye' AS t3, 'indio' LIKE '_ndio' AS t4,
       'indio' LIKE 'in__o' AS t5, 'indio' LIKE 'in_o' AS f3,
       'hawkeye' LIKE 'h%' ESCAPE '#' AS t6,
       'h%' LIKE 'h#%' ESCAPE '#' AS t7,
       'h%wkeye' LIKE 'h#%' ESCAPE '#' AS f4,
       'indio' LIKE 'ind_o' ESCAPE '$' AS t8
""",
    "src/test/regress/sql/strings.sql:414-460 — the LIKE / NOT LIKE "
    "pair battery incl. E061-05 ESCAPE clauses, as one boolean row.",
    ("scalar", "string"),
)

register_regress(
    "regress_strings_position_overlay",
    """
SELECT POSITION('4' IN '1234567890') = 4 AS pos4,
       POSITION('5' IN '1234567890') = 5 AS pos5,
       OVERLAY('abcdef' PLACING '45' FROM 4) AS o1,
       OVERLAY('yabadoo' PLACING 'daba' FROM 5) AS o2,
       OVERLAY('yabadoo' PLACING 'daba' FROM 5 FOR 0) AS o3,
       OVERLAY('babosa' PLACING 'ubb' FROM 2 FOR 4) AS o4
""",
    "src/test/regress/sql/strings.sql:399-410 — E021-11 position and "
    "T312 overlay (PG syntax through the frontend; DuckDB has no "
    "overlay(), so its oracle spells the substr composition).",
    ("scalar", "string"),
    oracle="""
SELECT POSITION('4' IN '1234567890') = 4 AS pos4,
       POSITION('5' IN '1234567890') = 5 AS pos5,
       substr('abcdef', 1, 3) || '45' || substr('abcdef', 6) AS o1,
       substr('yabadoo', 1, 4) || 'daba' || substr('yabadoo', 9) AS o2,
       substr('yabadoo', 1, 4) || 'daba' || substr('yabadoo', 5) AS o3,
       substr('babosa', 1, 1) || 'ubb' || substr('babosa', 6) AS o4
""",
)

register_regress(
    "regress_bool_literals",
    """
SELECT true AS t, false AS f,
       CAST('t' AS bool) AS bt, CAST('f' AS bool) AS bf,
       CAST('true' AS bool) AS btrue, CAST('false' AS bool) AS bfalse,
       CAST('1' AS bool) AS b1, CAST('0' AS bool) AS b0,
       true AND false AS andv, true OR false AS orv, NOT true AS notv,
       (true AND NULL) IS NULL AS and_null,
       (false OR NULL) IS NULL AS or_null
""",
    "src/test/regress/sql/boolean.sql:7-60 — bool literal parsing and "
    "three-valued AND/OR/NOT (PG also accepts y/yes; neither Spark nor "
    "DuckDB does — documented).",
    ("scalar", "boolean"),
)

register_regress(
    "regress_limit_offset_onek",
    """
SELECT unique1, unique2 FROM onek WHERE unique1 > 50
 ORDER BY unique1 LIMIT 2
""",
    "src/test/regress/sql/limit.sql:6-8 — ORDER BY + LIMIT over onek.",
    ("limit",),
)

register_regress(
    "regress_limit_offset_desc",
    """
(SELECT unique1, unique2 FROM onek WHERE unique1 > 100
 ORDER BY unique1 LIMIT 3 OFFSET 20)
UNION ALL
(SELECT unique1, unique2 FROM onek WHERE unique1 < 50
 ORDER BY unique1 DESC LIMIT 8 OFFSET 99)
""",
    "src/test/regress/sql/limit.sql:15-21 — LIMIT with OFFSET, "
    "ascending (3 rows) and the offset-past-end zero-row branch, "
    "unioned so the fixture check stays non-empty.",
    ("limit", "setop"),
)

register_regress(
    "regress_olap_multi_rollup",
    """
select a, b, CAST(sum(v) AS BIGINT) AS s, count(*) AS n
from gstest
group by rollup(a), rollup(b)
order by a NULLS LAST, b NULLS LAST, s
""",
    "src/test/regress/sql/olap_group.sql:437-447 (composed grouping "
    "extensions; GP extends GROUP BY with products of ROLLUPs) — "
    "ROLLUP(a) x ROLLUP(b) composition, the cross-product of grouping "
    "sets.",
    ("aggregate", "groupingsets"),
)

register_regress(
    "regress_agg_pushdown_join",
    """
WITH agg_parent(i, x) AS (
  SELECT CAST(n AS BIGINT), CAST(n AS BIGINT)
  FROM generate_series(0, 10) AS s(n)
),
agg_child1(j, parent, v) AS (
  SELECT 128 * p.i + n, p.i,
         CAST((128 * p.i + n) * 37 % 101 AS float8) / 128
  FROM generate_series(0, 127) AS s(n), agg_parent p
)
SELECT p.i, avg(c1.v) AS av, count(*) AS n
FROM agg_parent AS p JOIN agg_child1 AS c1 ON c1.parent = p.i
GROUP BY p.i ORDER BY p.i
""",
    "src/test/regress/sql/agg_pushdown.sql:36-49 (gp_enable_agg_pushdown"
    " — aggregate finalized above a join whose child side pre-aggregates;"
    " the reference EXPLAINs, here executed; deterministic v = k*37%101 "
    "/ 128 keeps every partial sum exact in binary so partial-agg order "
    "cannot drift). The engine-side analog is operators/rewrites.py "
    "agg_eager_pushdown.",
    ("aggregate", "join"),
)

register_regress(
    "regress_agg_pushdown_two_children",
    """
WITH agg_parent(i, x) AS (
  SELECT CAST(n AS BIGINT), CAST(n AS BIGINT)
  FROM generate_series(0, 10) AS s(n)
),
agg_child1(j, parent, v) AS (
  SELECT 128 * p.i + n, p.i,
         CAST((128 * p.i + n) * 37 % 101 AS float8) / 128
  FROM generate_series(0, 127) AS s(n), agg_parent p
),
agg_child2(k, parent, v) AS (
  SELECT 128 * p.i + n, p.i,
         CAST((128 * p.i + n) * 53 % 97 AS float8) / 128
  FROM generate_series(0, 127) AS s(n), agg_parent p
)
SELECT p.i, avg(c1.v) AS av1, avg(c2.v) AS av2, count(*) AS n
FROM agg_parent AS p
JOIN agg_child1 AS c1 ON c1.parent = p.i
JOIN agg_child2 AS c2 ON c2.parent = p.i
GROUP BY p.i ORDER BY p.i
""",
    "src/test/regress/sql/agg_pushdown.sql (two-child form) — the "
    "row-multiplying double join (128x128 per parent) whose aggregates "
    "the reference pushes below the join; executed on the 180k-row "
    "product with binary-exact v so both engines agree bit-for-bit.",
    ("aggregate", "join"),
)

register_regress(
    "regress_date_filter",
    """
SELECT f1 FROM date_tbl
  WHERE f1 BETWEEN '2000-01-01' AND '2001-01-01'
""",
    "src/test/regress/sql/date.sql:29-30 — date vs string-literal "
    "comparison in BETWEEN (the DATE_TBL filter block; the invalid "
    "1997-02-29 insert and the BC date are omitted — both are error/"
    "out-of-range cases on Spark and DuckDB alike).",
    ("scalar", "datetime"),
)

register_regress(
    "regress_date_parts",
    """
SELECT f1,
    CAST(date_part('year', f1) AS BIGINT) AS year,
    CAST(date_part('quarter', f1) AS BIGINT) AS quarter,
    CAST(date_part('month', f1) AS BIGINT) AS month,
    CAST(date_part('day', f1) AS BIGINT) AS day,
    CAST(date_part('week', f1) AS BIGINT) AS week,
    CAST(date_part('dow', f1) AS BIGINT) AS dow,
    CAST(date_part('isodow', f1) AS BIGINT) AS isodow,
    CAST(date_part('doy', f1) AS BIGINT) AS doy,
    CAST(date_part('isoyear', f1) AS BIGINT) AS isoyear,
    CAST(extract(epoch FROM f1) AS BIGINT) AS epoch
FROM date_tbl ORDER BY f1
""",
    "src/test/regress/sql/date.sql:263-278 — the date_part battery "
    "(year..epoch incl. ISO fields). PG dow is Sunday=0 and isodow "
    "Monday=1; Spark spells these dayofweek-1 / weekday+1 and isoyear "
    "as YEAROFWEEK — all three translated by the frontend.",
    ("scalar", "datetime"),
)

register_regress(
    "regress_agg_bool_bit",
    """
select bool_and(two = 0) AS ball, bool_or(two = 0) AS bor,
       CAST(bit_and(ten) AS BIGINT) AS band,
       CAST(bit_or(ten) AS BIGINT) AS bo,
       bool_and(four < 4) AS ball_t, bool_or(four > 3) AS bor_f
from tenk1 where unique1 < 20
""",
    "src/test/regress/sql/aggregates.sql (bool_and/bool_or and "
    "bitwise-aggregate blocks) — boolean and bitwise aggregates over a "
    "tenk1 slice.",
    ("aggregate",),
)

register_regress(
    "regress_int8_arith",
    """
SELECT q1 AS q1, q2 AS q2,
       q1 + q2 AS plus, q1 - q2 AS minus,
       CAST(q1 / 2 AS BIGINT) AS half_q1,
       CAST(q2 % 2 AS BIGINT) AS mod2,
       -q1 AS neg, abs(q2) AS absq2
FROM int8_tbl
""",
    "src/test/regress/sql/int8.sql (arithmetic block, non-overflowing "
    "subset) — int8 add/sub/div/mod/negate/abs over the classic "
    "int8_tbl values incl. the 4567890123456789 pairs. PG `/` on "
    "integers truncates; spelled as CAST(... ) so both engines agree "
    "(DuckDB integer `/` is float division — documented divergence "
    "both engines share vs PG).",
    ("scalar", "int8"),
    oracle="""
SELECT q1 AS q1, q2 AS q2,
       q1 + q2 AS plus, q1 - q2 AS minus,
       CAST(q1 // 2 AS BIGINT) AS half_q1,
       CAST(q2 % 2 AS BIGINT) AS mod2,
       -q1 AS neg, abs(q2) AS absq2
FROM int8_tbl
""",
)

register_regress(
    "regress_agg_array_order",
    """
select array_to_string(array_agg(a order by b), ',') AS by_b,
       array_to_string(array_agg(a order by a), ',') AS by_a,
       array_to_string(array_agg(a order by a desc), ',') AS by_a_desc,
       array_to_string(array_agg(b order by a desc), ',') AS b_by_a_desc
  from (values (1,4),(2,3),(3,1),(4,2)) v(a,b)
""",
    "src/test/regress/sql/aggregates.sql:639-645 — array_agg with "
    "ORDER BY (parse_agg.c ordered aggregates; Spark has no ordered "
    "collect, so the frontend rewrites to a sorted-struct collect). "
    "Emitted through array_to_string: ORDER is the tested property "
    "and the driver's canonicalizer cannot hash raw ARRAY cells "
    "(CORRECTNESS_r05).",
    ("aggregate", "array"),
)

register_regress(
    "regress_timestamp_cmp",
    """
SELECT
  (SELECT count(*) FROM timestamp_tbl
   WHERE d1 > timestamp '1997-01-02') AS n_gt,
  (SELECT count(*) FROM timestamp_tbl
   WHERE d1 < timestamp '1997-01-02') AS n_lt,
  (SELECT count(*) FROM timestamp_tbl
   WHERE d1 = timestamp '1997-01-02') AS n_eq,
  (SELECT count(*) FROM timestamp_tbl
   WHERE d1 != timestamp '1997-01-02') AS n_ne,
  (SELECT count(*) FROM timestamp_tbl
   WHERE d1 <= timestamp '1997-01-02') AS n_le,
  (SELECT count(*) FROM timestamp_tbl
   WHERE d1 >= timestamp '1997-01-02') AS n_ge,
  CAST(date_trunc('week', timestamp '2004-02-29 15:44:17.71393')
       AS TIMESTAMP) AS week_trunc
""",
    "src/test/regress/sql/timestamp.sql:156-177 — the comparison-"
    "operator battery over TIMESTAMP_TBL (executed as counts) plus the "
    "Monday week_trunc probe (the original `timestamp without time "
    "zone` spelling shortened to `timestamp` — same type on both "
    "engines under the pinned-UTC session).",
    ("scalar", "datetime"),
)

register_regress(
    "regress_timestamp_diff",
    """
SELECT d1,
       CAST(extract(epoch FROM d1)
            - extract(epoch FROM timestamp '1997-01-02') AS BIGINT)
           AS diff_s
FROM timestamp_tbl
WHERE d1 BETWEEN '1902-01-01' AND '2038-01-01'
ORDER BY d1
""",
    "src/test/regress/sql/timestamp.sql:174-175 — timestamp "
    "subtraction (PG yields interval; spelled as the epoch-seconds "
    "difference, portable to engines whose interval types differ) "
    "with the string-literal BETWEEN bounds of the original.",
    ("scalar", "datetime"),
)

register_regress(
    "regress_win_moving_agg_nulls",
    """
SELECT i,
       AVG(CAST(v AS bigint)) OVER fwd AS avg_bi,
       CAST(SUM(CAST(v AS bigint)) OVER fwd AS BIGINT) AS sum_bi,
       COUNT(v) OVER fwd AS cnt_v,
       COUNT(*) OVER fwd AS cnt_star
FROM (VALUES (1, 1), (2, 2), (3, NULL), (4, NULL)) t(i, v)
WINDOW fwd AS (ORDER BY i ROWS BETWEEN CURRENT ROW
               AND UNBOUNDED FOLLOWING)
ORDER BY i
""",
    "src/test/regress/sql/window.sql:1785-1825 — the moving-aggregate "
    "NULL-handling battery (inverse transition functions must treat "
    "NULLs right; here the frames are declarative, but the NULL "
    "semantics under a shrinking forward frame are the same contract): "
    "trailing all-NULL rows give NULL avg/sum, count(v) 0, count(*) "
    "still counts rows.",
    ("window", "frame"),
)

register_regress(
    "regress_case_nullif_coalesce",
    """
SELECT
  (SELECT count(*) FROM case_tbl WHERE COALESCE(f, i) = 4) AS n_coal,
  (SELECT count(*) FROM case_tbl WHERE NULLIF(f, i) = 2) AS n_nullif,
  (SELECT CAST(sum(COALESCE(a.f, b.i)) AS DOUBLE)
   FROM case_tbl a, case_tbl b WHERE COALESCE(a.f, b.i) = 2) AS s2,
  NULLIF(1, 1) IS NULL AS nullif_eq,
  NULLIF(1, 2) AS nullif_ne
""",
    "src/test/regress/sql/case.sql:116-138 — NULLIF()/COALESCE() over "
    "CASE_TBL incl. the cross-join form, executed as counts/sums.",
    ("scalar", "conditional"),
)

# ---------------------------------------------------------------------------
# bfv_olap.sql — the reference's OLAP bug-fix verification corpus
# ---------------------------------------------------------------------------

register_regress(
    "regress_bfv_rank_join",
    """
select cname,
CAST(rank() over (partition by sale.cn order by vn) AS BIGINT) AS r
from sale, bfv_customer
where sale.cn = bfv_customer.cn
order by 1, 2
""",
    "src/test/regress/sql/bfv_olap.sql:284-288 (distribution-matching "
    "bug) — window over a comma-join, ORDER BY ordinals (the customer "
    "table renamed bfv_customer to avoid shadowing the fixture view).",
    ("window", "join"),
)

register_regress(
    "regress_bfv_rollup_sale",
    """
select cn, vn, pn, CAST(sum(qty * prc) AS DOUBLE) AS amt
from sale group by rollup(cn, vn, pn)
""",
    "src/test/regress/sql/bfv_olap.sql:339-340 — the ROLLUP plan-check "
    "query over the Macbeth sale table, executed.",
    ("aggregate", "groupingsets"),
)

register_regress(
    "regress_bfv_rollup_having",
    """
(select 'leaf' AS tag, cn, CAST(sum(qty) AS BIGINT) AS s
 from sale group by rollup(cn, vn) having sum(qty) = 1)
UNION ALL
(select 'rolled' AS tag, cn, CAST(sum(qty) AS BIGINT) AS s
 from sale group by rollup(cn, vn) having sum(qty) = 1144)
""",
    "src/test/regress/sql/bfv_olap.sql:408-410 — two-stage grouping "
    "sets with HAVING hitting a leaf group and a rolled-up group (the "
    "gp_motion_cost_per_row two-stage-plan probe, executed form).",
    ("aggregate", "groupingsets"),
)

register_regress(
    "regress_bfv_window_in_subquery",
    """
select CAST(sum(g) AS BIGINT) AS s from generate_series(1, 5) AS g(g)
where g in (
  select CAST(rank() over (order by x) AS BIGINT)
  from generate_series(1, 5) AS x(x)
)
""",
    "src/test/regress/sql/bfv_olap.sql:331-334 — window function "
    "inside an IN-subquery (the over-zealous-syntax-check bug).",
    ("window", "subquery"),
)

register_regress(
    "regress_bfv_two_partitionings",
    """
select x, y,
       CAST(sum(z) over (partition by x) AS DOUBLE) as sumx,
       CAST(sum(z) over (partition by y) AS DOUBLE) as sumy
from test1
""",
    "src/test/regress/sql/bfv_olap.sql:320-322 (greenplum issue 2236) "
    "— two window partitionings in one select (two exchanges on "
    "different keys; x/y added to the output so rows are identifiable "
    "under the sorted compare).",
    ("window",),
)

register_regress(
    "regress_gs_cube_array_agg",
    """
select a, b, GROUPING(a, b) AS g,
       array_to_string(array_agg(v order by v), ',') AS vs
from gstest group by cube(a, b)
order by a NULLS LAST, b NULLS LAST, g
""",
    "src/test/regress/sql/groupingsets.sql — CUBE with an ordered "
    "array_agg per group (both frontend rewrites compose: multi-arg "
    "GROUPING -> grouping_id and ORDER BY aggregate -> sorted-struct "
    "collect, inside grouping-set evaluation).",
    ("aggregate", "groupingsets", "array"),
)

register_regress(
    "regress_strings_substring",
    """
SELECT SUBSTRING('1234567890' FROM 3) AS s1,
       SUBSTRING('1234567890' FROM 4 FOR 3) AS s2,
       SUBSTRING('string' FROM 2 FOR 2147483646) AS s3,
       SUBSTRING('string' FROM -10 FOR 5) AS s4,
       trim(both 'x' from 'xxdoublexx') AS t1,
       trim(leading 'x' from 'xxdoublexx') AS t2,
       trim(trailing 'x' from 'xxdoublexx') AS t3,
       upper(lower('MiXeD')) AS u1
""",
    "src/test/regress/sql/strings.sql (E021-06 substring battery + "
    "trim BOTH/LEADING/TRAILING forms): the FROM/FOR spellings and "
    "negative/overflowing bounds PG defines (FROM -10 FOR 5 yields "
    "the empty prefix window).",
    ("scalar", "string"),
)

register_regress(
    "regress_with_recursive_limit",
    """
WITH RECURSIVE t(n) AS (
    VALUES (1)
UNION ALL
    SELECT n+1 FROM t WHERE n < 10000
)
SELECT * FROM t LIMIT 10
""",
    "src/test/regress/sql/with.sql:68-72 — the lazy-consumption "
    "recursive CTE: the original recursion is UNBOUNDED and relies on "
    "the outer LIMIT reading only what it needs; Spark evaluates the "
    "recursion eagerly to its fixpoint, so the port bounds it at 10000 "
    "(far past the LIMIT) — same 10 rows, documented evaluation-model "
    "divergence.",
    ("cte", "recursive", "limit"),
)

register_regress(
    "regress_with_string_growth",
    """
WITH RECURSIVE t(n) AS (
    SELECT 'foo'
UNION ALL
    SELECT n || ' bar' FROM t WHERE length(n) < 20
)
SELECT n, CAST(length(n) AS BIGINT) AS len FROM t ORDER BY len
""",
    "src/test/regress/sql/with.sql:85-90 — recursive string growth "
    "(unknown-type literal resolves to text; pg_typeof probe replaced "
    "by length, which both engines share).",
    ("cte", "recursive"),
)

register_regress(
    "regress_srf_series_cross",
    """
select p, CAST(sum(x) AS BIGINT) AS sx
from generate_series(1, 5) AS x(x),
     (values (1), (2), (4)) v(p)
group by p order by p
""",
    "src/test/regress/sql/aggregates.sql:831 (FROM shape) — SRF "
    "cross-joined to VALUES; the frontend rewrites generate_series to "
    "explode(sequence). (PG's bare `x` alias names the column too; "
    "DuckDB needs the explicit x(x) spelling, so both sides use it.)",
    ("srf", "aggregate"),
)


# ---------------------------------------------------------------------------
# notin.sql — the reference's NOT IN battery (LASJ_NOTIN planning:
# src/backend/optimizer — NOT IN with a nullable inner side must NOT
# become a plain anti join; these pin the three-valued semantics).
# ---------------------------------------------------------------------------

register_regress(
    "regress_notin_basic",
    """
select c1 from t1 where c1 not in
	(select c2 from t2)
order by c1
""",
    "src/test/regress/sql/notin.sql:89 (q1) — plain NOT IN, non-null "
    "inner: plans as a left-anti join. ORDER BY added for determinism.",
    ("join", "subquery"),
)

register_regress(
    "regress_notin_nested_triple",
    """
select c1 from t1 where c1 not in
	(select c2 from t2 where c2 not in
		(select c3 from t3 where c3 not in
			(select c4 from t4)))
order by c1
""",
    "src/test/regress/sql/notin.sql:105 (q3) — three-deep nested "
    "NOT IN chain.",
    ("join", "subquery"),
)

register_regress(
    "regress_notin_null_inner",
    """
select (select count(*) from t1 where c1 not in (select c1n from t1n))
           AS with_null,
       (select count(*) from t1 where c1 not in
            (select c1n from t1n where c1n is not null)) AS sans_null
""",
    "src/test/regress/sql/notin.sql t1n battery — a NULL anywhere in "
    "the inner side makes NOT IN never-true (count 0), while filtering "
    "the NULL restores the anti-join (count 4): the LASJ_NOTIN "
    "semantics the reference plans specially. Adapted to scalar "
    "subqueries so one row pins both cases.",
    ("join", "subquery"),
)

register_regress(
    "regress_notin_row_constructor",
    """
select a, b, c from g1 where (a,b,c) not in
	(select x,y,z from l1)
order by a, b, c
""",
    "src/test/regress/sql/notin.sql:196 (q14) — row-constructor NOT IN "
    "(`select *` spelled out; DuckDB needs the explicit ROW() form in "
    "the oracle, Spark accepts the PG spelling through the frontend).",
    ("join", "subquery"),
    oracle="""
select a, b, c from g1 where ROW(a,b,c) not in
	(select ROW(x,y,z) from l1)
order by a, b, c
""",
)

register_regress(
    "regress_notin_agg_inner",
    """
select count(c1) AS n from t1 where c1 not in
	(select sum(c2) from t2)
""",
    "src/test/regress/sql/notin.sql:171 (q10) — aggregate-producing "
    "inner side (single-row sum=15; no t1 value matches, all 10 rows "
    "survive).",
    ("join", "subquery", "aggregate"),
)

register_regress(
    "regress_notin_join_mix",
    """
select c1 from t1,t2 where c1 not in
	(select c3 from t3) and c1 = c2
order by c1
""",
    "src/test/regress/sql/notin.sql:158 (q8) — NOT IN stacked on an "
    "equi-join of the outer tables.",
    ("join", "subquery"),
)

register_regress(
    "regress_notin_subq_from",
    """
select c1 from t1,
(select c2 from t2 where c2 not in
	(select c3 from t3) and c2 > 4) foo
	where c1 = foo.c2
""",
    "src/test/regress/sql/notin.sql:128 (q5) — NOT IN inside a "
    "derived table joined back to the outer query.",
    ("join", "subquery"),
)


# ---------------------------------------------------------------------------
# gp_dqa.sql — multi-stage DISTINCT-qualified aggregate plans (the
# reference's TupleSplit/multi-phase DQA: cdbgroupingpaths.c).
# ---------------------------------------------------------------------------

register_regress(
    "regress_dqa_count_sum_distinct_grouped",
    """
select i, count(distinct d) AS cd, CAST(sum(distinct d) AS BIGINT) AS sd
from dqa_t1 group by i
order by i
""",
    "src/test/regress/sql/gp_dqa.sql:46 — two DISTINCT aggregates over "
    "the same column, grouped by a non-distribution key (grouping "
    "column added to the output for determinism).",
    ("aggregate",),
)

register_regress(
    "regress_dqa_triple_distinct",
    """
select count(distinct d) AS cd, count(distinct c) AS cc,
       count(distinct dt) AS cdt
from dqa_t1
""",
    "src/test/regress/sql/gp_dqa.sql:51 — three DISTINCT aggregates "
    "over columns of three different types (int/char/date): the "
    "TupleSplit shape, one split per distinct column.",
    ("aggregate",),
)

register_regress(
    "regress_dqa_join_grouped",
    """
select dqa_t2.dt, count(distinct dqa_t1.d) AS cd
from dqa_t1, dqa_t2 where dqa_t1.d = dqa_t2.d
group by dqa_t2.dt
order by dqa_t2.dt
""",
    "src/test/regress/sql/gp_dqa.sql:60 — DQA over a join, grouped by "
    "the other relation's column (grouping column added to the output).",
    ("aggregate", "join"),
)


# ---------------------------------------------------------------------------
# olap_group.sql — the reference's OLAP GROUP BY extension battery
# (syntactic/semantic equivalence sets over the sale table).
# ---------------------------------------------------------------------------

register_regress(
    "regress_olap_group_empty_parens",
    """
select cn, vn, count(*) AS c from sale group by (), cn, (), vn, ()
order by cn, vn
""",
    "src/test/regress/sql/olap_group.sql:30 — empty grouping parens "
    "interleaved in a plain GROUP BY are syntactic no-ops (gram.y "
    "empty_grouping_set); the frontend strips them for Spark.",
    ("aggregate",),
)

register_regress(
    "regress_interval_mixed_units",
    """
SELECT TIMESTAMP '2020-01-15 10:00:00' + INTERVAL '5 months 12 hours'
           AS plus_v,
       TIMESTAMP '2020-03-31 23:30:00' - INTERVAL '1 year 2 mons 3 days'
           AS minus_v,
       DATE '2021-02-28' + INTERVAL '1 month 1 day 90 minutes' AS d_plus
""",
    "src/backend/utils/adt/timestamp.c — PG's unified interval datum "
    "mixes year-month and day-time fields; Spark's types are disjoint, "
    "so the frontend splits the literal in additive position "
    "(ts + INTERVAL ym + INTERVAL dt — exact, since PG applies months "
    "before days before time, interval_pl ordering).",
    ("datetime", "interval"),
)

register_regress(
    "regress_gs_empty_input",
    """
SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS s, max(k) AS mk,
       grouping(k) AS g
FROM (VALUES (1, 2), (3, 4)) v(k, x) WHERE k < 0
GROUP BY GROUPING SETS ((k), ())
ORDER BY n, g
""",
    "src/test/regress/sql/groupingsets.sql (empty-input battery; "
    "nodeAgg.c initializes one group per scalar set even with zero "
    "tuples) — PG emits ONE row for the () set over empty input where "
    "Spark's expand-based grouping sets emit none. The frontend's "
    "_gs_empty_input_fallback appends a `UNION ALL ... HAVING "
    "count(*) = 0` branch that fires exactly on empty input.",
    ("aggregate", "groupingsets"),
)

register_regress(
    "regress_gs_empty_input_cube",
    """
SELECT cn, count(*) AS n, grouping(cn) AS g
FROM (SELECT cn FROM sale WHERE cn < -999) empty_sale
GROUP BY CUBE (cn)
ORDER BY g, cn
""",
    "groupingsets.sql empty-input over CUBE: the product includes the "
    "scalar set once, so empty input yields exactly one all-NULL "
    "grand-total row (n=0, grouping=1).",
    ("aggregate", "groupingsets"),
)

register_regress(
    "regress_olapgrp_groupid_dup_sets",
    """
SELECT cn, count(*) AS n, GROUP_ID() AS gid
FROM sale GROUP BY GROUPING SETS ((cn), (cn), ())
ORDER BY cn NULLS LAST, gid
""",
    "src/test/regress/sql/qp_olap_group.sql — GROUP_ID() numbers "
    "DUPLICATE grouping sets 0..k-1 (parse_agg.c). The frontend "
    "emulates it with row_number over (grouping_id(keys), keys); the "
    "DuckDB oracle spells the same emulation since DuckDB also lacks "
    "GROUP_ID.",
    ("aggregate", "groupingsets"),
    oracle="""
SELECT cn, count(*) AS n,
       (row_number() OVER (PARTITION BY grouping(cn), cn ORDER BY 1) - 1)
           AS gid
FROM sale GROUP BY GROUPING SETS ((cn), (cn), ())
ORDER BY cn NULLS LAST, gid
""",
)

register_regress(
    "regress_olapgrp_cube_rollup_product",
    """
SELECT cn, vn, pn, CAST(sum(qty) AS BIGINT) AS s,
       GROUPING(cn, vn, pn) AS gbits
FROM sale GROUP BY CUBE (cn), ROLLUP (vn, pn)
ORDER BY gbits, cn NULLS LAST, vn NULLS LAST, pn NULLS LAST, s
""",
    "qp_olap_group.sql — composite grouping-item PRODUCT: CUBE(cn) x "
    "ROLLUP(vn, pn) yields the 2x3 cross of sets; multi-argument "
    "GROUPING() is the per-column null-provenance bitmask "
    "(frontend maps it to Spark grouping_id).",
    ("aggregate", "groupingsets"),
    oracle="""
SELECT cn, vn, pn, CAST(sum(qty) AS BIGINT) AS s,
       GROUPING(cn, vn, pn) AS gbits
FROM sale GROUP BY CUBE (cn), ROLLUP (vn, pn)
ORDER BY gbits, cn NULLS LAST, vn NULLS LAST, pn NULLS LAST, s
""",
)

register_regress(
    "regress_rowsfrom_zip_ordinality",
    """
SELECT a, b, c, ord
FROM ROWS FROM(unnest(ARRAY[10, 20]),
               unnest(ARRAY['foo', 'bar', 'baz']),
               generate_series(101, 102))
     WITH ORDINALITY AS z(a, b, c, ord)
ORDER BY ord
""",
    "src/test/regress/sql/rangefuncs.sql — ROWS FROM(f1, f2, ...) "
    "multi-function scan (nodeFunctionscan.c): sources align "
    "POSITIONALLY (zip, not cross product), shorter sources pad with "
    "NULL, WITH ORDINALITY numbers the zipped rows. Lowered to an "
    "index-driven try_element_at projection over one explode.",
    ("srf",),
    oracle="""
SELECT l1[i] AS a, l2[i] AS b, l3[i] AS c, i AS ord
FROM (SELECT [10, 20] AS l1, ['foo', 'bar', 'baz'] AS l2,
             [101, 102] AS l3),
     generate_series(1, 3) g(i)
ORDER BY ord
""",
)

register_regress(
    "regress_mdqa_cube_composite_groupid",
    """
SELECT CASE WHEN sale.cn < 3 THEN 1 ELSE 2 END AS ka,
       CASE WHEN sale.pn < 300 THEN 1 ELSE 2 END AS kb,
       GROUPING(sale.cn, sale.pn) AS gbits,
       GROUP_ID() AS gid,
       count(DISTINCT floor(sale.cn)) AS cd,
       CAST(round(avg(DISTINCT floor(sale.qty)), 4) AS DOUBLE) AS ad,
       CAST(round(coalesce(var_samp(DISTINCT floor(sale.vn - sale.cn)),
                           0), 4) AS DOUBLE) AS vd,
       CAST(sum(DISTINCT floor(sale.vn)) AS BIGINT) AS sd,
       CAST(max(DISTINCT floor(sale.prc * sale.vn)) AS BIGINT) AS md
FROM sale
GROUP BY CUBE((sale.dt, sale.prc), (sale.vn)), sale.cn, sale.pn
ORDER BY ka, kb, gbits, gid, cd, ad, vd, sd, md
""",
    "src/test/regress/sql/qp_olap_mdqa.sql — the generated multi-DQA "
    "stress class condensed: FIVE distinct-qualified aggregates over "
    "expression arguments (the TupleSplit multi-DQA path), grouped by "
    "a composite CUBE with a two-column first element, trailing "
    "bare grouping columns, GROUPING "
    "bitmask and GROUP_ID over the product's duplicate sets.",
    ("aggregate", "groupingsets", "dqa"),
    oracle="""
SELECT CASE WHEN sale.cn < 3 THEN 1 ELSE 2 END AS ka,
       CASE WHEN sale.pn < 300 THEN 1 ELSE 2 END AS kb,
       GROUPING(sale.cn, sale.pn) AS gbits,
       (row_number() OVER (PARTITION BY
            grouping(sale.dt), grouping(sale.vn),
            sale.dt, sale.prc,
            sale.vn, sale.cn, sale.pn ORDER BY 1) - 1) AS gid,
       count(DISTINCT floor(sale.cn)) AS cd,
       CAST(round(avg(DISTINCT floor(sale.qty)), 4) AS DOUBLE) AS ad,
       CAST(round(coalesce(var_samp(DISTINCT floor(sale.vn - sale.cn)),
                           0), 4) AS DOUBLE) AS vd,
       CAST(sum(DISTINCT floor(sale.vn)) AS BIGINT) AS sd,
       CAST(max(DISTINCT floor(sale.prc * sale.vn)) AS BIGINT) AS md
FROM sale
GROUP BY CUBE((sale.dt, sale.prc), (sale.vn)), sale.cn, sale.pn
ORDER BY ka, kb, gbits, gid, cd, ad, vd, sd, md
""",
)

register_regress(
    "regress_qpsubq_array_quantifiers",
    """
SELECT 25 = ANY ('{1,2,25}')        AS any_hit,
       25 = ANY ('{1,2,3}')         AS any_miss,
       'abc' = ANY('{abc,d,e}')     AS any_str,
       40 = ALL ('{3,4,40,10}')     AS all_miss,
       25 = ALL ('{25,25,25}')      AS all_hit,
       55 >= ALL ('{1,2,55}')       AS ge_all,
       CAST(NULL AS INT) >= ANY ('{}') AS empty_any,
       3 = ANY (ARRAY[1, NULL, 3])  AS null_hit,
       9 = ANY (ARRAY[1, NULL])     AS null_unknown,
       2 < ALL (ARRAY[3, NULL])     AS lt_all_unknown
""",
    "src/test/regress/sql/qp_subquery.sql:120+ — quantified "
    "comparisons over ARRAYS (ScalarArrayOpExpr, the non-subquery "
    "form): lowered to Spark exists()/forall() higher-order "
    "predicates, whose three-valued logic matches PG exactly (TRUE "
    "beats NULL under ANY, FALSE beats NULL under ALL, empty array is "
    "FALSE/TRUE). Untyped '{...}' literals parse via array_in rules.",
    ("subquery", "array"),
    oracle="""
SELECT true  AS any_hit,
       false AS any_miss,
       true  AS any_str,
       false AS all_miss,
       true  AS all_hit,
       true  AS ge_all,
       false AS empty_any,
       CASE WHEN list_aggregate(list_transform([1, NULL, 3],
                 e -> 3 = e), 'bool_or') THEN true
            WHEN len(list_filter([1, NULL, 3],
                 e -> (3 = e) IS NULL)) > 0 THEN NULL
            ELSE false END AS null_hit,
       CASE WHEN list_aggregate(list_transform([1, NULL],
                 e -> 9 = e), 'bool_or') THEN true
            WHEN len(list_filter([1, NULL],
                 e -> (9 = e) IS NULL)) > 0 THEN NULL
            ELSE false END AS null_unknown,
       CASE WHEN NOT list_aggregate(list_transform([3, NULL],
                 e -> 2 < e), 'bool_and') THEN false
            WHEN len(list_filter([3, NULL],
                 e -> (2 < e) IS NULL)) > 0 THEN NULL
            ELSE true END AS lt_all_unknown
""",
)

register_regress(
    "regress_timeseries_generate_series_ts",
    """
SELECT 'monthly' AS series, count(*) AS n, min(ts) AS first_ts,
       max(ts) AS last_ts
FROM generate_series(TIMESTAMP '2011-01-01 12:00:00',
                     TIMESTAMP '2012-01-01 12:00:00',
                     INTERVAL '1 month') g(ts)
UNION ALL
SELECT 'biweekly', count(*), min(ts), max(ts)
FROM generate_series(TIMESTAMP '2011-01-01 12:00:00',
                     TIMESTAMP '2011-01-31 12:00:00',
                     INTERVAL '14 days') g(ts)
UNION ALL
SELECT 'desc_2mo', count(*), min(ts), max(ts)
FROM generate_series(TIMESTAMP '2013-01-01 12:00:00',
                     TIMESTAMP '2011-01-01 12:00:00',
                     INTERVAL '-2 months') g(ts)
UNION ALL
SELECT 'single', count(*), min(ts), max(ts)
FROM generate_series(TIMESTAMP '2011-01-01 12:00:00',
                     TIMESTAMP '2011-01-01 12:00:00',
                     INTERVAL '1 year') g(ts)
ORDER BY series
""",
    "src/test/regress/sql/timeseries.sql — TIMESTAMP generate_series "
    "with interval strides (monthly calendar stepping, day strides, "
    "DESCENDING negative-month steps, single-point series): the "
    "frontend's explode(sequence(ts, ts, interval)) lowering carries "
    "typed timestamp bounds straight through.",
    ("datetime", "srf"),
)

register_regress(
    "regress_multirange_normalize",
    """
WITH mr(rid, lo, hi) AS (VALUES
  (1, 1, 5), (1, 4, 8), (1, 10, 12),
  (2, 0, 1), (2, 1, 2), (2, 5, 6),
  (3, 7, 9)),
ordered AS (
  SELECT rid, lo, hi,
         CASE WHEN lo <= max(hi) OVER (PARTITION BY rid
                  ORDER BY lo, hi
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 0 ELSE 1 END AS brk
  FROM mr
),
grp AS (
  SELECT rid, lo, hi,
         CAST(sum(brk) OVER (PARTITION BY rid ORDER BY lo, hi
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS g
  FROM ordered
)
SELECT rid, min(lo) AS lo, max(hi) AS hi, count(*) AS n_merged
FROM grp GROUP BY rid, g
ORDER BY rid, lo
""",
    "src/test/regress/sql/multirangetypes.sql — PG 14 multirange "
    "CANONICALIZATION (multirangetypes.c make_multirange: overlapping/"
    "touching member ranges merge, members stay sorted): the classic "
    "gaps-and-islands merge — a running max(hi) finds island breaks, "
    "the break prefix-sum numbers islands, one aggregate emits the "
    "normalized members. [1,5)+[4,8) merge; [0,1)+[1,2) touch and "
    "merge; [10,12) stands alone. Identical text on both engines.",
    ("range", "multirange", "window"),
)

register_regress(
    "regress_rangetypes_canonical_battery",
    """
WITH raw(rid, lo, hi, lo_inc, hi_inc) AS (VALUES
  (1, 1, 4, false, false),
  (2, 1, 4, true,  false),
  (3, 1, 4, true,  true),
  (4, 2, 2, true,  false),
  (5, 2, 2, true,  true),
  (6, 4, 8, true,  false),
  (7, 9, 12, true, false)),
canon AS (
  SELECT rid,
         lo + (CASE WHEN lo_inc THEN 0 ELSE 1 END) AS clo,
         hi + (CASE WHEN hi_inc THEN 1 ELSE 0 END) AS chi
  FROM raw
)
SELECT a.rid AS ra, b.rid AS rb,
       (a.clo >= a.chi) AS a_empty,
       (a.clo < b.chi AND b.clo < a.chi
        AND a.clo < a.chi AND b.clo < b.chi) AS overlaps,
       (a.chi = b.clo AND a.clo < a.chi AND b.clo < b.chi) AS adjacent,
       (a.chi <= b.clo AND a.clo < a.chi AND b.clo < b.chi)
           AS strictly_left,
       CASE WHEN a.clo < a.chi AND b.clo < b.chi
                 AND a.clo <= b.chi AND b.clo <= a.chi
            THEN least(a.clo, b.clo) END AS merged_lo,
       CASE WHEN a.clo < a.chi AND b.clo < b.chi
                 AND a.clo <= b.chi AND b.clo <= a.chi
            THEN greatest(a.chi, b.chi) END AS merged_hi
FROM canon a JOIN canon b ON a.rid < b.rid
ORDER BY ra, rb
""",
    "src/test/regress/sql/rangetypes.sql — discrete int4range "
    "semantics over (lo, hi, inclusivity) columns: canonicalization "
    "to [lo, hi) ((1,4) == [2,4), rangetypes.c int4range_canonical), "
    "isempty ([2,2) is empty), &&, -|- adjacency, << strictly-left, "
    "and + union/merge bounds for connectable pairs — every operator "
    "as its defining comparison, identical text on both engines.",
    ("range",),
)

register_regress(
    "regress_olapwin_partition_by_agg",
    """
SELECT n, count(*) AS n_vendors, min(r) AS min_rn, max(r) AS max_rn
FROM (
  SELECT vn, count(*) AS n,
         row_number() OVER (PARTITION BY count(*) ORDER BY vn) AS r
  FROM sale GROUP BY vn
) g
GROUP BY n ORDER BY n
""",
    "src/test/regress/sql/olap_window.sql:114,168 — a window "
    "PARTITIONED BY an aggregate expression (count(*)) computed by "
    "the same query's GROUP BY: vendors with equal sale counts share "
    "a partition and get dense 1..k row numbers.",
    ("window", "aggregate"),
)

register_regress(
    "regress_olapwin_named_empty_window",
    """
SELECT cn, count(*) OVER (w) AS n_rows,
       CAST(sum(qty) OVER (w) AS BIGINT) AS total_qty
FROM sale WINDOW w AS ()
ORDER BY cn, n_rows
""",
    "olap_window.sql:39-59 — the NAMED EMPTY window `WINDOW w AS ()`: "
    "every row sees the whole input as one unordered frame "
    "(aggregates only; ranking functions over () have no "
    "deterministic value and stay with PG).",
    ("window",),
)

register_regress(
    "regress_olapwin_forward_frames",
    """
SELECT cn, prc,
       CAST(sum(prc) OVER (ORDER BY dt, cn, pn
            ROWS BETWEEN 2 FOLLOWING AND 3 FOLLOWING) AS BIGINT) AS f,
       first_value(CAST(prc AS BIGINT)) OVER (ORDER BY dt, cn, pn
            ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS fv,
       first_value(vn) OVER (ORDER BY vn RANGE 2 PRECEDING) AS rp
FROM sale
ORDER BY dt, cn, pn
""",
    "olap_window.sql:468,530,533 — FORWARD-ONLY frames (both bounds "
    "FOLLOWING; rows past the end yield NULL) and the one-sided "
    "`RANGE 2 PRECEDING` shorthand (= RANGE BETWEEN 2 PRECEDING AND "
    "CURRENT ROW).",
    ("window",),
)

register_regress(
    "regress_qpwith_nested_cte_pyramid",
    """
SELECT CAST(avg(population) AS BIGINT) AS avg_pop, cityname
FROM (
  WITH size0(cityname, population) AS
    (SELECT cityname, population FROM city WHERE population >= 100)
  SELECT cityname, population FROM (
    WITH size1(cityname, population) AS
      (SELECT cityname, population FROM size0 WHERE population >= 10000)
    SELECT cityname, population FROM (
      WITH size2(cityname, population) AS
        (SELECT cityname, population FROM size1 WHERE population >= 100000)
      SELECT cityname, population FROM (
        WITH size3 AS
          (SELECT cityname, population FROM size2
           WHERE population >= 500000)
        SELECT s1.cityname, s1.population FROM size3 s1, size2 s2
        WHERE s2.population >= 900000
      ) foo3
    ) foo2
  ) foo1
) pyramid
GROUP BY cityname
ORDER BY avg_pop DESC, cityname
LIMIT 10
""",
    "src/test/regress/sql/qp_with_clause.sql:9425+ — deeply nested "
    "WITH-inside-derived-table pyramid where each level's CTE scans "
    "the previous level's (the reference checks ShareInputScan "
    "plans); condensed to 4 levels plus a self-join at the apex.",
    ("cte",),
)

register_regress(
    "regress_qpwith_cte_in_select_list",
    """
WITH big(cityname, population, countrycode) AS (
  SELECT cityname, population, countrycode FROM city
  WHERE population > 500000
)
SELECT c.countryname,
       (SELECT count(*) FROM big WHERE big.countrycode = c.code) AS n_big
FROM country c
ORDER BY n_big DESC, c.countryname
""",
    "qp_with_clause.sql:5472-5500 (query5/query6) — a CTE consumed "
    "from a correlated scalar subquery in the SELECT list with a "
    "correlation qual.",
    ("cte", "subquery"),
)

register_regress(
    "regress_qpwith_forward_chain",
    """
WITH lang_share(countrycode, n_lang) AS (
  SELECT countrycode, count(*) FROM countrylanguage GROUP BY countrycode
),
rich(code, countryname, n_lang) AS (
  SELECT c.code, c.countryname, ls.n_lang
  FROM country c JOIN lang_share ls ON ls.countrycode = c.code
  WHERE c.gnp > 2000
)
SELECT countryname, n_lang FROM rich ORDER BY n_lang DESC, countryname
""",
    "qp_with_clause.sql:5743 (query2) — a CTE referencing an EARLIER "
    "CTE by name (forward chain), then the main query scanning only "
    "the second.",
    ("cte", "join"),
)

register_regress(
    "regress_qpwith_cte_three_positions",
    """
WITH hot(countrycode, maxpop) AS (
  SELECT countrycode, max(population) FROM city GROUP BY countrycode
)
SELECT (SELECT count(*) FROM hot) AS n_codes,
       h.countrycode,
       h.maxpop
FROM hot h
WHERE h.maxpop > (SELECT CAST(avg(maxpop) AS BIGINT) FROM hot)
ORDER BY h.maxpop DESC, h.countrycode
""",
    "qp_with_clause.sql:6741 (query 5) — the SAME CTE consumed from "
    "the select list, the FROM clause and an uncorrelated WHERE "
    "subquery (the reference shares one scan; Spark re-evaluates or "
    "reuses the exchange — semantics identical either way).",
    ("cte", "subquery"),
)

register_regress(
    "regress_bfvpart_ts_eq_coercions",
    """
WITH ts_part(i1, f2) AS (VALUES
  (1, TIMESTAMP '2000-07-16 00:00:00'),
  (2, TIMESTAMP '2000-01-01 00:00:00'),
  (3, TIMESTAMP '2000-01-02 00:00:00'),
  (4, TIMESTAMP '2000-12-31 00:00:00'),
  (5, TIMESTAMP '2001-01-01 00:00:00'))
SELECT
  (SELECT count(*) FROM ts_part WHERE f2 = '2000-07-16') AS eq_str,
  (SELECT count(*) FROM ts_part
   WHERE f2 = TO_TIMESTAMP('2000-07-16', 'YYYY-MM-DD')) AS eq_tots,
  (SELECT count(*) FROM ts_part
   WHERE f2 = TO_DATE('2000-01-01', 'YYYY-MM-DD')) AS eq_todate,
  (SELECT count(*) FROM ts_part WHERE f2 = DATE '2001-01-01') AS eq_date,
  (SELECT count(*) FROM ts_part
   WHERE f2 >= '2000-01-02' AND f2 < '2000-12-31') AS range_str
""",
    "src/test/regress/sql/bfv_partition.sql:34-87 — the partition-"
    "boundary probe battery's COMPARISON semantics: timestamp = "
    "string / TO_TIMESTAMP(s, 'YYYY-MM-DD') / TO_DATE / DATE literal "
    "must all coerce identically (the reference verifies each "
    "spelling prunes to the same partition; here each must count the "
    "same rows). PG templates map to Java patterns in the frontend.",
    ("datetime", "partition"),
    oracle="""
WITH ts_part(i1, f2) AS (VALUES
  (1, TIMESTAMP '2000-07-16 00:00:00'),
  (2, TIMESTAMP '2000-01-01 00:00:00'),
  (3, TIMESTAMP '2000-01-02 00:00:00'),
  (4, TIMESTAMP '2000-12-31 00:00:00'),
  (5, TIMESTAMP '2001-01-01 00:00:00'))
SELECT
  (SELECT count(*) FROM ts_part WHERE f2 = '2000-07-16') AS eq_str,
  (SELECT count(*) FROM ts_part
   WHERE f2 = strptime('2000-07-16', '%Y-%m-%d')) AS eq_tots,
  (SELECT count(*) FROM ts_part
   WHERE f2 = CAST(strptime('2000-01-01', '%Y-%m-%d') AS DATE))
      AS eq_todate,
  (SELECT count(*) FROM ts_part WHERE f2 = DATE '2001-01-01') AS eq_date,
  (SELECT count(*) FROM ts_part
   WHERE f2 >= '2000-01-02' AND f2 < '2000-12-31') AS range_str
""",
)

register_regress(
    "regress_bfvpart_cte_over_partitioned",
    """
WITH part_cte AS (
  SELECT i AS c1, i % 3 AS c2 FROM generate_series(1, 10) t(i)
  WHERE i < 5
)
SELECT c1, c2 FROM part_cte WHERE c1 = 1
""",
    "bfv_partition.sql:1554-1557 — predicate stacking through a CTE "
    "over a partitioned relation (outer c1 = 1 must compose with the "
    "CTE's c1 < 2 filter, both reaching the scan).",
    ("cte", "partition"),
)

register_regress(
    "regress_qpdpe_partkey_join_count",
    """
WITH dpe_foo1(i, j) AS (SELECT i, (i % 5) || '' FROM
                        generate_series(1, 100) t(i)),
dpe_foo2(i, j) AS (SELECT i, i || '' FROM generate_series(1, 2) t(i))
SELECT count(*) AS n FROM dpe_foo1, dpe_foo2
WHERE dpe_foo1.j = dpe_foo2.j
""",
    "src/test/regress/sql/qp_dpe.sql:41-63 — the dynamic-partition-"
    "elimination fixture's RESULT check: fact list-partitioned on the "
    "string join key x tiny dim (Spark analog: DPP, plan-audited in "
    "tests/test_plans.py::test_dpp_prunes_fact_scan). int-to-text "
    "concat on both engines via the || '' coercion.",
    ("join", "dpe"),
)

register_regress(
    "regress_qpdpe_quantified_pred",
    """
WITH dpe_foo1(i, j) AS (SELECT i, (i % 5) || '' FROM
                        generate_series(1, 100) t(i)),
dpe_foo2(i, j) AS (SELECT i, i || '' FROM generate_series(1, 2) t(i))
SELECT count(*) AS n FROM dpe_foo1, dpe_foo2
WHERE dpe_foo1.j = dpe_foo2.j
  AND dpe_foo2.i <= ALL (SELECT 1 UNION SELECT 2)
""",
    "qp_dpe.sql:186-188 — DPE join shape with an extra quantified "
    "ordering predicate `i <= ALL (SELECT 1 UNION SELECT 2)` (only "
    "i <= 1 survives) through the summary-aggregate rewrite.",
    ("join", "dpe", "subquery"),
)

register_regress(
    "regress_olapgrp2_grouping_join_gs_dups",
    """
SELECT GROUPING(product.pname) AS g1, GROUPING(sale.pn) AS g2,
       CAST(SUM(sale.pn) AS BIGINT) AS s
FROM product, sale WHERE product.pn = sale.pn
GROUP BY GROUPING SETS (sale.pn, product.pname, sale.pn)
ORDER BY g1, g2, s
""",
    "src/test/regress/sql/qp_olap_group2.sql Q2/Q50 class — GROUPING "
    "null-provenance over a JOIN's columns with a DUPLICATE bare "
    "single-column grouping set (the (pn) set appears twice, so its "
    "rows double).",
    ("aggregate", "groupingsets", "join"),
)

register_regress(
    "regress_olapgrp2_rollup_composite",
    """
SELECT GROUPING(product.pname) AS g1, GROUPING(sale.pn) AS g2,
       CAST(SUM(sale.pn) AS BIGINT) AS s
FROM product, sale WHERE product.pn = sale.pn
GROUP BY ROLLUP((sale.pn, product.pname))
ORDER BY g1, g2, s
""",
    "qp_olap_group2.sql Q4/Q52 class — ROLLUP over a COMPOSITE "
    "element: (pn, pname) roll up together as one unit, so the only "
    "sets are {(pn,pname), ()}.",
    ("aggregate", "groupingsets", "join"),
)

register_regress(
    "regress_olapgrp2_rollup_repeated_col",
    """
SELECT GROUPING(sale.pn) AS g1, GROUPING(product.pname) AS g2,
       CAST(SUM(sale.pn) AS BIGINT) AS s
FROM product, sale WHERE product.pn = sale.pn
GROUP BY ROLLUP((sale.pn), (product.pname), (sale.pn))
ORDER BY g1, g2, s
""",
    "qp_olap_group2.sql Q6/Q54 class — a column REPEATED across "
    "rollup levels: (pn),(pname),(pn) yields prefixes where pn is "
    "grouped at level 1 AND level 3, so its grouping bit clears "
    "whenever either copy is active.",
    ("aggregate", "groupingsets", "join"),
)

register_regress(
    "regress_olapgrp2_keycol_with_grouping",
    """
SELECT sale.pn AS pn, GROUPING(sale.pn) + 1 AS g1,
       CAST(SUM(sale.pn) AS BIGINT) AS s
FROM product, sale WHERE product.pn = sale.pn
GROUP BY GROUPING SETS ((sale.pn), (product.pname, sale.pn))
ORDER BY 1, 2, 3
""",
    "qp_olap_group2.sql Q391+ class — the grouping key itself in the "
    "select list beside GROUPING()+1 arithmetic over multi-column "
    "sets that both contain the key (pn is non-NULL in every row).",
    ("aggregate", "groupingsets", "join"),
)

register_regress(
    "regress_olap_rollup_revenue",
    """
select cn, vn, pn, sum(qty*prc) AS s from sale group by rollup(cn,vn,pn)
order by 1,2,3
""",
    "src/test/regress/sql/olap_group.sql:44 — the ROLLUP member of the "
    "semantic-equivalence set (UNION-ALL-of-groupings == ROLLUP).",
    ("aggregate",),
)

register_regress(
    "regress_olap_gsets_dup_sets",
    """
select cn, vn, pn, sum(qty*prc) AS s from sale
group by grouping sets((cn,vn), (), (cn,vn,pn), (cn))
order by 1,2,3
""",
    "src/test/regress/sql/olap_group.sql:46 — GROUPING SETS listed in "
    "scrambled order (equivalent to ROLLUP; set order must not matter).",
    ("aggregate",),
)

register_regress(
    "regress_olap_cube_count_distinct",
    """
select cn, vn, pn, count(distinct dt) AS cd from sale
group by cube (cn, vn, pn)
order by 1,2,3
""",
    "src/test/regress/sql/olap_group.sql:95 — DISTINCT-qualified "
    "aggregate under a 3-column CUBE (8 grouping sets x dedup: the "
    "TupleSplit-under-Sort shape).",
    ("aggregate",),
)


# ---------------------------------------------------------------------------
# leastsquares.sql / select_distinct_on.sql / float8.sql
# ---------------------------------------------------------------------------

register_regress(
    "regress_leastsquares_simple",
    """
select
    regr_count(y, x1)::real as count,
    regr_avgx(y, x1)::real as avgx,
    regr_avgy(y, x1)::real as avgy,
    regr_sxx(y, x1)::real as sxx,
    regr_sxy(y, x1)::real as sxy,
    regr_syy(y, x1)::real as syy,
    regr_intercept(y, x1)::real as intercept,
    regr_slope(y, x1)::real as slope,
    regr_r2(y, x1)::real as r2
from weibull
""",
    "src/test/regress/sql/leastsquares.sql:44 — the full OLS aggregate "
    "battery over the weibull fixture, ::real-rounded exactly as the "
    "original masks low-bit float drift.",
    ("aggregate",),
)

register_regress(
    "regress_distinct_on_keep_first",
    """
SELECT DISTINCT ON (ten) ten, thousand, tenthous FROM onek
ORDER BY ten, thousand DESC, tenthous
""",
    "src/test/regress/sql/select_distinct_on.sql shape over the onek "
    "analogue — keep-first-row-per-key; the frontend rewrites to a "
    "row_number window, DuckDB runs DISTINCT ON natively.",
    ("window",),
)

register_regress(
    "regress_float8_special_values",
    """
SELECT CASE WHEN f IS NULL THEN NULL
            WHEN isnan(f) THEN 'NaN'
            WHEN f = CAST('Infinity' AS float8) THEN 'Inf'
            WHEN f = CAST('-Infinity' AS float8) THEN '-Inf'
            ELSE CAST(CAST(f AS decimal(10,1)) AS text) END AS ftext,
       CAST(f = CAST('NaN' AS float8) AS text) AS eqnan,
       CAST(f > 1e308 AS text) AS beyond,
       CASE WHEN f IS NULL THEN NULL
            WHEN isnan(f) THEN 'NaN'
            WHEN abs(f) = CAST('Infinity' AS float8) THEN 'Inf'
            ELSE CAST(CAST(abs(f) AS decimal(10,1)) AS text) END AS absf
FROM (VALUES (CAST('NaN' AS float8)), (CAST('Infinity' AS float8)),
             (CAST('-Infinity' AS float8)), (CAST(1.0 AS float8)),
             (CAST(NULL AS float8))) v(f)
ORDER BY f NULLS FIRST
""",
    "src/test/regress/sql/float8.sql special-value battery — NaN "
    "equals NaN and sorts above Infinity on BOTH engines (PG float.c "
    "float8_cmp_internal ordering, which Spark shares). Every output "
    "column is text-cast: NULL bools stringify differently per engine "
    "in the audit row sort, and raw ±Infinity doubles render as "
    "'Infinity' (Spark) vs 'inf' (DuckDB) and are hash-hostile to any "
    "harness without an isinf guard; the CASE maps specials to stable "
    "'NaN'/'Inf'/'-Inf' tokens on both engines.",
    ("scalar",),
)


# ---------------------------------------------------------------------------
# qp_correlated_query.sql — GP correlated-subquery (CSQ) battery.
#
# The reference dedicates a whole regress file to CSQ pull-up/decorrelation
# (src/test/regress/sql/qp_correlated_query.sql, driven by ORCA's
# CSubqueryHandler). Fixtures A/B/C/E and qp_csq_t1/t2 are renamed
# csq_a/csq_b/... (single-letter CTE names would shadow prelude aliases);
# the query text is otherwise the original. Spark's DecorrelateInnerQuery
# handles one level of correlation per subquery; the file's two
# cross-level shapes (an IN nested inside EXISTS correlating PAST the
# EXISTS scope, qp_correlated_query.sql:96,110) hit
# INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND in Spark 4.1 raw — the pgcompat
# frontend now flattens them (_flatten_in_under_exists, the
# cdbsubselect.c convert_IN_to_join pull-up) and both are registered as
# regress_csq_crosslevel_* below.
# ---------------------------------------------------------------------------

register_regress(
    "regress_csq_in_correlated",
    """
select csq_a.i from csq_a
where csq_a.i in (select csq_b.i from csq_b where csq_a.i = csq_b.i)
order by csq_a.i
""",
    "qp_correlated_query.sql:95 — correlated IN (ORCA rewrites to "
    "correlated EXISTS semi-join; Spark decorrelates the same way).",
    ("subquery",),
)

register_regress(
    "regress_csq_notin_correlated",
    """
select csq_a.i from csq_a
where csq_a.i not in (select csq_b.i from csq_b where csq_a.i = csq_b.i)
order by csq_a.i
""",
    "qp_correlated_query.sql:123 — correlated NOT IN: null-aware "
    "anti-join with an extra correlated equality inside.",
    ("subquery",),
)

register_regress(
    "regress_csq_eq_any_correlated",
    """
select csq_a.i, csq_a.j from csq_a
where csq_a.j = any (select csq_c.j from csq_c where csq_c.j = csq_a.j)
order by 1, 2
""",
    "qp_correlated_query.sql:159 — correlated = ANY(SELECT ...): the "
    "frontend rewrites op-ANY over a subquery to IN (PG parse_expr.c "
    "treats them as the same SubLink), which Spark then decorrelates.",
    ("subquery",),
)

register_regress(
    "regress_csq_eq_any_agg",
    """
select csq_a.i, csq_a.j from csq_a
where csq_a.j = any (select sum(csq_c.j) from csq_c
                     where csq_c.j = csq_a.j)
order by 1, 2
""",
    "qp_correlated_query.sql:103 (simplified to one nesting level) — "
    "= ANY over a correlated aggregate subquery.",
    ("subquery",),
)

register_regress(
    "regress_csq_ne_all_correlated",
    """
select csq_a.i from csq_a
where csq_a.i <> all (select csq_b.i from csq_b where csq_b.i > csq_a.i)
order by 1
""",
    "qp_correlated_query.sql <> ALL family — frontend rewrites to NOT "
    "IN (same SubLink identity), with a correlated range qual inside.",
    ("subquery",),
)

register_regress(
    "regress_csq_uncorr_any_cross",
    """
select a, x from qp_csq_t1, qp_csq_t2
where qp_csq_t1.a = any (select x) order by a, x
""",
    "qp_correlated_query.sql:155 — = ANY over a bare correlated "
    "column reference (the subquery FROM-less SELECT x pulls x from "
    "the outer cross join).",
    ("subquery",),
)

register_regress(
    "regress_csq_exists_notin",
    """
select csq_a.i AS ai, csq_a.j AS aj, csq_b.i AS bi, csq_b.j AS bj
from csq_a, csq_b
where exists (select * from csq_e
              where csq_e.j = csq_a.j
                and csq_b.i not in (select csq_e.i from csq_e
                                    where csq_e.i != 10))
order by 1, 2, 3, 4
""",
    "qp_correlated_query.sql:125 — EXISTS whose inner WHERE carries an "
    "uncorrelated NOT IN; each subquery correlates exactly one level.",
    ("subquery",),
)

register_regress(
    "regress_csq_exists_notin_agg",
    """
select * from csq_a
where exists (select * from csq_b, csq_c
              where csq_c.j = csq_a.j
                and csq_b.i not in (select sum(csq_c.i) from csq_c
                                    where csq_c.i = csq_b.i
                                      and csq_c.i != 10))
order by 1, 2
""",
    "qp_correlated_query.sql:124 — EXISTS over a join whose inner NOT "
    "IN wraps a correlated aggregate (NULL-vs-empty aggregate result "
    "drives the NOT IN three-valued logic).",
    ("subquery",),
)

register_regress(
    "regress_csq_crosslevel_exists_in",
    """
select * from csq_b
where exists (select * from csq_c, csq_a
              where csq_c.j = csq_a.j
                and csq_b.i in (select csq_c2.i from csq_c csq_c2
                                where csq_c2.i = csq_a.i and csq_c2.i != 10))
order by 1, 2
""",
    "qp_correlated_query.sql:96 — IN nested inside EXISTS whose inner "
    "WHERE correlates to the EXISTS scope while the IN operand "
    "correlates past it; Spark 4.1 INTERNAL_ERRORs on the raw shape, "
    "so the frontend pulls the sublink up into a join "
    "(pgcompat._flatten_in_under_exists, after cdbsubselect.c:62-147).",
    ("subquery",),
)

register_regress(
    "regress_csq_crosslevel_exists_in_agg",
    """
select * from csq_a
where exists (select * from csq_b
              where csq_a.i in (select csq_c.i from csq_c
                                where csq_c.i = csq_b.i))
order by 1, 2
""",
    "qp_correlated_query.sql:110 — the sublink pull-up shape the "
    "reference tests for both-side correlation (left operand from the "
    "outermost scope, inner WHERE from the EXISTS scope); flattened to "
    "a join under EXISTS by the frontend.",
    ("subquery",),
)

register_regress(
    "regress_csq_any_nested",
    """
select * from csq_a
where csq_a.j = any (select csq_c.j from csq_c, csq_b
                     where csq_c.j = csq_a.j
                       and csq_b.i = any (select csq_c2.i
                                          from csq_c csq_c2))
order by 1, 2
""",
    "qp_correlated_query.sql:161 — nested = ANY: outer ANY correlates "
    "to csq_a, inner ANY is uncorrelated over a self-aliased csq_c.",
    ("subquery",),
)

register_regress(
    "regress_csq_scalar_nested_in",
    """
select csq_a.j from csq_a
where csq_a.j = (select max(csq_c.j) from csq_c
                 where csq_c.j = csq_a.j
                   and csq_c.i in (select csq_b.i from csq_b
                                   where csq_c.i = csq_b.i
                                     and csq_b.i != 10))
order by 1
""",
    "qp_correlated_query.sql:135 shape (max() added: Spark requires "
    "correlated scalar subqueries to be aggregated; PG would error at "
    "runtime on multiple rows, so the aggregate form is the portable "
    "statement of the same test) — scalar subquery with a correlated "
    "IN one level further down.",
    ("subquery",),
)

register_regress(
    "regress_csq_scalar_count_select",
    """
select csq_b.i, csq_b.j,
       (select count(*) from csq_c where csq_c.i = csq_b.i) as n
from csq_b order by 1, 2, 3
""",
    "qp_correlated_query.sql correlated-scalar-in-targetlist family — "
    "COUNT(*) must see 0 (not NULL) for match-less outer rows; Spark "
    "handles the count bug rewrite (Feng et al.) natively.",
    ("subquery",),
)

register_regress(
    "regress_csq_having_correlated",
    """
select csq_a.j, count(*) as cnt from csq_a group by csq_a.j
having csq_a.j in (select csq_c.j from csq_c where csq_c.j = csq_a.j)
order by 1, 2
""",
    "subselect_gp.sql HAVING-CSQ shape — correlated IN under HAVING, "
    "grouped column as the correlation key.",
    ("subquery",),
)


# ---------------------------------------------------------------------------
# gp_aggregates.sql — GP-specific aggregate shapes (MPP bug-fix corpus).
# ---------------------------------------------------------------------------

register_regress(
    "regress_gpagg_array_multi_order",
    """
SELECT array_to_string(array_agg(a order by a), ',') as a_by_a,
       array_to_string(array_agg(a order by b), ',') as a_by_b,
       array_to_string(array_agg(CAST(b AS DECIMAL(10,5)) order by a), ',')
           as b_by_a,
       array_to_string(array_agg(CAST(b AS DECIMAL(10,5)) order by b), ',')
           as b_by_b
  FROM aggtest
""",
    "gp_aggregates.sql:4-8 — four ordered array_aggs with DIFFERENT "
    "order keys in one aggregate node (the shape that forced GP's "
    "ordered-agg executor); exercises the frontend sorted-struct "
    "rewrite four ways. Joined to strings for driver-hash safety; "
    "the float column rides through DECIMAL(10,5) so both engines "
    "render identical text.",
    ("agg",),
)

register_regress(
    "regress_gpagg_case_multi_dqa",
    """
select case when ten < 5 then ten else ten * 2 end AS t2, 
       count(distinct two) AS cd2, count(distinct four) AS cd4
from tenk1 group by 1 order by 1
""",
    "gp_aggregates.sql:34 (MPP-4617) — CASE grouping key by ordinal + "
    "two distinct-qualified aggregates (TupleSplit path).",
    ("agg",),
)

register_regress(
    "regress_gpagg_distinct_window",
    """
select distinct two, CAST(sum(four) over() AS BIGINT) AS s4 from tenk1 order by two
""",
    "gp_aggregates.sql:43 (MPP-20151) — DISTINCT above a whole-table "
    "window aggregate: distinct is transformed to a group-by over the "
    "window result.",
    ("agg", "window"),
)

register_regress(
    "regress_gpagg_distinct_having",
    """
select distinct two, CAST(sum(four) AS BIGINT) AS s4 from tenk1
group by two having sum(four) > 5000
""",
    "gp_aggregates.sql:45 — DISTINCT + GROUP BY + HAVING on the "
    "aggregate.",
    ("agg",),
)

register_regress(
    "regress_gpagg_distinct_ten_window",
    """
select distinct ten, CAST(sum(ten) over() AS BIGINT) AS s from tenk1 order by ten
""",
    "gp_aggregates.sql:53 — the Motion-Gather-merge-key bug variant: "
    "more distinct groups over a whole-table window sum.",
    ("agg", "window"),
)

register_regress(
    "regress_gpagg_subq_join",
    """
WITH l(ok, pk, sk, quantity) AS (
  SELECT CAST(g % 5 AS BIGINT), CAST(50 - g AS BIGINT), CAST(g AS BIGINT),
         CAST(5 AS DOUBLE)
  FROM generate_series(1, 50) AS gs(g)
),
ps(pk, sk, availqty) AS (
  SELECT CAST(g AS BIGINT), CAST(50 - g AS BIGINT), CAST(10 AS BIGINT)
  FROM generate_series(1, 25) AS gs(g)
)
select g.pk, g.sk, ps.availqty
from ps,
     (select sum(l.quantity) as qty_sum, l.pk, l.sk
      from l
      group by l.pk, l.sk ) g
where g.pk = ps.pk and g.sk = ps.sk
and ps.availqty > g.qty_sum
order by 1, 2
""",
    "gp_aggregates.sql:62-75 — the merge-join path-key bug query "
    "(modified TPC-H): join an aggregated subquery on BOTH grouping "
    "keys with an inequality on the aggregate.",
    ("agg", "join"),
)

# ---------------------------------------------------------------------------
# strings.sql — E021 string expression battery (tier 2).
# ---------------------------------------------------------------------------

register_regress(
    "regress_strings_trim_variants",
    """
SELECT CAST(TRIM(BOTH FROM '  bunch o blanks  ') = 'bunch o blanks' AS text)
           AS both_ok,
       CAST(TRIM(LEADING FROM '  bunch o blanks  ') = 'bunch o blanks  '
            AS text) AS leading_ok,
       CAST(TRIM(TRAILING FROM '  bunch o blanks  ') = '  bunch o blanks'
            AS text) AS trailing_ok,
       CAST(TRIM(BOTH 'x' FROM 'xxxxxsome Xsxxxxx') = 'some Xs' AS text)
           AS chars_ok
""",
    "strings.sql:165-171 — TRIM BOTH/LEADING/TRAILING with and without "
    "an explicit trim character set.",
    ("scalar",),
)

register_regress(
    "regress_strings_regexp_replace_global",
    r"""
SELECT regexp_replace('1112223333',
                      '(\d{3})(\d{3})(\d{4})', '(\1) \2-\3', 'g') AS phone,
       regexp_replace('AAA   BBB   CCC   ', '\s+', ' ', 'g') AS squeezed,
       regexp_replace('AAA aaa', 'A+', 'Z', 'gi') AS ci_all,
       regexp_replace('AAA', '^|$', 'Z', 'g') AS anchors
""",
    "strings.sql:235-243 — regexp_replace with backreferences and "
    "g/gi flags (frontend maps PG flags onto Spark's always-global "
    "regexp_replace, 'i' becoming an inline (?i)).",
    ("scalar",),
    oracle=r"""
SELECT regexp_replace('1112223333',
                      '(\d{3})(\d{3})(\d{4})', '(\1) \2-\3', 'g') AS phone,
       regexp_replace('AAA   BBB   CCC   ', '\s+', ' ', 'g') AS squeezed,
       regexp_replace('AAA aaa', 'A+', 'Z', 'gi') AS ci_all,
       regexp_replace('AAA', '^|$', 'Z', 'g') AS anchors
""",
)

register_regress(
    "regress_strings_length_family",
    """
SELECT length('abcdef') AS len, octet_length('abcdef') AS olen,
       bit_length('abcdef') AS blen, ascii('x') AS asc_x, chr(65) AS chr65,
       initcap('hi THOMAS') AS ic, repeat('Pg', 4) AS rep,
       reverse('abcde') AS rev
""",
    "strings.sql length/octet_length/bit_length/ascii/chr/initcap/"
    "repeat battery (E021, adt/varlena.c + oracle_compat.c initcap). "
    "DuckDB lacks octet_length(varchar) and initcap, so the oracle "
    "recomputes them from primitives (strlen; per-word upper/lower).",
    ("scalar",),
    oracle="""
SELECT length('abcdef') AS len, strlen('abcdef') AS olen,
       8 * strlen('abcdef') AS blen, ascii('x') AS asc_x, chr(65) AS chr65,
       array_to_string(list_transform(string_split('hi THOMAS', ' '),
                       w -> upper(w[1]) || lower(w[2:]))
                       , ' ') AS ic,
       repeat('Pg', 4) AS rep,
       reverse('abcde') AS rev
""",
)

# ---------------------------------------------------------------------------
# float4.sql — binary32 semantics (tier 2).
# ---------------------------------------------------------------------------

register_regress(
    "regress_float4_arith",
    """
SELECT f.f1,
       CAST(CAST(f.f1 AS DOUBLE) * -10 AS float4) AS mul,
       CAST(CAST(f.f1 AS DOUBLE) + -10 AS float4) AS plus,
       CAST(CAST(f.f1 AS DOUBLE) / -10 AS float4) AS div,
       CAST(CAST(f.f1 AS DOUBLE) - -10 AS float4) AS minus
FROM float4_tbl f
WHERE f.f1 > CAST(0.0 AS float4)
ORDER BY f.f1
""",
    "float4.sql:77-86 arithmetic battery. The product/sum is computed "
    "in binary64 then rounded ONCE to binary32 on both engines — raw "
    "float4*int arithmetic rounds differently per engine at the "
    "1.2345679e+20 extreme (1-ulp divergence, measured), which is why "
    "the reference pins float4 results through float4in/float4out "
    "round-trips in its expected files.",
    ("scalar",),
)

register_regress(
    "regress_float4_cmp",
    """
SELECT f.f1,
       CAST(f.f1 <> CAST(1004.3 AS float4) AS text) AS ne,
       CAST(f.f1 < CAST(1004.3 AS float4) AS text) AS lt,
       CAST(CAST(1004.3 AS float4) >= f.f1 AS text) AS ge
FROM float4_tbl f
ORDER BY f.f1
""",
    "float4.sql:65-75 comparison battery — the literal is pinned "
    "float4 so the comparison happens at binary32 width (PG parses "
    "the quoted literal as float4; comparing against a double literal "
    "would widen f1 and flip the equality).",
    ("scalar",),
)

# ---------------------------------------------------------------------------
# numeric.sql — exact-decimal semantics (tier 2).
# ---------------------------------------------------------------------------

register_regress(
    "regress_numeric_round_trunc",
    """
SELECT CAST(x AS DOUBLE) AS x,
       CAST(round(x) AS DOUBLE) AS round0,
       CAST(round(x, 1) AS DOUBLE) AS round1,
       CAST(CAST(CASE WHEN x >= 0 THEN floor(x * 10) ELSE ceil(x * 10) END
                 / 10 AS DECIMAL(10,1)) AS DOUBLE) AS trunc1
FROM (VALUES (CAST(-3.55 AS DECIMAL(10,2))), (-2.5), (-1.49), (0.5),
             (1.45), (2.5), (3.55)) v(x)
ORDER BY x
""",
    "numeric.sql:679 round/trunc battery — PG numeric round() is "
    "half-away-from-zero, which Spark and DuckDB DECIMAL round "
    "share; trunc(x,1) (toward zero) is spelled via floor/ceil since "
    "Spark has no decimal trunc-to-scale.",
    ("scalar",),
)

register_regress(
    "regress_numeric_agg_stats",
    """
SELECT round(CAST(AVG(val) AS DOUBLE), 6) AS avg_val,
       round(CAST(MAX(val) AS DOUBLE), 6) AS max_val,
       round(CAST(MIN(val) AS DOUBLE), 6) AS min_val,
       round(CAST(STDDEV(CAST(val AS DOUBLE)) AS DOUBLE), 4) AS stddev_val,
       round(CAST(VARIANCE(CAST(val AS DOUBLE)) AS DOUBLE) / 1000000, 4)
           AS var_val_millions
FROM num_data
""",
    "numeric.sql:754-758 — AVG/MAX/MIN over DECIMAL(28,12) num_data, "
    "displayed as round-6 DOUBLE (decimal->double conversion rounds "
    "differently per engine in the 16th digit, measured via "
    "strict_audit); STDDEV/VARIANCE ride binary64, variance scaled to "
    "millions so round(4) is meaningful at its 7.7e14 magnitude.",
    ("agg",),
)

register_regress(
    "regress_numeric_sqrt_ln_power",
    """
SELECT CAST(x AS DOUBLE) AS x,
       round(CAST(sqrt(CAST(x AS DOUBLE)) AS DOUBLE), 8) AS sqrt_x,
       round(CAST(ln(CAST(x AS DOUBLE)) AS DOUBLE), 8) AS ln_x,
       round(CAST(log10(CAST(x AS DOUBLE)) AS DOUBLE), 8) AS log_x,
       round(CAST(power(CAST(x AS DOUBLE), 2.5) AS DOUBLE), 6) AS pow_x
FROM (VALUES (CAST(0.239 AS DECIMAL(18,6))), (1.0), (4.31),
             (16397.038491)) v(x)
ORDER BY x
""",
    "numeric.sql:692-748 transcendental battery on the positive "
    "domain (sqrt/ln/log/power), computed in binary64 on both "
    "engines — PG computes these in numeric with mul_var iterations, "
    "a documented precision divergence beyond the 8th digit.",
    ("scalar",),
)


# ---------------------------------------------------------------------------
# qp_olap_window.sql — GP OLAP windowing battery (deterministic shapes:
# rank/dense_rank/cume_dist/percent_rank are pure functions of the order
# key, unlike the file's row_number-over-ties shapes which the reference
# verifies only up to functional dependencies via atmsort "mvd"
# annotations). TO_CHAR formatting is covered separately by
# scalar_formatting_family; here ranks stay numeric.
# ---------------------------------------------------------------------------

register_regress(
    "regress_olapwin_rank_named_dup_keys",
    """
SELECT sale.vn, sale.dt, sale.pn,
       CAST(COALESCE(RANK() OVER(win1), 0) AS BIGINT) AS rnk
FROM sale
WINDOW win1 as (partition by sale.dt, sale.dt
                order by sale.pn desc, sale.vn desc)
ORDER BY 1, 2, 3, 4
""",
    "qp_olap_window.sql:229 — RANK over a named window whose PARTITION "
    "BY repeats the same key twice (the parser must dedupe, not error).",
    ("window",),
)

register_regress(
    "regress_olapwin_mixed_inline_named",
    """
SELECT sale.pn, sale.vn, sale.cn,
       CAST(COALESCE(RANK() OVER(win1), 0) AS BIGINT) AS rnk,
       CAST(COALESCE(DENSE_RANK() OVER(win1), 0) AS BIGINT) AS drnk,
       CAST(COALESCE(DENSE_RANK() OVER(order by sale.vn desc), 0) AS BIGINT)
           AS drnk_inline
FROM sale
WINDOW win1 as (order by sale.cn asc, sale.cn desc)
ORDER BY 1, 2, 3
""",
    "qp_olap_window.sql:221,186 — the SAME named window consumed by two "
    "rank functions plus an inline OVER in one select list; win1's "
    "order list repeats the key with conflicting asc/desc (first "
    "occurrence wins, per PG transformWindowDefinitions).",
    ("window",),
)

register_regress(
    "regress_olapwin_cume_percent",
    """
SELECT sale.cn, sale.qty,
       round(CAST(CUME_DIST() OVER(win1) AS DOUBLE), 8) AS cd,
       round(CAST(PERCENT_RANK() OVER(win1) AS DOUBLE), 8) AS pr
FROM sale
WINDOW win1 as (order by sale.cn, sale.qty)
ORDER BY 1, 2, 3, 4
""",
    "qp_olap_window.sql:245-295 — CUME_DIST + PERCENT_RANK over one "
    "named window (deterministic: both are functions of the full order "
    "key).",
    ("window",),
)

# ---------------------------------------------------------------------------
# bfv_joins.sql — GP outer-join bug-fix-verification battery.
# Fixtures renamed bfv_x/bfv_y/bj_t1/bj_t2/bj_t3/bjfoo/bjbar/bjt (the
# originals shadow prelude names); bj_t3 is EMPTY exactly as in the
# reference setup (no insert).
# ---------------------------------------------------------------------------

register_regress(
    "regress_bfvjoin_loj_on_true",
    """
SELECT x.a AS xa, x.b AS xb, x.c AS xc, y.a AS ya, y.b AS yb, y.c AS yc
from bfv_x x left join bfv_y y on True
where y.a > 0 and y.b > 0 and x.a < 3
order by x.a, x.b, x.c, y.a, y.b, y.c
""",
    "bfv_joins.sql:55 — LEFT JOIN ON TRUE with null-filtering WHERE "
    "quals on the inner side (Orca's LOJ-to-inner transformation).",
    ("join",),
)

register_regress(
    "regress_bfvjoin_loj_null_filter",
    """
SELECT count(*) AS n_null, count(y.a) AS n_inner
from bfv_x x left join bfv_y y on True
where y.a is NULL
""",
    "bfv_joins.sql:61 — IS NULL filter above LEFT JOIN ON TRUE: the "
    "inner side is never null (cross product), so zero rows survive; "
    "counted so the empty result is hash-checkable.",
    ("join",),
)

register_regress(
    "regress_bfvjoin_is_distinct_from",
    """
SELECT t1.a, t1.b, t1.c, t2.a AS a2, t2.b AS b2
FROM bj_t1 t1 LEFT OUTER JOIN bj_t2 t2 ON t1.a = t2.a
WHERE t1.b IS DISTINCT FROM t2.b
ORDER BY 1, 2, 3
""",
    "bfv_joins.sql:69 — IS DISTINCT FROM across an outer join's "
    "nullable sides (NULL IS DISTINCT FROM 3 is true, not unknown).",
    ("join",),
)

register_regress(
    "regress_bfvjoin_not_distinct_null",
    """
SELECT t1.a, t1.b, t1.c, t2.a AS a2, t2.b AS b2
FROM bj_t1 t1 LEFT OUTER JOIN bj_t2 t2 ON t1.a = t2.a
WHERE t2.b IS NOT DISTINCT FROM NULL
ORDER BY 1, 2, 3
""",
    "bfv_joins.sql:75 — IS NOT DISTINCT FROM NULL selects exactly the "
    "anti-join rows of the LOJ (null-extended inner side).",
    ("join",),
)

register_regress(
    "regress_bfvjoin_loj_const_cond",
    """
select t1.a, t1.b, t1.c from bj_t1 t1 left outer join bj_t3 t3 on t1.b = 1
order by 1, 2, 3
""",
    "bfv_joins.sql:81 — LEFT JOIN whose ON references only the OUTER "
    "side against an empty inner: every outer row survives exactly "
    "once (the join can never multiply).",
    ("join",),
)

register_regress(
    "regress_bfvjoin_window_under_join",
    """
select f.c AS c, f.d AS d, f.e AS e, t2.a AS a, t2.b AS b, t2.d AS d2
from
(SELECT bjbar.c, bjbar.d, AVG(t.b) OVER(PARTITION BY t.a ORDER BY t.b desc)
     AS e FROM bjt t, bjbar) f, bjt t2
where f.e < 10
order by 1, 2, 3, 4, 5, 6
""",
    "bfv_joins.sql:132-137 — window function computed UNDER a join "
    "(the GP wrong-results bug class: the window partition is over the "
    "pre-join relation, then the result re-joins); deterministic since "
    "AVG depends only on the partition.",
    ("window", "join"),
)


# ---------------------------------------------------------------------------
# qp_olap_group.sql — GP OLAP grouping battery (tractable tier: the
# giant composite CUBE x ROLLUP products explode to thousands of
# grouping sets and lean on GROUP_ID(), which neither Spark nor DuckDB
# has — those shapes stay with the reference; the GROUPING SETS(CUBE)
# and ROLLUP-with-HAVING shapes port verbatim-or-near).
# ---------------------------------------------------------------------------

register_regress(
    "regress_olapgrp_gsets_cube_having",
    """
SELECT DISTINCT sale.vn,
       round(COALESCE(STDDEV(floor(sale.prc + sale.prc)), 0), 6) AS sd_prc,
       round(COALESCE(VAR_SAMP(floor(sale.qty + sale.cn)), 0), 6) AS vs_qc,
       CAST(COALESCE(COUNT(floor(sale.pn)), 0) AS BIGINT) AS cnt_pn,
       CAST(COALESCE(MIN(floor(sale.cn)), 0) AS BIGINT) AS min_cn
FROM sale, qp_vendor, qp_customer, qp_product
WHERE sale.pn = qp_product.pn AND sale.vn = qp_vendor.vn
  AND sale.cn = qp_customer.cn
GROUP BY GROUPING SETS(CUBE((sale.pn, sale.vn, sale.pn),
                            (sale.cn, sale.pn, sale.vn)))
HAVING COALESCE(AVG(sale.vn), 0) <= 50.5023418504766
   AND NOT COALESCE(COUNT(sale.vn), 0) < 2
ORDER BY 1 NULLS FIRST, 2, 3, 4, 5
""",
    "qp_olap_group.sql:10-12 — GROUPING SETS(CUBE(composites)) with "
    "duplicated columns inside a composite, DISTINCT over the grouped "
    "output, and a HAVING mixing two aggregate predicates. Dims "
    "(qp_vendor/customer/product) carry the distinct sale keys, as in "
    "the reference setup. TO_CHAR formatting covered separately by "
    "scalar_formatting_family; stats stay numeric at round(6).",
    ("agg",),
)

register_regress(
    "regress_olapgrp_rollup_countdistinct_case",
    """
SELECT COUNT(DISTINCT cn) as cn_r, f, g
FROM (SELECT cn, CASE WHEN (vn = 0) THEN 1 END AS f, 1 AS g FROM sale)
     sale_view
GROUP BY ROLLUP(f, g)
ORDER BY 2 NULLS FIRST, 3 NULLS FIRST, 1
""",
    "qp_olap_group.sql:160 — COUNT(DISTINCT) under ROLLUP where one "
    "grouping column is an ELSE-less CASE (all NULLs): NULL-as-data "
    "groups must stay distinct from NULL-as-rollup rows.",
    ("agg",),
)

register_regress(
    "regress_olapgrp_rollup_having_expr",
    """
SELECT COUNT(DISTINCT cn) as cn_r, f, g
FROM (SELECT cn, vn + 1 AS f, 1 AS g FROM sale) sale_view
GROUP BY ROLLUP(f, g) HAVING (f > 1)
ORDER BY 2, 3 NULLS FIRST, 1
""",
    "qp_olap_group.sql:161 — HAVING on a GROUPING column (not an "
    "aggregate) under ROLLUP: super-aggregate rows have f IS NULL and "
    "must be filtered by the three-valued predicate.",
    ("agg",),
)

# ---------------------------------------------------------------------------
# window.sql tier 2 — ntile / nth_value shapes
# ---------------------------------------------------------------------------

register_regress(
    "regress_win_ntile",
    """
SELECT ntile(3) OVER (ORDER BY ten, four, unique1) AS nt, ten, four
FROM tenk1 WHERE unique2 < 10
ORDER BY ten, four, unique1
""",
    "window.sql:67 — ntile(3) bucketing (the reference's order key "
    "leaves ties, which atmsort tolerates; unique1 added as the "
    "deterministic tiebreak so both engines bucket identically).",
    ("window",),
)

register_regress(
    "regress_win_nth_value_dynamic",
    """
SELECT try_element_at(collect_list(ten)
           OVER (PARTITION BY four ORDER BY ten, unique1
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           CAST(four + 1 AS INT)) AS nv,
       ten, four
FROM tenk1 WHERE unique2 < 30
ORDER BY four, ten, unique1
""",
    "window.sql:140 — nth_value with a DYNAMIC n (four + 1). Spark "
    "requires a foldable nth_value offset (same class as variable "
    "lag offsets, see win_variable_offset_lag), so the emulation "
    "collects the frame and indexes it: try_element_at(collect_list "
    "OVER default-frame, n) — out-of-frame n yields NULL exactly as "
    "PG nth_value does.",
    ("window",),
    oracle="""
SELECT nth_value(ten, CAST(four + 1 AS INT))
           OVER (PARTITION BY four ORDER BY ten, unique1) AS nv,
       ten, four
FROM tenk1 WHERE unique2 < 30
ORDER BY four, ten, unique1
""",
)


# ---------------------------------------------------------------------------
# aggregates.sql tier 2 — regression aggregates, outer-level aggregates,
# strict-NULL inputs. (Two shapes stay with the reference, documented:
# the 2-level sublink-inside-aggregate of aggregates.sql:201 resolves
# `o.unique1` across two subquery levels — the same cross-level class
# as qp_correlated_query 96/110 but inside an aggregate argument, with
# no join-flatten equivalent; and the LATERAL-with-outer-param-in-
# aggregate of :208 is rejected by BOTH engines.)
# ---------------------------------------------------------------------------

register_regress(
    "regress_agg_regr_bivariate",
    """
SELECT CAST(regr_count(b, a) AS BIGINT) AS rc,
       round(regr_sxx(b, a), 4) AS sxx,
       round(regr_syy(b, a), 4) AS syy,
       round(regr_sxy(b, a), 4) AS sxy,
       round(regr_avgx(b, a), 6) AS avgx,
       round(regr_avgy(b, a), 6) AS avgy,
       round(regr_r2(b, a), 6) AS r2,
       round(regr_slope(b, a), 6) AS slope,
       round(regr_intercept(b, a), 6) AS icept,
       round(covar_pop(b, a), 4) AS cvp,
       round(covar_samp(b, a), 4) AS cvs,
       round(corr(b, a), 6) AS corr_ba
FROM aggtest
""",
    "aggregates.sql:129-137 — the full bivariate regression aggregate "
    "family (regr_count/sxx/syy/sxy/avgx/avgy/r2/slope/intercept, "
    "covar_pop/samp, corr) over aggtest; all Spark-native partials "
    "(numeric.c float8_regr_accum == Spark's central-moment buffers).",
    ("agg",),
)

register_regress(
    "regress_agg_outer_level_having",
    """
select ten, CAST(sum(distinct four) AS BIGINT) AS sd from onek a
group by ten
having exists (select 1 from onek b where sum(distinct a.four) = b.four)
order by ten
""",
    "aggregates.sql:189-191 — an OUTER-LEVEL aggregate referenced "
    "inside a HAVING EXISTS subquery (the aggregate belongs to the "
    "outer group, the subquery merely compares against it).",
    ("agg", "subquery"),
)

register_regress(
    "regress_agg_strict_null_inputs",
    """
select CAST(sum(CAST(null AS int)) AS BIGINT) AS s_i4,
       CAST(sum(CAST(null AS bigint)) AS BIGINT) AS s_i8,
       CAST(avg(CAST(null AS int)) AS DOUBLE) AS a_i4,
       CAST(sum(CAST(null AS float8)) AS DOUBLE) AS s_f8,
       CAST(avg(CAST(null AS float8)) AS DOUBLE) AS a_f8,
       count(CAST(null AS int)) AS c_i4
from generate_series(1, 3) g(i)
""",
    "aggregates.sql:89-96 — strict transition functions: aggregates "
    "over all-NULL inputs return NULL (count returns 0), never zero.",
    ("agg",),
)


# ---------------------------------------------------------------------------
# join.sql tier 2 — column-alias lists and outer-join filter semantics.
# (The PG14 `USING (i) AS x` join alias is rejected by BOTH engines'
# parsers and stays with the reference.)
# ---------------------------------------------------------------------------

register_regress(
    "regress_join_table_col_aliases",
    """
SELECT * FROM j1_tbl t1 (a, b, c) NATURAL JOIN j2_tbl t2 (a, d)
ORDER BY a, b, d
""",
    "join.sql:149 — table aliases WITH column-alias lists feeding a "
    "NATURAL JOIN: the join key is whatever both alias lists name "
    "'a' (j1.i vs j2.i here), proving aliasing happens before join "
    "resolution.",
    ("join",),
)

register_regress(
    "regress_join_outer_where_semantics",
    """
SELECT 'filter_inner' AS leg, i, j, t, k
FROM j1_tbl LEFT JOIN j2_tbl USING (i) WHERE (k = 1)
UNION ALL
SELECT 'filter_using' AS leg, i, j, t, k
FROM j1_tbl LEFT JOIN j2_tbl USING (i) WHERE (i = 1)
ORDER BY leg, i, k
""",
    "join.sql:206-210 — WHERE above a LEFT JOIN: filtering on the "
    "inner side's column (k) discards null-extended rows (turning the "
    "join inner for that leg — here provably empty, no k=1 exists), "
    "while filtering on the USING column (i) keeps outer semantics.",
    ("join",),
)


# ---------------------------------------------------------------------------
# subselect.sql tier 2 — scalar subqueries over set ops, IN-pullup
# interactions, correlated NOT IN with expressions.
# ---------------------------------------------------------------------------

register_regress(
    "regress_subq_scalar_over_setop",
    """
SELECT ((SELECT 2) UNION SELECT 2) AS v
""",
    "subselect.sql:21 — a scalar subquery whose body is itself a "
    "UNION of a scalar subquery with a literal (the nested-initplan "
    "materialization shape of bug #14524).",
    ("subquery",),
)

register_regress(
    "regress_subq_in_pullup_distinct",
    """
SELECT (select count(*) from
          (select 1 AS one from tenk1 a
           where unique1 IN (select hundred from tenk1 b)) ss) AS plain_cnt,
       (select count(distinct ss.ten) from
          (select ten from tenk1 a
           where unique1 IN (select hundred from tenk1 b)) ss) AS plain_dist,
       (select count(*) from
          (select 1 AS one from tenk1 a
           where unique1 IN (select distinct hundred from tenk1 b)) ss)
           AS dedup_cnt,
       (select count(distinct ss.ten) from
          (select ten from tenk1 a
           where unique1 IN (select distinct hundred from tenk1 b)) ss)
           AS dedup_dist
""",
    "subselect.sql:159-168 — the IN-join-vs-subquery-pullup "
    "interaction battery: all four spellings (with/without DISTINCT "
    "in the IN subquery, count vs count-distinct above) must agree, "
    "proving the semi-join never duplicates outer rows.",
    ("subquery",),
)

register_regress(
    "regress_subq_notin_correlated_expr",
    """
SELECT f1 AS cf FROM subselect_tbl ss
WHERE f1 NOT IN (SELECT f2 + 1 FROM subselect_tbl WHERE f2 != ss.f1)
ORDER BY 1
""",
    "subselect.sql:118 shape — correlated NOT IN whose inner list is "
    "an EXPRESSION (f2+1) filtered by the outer row (LASJ with a "
    "computed key under three-valued logic).",
    ("subquery",),
)

register_regress(
    "regress_subq_scalar_ratio",
    """
select q1, CAST(count(*) AS float8) / (select count(*) from int8_tbl)
               AS ratio
from int8_tbl group by q1 order by q1
""",
    "subselect.sql:123 — a grouped aggregate divided by an "
    "uncorrelated scalar-subquery total (the classic share-of-total "
    "report; the subquery materializes once as an InitPlan/broadcast, "
    "never per group).",
    ("subquery", "agg"),
)


register_regress(
    "regress_with_cycle_detection",
    """
with recursive search_graph(f, t, label, is_cycle, path) as (
    select g.f, g.t, g.label, false AS is_cycle,
           ARRAY[g.f || '-' || g.t] AS path
    from graph_tbl g
  union all
    select g.f, g.t, g.label,
           array_contains(sg.path, g.f || '-' || g.t) AS is_cycle,
           array_append(sg.path, g.f || '-' || g.t) AS path
    from graph_tbl g, search_graph sg
    where g.f = sg.t and not sg.is_cycle
)
select f, t, label, CAST(is_cycle AS text) AS cyc,
       array_to_string(path, ',') AS path_str
from search_graph order by 1, 2, 5
""",
    "with.sql:550-568 — recursive graph search with CYCLE DETECTION "
    "through a path accumulator: the 1->4->5->1 loop terminates "
    "because the recursive leg stops expanding once the edge already "
    "appears in its own path (edges string-encoded; PG's row(f,t) "
    "composite arrays spelled portably). 25 paths incl. the flagged "
    "cycle rows, identical on both engines; frontend maps "
    "array_to_string -> array_join.",
    ("recursive",),
)


# ---------------------------------------------------------------------------
# groupingsets.sql tier 2. (The empty-input shapes stay with the
# reference, documented in MIGRATION.md: PG/DuckDB emit ONE row per ()
# grouping set over an EMPTY input — `GROUP BY GROUPING SETS ((),(),())`
# on zero rows returns 3 rows — while Spark returns 0 rows; measured,
# a real Spark semantic divergence on a degenerate case.)
# ---------------------------------------------------------------------------

register_regress(
    "regress_gs_ordered_aggs_rollup",
    """
select a, b, grouping(a, b) AS g,
       array_to_string(array_agg(v order by v), ',') AS aa,
       string_agg(v::text, ':' order by v desc) AS sa,
       CAST(percentile_disc(0.5) within group (order by v) AS INT) AS pd
  from gstest group by rollup (a, b) order by a, b
""",
    "groupingsets.sql:143-148 — ordered-set and ordered aggregates "
    "UNDER a rollup: sorted array_agg, DESC-ordered string_agg, and "
    "percentile_disc WITHIN GROUP all computed per grouping set "
    "(the hypothetical-set rank() of the original is emulated "
    "separately by agg_hypothetical_set).",
    ("agg",),
)

register_regress(
    "regress_gs_nested_sets",
    """
select CAST(sum(c) AS BIGINT) AS s from gstest2
  group by grouping sets(a, grouping sets(a, cube(b)))
  order by 1 desc
""",
    "groupingsets.sql:171 — GROUPING SETS nested inside GROUPING SETS "
    "with a CUBE leaf: the set list flattens with duplicates KEPT "
    "(each a-set appears twice).",
    ("agg",),
)

register_regress(
    "regress_gs_window_over_rollup",
    """
select a, b, CAST(sum(c) AS BIGINT) AS s,
       CAST(sum(sum(c)) over (order by a nulls last, b nulls last)
            AS BIGINT) as rsum
  from gstest2 group by rollup (a, b) order by rsum, a, b
""",
    "groupingsets.sql:158 — a window function OVER the rollup output "
    "whose argument is itself the grouped aggregate (sum(sum(c))): "
    "the running total orders across super-aggregate rows too. NULLS "
    "LAST spelled explicitly: PG defaults ASC to nulls-last, Spark to "
    "nulls-first, and the rollup rows ARE null-keyed.",
    ("agg", "window"),
)


register_regress(
    "regress_win_range_offset_values",
    """
select first_value(salary) over w AS fv,
       nth_value(salary, 1) over w AS nv,
       CAST(sum(salary) over w AS BIGINT) AS sv,
       salary, empno
from empsalary
window w as (order by salary range between 1000 preceding and 1000 following)
order by salary, empno
""",
    "window.sql:453-456 — value functions over a numeric RANGE-offset "
    "frame (salary ± 1000): first_value/nth_value(1) agree and the "
    "frame sum spans all peers within the offset, not row positions.",
    ("window",),
)

register_regress(
    "regress_numeric_mod_div",
    """
SELECT x, y,
       CAST(mod(x, y) AS BIGINT) AS m,
       CAST((x - mod(x, y)) / y AS BIGINT) AS d
FROM (VALUES (CAST(17 AS BIGINT), CAST(5 AS BIGINT)), (17, -5), (-17, 5),
             (-17, -5), (9999999999, 7)) v(x, y)
ORDER BY x, y
""",
    "numeric.sql div/mod battery — PG div() is truncating integer "
    "division spelled portably as (x - mod(x,y))/y; mod() keeps the "
    "dividend's sign on BOTH engines (C99 semantics), covering all "
    "four sign combinations plus a >int32 dividend.",
    ("scalar",),
)


register_regress(
    "regress_mdqa_rollup_alias_groups",
    """
SELECT sale.qty as newalias1, GROUPING(sale.qty) AS g,
       CAST(COALESCE(MIN(DISTINCT floor(sale.qty+sale.qty)),0) AS BIGINT)
           AS m1,
       CAST(COALESCE(SUM(DISTINCT floor(sale.pn/sale.cn)),0) AS BIGINT)
           AS s1,
       round(COALESCE(AVG(DISTINCT floor(sale.prc*sale.qty)),0), 6) AS a1,
       round(COALESCE(STDDEV(DISTINCT floor(sale.prc+sale.pn)),0), 6) AS sd1,
       round(COALESCE(VARIANCE(DISTINCT floor(sale.vn)),0), 6) AS v1
FROM sale
GROUP BY ROLLUP((newalias1),(newalias1,sale.cn,sale.cn),(sale.vn,sale.dt)),
         (), sale.qty
ORDER BY 1 NULLS FIRST, 2, 3, 4, 5, 6, 7
""",
    "qp_olap_mdqa.sql:164-168 — the GP multi-DQA torture shape: SIX "
    "DISTINCT-qualified aggregates (min/sum/avg/stddev/variance "
    "families, each on a different expression) over a ROLLUP whose "
    "composites reference the SELECT ALIAS (newalias1) and repeat "
    "columns, mixed with an empty grouping item the frontend strips "
    "and a plain grouping column. 23 grouping-set rows, TO_CHAR "
    "formatting covered separately by scalar_formatting_family. "
    "Oracle spells the alias inline: PG deduplicates identical "
    "grouping expressions to ONE sortgroupref (transformGroupClause), "
    "so qty — also a bare grouping item — is grouped in EVERY set and "
    "never nulls; DuckDB's occurrence-level binding would null the "
    "raw alias spelling (round-12 _dedupe_always_grouped brings the "
    "Spark side to the PG reading).",
    ("agg",),
    oracle="""
SELECT sale.qty as newalias1, GROUPING(sale.qty) AS g,
       CAST(COALESCE(MIN(DISTINCT floor(sale.qty+sale.qty)),0) AS BIGINT)
           AS m1,
       CAST(COALESCE(SUM(DISTINCT floor(sale.pn/sale.cn)),0) AS BIGINT)
           AS s1,
       round(COALESCE(AVG(DISTINCT floor(sale.prc*sale.qty)),0), 6) AS a1,
       round(COALESCE(STDDEV(DISTINCT floor(sale.prc+sale.pn)),0), 6) AS sd1,
       round(COALESCE(VARIANCE(DISTINCT floor(sale.vn)),0), 6) AS v1
FROM sale
GROUP BY ROLLUP(((sale.qty)),((sale.qty),sale.cn,sale.cn),
                (sale.vn,sale.dt)),
         sale.qty
ORDER BY 1 NULLS FIRST, 2, 3, 4, 5, 6, 7
""",
)


register_regress(
    "regress_win_inherited_window",
    """
select depname, empno, salary,
       CAST(rank() over w2 AS BIGINT) AS rnk,
       CAST(sum(salary) over w1 AS BIGINT) AS dsum
from empsalary
window w1 as (partition by depname),
       w2 as (w1 order by salary, empno)
order by depname, salary, empno
""",
    "window.sql named-window INHERITANCE (gram.y window_definition: "
    "w2 copies w1's partitioning and adds ordering; "
    "transformWindowDefinitions): Spark's parser rejects the "
    "reference form, so the frontend splices the referenced window's "
    "body (_expand_window_inheritance); chains expand transitively.",
    ("window",),
)

register_regress(
    "regress_agg_percentile_array",
    """
select array_to_string(percentile_cont(array[0.25, 0.5, 0.75])
           within group (order by salary), ',') AS q
from empsalary
""",
    "aggregates ordered-set with an ARRAY of fractions "
    "(orderedsetaggs.c percentile_cont_float8_multi): one pass "
    "returns all three quartiles as an array on both engines "
    "(string-joined for driver-hash safety; integer salaries make "
    "the interpolated quartiles exactly representable, so the "
    "double->text rendering agrees).",
    ("agg",),
)

register_regress(
    "regress_agg_filter_distinct",
    """
select depname,
       count(DISTINCT salary) FILTER (WHERE salary > 4000) AS n_high,
       CAST(sum(salary) FILTER (WHERE enroll_date >= DATE '2007-01-01')
            AS BIGINT) AS recent_sum
from empsalary group by depname order by depname
""",
    "aggregates.sql FILTER-clause battery: FILTER combined with "
    "DISTINCT in one aggregate, and a date-predicate FILTER beside "
    "it — both native on both engines.",
    ("agg",),
)


register_regress(
    "regress_text_bool_coercion",
    """
SELECT ('four: '::text || (2+2)) AS c1,
       (3 || '4.0') AS c2,
       concat(1, 2, 3, 'hello', true::text, false::text) AS c3,
       concat_ws('#', 1, 2, 'hello', true::text) AS c4,
       CAST('TrUe' AS boolean)::text AS b1,
       CAST(CAST('t' AS boolean) > CAST('f' AS boolean) AS text) AS b3,
       CAST(CAST('f' AS boolean) <= CAST('t' AS boolean) AS text) AS b4
""",
    "text.sql:21-44 + boolean.sql:82-94 — cross-type || coercion, "
    "variadic concat/concat_ws over mixed types, case-insensitive "
    "boolean input parsing, and boolean ORDERING comparisons (t > f). "
    "Two documented divergences kept out: PG parses `a || b+c` as "
    "`a || (b+c)` (|| binds LOOSER than +) while Spark binds || "
    "tighter — parenthesize at migration; and whitespace-padded "
    "boolean text ('  true ') parses in PG but not DuckDB. Booleans "
    "are ::text-cast since PG concat renders bool as t/f.",
    ("scalar",),
)


register_regress(
    "regress_timestamp_at_time_zone",
    """
SELECT CAST(TIMESTAMP '2024-03-10 12:00:00'
            AT TIME ZONE 'America/New_York' AS text) AS t_ny,
       CAST(TIMESTAMP '2024-07-01 00:30:00'
            AT TIME ZONE 'Asia/Tokyo' AS text) AS t_tokyo,
       CAST(TIMESTAMP '2024-03-10 01:59:00'
            AT TIME ZONE 'America/New_York' AS text) AS t_before_dst,
       CAST(TIMESTAMP '2024-11-03 12:00:00'
            AT TIME ZONE 'America/New_York' AS text) AS t_after_fall
FROM (VALUES (1)) v(x)
""",
    "timestamptz.sql AT TIME ZONE battery (timestamp.c "
    "timestamp_zone): interpret a zoneless stamp in the named zone, "
    "yield the UTC instant — across the spring-forward and fall-back "
    "DST boundaries. Frontend maps the operator onto "
    "to_utc_timestamp; outputs text-cast (DuckDB renders timestamptz "
    "with a +00 suffix the normalizer strips from datetimes but not "
    "strings).",
    ("scalar",),
    oracle="""
SELECT CAST(CAST(TIMESTAMP '2024-03-10 12:00:00'
            AT TIME ZONE 'America/New_York' AS TIMESTAMP) AS text) AS t_ny,
       CAST(CAST(TIMESTAMP '2024-07-01 00:30:00'
            AT TIME ZONE 'Asia/Tokyo' AS TIMESTAMP) AS text) AS t_tokyo,
       CAST(CAST(TIMESTAMP '2024-03-10 01:59:00'
            AT TIME ZONE 'America/New_York' AS TIMESTAMP) AS text)
           AS t_before_dst,
       CAST(CAST(TIMESTAMP '2024-11-03 12:00:00'
            AT TIME ZONE 'America/New_York' AS TIMESTAMP) AS text)
           AS t_after_fall
FROM (VALUES (1)) v(x)
""",
)


# ---------------------------------------------------------------------------
# filter.sql — aggregate FILTER clause battery (parse_agg.c,
# nodeAgg.c aggstate->aggfilter). Window-FILTER shapes exercise the
# frontend's agg-FILTER-OVER -> CASE-nulled-args rewrite (Spark has no
# window FILTER).
# ---------------------------------------------------------------------------

register_regress(
    "regress_filter_count_star",
    """
SELECT count(*) AS c_all,
       count(*) FILTER (WHERE TRUE) AS c_true,
       count(*) FILTER (WHERE FALSE) AS c_false,
       count(*) FILTER (WHERE i < 5) AS c_lt5,
       count(*) FILTER (WHERE j = 1) AS c_j1
FROM filter_test
""",
    "src/test/regress/sql/filter.sql:18-24 — count(*) under "
    "TRUE/FALSE/predicate FILTERs beside the unfiltered count.",
    ("aggregate",),
)

register_regress(
    "regress_filter_agg_family",
    """
SELECT count(i) FILTER (WHERE i < 5) AS c_i,
       max(i) FILTER (WHERE i < 5) AS mx,
       min(i) FILTER (WHERE i < 5) AS mn,
       avg(i) FILTER (WHERE i < 5) AS av,
       CAST(sum(i) FILTER (WHERE i < 5) AS BIGINT) AS sm,
       count(i) FILTER (WHERE j = 1) AS c_j1
FROM filter_test
""",
    "filter.sql:27-63 — count/max/min/avg/sum each under the same "
    "FILTER, NULL i rows excluded by count(i) on both paths.",
    ("aggregate",),
)

register_regress(
    "regress_filter_sum_casts",
    """
SELECT CAST(sum(CAST(i AS smallint)) FILTER (WHERE i < 5) AS BIGINT) AS s2,
       CAST(sum(CAST(i AS int)) FILTER (WHERE i < 5) AS BIGINT) AS s4,
       CAST(sum(CAST(i AS bigint)) FILTER (WHERE i < 5) AS BIGINT) AS s8,
       sum(CAST(i AS double precision)) FILTER (WHERE i < 5) AS sf8,
       CAST(sum(CAST(i AS decimal(18, 3))) FILTER (WHERE i < 5)
            AS double precision) AS snum
FROM filter_test
""",
    "filter.sql:66-73 — SUM is non-strict for datatype upconversion; "
    "FILTER across int2/int4/int8/float8/numeric inputs (wide sums "
    "text-normalized to bigint/double: DuckDB sums to HUGEINT).",
    ("aggregate",),
)

register_regress(
    "regress_filter_window_cumulative",
    """
SELECT i, j,
       CAST(count(j) FILTER (WHERE i % 2 = 1)
            OVER (ORDER BY i NULLS LAST) AS BIGINT) AS c
FROM filter_test ORDER BY i NULLS LAST
""",
    "filter.sql:76-77 — FILTER on a cumulative window count; frontend "
    "rewrites to count(CASE WHEN ... END) OVER. NULLS LAST pinned (PG "
    "ASC default; Spark defaults NULLS FIRST).",
    ("window",),
)

register_regress(
    "regress_filter_window_partition",
    """
SELECT i, j,
       CAST(count(i) FILTER (WHERE i % 2 = 1)
            OVER (PARTITION BY j) AS BIGINT) AS c
FROM filter_test
""",
    "filter.sql:81-82 — FILTER on a whole-partition window count.",
    ("window",),
)

register_regress(
    "regress_filter_window_rolling",
    """
SELECT i, j, CAST(count(i) FILTER (WHERE j = 2) OVER w AS BIGINT) AS c
FROM filter_test
WINDOW w AS (ORDER BY i NULLS LAST
             ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
""",
    "filter.sql:84-88 — FILTER on a rolling-frame named window "
    "(original spells OVER(w); normalized to OVER w).",
    ("window",),
)

register_regress(
    "regress_filter_groupby_subtotal",
    """
SELECT o.j, o.count_even, o.count_odd, o.count_num,
       CAST(sum(count_num) OVER (ORDER BY j NULLS LAST) AS BIGINT)
           AS count_subtotal
FROM (SELECT j, count(i) FILTER (WHERE i % 2 = 0) AS count_even,
             count(i) FILTER (WHERE i % 2 = 1) AS count_odd,
             count(i) AS count_num
      FROM filter_test GROUP BY j) o
ORDER BY j NULLS LAST
""",
    "filter.sql:91-97 — even/odd FILTER counts per group feeding a "
    "running-subtotal window above the aggregate.",
    ("aggregate", "window"),
)

register_regress(
    "regress_filter_covar_pop",
    """
SELECT round(covar_pop(i, j), 6) AS cv_all,
       round(covar_pop(i, j) FILTER (WHERE i < 5), 6) AS cv_lt5,
       round(covar_pop(i, j) FILTER (WHERE j IN (1, 2)), 6) AS cv_j12
FROM filter_test
""",
    "filter.sql:100-104 — FILTER on a two-argument aggregate "
    "(covar_pop skips any-NULL pairs on both engines).",
    ("aggregate",),
)


# ---------------------------------------------------------------------------
# percentile.sql — ordered-set aggregate battery over the perct
# fixtures (orderedsetaggs.c percentile_cont/percentile_disc; GPDB
# median sugar).
# ---------------------------------------------------------------------------

register_regress(
    "regress_percentile_basic",
    """
SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY a) AS pc,
       median(a) AS med,
       CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY a)
            AS double precision) AS pd
FROM perct
""",
    "src/test/regress/sql/percentile.sql:45-46 — cont/median/disc "
    "agree at the 0.5 mark over 1..100.",
    ("aggregate",),
)

register_regress(
    "regress_percentile_group_desc",
    """
SELECT b, percentile_cont(0.2) WITHIN GROUP (ORDER BY a) AS p2,
       percentile_cont(0.8) WITHIN GROUP (ORDER BY a DESC) AS p8d
FROM perct GROUP BY b ORDER BY b
""",
    "percentile.sql:52-53 — ASC and DESC WITHIN GROUP orders in one "
    "grouped aggregate (0.2 asc == 0.8 desc).",
    ("aggregate",),
)

register_regress(
    "regress_percentile_with_plain_aggs",
    """
SELECT b, percentile_cont(0.1) WITHIN GROUP (ORDER BY a) AS p1,
       count(*) AS cnt, CAST(sum(a) AS BIGINT) AS sm
FROM perct GROUP BY b ORDER BY b
""",
    "percentile.sql:54-55 — ordered-set aggregate beside plain "
    "count/sum in the same GROUP BY.",
    ("aggregate",),
)

register_regress(
    "regress_percentile_expr_mix",
    """
SELECT b,
       percentile_cont(0.3) WITHIN GROUP (ORDER BY a) + count(*)
           AS pc_plus
FROM perct GROUP BY b ORDER BY b
""",
    "percentile.sql:57 — arithmetic over an ordered-set aggregate and "
    "count(*) in one select expression.",
    ("aggregate",),
)

register_regress(
    "regress_median_having",
    """
SELECT median(a) AS med FROM perct GROUP BY b HAVING median(a) = 5
""",
    "percentile.sql:58 — median in HAVING (only the b=0 group, a in "
    "1..9, has median 5).",
    ("aggregate",),
)

register_regress(
    "regress_median_count_distinct",
    """
SELECT b, count(*) AS cnt, count(DISTINCT a) AS cda, median(a) AS med
FROM perct3 GROUP BY b ORDER BY b
""",
    "percentile.sql:64 — median beside COUNT(DISTINCT) over the "
    "skew-replicated perct3 (multi-DQA + ordered-set in one agg).",
    ("aggregate",),
)

register_regress(
    "regress_median_null_col",
    """
SELECT median(a) AS ma, median(c) AS mc FROM perct4
""",
    "percentile.sql:68 — median skips NULL inputs (every 10th a "
    "nulled); all-NULL column yields NULL.",
    ("aggregate",),
)

register_regress(
    "regress_percentile_window_over_group",
    """
SELECT b, CAST(count(*) OVER (PARTITION BY b) AS BIGINT) AS cw,
       median(a) AS med
FROM perct GROUP BY b ORDER BY b
""",
    "percentile.sql:70 — window count above a grouped median (window "
    "input is the aggregate output, one row per b).",
    ("aggregate", "window"),
)

register_regress(
    "regress_percentile_sum_median_window",
    """
SELECT CAST(sum(median(a)) OVER (PARTITION BY b) AS double precision)
           AS smw
FROM perct GROUP BY b ORDER BY b
""",
    "percentile.sql:71 — sum(median(a)) OVER: ordered-set aggregate "
    "feeding a window aggregate.",
    ("aggregate", "window"),
)

register_regress(
    "regress_median_scalar_subq",
    """
SELECT CAST(sum((SELECT median(a) FROM perct)) AS double precision) AS s
FROM perct
""",
    "percentile.sql:79 — scalar subquery (whole-table median) summed "
    "once per row: 100 * 50.5.",
    ("aggregate", "subquery"),
)

register_regress(
    "regress_percentile_disc_zero",
    """
SELECT CAST(percentile_disc(0) WITHIN GROUP (ORDER BY a)
            AS double precision) AS p0
FROM perct
""",
    "percentile.sql:72 — percentile_disc(0) is the minimum.",
    ("aggregate",),
)

register_regress(
    "regress_median_distinct_pair",
    """
SELECT DISTINCT median(a) AS med, count(*) AS cnt FROM perct
""",
    "percentile.sql:99 — DISTINCT over a one-row aggregate result.",
    ("aggregate",),
)

register_regress(
    "regress_median_grouping_sets",
    """
SELECT median(a) AS med FROM perct GROUP BY GROUPING SETS ((b))
ORDER BY med
""",
    "percentile.sql:98 — median under a single-set GROUPING SETS "
    "(equivalent to GROUP BY b; ORDER BY the aggregate since b is "
    "not in the output list).",
    ("aggregate",),
)

register_regress(
    "regress_median_selfjoin_having",
    """
SELECT p1.a, 0.2 * avg(p2.a) AS avga,
       percentile_cont(0.34) WITHIN GROUP (ORDER BY p2.b) AS pc
FROM perct p1, perct p2
WHERE p1.a = p2.a GROUP BY p1.a HAVING median(p1.b) > 8
""",
    "percentile.sql:100-105 — equi-self-join with ordered-set "
    "aggregate and a median HAVING gate (threshold adapted 10 -> 8: "
    "the original is vacuously empty since b tops out at 10; 8 keeps "
    "the same plan with a non-empty differential).",
    ("aggregate", "join"),
)


# ---------------------------------------------------------------------------
# dedupset.sql — duplicate IN-sublink dedup shapes (the planner should
# collapse two IN subqueries over the same relation into one semi-join
# path; here the correctness side of those plans).
# ---------------------------------------------------------------------------

register_regress(
    "regress_dedup_in_twice",
    """
SELECT v1, v2 FROM dd_t1
WHERE v1 IN (SELECT v3 FROM dd_t2)
  AND v1 IN (SELECT v3 FROM dd_t2 WHERE v3 < 10)
ORDER BY v1
""",
    "src/test/regress/sql/dedupset.sql:49-52 — two IN sublinks over "
    "the same table, one restricted; intersection semantics.",
    ("subquery", "join"),
)

register_regress(
    "regress_dedup_in_cte",
    """
WITH cte1 AS (SELECT v3 FROM dd_t2)
SELECT count(*) AS cnt FROM dd_t1, dd_t2
WHERE dd_t1.v1 IN (SELECT v3 FROM cte1)
  AND dd_t1.v1 IN (SELECT v3 FROM cte1 WHERE v3 < 10)
""",
    "dedupset.sql:103 — the CTE variant above a cross join: 9 "
    "qualifying v1 x 100 dd_t2 rows.",
    ("subquery", "cte"),
)

register_regress(
    "regress_dedup_in_innerjoin",
    """
SELECT v1, v2 FROM dd_t1
WHERE v1 IN (SELECT v3 FROM dd_t2)
  AND v1 IN (SELECT v3 FROM dd_t2, dd_t3
             WHERE v4 = v6 AND v4 < 10)
ORDER BY v1
""",
    "dedupset.sql:119-120 — IN sublink whose subquery is itself an "
    "inner join on a different key.",
    ("subquery", "join"),
)

register_regress(
    "regress_dedup_in_exists_nested",
    """
SELECT count(*) AS cnt FROM dd_t1
WHERE v1 IN (SELECT v3 FROM dd_t2)
  AND v1 IN (SELECT v3 FROM dd_t2
             WHERE EXISTS (SELECT 1 FROM dd_t3 WHERE v5 = v3))
""",
    "dedupset.sql:146-149 — EXISTS nested inside an IN sublink "
    "(semi-join under semi-join), correlated one level only.",
    ("subquery", "join"),
)

register_regress(
    "regress_dedup_in_different_key",
    """
SELECT count(v1) AS cnt FROM dd_t1
WHERE v1 IN (SELECT v3 FROM dd_t2)
  AND v1 IN (SELECT v5 FROM dd_t2, dd_t3 WHERE v5 = v3)
""",
    "dedupset.sql:152-157 — second sublink projects the inner-join "
    "key from the other side (v5), defeating sublink dedup but not "
    "correctness.",
    ("subquery", "join"),
)


# ---------------------------------------------------------------------------
# correlated_subquery.sql — `= ALL (SELECT ...)` in the select list.
# Spark has no op-ALL quantified subqueries (and none at all outside
# WHERE), so the Spark side runs a hand-decorrelated rewrite: the
# subquery collapses to a broadcast 1-row (n, mn, mx) summary and the
# ALL verdict is a CASE over it — false iff a non-matching non-null
# element exists, true on empty input (cdbsubselect.c-style pull-up).
# The DuckDB oracle runs the ORIGINAL op-ALL text.
# ---------------------------------------------------------------------------

register_regress(
    "regress_all_quantified_select_list",
    """
SELECT v.a,
       CASE WHEN s1.n = 0 THEN TRUE
            WHEN v.a IS NULL THEN CAST(NULL AS BOOLEAN)
            WHEN s1.mn <> v.a OR s1.mx <> v.a THEN FALSE
            ELSE TRUE END AS all_12,
       CASE WHEN s2.n = 0 THEN TRUE
            WHEN v.a IS NULL THEN CAST(NULL AS BOOLEAN)
            WHEN s2.mn <> v.a OR s2.mx <> v.a THEN FALSE
            ELSE TRUE END AS all_22
FROM (VALUES (1), (2)) v(a)
CROSS JOIN (SELECT count(*) AS n, min(g) AS mn, max(g) AS mx
            FROM generate_series(1, 2) AS gs(g)) s1
CROSS JOIN (SELECT count(*) AS n, min(g) AS mn, max(g) AS mx
            FROM generate_series(2, 2) AS gs(g)) s2
ORDER BY a
""",
    "src/test/regress/sql/correlated_subquery.sql:7-8 — `a = ALL "
    "(SELECT generate_series(..))` per outer row; oracle runs the "
    "original quantified form, Spark the summary-join decorrelation.",
    ("subquery",),
    oracle="""
SELECT v.a,
       a = ALL (SELECT g FROM generate_series(1, 2) AS gs(g)) AS all_12,
       a = ALL (SELECT g FROM generate_series(2, 2) AS gs(g)) AS all_22
FROM (VALUES (1), (2)) v(a)
ORDER BY a
""",
)

register_regress(
    "regress_all_quantified_const",
    """
SELECT CASE WHEN s1.n = 0 THEN TRUE
            WHEN s1.mn <> 2 OR s1.mx <> 2 THEN FALSE
            ELSE TRUE END AS b1,
       CASE WHEN s2.n = 0 THEN TRUE
            WHEN s2.mn <> 2 + 1 OR s2.mx <> 2 + 1 THEN FALSE
            ELSE TRUE END AS b2,
       CASE WHEN s3.n = 0 THEN TRUE
            WHEN s3.mn <> (SELECT 3) OR s3.mx <> (SELECT 3) THEN FALSE
            ELSE TRUE END AS b3
FROM (SELECT count(*) AS n, min(g) AS mn, max(g) AS mx
      FROM generate_series(2, 3) AS gs(g)) s1
CROSS JOIN (SELECT count(*) AS n, min(g) AS mn, max(g) AS mx
            FROM generate_series(3, 3) AS gs(g)) s2
CROSS JOIN (SELECT count(*) AS n, min(g) AS mn, max(g) AS mx
            FROM generate_series(3, 3) AS gs(g)) s3
""",
    "correlated_subquery.sql:9-20 — constant, arithmetic, and "
    "scalar-subquery left operands of = ALL; same decorrelation, "
    "oracle quantified.",
    ("subquery",),
    oracle="""
SELECT 2 = ALL (SELECT g FROM generate_series(2, 3) AS gs(g)) AS b1,
       2 + 1 = ALL (SELECT g FROM generate_series(3, 3) AS gs(g)) AS b2,
       (SELECT 3) = ALL (SELECT g FROM generate_series(3, 3) AS gs(g)) AS b3
""",
)


register_regress(
    "regress_decode_nested",
    """
SELECT pid, DECODE(DECODE(state, '', NULL, state), '-', NULL, state)
           AS state2
FROM (VALUES (1, 1, CAST(NULL AS varchar(30))), (2, 1, ''),
             (3, 2, '-'), (4, 2, 'ok')) t(pid, wid, state)
ORDER BY pid
""",
    "src/test/regress/sql/nested_case_null.sql:14 — nested DECODE "
    "with empty-string/dash sentinels (orafce decode; Spark decode is "
    "native and NULL-matching like Oracle; rows extended from the "
    "original single row to cover every branch). DuckDB oracle "
    "spells the CASE/IS NOT DISTINCT FROM equivalent.",
    ("scalar",),
    oracle="""
SELECT pid,
       CASE WHEN (CASE WHEN state IS NOT DISTINCT FROM '' THEN NULL
                       ELSE state END) IS NOT DISTINCT FROM '-'
            THEN NULL ELSE state END AS state2
FROM (VALUES (1, 1, CAST(NULL AS varchar(30))), (2, 1, ''),
             (3, 2, '-'), (4, 2, 'ok')) t(pid, wid, state)
ORDER BY pid
""",
)


# ---------------------------------------------------------------------------
# int4.sql / text.sql — integer arithmetic corners and string-function
# batteries (int.c, varlena.c).
# ---------------------------------------------------------------------------

register_regress(
    "regress_int4_mixed_arith",
    """
SELECT CAST(2 AS smallint) * CAST(2 AS smallint)
           = CAST(16 AS smallint) / CAST(4 AS smallint) AS t1,
       CAST(2 AS int) * CAST(2 AS smallint)
           = CAST(16 AS smallint) / CAST(4 AS int) AS t2,
       CAST(1000 AS int) < CAST(999 AS int) AS f1,
       -2 + 3 AS one, 4 - 2 AS two, 2 - -1 AS three, 2 - -2 AS four,
       1 + 1 + 1 + 1 + 1 + 1 + 1 + 1 + 1 + 1 AS ten,
       2 + 2 / 2 AS three2, (2 + 2) / 2 AS two2
FROM (VALUES (1)) v(x)
""",
    "src/test/regress/sql/int4.sql:102-115 — mixed int2/int4 "
    "arithmetic identities, unary-minus parsing, +/ precedence "
    "(division yields double on both engines where PG truncates — "
    "the equalities and sums are division-free or exact).",
    ("scalar",),
)

register_regress(
    "regress_int4_shift_corner",
    """
SELECT CAST(-1 << 31 AS string) AS smin,
       CAST((-1 << 31) + 1 AS string) AS smin1,
       (1 << 30) AS p30
FROM (VALUES (1)) v(x)
""",
    "int4.sql:117-119 — INT_MIN via left shift, as text (int.c "
    "int4shl). DuckDB refuses shifting negative numbers, so the "
    "oracle builds the same values from a positive BIGINT shift.",
    ("scalar",),
    oracle="""
SELECT (-(CAST(1 AS BIGINT) << 31))::int::text AS smin,
       ((-(CAST(1 AS BIGINT) << 31)) + 1)::int::text AS smin1,
       (1 << 30) AS p30
FROM (VALUES (1)) v(x)
""",
)

register_regress(
    "regress_int4_cast_rounding",
    """
SELECT x, CAST(rint(x) AS int) AS int4_value
FROM (VALUES (CAST(-2.5 AS double precision)), (-1.5), (-0.5), (0.0),
             (0.5), (1.5), (2.5)) t(x)
ORDER BY x
""",
    "int4.sql:127-134 — float8 -> int4 rounds HALF-EVEN in PG "
    "(ftoi4 rint); Spark CAST truncates, so the Spark side spells "
    "rint() explicitly while the oracle runs the plain PG cast.",
    ("scalar",),
    oracle="""
SELECT x, x::int4 AS int4_value
FROM (VALUES ((-2.5)::float8), (-1.5), (-0.5), (0.0),
             (0.5), (1.5), (2.5)) t(x)
ORDER BY x
""",
)

register_regress(
    "regress_int4_numeric_rounding",
    """
SELECT CAST(x AS double precision) AS x,
       CAST(round(x, 0) AS int) AS int4_value
FROM (VALUES (CAST(-2.5 AS decimal(10, 1))), (-1.5), (-0.5), (0.0),
             (0.5), (1.5), (2.5)) t(x)
ORDER BY x
""",
    "int4.sql:136-144 — numeric -> int4 rounds HALF-AWAY in PG "
    "(numeric.c); Spark CAST truncates decimals, so the Spark side "
    "rounds explicitly (Spark round on DECIMAL is HALF_UP = "
    "half-away) while the oracle runs the plain cast.",
    ("scalar",),
    oracle="""
SELECT x::float8 AS x, x::int4 AS int4_value
FROM (VALUES ((-2.5)::decimal(10,1)), (-1.5), (-0.5), (0.0),
             (0.5), (1.5), (2.5)) t(x)
ORDER BY x
""",
)

register_regress(
    "regress_text_left_right_negative",
    """
SELECT CAST(i AS BIGINT) AS i, left('ahoj', i) AS l, right('ahoj', i) AS r
FROM generate_series(-5, 5) t(i) ORDER BY i
""",
    "src/test/regress/sql/text.sql:49 — left/right across negative "
    "lengths (varlena.c text_left: -n = all but last/first n); "
    "frontend rewrites non-literal lengths to a sign-dispatching "
    "CASE since Spark returns '' for negatives.",
    ("scalar",),
)

register_regress(
    "regress_text_concat_family",
    """
SELECT concat('one') AS c1,
       concat(1, 2, 3, 'hello') AS c2,
       concat_ws('#', 'one') AS w1,
       concat_ws('#', 1, 2, 3, 'hello') AS w2,
       concat_ws(',', 10, 20, NULL, 30) AS w3,
       concat_ws('', 10, 20, NULL, 30) AS w4,
       concat_ws(CAST(NULL AS string), 10, 20, NULL, 30) IS NULL AS wn,
       reverse('abcde') AS rev
FROM (VALUES (1)) v(x)
""",
    "text.sql:40-47 — concat/concat_ws battery: NULL elements "
    "skipped, empty separator, NULL separator nulls the result "
    "(varlena.c text_concat_ws). Boolean/date args omitted: PG "
    "renders them via output functions (t/f), Spark via CAST "
    "(true/false) — documented divergence.",
    ("scalar",),
)

register_regress(
    "regress_text_format_basic",
    """
SELECT format('Hello %s', 'World') AS f1,
       format('Hello %%') AS f2,
       format('%s%s%s', 'Hello', NULL, 'World') AS f3,
       format('%1$s %3$s', 1, 2, 3) AS f4,
       format('Hello %s %1$s %s', 'World', 'again') AS f5
FROM (VALUES (1)) v(x)
""",
    "text.sql:65-92 — PG format(): %s, %%, NULL-renders-empty, %n$ "
    "positional and mixed positional/sequential refs (varlena.c "
    "text_format). Frontend maps onto format_string with "
    "NULL-as-empty arg wrapping; oracle spells the expected "
    "concatenations (DuckDB format is fmt-style, not printf).",
    ("scalar",),
    oracle="""
SELECT 'Hello ' || 'World' AS f1,
       'Hello %' AS f2,
       'Hello' || '' || 'World' AS f3,
       '1 3' AS f4,
       'Hello World World again' AS f5
FROM (VALUES (1)) v(x)
""",
)

register_regress(
    "regress_text_format_width",
    """
SELECT format('>>%10s<<', 'Hello') AS w1,
       format('>>%10s<<', CAST(NULL AS string)) AS w2,
       format('>>%10s<<', '') AS w3,
       format('>>%-10s<<', '') AS w4,
       format('>>%-10s<<', 'Hello') AS w5,
       format('>>%1$10s<<', 'Hello') AS w6
FROM (VALUES (1)) v(x)
""",
    "text.sql:105-112 — format field widths with right (default) and "
    "left (-) alignment, NULL rendering as width spaces.",
    ("scalar",),
    oracle="""
SELECT '>>' || lpad('Hello', 10, ' ') || '<<' AS w1,
       '>>' || repeat(' ', 10) || '<<' AS w2,
       '>>' || repeat(' ', 10) || '<<' AS w3,
       '>>' || repeat(' ', 10) || '<<' AS w4,
       '>>' || rpad('Hello', 10, ' ') || '<<' AS w5,
       '>>' || lpad('Hello', 10, ' ') || '<<' AS w6
FROM (VALUES (1)) v(x)
""",
)


register_regress(
    "regress_expr_in_list_nulls",
    """
SELECT CAST(1 IN (10, 9, 2, 8, 3, 7, 4, 6, 5, 1) AS string) AS t1,
       CAST(1 IN (10, 9, 2, 8, 3, 7, 4, 6, 5, NULL) AS string) AS n1,
       CAST(1 IN (NULL, NULL, NULL, NULL, NULL) AS string) AS n2,
       CAST(1 IN (10, 9, 2, 8, 3, 7, 4, 6, 5, 1, NULL) AS string) AS t2,
       CAST(CAST(NULL AS int) IN (10, 9, 2, 8, 3) AS string) AS n3,
       CAST('a' IN ('a', 'b', 'c', 'd', 'e') AS string) AS t3,
       CAST(1 NOT IN (10, 9, 2, 8, 3, 7, 4, 6, 5, 1) AS string) AS f1,
       CAST(1 NOT IN (10, 9, 2, 8, 3, 7, 4, 6, 5, 0) AS string) AS t4,
       CAST(1 NOT IN (10, 9, 2, 8, 3, 7, 4, 6, 5, 2, NULL) AS string) AS n4,
       CAST(1 NOT IN (10, 9, 2, 8, 3, 7, 4, 6, 5, 1, NULL) AS string) AS f2,
       CAST(CAST(NULL AS int) NOT IN (10, 9) AS string) AS n5
FROM (VALUES (1)) v(x)
""",
    "src/test/regress/sql/expressions.sql:170-186 — ScalarArrayOpExpr "
    "IN/NOT IN list battery with NULL elements and NULL probes: "
    "three-valued logic (TRUE beats NULL for IN, FALSE beats NULL for "
    "NOT IN). Stable-function wrappers dropped (the VALUES row "
    "defeats constant folding the same way); booleans text-cast so "
    "NULL verdicts stay dtype-exact cross-engine.",
    ("scalar",),
)

register_regress(
    "regress_interval_daytime_cmp",
    """
WITH itbl(id, f1) AS (
  VALUES (1, INTERVAL '1' MINUTE),
         (2, INTERVAL '5' HOUR),
         (3, INTERVAL '10' DAY),
         (4, INTERVAL '-14' SECOND),
         (5, INTERVAL '1' DAY + INTERVAL '2' HOUR
             + INTERVAL '3' MINUTE + INTERVAL '4' SECOND)
)
SELECT count(CASE WHEN f1 <> INTERVAL '10' DAY THEN 1 END) AS ne_10d,
       count(CASE WHEN f1 <= INTERVAL '5' HOUR THEN 1 END) AS le_5h,
       count(CASE WHEN f1 < INTERVAL '1' DAY THEN 1 END) AS lt_1d,
       count(CASE WHEN f1 > INTERVAL '-3' SECOND THEN 1 END) AS gt_m3s,
       (SELECT count(*) FROM itbl r1, itbl r2 WHERE r1.f1 > r2.f1)
           AS gt_pairs
FROM itbl
""",
    "src/test/regress/sql/interval.sql:44-67 — interval comparison "
    "battery over the INTERVAL_TBL day-time rows (the year/month rows "
    "are excluded: Spark day-time and year-month intervals are "
    "disjoint incomparable types, a documented divergence from PG's "
    "unified interval; timestamptz.c interval_cmp).",
    ("scalar",),
)


# ---------------------------------------------------------------------------
# bfv_aggregate.sql — GP aggregate bug-fix-verification tier. The
# window-in-IN-subquery shapes correlate a window's PARTITION/ORDER key
# to the outer query (legal in PG, constant per outer row); BOTH Spark
# and DuckDB reject correlated windows, so each side runs an
# equivalent decorrelation: the constant partition/order collapses the
# window to its whole-set / all-tied form (cdbgroup.c bug MPP-series).
# ---------------------------------------------------------------------------

register_regress(
    "regress_bfvagg_win_in_rownumber",
    """
SELECT a, b, c FROM x_outer
WHERE a IN (SELECT row_number() OVER (ORDER BY e) FROM y_inner)
ORDER BY 1, 2
""",
    "src/test/regress/sql/bfv_aggregate.sql:17 — IN over a "
    "row_number() subquery (original: OVER (PARTITION BY a) "
    "correlated to the outer row — a constant partition, so the "
    "row_number set is 1..n either way; Spark side orders by e, "
    "oracle materializes the window in a FROM-subquery).",
    ("window", "subquery"),
    oracle="""
SELECT a, b, c FROM x_outer
WHERE a IN (SELECT rn FROM (SELECT row_number() OVER () AS rn
                            FROM y_inner) s)
ORDER BY 1, 2
""",
)

register_regress(
    "regress_bfvagg_win_in_rank",
    """
SELECT a, b, c FROM x_outer
WHERE a IN (SELECT rank() OVER (ORDER BY k)
            FROM (SELECT 0 AS k FROM y_inner) s0)
ORDER BY 1, 2
""",
    "bfv_aggregate.sql:20 — IN over rank() whose ORDER key is the "
    "correlated outer column (constant per row): every rank ties at "
    "1, so the membership set is {1}.",
    ("window", "subquery"),
    oracle="""
SELECT a, b, c FROM x_outer
WHERE a IN (SELECT r FROM (SELECT rank() OVER (ORDER BY k) AS r
                           FROM (SELECT 0 AS k FROM y_inner) s0) s)
ORDER BY 1, 2
""",
)

register_regress(
    "regress_bfvagg_win_notin_rank",
    """
SELECT a, b, c FROM x_outer
WHERE a NOT IN (SELECT rank() OVER (ORDER BY k)
                FROM (SELECT 0 AS k FROM y_inner) s0)
ORDER BY 1, 2
""",
    "bfv_aggregate.sql:23 — the NOT IN complement of the all-tied "
    "rank set {1}.",
    ("window", "subquery"),
    oracle="""
SELECT a, b, c FROM x_outer
WHERE a NOT IN (SELECT r FROM (SELECT rank() OVER (ORDER BY k) AS r
                               FROM (SELECT 0 AS k FROM y_inner) s0) s)
ORDER BY 1, 2
""",
)

register_regress(
    "regress_bfvagg_exists_win",
    """
SELECT a, b, c FROM x_outer
WHERE EXISTS (SELECT 1 FROM y_inner WHERE d = a)
  AND NOT EXISTS (SELECT 1 FROM y_inner WHERE d = a + 3)
ORDER BY 1, 2
""",
    "bfv_aggregate.sql:26-29 — EXISTS/NOT EXISTS whose subquery "
    "carries a correlated-order rank() window: under EXISTS the "
    "window is vacuous (non-emptiness only), so both engines run the "
    "plain-EXISTS reduction.",
    ("subquery", "join"),
)

register_regress(
    "regress_bfvagg_median_ordinal",
    """
SELECT 1 AS one, to_char(col1, 'YYYY') AS y, median(col2) AS med
FROM bfvagg_d GROUP BY 1, 2
""",
    "bfv_aggregate.sql:40 — median grouped by ORDINAL refs where one "
    "key is a constant and one a to_char projection (frontend maps "
    "the PG datetime template onto date_format; DuckDB oracle spells "
    "strftime).",
    ("aggregate",),
    oracle="""
SELECT 1 AS one, strftime(col1, '%Y') AS y, median(col2) AS med
FROM bfvagg_d GROUP BY 1, 2
""",
)

register_regress(
    "regress_bfvagg_stringagg_windows",
    """
SELECT b,
       string_agg(b, '') OVER (PARTITION BY a) AS s1,
       string_agg(b, '') OVER (PARTITION BY a, b) AS s2,
       string_agg(b, '') OVER (PARTITION BY a + 1) AS s3,
       string_agg(b || 'txt', '') OVER (PARTITION BY a) AS s4,
       string_agg(b, '') OVER (PARTITION BY a ORDER BY a) AS s5,
       '1' || string_agg(b, '') OVER (PARTITION BY a + 1 ORDER BY a + 1)
           AS s6,
       max(b) OVER (PARTITION BY a) AS mx
FROM bfvagg_foo ORDER BY b
""",
    "bfv_aggregate.sql:171-180 — string_agg as a WINDOW aggregate "
    "(MPP-23744 class): plain, multi-key, expression partition keys, "
    "expression input, with ORDER BY, and concatenated above the "
    "window. Frontend maps string_agg -> listagg, window form kept.",
    ("window", "aggregate"),
)


register_regress(
    "regress_bfvagg_many_sums",
    '\nSELECT c0, c1,\n       CAST(array_length(ARRAY[\n SUM(c4 % 2),\n SUM(c4 % 3),\n SUM(c4 % 4),\n SUM(c4 % 5),\n SUM(c4 % 6),\n SUM(c4 % 7),\n SUM(c4 % 8),\n SUM(c4 % 9),\n SUM(c4 % 10),\n SUM(c4 % 11),\n SUM(c4 % 12),\n SUM(c4 % 13),\n SUM(c4 % 14),\n SUM(c4 % 15),\n SUM(c4 % 16),\n SUM(c4 % 17),\n SUM(c4 % 18),\n SUM(c4 % 19),\n SUM(c4 % 20),\n SUM(c4 % 21),\n SUM(c4 % 22),\n SUM(c4 % 23),\n SUM(c4 % 24),\n SUM(c4 % 25),\n SUM(c4 % 26),\n SUM(c4 % 27),\n SUM(c4 % 28),\n SUM(c4 % 29),\n SUM(c4 % 30),\n SUM(c4 % 31),\n SUM(c4 % 32),\n SUM(c4 % 33),\n SUM(c4 % 34),\n SUM(c4 % 35),\n SUM(c4 % 36),\n SUM(c4 % 37),\n SUM(c4 % 38),\n SUM(c4 % 39),\n SUM(c4 % 40),\n SUM(c4 % 41),\n SUM(c4 % 42),\n SUM(c4 % 43),\n SUM(c4 % 44),\n SUM(c4 % 45),\n SUM(c4 % 46),\n SUM(c4 % 47),\n SUM(c4 % 48),\n SUM(c4 % 49),\n SUM(c4 % 50),\n SUM(c4 % 51),\n SUM(c4 % 52),\n SUM(c4 % 53),\n SUM(c4 % 54),\n SUM(c4 % 55),\n SUM(c4 % 56),\n SUM(c4 % 57),\n SUM(c4 % 58),\n SUM(c4 % 59),\n SUM(c4 % 60),\n SUM(c4 % 61),\n SUM(c4 % 62),\n SUM(c4 % 63),\n SUM(c4 % 64),\n SUM(c4 % 65),\n SUM(c4 % 66),\n SUM(c4 % 67),\n SUM(c4 % 68),\n SUM(c4 % 69),\n SUM(c4 % 70),\n SUM(c4 % 71),\n SUM(c4 % 72),\n SUM(c4 % 73),\n SUM(c4 % 74),\n SUM(c4 % 75),\n SUM(c4 % 76),\n SUM(c4 % 77),\n SUM(c4 % 78),\n SUM(c4 % 79),\n SUM(c4 % 80),\n SUM(c4 % 81),\n SUM(c4 % 82),\n SUM(c4 % 83),\n SUM(c4 % 84),\n SUM(c4 % 85),\n SUM(c4 % 86),\n SUM(c4 % 87),\n SUM(c4 % 88),\n SUM(c4 % 89),\n SUM(c4 % 90),\n SUM(c4 % 91),\n SUM(c4 % 92),\n SUM(c4 % 93),\n SUM(c4 % 94),\n SUM(c4 % 95),\n SUM(c4 % 96),\n SUM(c4 % 97),\n SUM(c4 % 98),\n SUM(c4 % 99),\n SUM(c4 % 100)], 1) AS BIGINT) AS n_aggs,\n       CAST(SUM(c3 % 7) AS BIGINT) AS s7\nFROM mtup1 GROUP BY c0, c1\n',
    "bfv_aggregate.sql:212-324 — 99 SUM aggregates in one GROUP BY "
    "(the reference stresses the >64-aggregate TupleSplit path) "
    "collected into an ARRAY whose length is the output; c4 is NULL "
    "in the reference fixture so every modular sum is NULL, plus one "
    "real c3 sum beside them.",
    ("aggregate",),
)


# ---------------------------------------------------------------------------
# arrays.sql — 1-D array function/operator battery (arrayfuncs.c).
# Multidimensional arrays are a documented non-goal (Spark arrays are
# strictly nested-1-D); the multidim rows of the reference file are
# out of scope.
# ---------------------------------------------------------------------------

register_regress(
    "regress_array_append_cat",
    """
SELECT array_to_string(array_append(ARRAY[CAST(42 AS BIGINT)], 6), ',')
           AS a1,
       array_to_string(
           array_prepend(CAST(6 AS BIGINT), ARRAY[CAST(42 AS BIGINT)]), ',')
           AS a2,
       array_to_string(array_cat(ARRAY[CAST(1 AS BIGINT), 2],
                                 ARRAY[CAST(3 AS BIGINT), 4]), ',') AS a3,
       array_to_string(
           ARRAY[CAST(1 AS BIGINT), 2] || ARRAY[CAST(3 AS BIGINT), 4], ',')
           AS a4,
       array_to_string(ARRAY[CAST(0 AS BIGINT), 0]
           || ARRAY[CAST(1 AS BIGINT), 1]
           || ARRAY[CAST(2 AS BIGINT), 2], ',') AS a5,
       array_join(ARRAY[CAST(1 AS BIGINT), NULL, 3], ',', 'N') AS a6
FROM (VALUES (1)) v(x)
""",
    "src/test/regress/sql/arrays.sql:205-258 — array_append/prepend/"
    "cat, || concatenation chains, NULL elements rendered through a "
    "null-sentinel join (cross-engine NULL-in-array dtypes differ) "
    "(frontend maps array_cat -> concat; || on arrays is "
    "Spark-native). All arrays string-joined for driver-hash safety.",
    ("array",),
    oracle="""
SELECT array_to_string(array_append(ARRAY[CAST(42 AS BIGINT)], 6), ',')
           AS a1,
       array_to_string(
           array_prepend(CAST(6 AS BIGINT), ARRAY[CAST(42 AS BIGINT)]), ',')
           AS a2,
       array_to_string(array_cat(ARRAY[CAST(1 AS BIGINT), 2],
                                 ARRAY[CAST(3 AS BIGINT), 4]), ',') AS a3,
       array_to_string(
           ARRAY[CAST(1 AS BIGINT), 2] || ARRAY[CAST(3 AS BIGINT), 4], ',')
           AS a4,
       array_to_string(ARRAY[CAST(0 AS BIGINT), 0]
           || ARRAY[CAST(1 AS BIGINT), 1]
           || ARRAY[CAST(2 AS BIGINT), 2], ',') AS a5,
       array_to_string(list_transform(ARRAY[1, NULL, 3],
           x -> coalesce(CAST(x AS VARCHAR), 'N')), ',') AS a6
FROM (VALUES (1)) v(x)
""",
)

register_regress(
    "regress_array_position_nulls",
    """
SELECT nullif(array_position(ARRAY[CAST(1 AS BIGINT),2,3,4,5], 4), 0)
           AS p1,
       nullif(array_position(ARRAY[CAST(5 AS BIGINT),3,4,2,1], 4), 0)
           AS p2,
       nullif(array_position(
           ARRAY['sun','mon','tue','wed','thu','fri','sat'], 'mon'), 0)
           AS p3,
       nullif(array_position(
           ARRAY['sun','mon','tue','wed','thu','fri','sat'], 'xyz'), 0)
           AS p_nf,
       nullif(array_position(
           transform(ARRAY['sun','mon',NULL,'fri'], x -> x IS NULL),
           true), 0) AS p_null
FROM (VALUES (1)) v(x)
""",
    "arrays.sql:211-219 — array_position battery: PG returns NULL on "
    "not-found (both engines return 0: nullif-wrapped to PG "
    "semantics) and matches NULL elements (neither engine does: the "
    "IS NULL projection finds the first NULL on both).",
    ("array",),
    oracle="""
SELECT CAST(nullif(array_position(ARRAY[1,2,3,4,5], 4), 0) AS BIGINT)
           AS p1,
       CAST(nullif(array_position(ARRAY[5,3,4,2,1], 4), 0) AS BIGINT)
           AS p2,
       CAST(nullif(array_position(
           ARRAY['sun','mon','tue','wed','thu','fri','sat'], 'mon'), 0)
           AS BIGINT) AS p3,
       CAST(nullif(array_position(
           ARRAY['sun','mon','tue','wed','thu','fri','sat'], 'xyz'), 0)
           AS BIGINT) AS p_nf,
       CAST(nullif(list_position(
           list_transform(ARRAY['sun','mon',NULL,'fri'],
                          x -> x IS NULL), true), 0) AS BIGINT) AS p_null
""",
)

register_regress(
    "regress_array_positions",
    """
SELECT array_join(
         filter(transform(ARRAY[CAST(1 AS BIGINT),2,3,4,5,6,1,2,3,4,5,6],
                        (x, idx) -> CASE WHEN x = 4 THEN
                            CAST(idx + 1 AS BIGINT) END),
              p -> p IS NOT NULL), ',') AS pos4,
       array_join(
         filter(transform(ARRAY[CAST(1 AS BIGINT),2,3,NULL,5,6,1,2,3,NULL],
                        (x, idx) -> CASE WHEN x IS NULL THEN
                            CAST(idx + 1 AS BIGINT) END),
              p -> p IS NOT NULL), ',') AS posnull
FROM (VALUES (1)) v(x)
""",
    "arrays.sql:221-226 — array_positions (all 1-based match "
    "positions, including NULL matches): Spark spells the "
    "index-lambda filter; DuckDB oracle rebuilds via a "
    "generate_series subscript scan.",
    ("array",),
    oracle="""
SELECT (SELECT coalesce(array_to_string(list(g ORDER BY g), ','), '')
        FROM (SELECT unnest(generate_series(1,
                  len(ARRAY[1,2,3,4,5,6,1,2,3,4,5,6]))) AS g) s
        WHERE (ARRAY[1,2,3,4,5,6,1,2,3,4,5,6])[g] = 4) AS pos4,
       (SELECT coalesce(array_to_string(list(g ORDER BY g), ','), '')
        FROM (SELECT unnest(generate_series(1,
                  len(ARRAY[1,2,3,NULL,5,6,1,2,3,NULL]))) AS g) s
        WHERE (ARRAY[1,2,3,NULL,5,6,1,2,3,NULL])[g] IS NULL) AS posnull
""",
)

register_regress(
    "regress_array_literal_casts",
    """
SELECT array_join('{1,2,3}'::int8[], ',') AS a1,
       array_join('{a,b,c}'::text[], ',') AS a2,
       array_join(CAST(ARRAY[CAST(1 AS BIGINT), 2, 3] AS ARRAY<STRING>), ',')
           AS a3,
       array_join(CAST(ARRAY['1', '2'] AS ARRAY<BIGINT>), ',') AS a4,
       array_join('{}'::int8[], ',') AS a_empty
FROM (VALUES (1)) v(x)
""",
    "arrays.sql:84-90,290-293 — PG array-literal casts "
    "('{..}'::type[], arrayfuncs.c array_in) via the frontend "
    "array(...)-literal rewrite, plus whole-array type-cast chains; "
    "DuckDB has no array_in so the oracle spells ARRAY forms. "
    "String-joined for driver-hash safety (CORRECTNESS_r05 red).",
    ("array",),
    oracle="""
SELECT array_to_string(ARRAY[CAST(1 AS BIGINT), 2, 3], ',') AS a1,
       array_to_string(ARRAY['a', 'b', 'c'], ',') AS a2,
       array_to_string(CAST(ARRAY[1, 2, 3] AS VARCHAR[]), ',') AS a3,
       array_to_string(CAST(ARRAY['1', '2'] AS BIGINT[]), ',') AS a4,
       coalesce(array_to_string(CAST([] AS BIGINT[]), ','), '') AS a_empty
""",
)

register_regress(
    "regress_array_op_fixture",
    """
SELECT seqno FROM arr_op WHERE i @> '{32}'::int8[] ORDER BY seqno
""",
    "arrays.sql:262-267 — @> containment over the fixture (rows whose "
    "i contains 32).",
    ("array",),
    oracle="""
SELECT seqno FROM arr_op
WHERE list_has_all(i, ARRAY[CAST(32 AS BIGINT)]) ORDER BY seqno
""",
)

register_regress(
    "regress_array_op_overlap_contained",
    """
SELECT
  (SELECT count(*) FROM arr_op WHERE i && '{32,17}'::int8[]) AS n_overlap,
  (SELECT count(*) FROM arr_op WHERE i <@ '{38,34,32,89}'::int8[])
      AS n_contained,
  (SELECT count(*) FROM arr_op WHERE t @> '{AA}'::text[]) AS n_t_aa,
  (SELECT count(*) FROM arr_op WHERE i @> '{}'::int8[]) AS n_all
FROM (VALUES (1)) v(x)
""",
    "arrays.sql:268-287 — overlap/contained-by/containment counts, "
    "including the vacuous empty-probe containment (every row "
    "contains the empty set). DuckDB list_has_all ignores NULL "
    "elements where PG containment rejects them — the oracle adds "
    "the explicit null-element guard.",
    ("array",),
    oracle="""
SELECT
  (SELECT count(*) FROM arr_op
   WHERE list_has_any(i, ARRAY[CAST(32 AS BIGINT), 17])) AS n_overlap,
  (SELECT count(*) FROM arr_op
   WHERE list_has_all(ARRAY[CAST(38 AS BIGINT),34,32,89], i)
     AND NOT coalesce(list_contains(
         list_transform(i, x -> x IS NULL), true), false))
      AS n_contained,
  (SELECT count(*) FROM arr_op WHERE list_has_all(t, ARRAY['AA']))
      AS n_t_aa,
  (SELECT count(*) FROM arr_op
   WHERE list_has_all(i, CAST([] AS BIGINT[]))) AS n_all
FROM (VALUES (1)) v(x)
""",
)

register_regress(
    "regress_array_subquery_constructor",
    """
SELECT (SELECT array_join(array_sort(
            collect_list(CAST(f2 AS DECIMAL(6,2)))), ',')
        FROM arrtest_f) AS arr
FROM (VALUES (1)) v(x)
""",
    "arrays.sql:199 (MPP-11853) — ARRAY(SELECT .. ORDER BY ..) "
    "subquery constructor: Spark collects and sorts, oracle runs the "
    "PG ARRAY() form (string-joined through DECIMAL(6,2) so the "
    "float cells render identically on both engines and the driver "
    "hash never sees a raw ARRAY).",
    ("array", "subquery"),
    oracle="""
SELECT array_to_string(
    ARRAY(SELECT CAST(f2 AS DECIMAL(6,2)) FROM arrtest_f ORDER BY 1),
    ',') AS arr
""",
)


# ---------------------------------------------------------------------------
# gp_aggregates.sql tier 2 — the shapes the earlier battery skipped:
# SRF-in-targetlist beside an aggregate, multi-phase DQA over a grouped
# subquery scan, Unique over a single ungrouped aggregate row.
# ---------------------------------------------------------------------------

register_regress(
    "regress_gpagg_srf_with_agg",
    """
select avg(unique2) AS au, g from tenk1, generate_series(1,3) t(g)
group by g order by g desc
""",
    "src/test/regress/sql/gp_aggregates.sql:105 — SRF in the "
    "targetlist beside an aggregate: PG computes the agg then expands "
    "the row 3x. Neither Spark nor DuckDB allows a generator beside "
    "an aggregate, so both sides run the equivalent cross-join + "
    "GROUP BY form (the global avg is unchanged under replication); "
    "same rows as the PG original.",
    ("aggregate", "srf"),
)

register_regress(
    "regress_gpagg_multiagg_subquery",
    """
select count(distinct j) AS cj, count(distinct k) AS ck,
       count(distinct m) AS cm
from (select j, k, m
      from (select CAST(i AS BIGINT) AS j, CAST(i + 1 AS BIGINT) AS k,
                   CAST(i + 2 AS BIGINT) AS m
            from generate_series(1, 10) t(i)) multiagg_with_subquery
      group by j, k, m) sub
group by j order by cj
""",
    "gp_aggregates.sql:163-165 — multi-phase 3-way DQA above a "
    "grouped subquery scan (the temp table is inlined as a "
    "generate_series projection).",
    ("aggregate",),
)

register_regress(
    "regress_gpagg_distinct_single_agg",
    """
SELECT DISTINCT avg(c1) AS a FROM generate_series(1,2) t(c1)
""",
    "gp_aggregates.sql:170 — Unique node over a single ungrouped "
    "aggregate row (numGroups > 0 assertion regression).",
    ("aggregate",),
)


# ---------------------------------------------------------------------------
# select_having.sql — HAVING semantics, including the degenerate
# no-GROUP-BY cases the SQL spec pins to 0-or-1 rows.
# ---------------------------------------------------------------------------

register_regress(
    "regress_having_count_filter",
    """
SELECT b, c FROM test_having
GROUP BY b, c HAVING count(*) = 1 ORDER BY b, c
""",
    "src/test/regress/sql/select_having.sql:18-19 — HAVING on an "
    "aggregate not in the targetlist.",
    ("aggregate", "having"),
)

register_regress(
    "regress_having_group_col_pred",
    """
SELECT b, c FROM test_having
GROUP BY b, c HAVING b = 3 ORDER BY b, c
""",
    "select_having.sql:22-23 — HAVING on a grouping column "
    "(effectively WHERE).",
    ("aggregate", "having"),
)

register_regress(
    "regress_having_compound_or",
    """
SELECT lower(c) AS lc, count(c) AS n FROM test_having
GROUP BY lower(c) HAVING count(*) > 2 OR min(a) = max(a)
ORDER BY lc
""",
    "select_having.sql:25-27 — grouping by a function with a "
    "compound OR HAVING mixing count/min/max.",
    ("aggregate", "having"),
)

register_regress(
    "regress_having_degenerate",
    """
SELECT 'eq' AS k, min(a) AS mn, max(a) AS mx FROM test_having
HAVING min(a) = max(a)
UNION ALL
SELECT 'lt' AS k, min(a) AS mn, max(a) AS mx FROM test_having
HAVING min(a) < max(a)
UNION ALL
SELECT 'const' AS k, 1 AS mn, 2 AS mx FROM test_having HAVING 1 < 2
UNION ALL
SELECT 'never' AS k, 1 AS mn, 2 AS mx FROM test_having HAVING 1 > 2
""",
    "select_having.sql:35-44 — degenerate HAVING without GROUP BY: "
    "per SQL spec each arm yields 0 or 1 row even without grouping "
    "(the four reference statements are UNION ALLed with a tag "
    "column; expected survivors: lt, const). Spark matches PG; "
    "DuckDB treats aggregate-free HAVING as WHERE, so the oracle's "
    "constant arms add a count(*) aggregate to force the single "
    "group.",
    ("aggregate", "having"),
    oracle="""
SELECT 'eq' AS k, min(a) AS mn, max(a) AS mx FROM test_having
HAVING min(a) = max(a)
UNION ALL
SELECT 'lt' AS k, min(a) AS mn, max(a) AS mx FROM test_having
HAVING min(a) < max(a)
UNION ALL
SELECT 'const' AS k, 1 AS mn, 2 AS mx FROM test_having
HAVING count(*) >= 0 AND 1 < 2
UNION ALL
SELECT 'never' AS k, 1 AS mn, 2 AS mx FROM test_having
HAVING count(*) >= 0 AND 1 > 2
""",
)


# ---------------------------------------------------------------------------
# select_implicit.sql — resjunk resolution: ORDER BY / GROUP BY terms
# missing from the targetlist, qualified names, expression keys.
# PG's integer '/' truncates where both Spark and DuckDB float-divide,
# so expression keys use floor() to pin PG's grouping (noted per query).
# ---------------------------------------------------------------------------

register_regress(
    "regress_implicit_orderby_junk",
    """
SELECT c FROM test_missing_target ORDER BY a
""",
    "src/test/regress/sql/select_implicit.sql:41 — ORDER BY a column "
    "absent from the targetlist (the original junkfilter/resjunk "
    "case).",
    ("resjunk",),
)

register_regress(
    "regress_implicit_group_qualified",
    """
SELECT count(*) AS n FROM test_missing_target
GROUP BY test_missing_target.c ORDER BY c
""",
    "select_implicit.sql:27 — GROUP BY a relation-qualified column "
    "with a junk ORDER BY on its bare name.",
    ("resjunk", "aggregate"),
)

register_regress(
    "regress_implicit_group_expr_qualified",
    """
SELECT a%2 AS am, count(b) AS n FROM test_missing_target
GROUP BY test_missing_target.a%2
ORDER BY test_missing_target.a%2
""",
    "select_implicit.sql:100-102 — grouping and ordering by a "
    "relation-qualified expression while the targetlist carries the "
    "unqualified spelling.",
    ("resjunk", "aggregate"),
)

register_regress(
    "regress_implicit_group_lower_junk",
    """
SELECT count(c) AS n FROM test_missing_target
GROUP BY lower(test_missing_target.c)
ORDER BY lower(test_missing_target.c)
""",
    "select_implicit.sql:105-107 — GROUP BY/ORDER BY a function of a "
    "qualified column, function absent from the targetlist.",
    ("resjunk", "aggregate"),
)

register_regress(
    "regress_implicit_groupexpr_junk",
    """
SELECT count(b) AS n FROM test_missing_target
GROUP BY floor((b + 1) / 2) ORDER BY floor((b + 1) / 2) DESC
""",
    "select_implicit.sql:122-123 — GROUP BY an arithmetic expression "
    "absent from the targetlist (PG's integer (b+1)/2 spelled "
    "floor((b+1)/2): both engines float-divide where PG truncates).",
    ("resjunk", "aggregate"),
)

register_regress(
    "regress_implicit_ambiguous_selfjoin",
    """
SELECT x.b AS b, count(*) AS n
FROM test_missing_target x, test_missing_target y
WHERE x.a = y.a
GROUP BY x.b ORDER BY x.b
""",
    "select_implicit.sql:78-80 — grouped self-join where the bare "
    "column b would be ambiguous; the qualified x.b resolves it.",
    ("resjunk", "aggregate", "join"),
)

register_regress(
    "regress_implicit_ambiguous_groupexpr",
    """
SELECT CAST(floor(x.b/2) AS BIGINT) AS bh, count(x.b) AS n
FROM test_missing_target x, test_missing_target y
WHERE x.a = y.a
GROUP BY floor(x.b/2) ORDER BY floor(x.b/2)
""",
    "select_implicit.sql:133-135 — qualified expression grouping "
    "under join ambiguity (PG's x.b/2 integer division spelled "
    "floor(x.b/2), see module note).",
    ("resjunk", "aggregate", "join"),
)


# ---------------------------------------------------------------------------
# select_distinct.sql — DISTINCT paths (hash vs sort parity, duplicate
# select items, constants) and the IS [NOT] DISTINCT FROM battery.
# ---------------------------------------------------------------------------

register_regress(
    "regress_distinct_dup_column",
    """
SELECT count(*) AS n FROM
  (SELECT DISTINCT two, four, two FROM tenk1) ss
""",
    "src/test/regress/sql/select_distinct.sql:32-36 — DISTINCT with a "
    "duplicate select item (two listed twice): dedup is over the "
    "repeated tuple.",
    ("distinct",),
)

register_regress(
    "regress_distinct_hash_group_parity",
    """
SELECT count(*) AS n, CAST(min(m) AS BIGINT) AS mn,
       CAST(max(m) AS BIGINT) AS mx
FROM (SELECT DISTINCT g % 1000 AS m FROM generate_series(0, 9999) t(g)) s
""",
    "select_distinct.sql:45-76 — the hashed-vs-grouped DISTINCT "
    "parity check (the reference builds both plans and EXCEPTs them; "
    "here the distinct-of-modulo result itself is verified "
    "cross-engine).",
    ("distinct",),
)

register_regress(
    "regress_distinct_with_constants",
    """
SELECT DISTINCT four, 1 AS c1, 2 AS c2, 3 AS c3 FROM tenk1 WHERE four = 0
""",
    "select_distinct.sql:137-139 — DISTINCT over a mix of a column "
    "and constant select items under a selective WHERE.",
    ("distinct",),
)

register_regress(
    "regress_is_distinct_scalar",
    """
WITH disttable(f1) AS (VALUES (1), (2), (3), (NULL))
SELECT f1, f1 IS DISTINCT FROM 2 AS not_2,
       f1 IS DISTINCT FROM NULL AS not_null,
       f1 IS DISTINCT FROM f1 AS always_false,
       f1 IS DISTINCT FROM f1 + 1 AS not_null2
FROM disttable
""",
    "select_distinct.sql:146-157 — IS DISTINCT FROM scalar battery "
    "over {1,2,3,NULL}: never yields NULL, NULL operands compare "
    "equal (the four reference projections carried as one row set).",
    ("distinct", "scalar"),
)

register_regress(
    "regress_is_distinct_literals",
    """
SELECT 1 IS DISTINCT FROM 2 AS yes1,
       2 IS DISTINCT FROM 2 AS no1,
       2 IS DISTINCT FROM NULL AS yes2,
       NULL IS DISTINCT FROM NULL AS no2,
       1 IS NOT DISTINCT FROM 2 AS no3,
       2 IS NOT DISTINCT FROM 2 AS yes3,
       2 IS NOT DISTINCT FROM NULL AS no4,
       NULL IS NOT DISTINCT FROM NULL AS yes4
FROM (VALUES (1)) v(x)
""",
    "select_distinct.sql:160-169 — IS [NOT] DISTINCT FROM literal "
    "truth table incl. NULL-vs-NULL.",
    ("distinct", "scalar"),
)

register_regress(
    "regress_is_distinct_joins",
    """
WITH distinct_1(a) AS (VALUES (1), (2), (NULL)),
     distinct_2(b) AS (VALUES (1), (NULL))
SELECT 'w' AS arm, d1.a, d2.b
FROM distinct_1 d1, distinct_2 d2 WHERE d1.a IS DISTINCT FROM d2.b
UNION ALL
SELECT 'l' AS arm, d1.a, d2.b
FROM distinct_1 d1 LEFT JOIN distinct_2 d2 ON d1.a IS DISTINCT FROM d2.b
UNION ALL
SELECT 'r' AS arm, d1.a, d2.b
FROM distinct_1 d1 RIGHT JOIN distinct_2 d2
  ON d1.a IS NOT DISTINCT FROM d2.b
""",
    "select_distinct.sql:172-196 — IS [NOT] DISTINCT FROM as a join "
    "qualifier: null-safe inequality as a cross filter, as a LEFT "
    "JOIN condition (no unmatched rows here), and null-safe equality "
    "as a RIGHT JOIN condition (NULL matches NULL; columns renamed "
    "a/b so the union arms align).",
    ("distinct", "join"),
)


# ---------------------------------------------------------------------------
# gp_recursive_cte.sql — GP's recursive-CTE battery: recursive CTEs
# referenced from IN/NOT IN/EXISTS subqueries, window functions over
# recursive output, nested CTE scoping, hierarchical path building.
# The reference's infinite CTEs bounded only by `LIMIT 10` inside a
# subquery rely on PG's lazy CteScan execution (both Spark and DuckDB
# materialize recursive CTEs eagerly) and are represented by their
# naturally-terminating or explicitly-bounded equivalents, noted per
# query. The `a > ALL (WITH RECURSIVE ... correlated seed)` shape at
# gp_recursive_cte.sql:322 is a documented gap: Spark's quantified
# comparison rejects a leading WITH in the subquery, and the outer
# correlation inside a recursive seed has no analyzable rewrite.
# ---------------------------------------------------------------------------

register_regress(
    "regress_rcte_in_subquery",
    """
WITH RECURSIVE recursive_table_1(id) AS (VALUES (1), (2), (100)),
recursive_table_2(id) AS (VALUES (11), (21), (31)),
r(i) AS (
  SELECT id FROM recursive_table_2
  UNION ALL
  SELECT r.i + 1 FROM r, recursive_table_2 WHERE r.i = recursive_table_2.id
),
s(i) AS (
  SELECT 1
  UNION ALL
  SELECT i + 1 FROM s WHERE i < 10
)
SELECT 'in_corr' AS arm, recursive_table_1.id
FROM recursive_table_1, recursive_table_2
WHERE recursive_table_1.id IN (SELECT i FROM r WHERE r.i = recursive_table_2.id)
UNION ALL
SELECT 'notin_corr' AS arm, recursive_table_1.id
FROM recursive_table_1, recursive_table_2
WHERE recursive_table_1.id NOT IN (SELECT i FROM r WHERE r.i = recursive_table_2.id)
UNION ALL
SELECT 'in_bounded' AS arm, id FROM recursive_table_1
WHERE id IN (SELECT i FROM s)
UNION ALL
SELECT 'notexists_corr' AS arm, recursive_table_1.id
FROM recursive_table_1, recursive_table_2
WHERE recursive_table_1.id = recursive_table_2.id
  AND NOT EXISTS (SELECT i FROM r WHERE r.i = recursive_table_2.id)
""",
    "src/test/regress/sql/gp_recursive_cte.sql:7-100 — recursive CTEs "
    "consumed by correlated IN / NOT IN / NOT EXISTS subqueries and a "
    "bounded IN (the reference bounds the 1,2,3.. generator with "
    "LIMIT 10 inside the subquery — lazy-CteScan-only; here the "
    "recursion itself carries i < 10). Arms UNION ALLed with tags.",
    ("recursive", "subquery"),
)

register_regress(
    "regress_rcte_window_over",
    """
WITH RECURSIVE recursive_table_3(id, a) AS (VALUES (1, 2), (2, 3)),
r(i, j) AS (
  SELECT id, a FROM recursive_table_3
  UNION ALL
  SELECT r.i + 1, r.j FROM r, recursive_table_3
  WHERE r.i < recursive_table_3.id
)
SELECT avg(i) OVER (PARTITION BY j) AS avg_i FROM r
""",
    "gp_recursive_cte.sql:232-238 — window aggregate partitioned "
    "over recursive-CTE output (the recursion joins against the base "
    "table with an inequality and terminates naturally).",
    ("recursive", "window"),
)

register_regress(
    "regress_rcte_nested_cte_scope",
    """
WITH recursive_table_1(id) AS (
  SELECT CAST(g AS BIGINT) FROM generate_series(0, 100) t(g)
)
SELECT MAX(j) AS mj
FROM
(
  WITH nr1(i) AS (SELECT id FROM recursive_table_1 WHERE id >= 10)
  SELECT * FROM
  (
    WITH nr2(j) AS (SELECT i FROM nr1 WHERE i >= 50)
    SELECT nr2.j FROM nr2, nr1
  ) sub2
) sub1
""",
    "gp_recursive_cte.sql:259-269 — nested WITH scoping: an inner "
    "CTE (nr2) referencing an outer subquery's CTE (nr1), both "
    "joined in the innermost scope.",
    ("recursive", "cte"),
)

register_regress(
    "regress_rcte_nested_recursive",
    """
WITH RECURSIVE r1(i) AS
(
  SELECT 1
  UNION ALL
  (
    WITH RECURSIVE r2(j) AS
    (
      SELECT 1
      UNION ALL
      SELECT j + 1 FROM r2 WHERE j < 5
    )
    SELECT i + 1 FROM r1, r2 WHERE i < 5
  )
)
SELECT CAST(SUM(i) AS BIGINT) AS s FROM r1
""",
    "gp_recursive_cte.sql:283-297 — a RECURSIVE CTE whose recursive "
    "arm declares its OWN recursive CTE and joins both: each level "
    "fans out 5x until i = 5 (sum 3711 on both engines).",
    ("recursive",),
)

register_regress(
    "regress_rcte_path_concat",
    """
WITH RECURSIVE recursive_locus_t1(id, pid, name) AS (
  VALUES (0, -1, 'AAA'), (1, 0, 'B1'), (2, 0, 'B2'), (3, 1, 'C1_1'),
         (4, 1, 'C1_2'), (5, 1, 'C1_3'), (6, 2, 'C2_1'), (7, 2, 'C2_2'),
         (8, 2, 'C2_3')
),
cte AS (
  select a.id, a.name from recursive_locus_t1 a where id=0
  union all
  select k.id, (c.name || '>' || k.name) as name
  from recursive_locus_t1 k inner join cte c on c.id = k.pid
)
select id, name from cte
""",
    "gp_recursive_cte.sql:367-372 — hierarchical path construction: "
    "parent-path || '>' || child over a 3-level tree (the recursive "
    "locus test; text accumulates through the recursion).",
    ("recursive",),
)


# ---------------------------------------------------------------------------
# bfv_subquery.sql — GP subquery bug-fix battery: scalar subqueries,
# correlation through derived tables, quantified ALL over empty input,
# correlated UNION scalar subqueries, unnest-SRF IN-lists.
# ---------------------------------------------------------------------------

register_regress(
    "regress_bfvsubq_scalar_halfsum",
    """
WITH bfv_subquery_p(a, b) AS (
  SELECT g, g FROM generate_series(1, 9) t(g)
),
bfv_subquery_r(a, b) AS (
  SELECT g, g FROM generate_series(1, 9) t(g)
)
SELECT a FROM bfv_subquery_r
WHERE b < (SELECT 0.5 * sum(a) FROM bfv_subquery_p WHERE b >= 3)
ORDER BY 1
""",
    "src/test/regress/sql/bfv_subquery.sql:27 — uncorrelated scalar "
    "aggregate subquery with arithmetic on the aggregate (0.5 * sum).",
    ("subquery",),
)

register_regress(
    "regress_bfvsubq_corr_derived_distinct",
    """
WITH bfv_subquery_r2(a, b) AS (
  VALUES (1, 1), (2, 1), (2, NULL), (NULL, 0), (NULL, NULL)
),
bfv_subquery_s2(a, b) AS (VALUES (2, 2), (1, 0), (1, 1))
SELECT a, b FROM bfv_subquery_r2
WHERE a = (SELECT x.a FROM (SELECT DISTINCT a FROM bfv_subquery_s2
                            WHERE bfv_subquery_s2.b = bfv_subquery_r2.b) x)
""",
    "bfv_subquery.sql:44-45 — correlation reaching through a DISTINCT "
    "derived table inside a scalar subquery, over NULL-laden data "
    "(only (1,1) survives: NULL correlations yield no row).",
    ("subquery",),
)

register_regress(
    "regress_bfvsubq_outer_only_scalar",
    """
WITH sq_t1(i, j) AS (SELECT g, g % 5 FROM generate_series(1, 10) t(g)),
sq_t2(i, j) AS (VALUES (1, 10))
SELECT sq_t1.i, (SELECT sq_t1.i FROM sq_t2) AS s FROM sq_t1
ORDER BY 1, 2
""",
    "bfv_subquery.sql:62 — scalar subquery whose select list is ONLY "
    "an outer reference (scans another 1-row table): each row pairs "
    "with itself.",
    ("subquery",),
)

register_regress(
    "regress_bfvsubq_lt_all_empty",
    """
WITH sq_t3(a, b) AS (VALUES (1, 4), (0, 3)),
sq_s3(i, j) AS (SELECT x, x FROM generate_series(1, 1) t(x) WHERE x < 0)
SELECT a, b FROM sq_t3
WHERE a < ALL (SELECT i FROM sq_s3)
ORDER BY a
""",
    "bfv_subquery.sql:75-81 — `a < ALL (SELECT i FROM empty)` is "
    "vacuously true for every row. NATIVE quantified spelling through "
    "the frontend's summary-aggregate rewrite "
    "(_rewrite_quantified_ordering, subselect.c:1521 parity).",
    ("subquery",),
)

register_regress(
    "regress_quant_lt_all_nulls_battery",
    """
SELECT x,
       x <= ALL (SELECT y FROM (VALUES (2), (NULL)) w(y)) AS le_all_null,
       x >  ALL (SELECT y FROM (VALUES (2), (4)) w(y))    AS gt_all,
       x <  ANY (SELECT y FROM (VALUES (2), (NULL)) w(y)) AS lt_any_null,
       x >= ANY (SELECT y FROM (VALUES (5), (7)) w(y))    AS ge_any,
       x >  SOME (SELECT y FROM (VALUES (9)) w(y) WHERE y < 0)
           AS gt_some_empty
FROM (VALUES (1), (3), (5), (NULL)) v(x)
ORDER BY x NULLS LAST
""",
    "optimizer/plan/subselect.c:1521 quantified ordering comparisons — "
    "full three-valued battery: FALSE beats NULL under ALL, TRUE beats "
    "NULL under ANY, empty subquery is vacuous TRUE (ALL) / FALSE "
    "(ANY/SOME), NULL left operand propagates. Summary-aggregate "
    "(count, count non-null, min/max) rewrite on the Spark side.",
    ("subquery",),
)

register_regress(
    "regress_quant_correlated_any",
    """
WITH csq_t1(a, b) AS (VALUES (1, 10), (2, 20), (3, 30)),
csq_t2(x, y) AS (VALUES (1, 15), (1, 5), (2, 25), (3, NULL))
SELECT a, b FROM csq_t1
WHERE b > ANY (SELECT y FROM csq_t2 WHERE csq_t2.x = csq_t1.a)
ORDER BY a
""",
    "qp_correlated_query.sql — correlated quantified comparison: the "
    "summary aggregate stays correlated on csq_t1.a and Catalyst "
    "decorrelates it into the grouped summary join PG's planner "
    "builds by hand. Row a=3 compares only against NULL -> NULL -> "
    "filtered.",
    ("subquery",),
)

register_regress(
    "regress_bfvsubq_notin_third_corr",
    """
WITH sq_a1(i, j) AS (SELECT g, g * g FROM generate_series(1, 10) t(g)),
sq_b1(i, j) AS (SELECT g, g * g FROM generate_series(1, 10) t(g))
SELECT sq_a1.i, sq_a1.j FROM sq_a1
INNER JOIN sq_b1 ON sq_a1.i = sq_b1.i
WHERE sq_a1.j NOT IN (SELECT j FROM sq_a1 a2 WHERE a2.j = sq_b1.j)
  AND sq_a1.i = 1
""",
    "bfv_subquery.sql:95 — NOT IN whose subquery correlates to a "
    "THIRD table (the join partner, not the NOT IN's own side); the "
    "matching j is always found so the result is empty.",
    ("subquery", "join", "may_be_empty"),
)

register_regress(
    "regress_bfvsubq_corr_union_scalar",
    """
WITH sq_foo1(a, b) AS (VALUES (1, 1), (2, 2))
SELECT
(SELECT a FROM sq_foo1 inner1 WHERE inner1.a = outer1.a
 UNION
 SELECT b FROM sq_foo1 inner2 WHERE inner2.b = outer1.b) AS s
FROM sq_foo1 outer1
""",
    "bfv_subquery.sql:106-110 — scalar subquery whose body is a "
    "UNION of two arms, EACH correlated to the outer row (both arms "
    "produce the same value so the scalar cardinality holds).",
    ("subquery", "setop"),
)

register_regress(
    "regress_bfvsubq_unnest_in",
    """
SELECT 'ni_2' AS arm FROM (VALUES (1)) vv(x)
WHERE 22 NOT IN (SELECT u FROM unnest(array[1,2]) t(u))
UNION ALL
SELECT 'i_2' AS arm FROM (VALUES (1)) vv(x)
WHERE 22 IN (SELECT u FROM unnest(array[1,2]) t(u))
UNION ALL
SELECT 'i_22' AS arm FROM (VALUES (1)) vv(x)
WHERE 22 IN (SELECT u FROM unnest(array[1,2,22]) t(u))
UNION ALL
SELECT 'ni_22' AS arm FROM (VALUES (1)) vv(x)
WHERE 22 NOT IN (SELECT u FROM unnest(array[1,2,22]) t(u))
""",
    "bfv_subquery.sql:112-115 — [NOT] IN over an unnest() SRF "
    "subquery, hit and miss arms (frontend now maps 1-arg unnest -> "
    "explode, valid in both select-list and FROM positions; PG's "
    "bare select-list unnest carried as a FROM-position TVF, "
    "expected survivors: ni_2, i_22).",
    ("subquery", "srf"),
)


# ---------------------------------------------------------------------------
# bfv_cte.sql — CTE + window + GROUP BY interaction battery (the GP
# CTE-inlining bug fixes; the reference runs each twice with inlining
# off/on — one port suffices since Spark always inlines CTEs unless
# materialized). Reuses the bjfoo/bjbar fixtures; `cup.*` stars are
# expanded and aggregates aliased for the harness, LIMITs are kept —
# every ORDER BY covers all output columns so ties are identical rows
# and the limited multiset is deterministic.
# ---------------------------------------------------------------------------

register_regress(
    "regress_bfvcte_groupby_window_empty",
    """
WITH tgw(c1, c2) AS (SELECT x, x FROM generate_series(1, 1) t(x) WHERE x < 0)
SELECT tgw.c1, COUNT(*) over () as fraction
FROM tgw
GROUP BY tgw.c1
ORDER BY tgw.c1
""",
    "src/test/regress/sql/bfv_cte.sql:8-14 — whole-table count window "
    "above GROUP BY over an EMPTY CTE (the reference's COUNT() "
    "zero-arg spelling carried as count(*)): zero rows, not one.",
    ("cte", "window", "may_be_empty"),
)

register_regress(
    "regress_bfvcte_loj_group_window",
    """
WITH cte2 AS
(
 SELECT e.a, e.b, f.c, f.d
 FROM
    (
      SELECT a, b FROM bjfoo WHERE a < 10
    ) e
 LEFT OUTER JOIN
    (
       SELECT c, d FROM bjbar WHERE c < 10
    ) f
  ON e.a = f.d )
SELECT cte2.a, cte2.d, count(*) over () AS window
FROM cte2
GROUP BY cte2.a, cte2.d ORDER BY cte2.a, cte2.d LIMIT 2
""",
    "bfv_cte.sql:21-34 — CTE of filtered LEFT OUTER JOIN, grouped, "
    "with a whole-result count window and LIMIT (e.*/f.* expanded: "
    "Spark rejects duplicate-free star merge in a CTE column list; "
    "CTE renamed cte2 — t and t2 are prelude fixtures).",
    ("cte", "window", "join"),
)

register_regress(
    "regress_bfvcte_rank_group",
    """
WITH tt(a, b, d) AS
(
  SELECT bjfoo.a, bjfoo.b, bjbar.d FROM bjfoo, bjbar
  WHERE bjfoo.a = bjbar.d
)
SELECT tt.b, avg(tt.a) AS av, rank() OVER (PARTITION BY tt.a ORDER BY tt.a) AS r
FROM bjfoo, tt
GROUP BY bjfoo.a, bjfoo.b, tt.b, tt.a ORDER BY 1,2,3 LIMIT 5
""",
    "bfv_cte.sql:36-41 — rank window whose PARTITION/ORDER key is a "
    "grouping column, beside an avg aggregate, over a cross join "
    "with the CTE; the LIMIT cuts through identical tied rows.",
    ("cte", "window"),
)

register_regress(
    "regress_bfvcte_window_subq_agg",
    """
WITH tt(a, b, d) AS
(
  SELECT bjfoo.a, bjfoo.b, bjbar.d FROM bjfoo, bjbar
  WHERE bjfoo.a = bjbar.d
)
SELECT cup.c, cup.d, cup.e,
       CAST(SUM(tt.d) OVER(PARTITION BY tt.b) AS BIGINT) AS s FROM
  (
    SELECT bjbar.c, bjbar.d,
           AVG(tt.b) OVER(PARTITION BY tt.a ORDER BY tt.b desc) AS e
    FROM tt, bjbar
  ) AS cup,
tt WHERE cup.e < 10
GROUP BY cup.c, cup.d, cup.e, tt.d, tt.b
ORDER BY 1,2,3,4
LIMIT 10
""",
    "bfv_cte.sql:43-54 — running-avg window computed INSIDE a "
    "derived table, filtered on outside, then a second window OVER a "
    "grouped aggregate result (sum window partitioned by a group "
    "key).",
    ("cte", "window"),
)

register_regress(
    "regress_bfvcte_having_window_subq",
    """
WITH tt(a, b, d) AS
(
  SELECT bjfoo.a, bjfoo.b, bjbar.d FROM bjfoo, bjbar
  WHERE bjfoo.a = bjbar.d
)
SELECT cup.c, cup.d, cup.e, CAST(SUM(tt.d) AS BIGINT) AS s FROM
  (
    SELECT bjbar.c, bjbar.d, count(*) OVER() AS e FROM tt, bjbar
    WHERE tt.a = bjbar.c
  ) AS cup,
tt GROUP BY cup.c, cup.d, cup.e, tt.a
HAVING AVG(tt.d) < 10 ORDER BY 1,2,3,4 LIMIT 10
""",
    "bfv_cte.sql:56-64 — count window in a joined derived table with "
    "a HAVING on an aggregate NOT in the select list above it.",
    ("cte", "window", "having"),
)

register_regress(
    "regress_bfvcte_nested_window_subq",
    """
WITH tt(a, b, d) AS
(
  SELECT bjfoo.a, bjfoo.b, bjbar.d FROM bjfoo, bjbar
  WHERE bjfoo.a = bjbar.d
)
SELECT cup.e, cup.d,
       CAST(SUM(tt.d) OVER(PARTITION BY tt.b) AS BIGINT) AS s FROM
  (
    SELECT bjbar.c as e, r.d FROM
        (
            SELECT tt.d, avg(tt.a) over() AS av FROM tt
        ) r, bjbar
  ) AS cup,
tt WHERE cup.e < 10
GROUP BY cup.d, cup.e, tt.d, tt.b
ORDER BY 1,2,3
LIMIT 10
""",
    "bfv_cte.sql:66-80 — window nested two derived-table levels "
    "deep under another window-over-group (the inlining-bound "
    "stress shape).",
    ("cte", "window"),
)


# ---------------------------------------------------------------------------
# qp_misc_jiras.sql — GP JIRA regression shapes (planner/executor bug
# fixes); tier 1: the scalar-subquery, window-edge-case, and name-
# resolution shapes expressible over portable fixtures.
# ---------------------------------------------------------------------------

register_regress(
    "regress_jira_scalar_dqa_subquery",
    """
WITH tbl2859(domain, class, attr, value) AS (
  VALUES (1, 1, 'A', 1), (2, 1, 'A', 0), (3, 0, 'B', 1)
)
SELECT attr, class,
       (select count(distinct class) from tbl2859) as dclass
FROM tbl2859 GROUP BY attr, class ORDER BY attr
""",
    "src/test/regress/sql/qp_misc_jiras.sql:52 (MPP-2859) — an "
    "uncorrelated count(DISTINCT) scalar subquery in the select list "
    "of a grouped query (the CTAS-with-subquery bug shape).",
    ("subquery", "aggregate"),
)

register_regress(
    "regress_jira_distinct_max_scalar",
    """
WITH tbl3511(i) AS (VALUES (1), (2), (3), (4), (5))
select i FROM tbl3511 where i = (select distinct max(i) from tbl3511)
""",
    "qp_misc_jiras.sql:85 (MPP-3511) — DISTINCT wrapped around an "
    "ungrouped scalar aggregate inside a comparison subquery.",
    ("subquery", "aggregate"),
)

register_regress(
    "regress_jira_case_never_window",
    """
WITH tbl5219(i, j) AS (SELECT g, g % 10 FROM generate_series(0, 99) t(g))
select case when 1=2 then rank() over(partition by j order by i) end AS r
from tbl5219
""",
    "qp_misc_jiras.sql:528 (MPP-5219) — a window function inside a "
    "never-taken CASE arm: the window must still be planned (and the "
    "executor must not crash), every output row NULL.",
    ("window", "scalar"),
)

register_regress(
    "regress_jira_rownum_groupby",
    """
select n
from ( select row_number() over (partition by x order by x)
       from (values (0)) as t(x) ) as r(n)
group by n
""",
    "qp_misc_jiras.sql:530-536 — GROUP BY over a window function's "
    "output through a column-aliased derived table (PG's orderless "
    "row_number() OVER (PARTITION BY x) gains ORDER BY x: Spark "
    "requires ordered ranking windows; one row so the order is "
    "immaterial).",
    ("window",),
)

register_regress(
    "regress_jira_rownum_over_sum",
    """
WITH tbl6027(i, j, k) AS (
  SELECT g, CAST(g % 100 AS BIGINT), g % 123 FROM generate_series(1, 500) t(g)
)
select j, CAST(sum(k) AS BIGINT) AS sk,
       row_number() over (partition by j order by sum(k)) AS rn
from tbl6027 group by j order by j limit 10
""",
    "qp_misc_jiras.sql:791 (MPP-6027) — a ranking window ORDERED BY "
    "an aggregate of the enclosing GROUP BY (window above agg in the "
    "same block).",
    ("window", "aggregate"),
)

register_regress(
    "regress_jira_substr_zero_in",
    """
WITH tbl7404_t1(x) AS (VALUES ('abc'), ('bcd'), ('cde')),
tbl7404_t2(x) AS (VALUES ('abq'), ('xyz'))
select count(*) AS n from tbl7404_t1
where substr(x,0,2) in (select substr(x,0,2) from tbl7404_t2)
""",
    "qp_misc_jiras.sql:1314 (MPP-7404) — substr with START 0 as a "
    "hashable join/IN key (both engines clip the out-of-range start "
    "the same way; 'abc' matches 'abq' on the 1-char prefix).",
    ("subquery", "scalar"),
)

register_regress(
    "regress_jira_const_join_chain",
    """
select x.b AS b
from ( ( select 'a' as a ) xx join (select 'a' as b) yy on a = b ) x
join (select 'a' as c) y on a=c
""",
    "qp_misc_jiras.sql:786-788 — name resolution through a "
    "parenthesized join of single-column constant subqueries: the "
    "inner join's columns (a, b) are both visible under the outer "
    "alias x.",
    ("join",),
)


# ---------------------------------------------------------------------------
# olap_window_seq.sql — value-function window shapes beyond the
# window.sql batteries: NULLS FIRST/LAST inside window ORDER BY,
# negative/defaulted lead offsets, start-only RANGE frames.
# ---------------------------------------------------------------------------

register_regress(
    "regress_olapwin_fv_nulls_order",
    """
WITH tbl_with_nulls(t, a, b) AS (
  VALUES ('a', 1, 10), ('b', 1, 10), ('c', 2, 10), ('d', 2, 20),
         ('e', 2, 20), ('f', 2, 20), ('g', NULL, 20), ('h', NULL, 20),
         ('i', NULL, 30)
)
select t, a, b,
  first_value(t) over (order by a nulls first, t) AS f1,
  first_value(t) over (order by a nulls last, t) AS f2,
  first_value(t) over (partition by b order by a nulls first, t) AS f3,
  first_value(t) over (partition by b order by a nulls last, t) AS f4
from tbl_with_nulls order by t
""",
    "src/test/regress/sql/olap_window_seq.sql:189-211 — first_value "
    "under every NULLS FIRST/LAST x partitioned/global combination "
    "over a NULL-keyed fixture (default-frame first_value is "
    "order-sensitive, so null placement changes the answer).",
    ("window",),
)

register_regress(
    "regress_olapwin_fv_named_windows",
    """
WITH tbl_with_nulls(t, a, b) AS (
  VALUES ('a', 1, 10), ('b', 1, 10), ('c', 2, 10), ('d', 2, 20),
         ('e', 2, 20), ('f', 2, 20), ('g', NULL, 20), ('h', NULL, 20),
         ('i', NULL, 30)
)
select t, a, b,
  first_value(t) over (w1) AS f1,
  first_value(t) over (w2) AS f2,
  first_value(t) over (w3) AS f3,
  first_value(t) over (w4) AS f4
from tbl_with_nulls
window w1 as (order by a nulls first, t),
       w2 as (order by a nulls last, t),
       w3 as (partition by b order by a nulls first, t),
       w4 as (partition by b order by a nulls last, t)
order by t
""",
    "olap_window_seq.sql:214-224 — the same four windows declared "
    "through a four-entry named WINDOW clause.",
    ("window",),
)

register_regress(
    "regress_olapwin_lead_offsets",
    """
WITH cust(cn, cname) AS (
  VALUES (1, 'ann'), (2, 'bob'), (3, 'cat'), (4, 'dan')
)
select cn, cname,
  lead(cname, -1) over (order by cn) AS l_neg,
  lead(cname, 2, 'undefined') over (order by cn) AS l_def,
  lead(cn, 1, cn + 1) over (order by cn) AS l_expr_def,
  lag(cname, -1) over (order by cn) AS g_neg
from cust order by cn
""",
    "olap_window_seq.sql:656-683 — lead/lag offset battery: NEGATIVE "
    "offsets (lead(x,-1) ≡ lag(x,1)), a constant default filling the "
    "off-end rows, and a NON-CONSTANT default expression (cn + 1) "
    "evaluated at the current row.",
    ("window",),
)

register_regress(
    "regress_olapwin_range_start_only",
    """
WITH vend(vn) AS (VALUES (10), (20), (30), (40), (50), (22))
select vn, first_value(vn) over(order by vn range 2 preceding) AS f,
       CAST(sum(vn) over(order by vn range 2 preceding) AS BIGINT) AS s
from vend order by vn
""",
    "olap_window_seq.sql:584 (MPP-1810) — start-only RANGE frame "
    "(`range 2 preceding` implies CURRENT ROW end) with a value "
    "function and an aggregate; 22 sits within 2 of 20 so the frame "
    "genuinely differs from ROWS.",
    ("window",),
)


# ---------------------------------------------------------------------------
# with_clause.sql — non-recursive WITH semantics: CTE chaining, nested
# WITH bodies, WITH inside scalar subqueries, name shadowing, shared
# CTE self-joins (ShareInputScan in the reference).
# ---------------------------------------------------------------------------

register_regress(
    "regress_with_chained_ctes",
    """
with my_count(i, cnt) as (select i, count(*) from with_test1 group by i),
     my_sum(total) as (select CAST(sum(cnt) AS BIGINT) from my_count)
select total
from my_sum
""",
    "src/test/regress/sql/with_clause.sql:38-42 — a CTE reading "
    "another CTE from the same WITH list.",
    ("cte",),
)

register_regress(
    "regress_with_nested_with_body",
    """
with my_sum(total) as (
     with my_group_sum(total) as (select sum(value) from with_test1 group by i)
     select CAST(sum(total) AS BIGINT) from my_group_sum)
select total
from my_sum
""",
    "with_clause.sql:46-50 — a WITH clause nested inside another "
    "CTE's body.",
    ("cte",),
)

register_regress(
    "regress_with_scalar_subquery_cte",
    """
select count(*) AS n from with_test2
where value < (with my_max(maximum) as (select max(value) from with_test1)
               select maximum from my_max)
""",
    "with_clause.sql:67-69 — an entire WITH query inside a scalar "
    "comparison subquery (count-wrapped: the bare original returns "
    "116 fixture rows).",
    ("cte", "subquery"),
)

register_regress(
    "regress_with_cte_shadowing",
    """
with my_max(maximum) as (select max(value) from with_test2)
select count(*) AS n from with_test1, my_max
where value < (with my_max(maximum) as (select max(i) from with_test1)
               select maximum from my_max)
""",
    "with_clause.sql:100-104 — CTE name SHADOWING: the inner WITH "
    "redefines my_max (max i = 9) inside a subquery while the outer "
    "my_max (max value = 299) is joined in the same FROM; inner "
    "scope must win inside the subquery.",
    ("cte", "subquery"),
)

register_regress(
    "regress_with_selfjoin_offset",
    """
with my_group_sum(i, total) as (select i, CAST(sum(value) AS BIGINT)
                                from with_test1 group by i)
select gs1.i, gs1.total AS t1, gs2.total AS t2
from my_group_sum gs1, my_group_sum gs2
where gs1.i = gs2.i + 1
order by gs1.i
""",
    "with_clause.sql:21-24 — self-join of a grouped CTE on offset "
    "keys (the reference's ShareInputScan: one evaluation, two "
    "consumers).",
    ("cte", "join"),
)

register_regress(
    "regress_with_groupmax_filter",
    """
with my_groupmax(i, maximum) as (select i, max(value) from with_test1 group by i)
SELECT count(*) AS n FROM my_groupmax
WHERE maximum > (SELECT sum(maximum)/100 FROM my_groupmax)
""",
    "with_clause.sql:93-94 — the same CTE consumed by the outer scan "
    "AND by a scalar aggregate subquery over it.",
    ("cte", "subquery"),
)


# ---------------------------------------------------------------------------
# qp_left_anti_semi_join.sql — the LASJ battery over a NULL-laden
# fixture: quantified = ALL with empty/NULL-bearing subqueries,
# filtered FULL OUTER joins, row-constructor NOT IN with NULL pairs.
# Fixture (renamed lasj_foo/lasj_bar): foo has NULL keys and a
# (NULL,NULL) row; bar has x = i/10 plus NULL-key rows incl. one
# (NULL,NULL).
# ---------------------------------------------------------------------------

register_regress(
    "regress_lasj_eq_all_battery",
    """
WITH lasj_foo(a, b) AS (
  VALUES (1, 2), (12, 20), (NULL, 2), (15, 2), (NULL, NULL), (1, 12),
         (1, 102)
),
lasj_bar(x, y) AS (
  SELECT CAST(floor(i / 10) AS INT), i FROM generate_series(1, 100) t(i)
  UNION ALL VALUES (NULL, 101), (NULL, 102), (NULL, NULL)
)
SELECT 'nonuniform' AS arm, a, b FROM lasj_foo
WHERE b = 2 AND (
  (a IS NOT NULL AND NOT EXISTS (
     SELECT 1 FROM lasj_bar WHERE y >= 10 AND y < 20
       AND (x IS NULL OR x <> lasj_foo.a)))
  OR NOT EXISTS (SELECT 1 FROM lasj_bar WHERE y >= 10 AND y < 20))
UNION ALL
SELECT 'vacuous' AS arm, a, b FROM lasj_foo
WHERE b = 2 AND (
  (a IS NOT NULL AND NOT EXISTS (
     SELECT 1 FROM lasj_bar WHERE y = -1
       AND (x IS NULL OR x <> lasj_foo.a)))
  OR NOT EXISTS (SELECT 1 FROM lasj_bar WHERE y = -1))
UNION ALL
SELECT 'null_in_set' AS arm, a, b FROM lasj_foo
WHERE (
  (a IS NOT NULL AND NOT EXISTS (
     SELECT 1 FROM lasj_bar WHERE (x = 1 OR x IS NULL)
       AND (x IS NULL OR x <> lasj_foo.a)))
  OR NOT EXISTS (SELECT 1 FROM lasj_bar WHERE x = 1 OR x IS NULL))
""",
    "src/test/regress/sql/qp_left_anti_semi_join.sql:22-28 — "
    "`a = ALL (SELECT x ...)` battery: a uniform match set (only "
    "a = 1 survives), an EMPTY subquery (vacuously true for every "
    "row, NULL a included), and a NULL-bearing set (never true). "
    "Spark has no quantified = ALL: the Spark side spells the exact "
    "two-sided NOT EXISTS form (NULL probe filtered on nonempty "
    "sets, NULL elements poison); the oracle runs PG's = ALL text.",
    ("join", "subquery"),
    oracle="""
WITH lasj_foo(a, b) AS (
  VALUES (1, 2), (12, 20), (NULL, 2), (15, 2), (NULL, NULL), (1, 12),
         (1, 102)
),
lasj_bar(x, y) AS (
  SELECT CAST(floor(i / 10) AS INT), i FROM generate_series(1, 100) t(i)
  UNION ALL VALUES (NULL, 101), (NULL, 102), (NULL, NULL)
)
SELECT 'nonuniform' AS arm, a, b FROM lasj_foo
WHERE b = 2 AND a = ALL (SELECT x FROM lasj_bar WHERE y >= 10 AND y < 20)
UNION ALL
SELECT 'vacuous' AS arm, a, b FROM lasj_foo
WHERE b = 2 AND a = ALL (SELECT x FROM lasj_bar WHERE y = -1)
UNION ALL
SELECT 'null_in_set' AS arm, a, b FROM lasj_foo
WHERE a = ALL (SELECT x FROM lasj_bar WHERE x = 1 OR x IS NULL)
""",
)

register_regress(
    "regress_lasj_full_outer_filtered",
    """
WITH lasj_foo(a, b) AS (
  VALUES (1, 2), (12, 20), (NULL, 2), (15, 2), (NULL, NULL), (1, 12),
         (1, 102)
),
lasj_bar(x, y) AS (
  SELECT CAST(floor(i / 10) AS INT), i FROM generate_series(1, 100) t(i)
  UNION ALL VALUES (NULL, 101), (NULL, 102), (NULL, NULL)
)
SELECT 'empty_right' AS arm, a, b, x, y
FROM lasj_foo FULL OUTER JOIN
     (SELECT x, y FROM lasj_bar WHERE y = -1) bar2 ON (a = x)
UNION ALL
SELECT 'both_filtered' AS arm, a, b, x, y
FROM (SELECT a, b FROM lasj_foo WHERE b = 2) foo2
FULL OUTER JOIN
     (SELECT x, y FROM lasj_bar
      WHERE y BETWEEN 16 AND 22 OR x IS NULL) bar2 ON (a = x)
""",
    "qp_left_anti_semi_join.sql:30-34 — FULL OUTER JOIN with "
    "filtered sides: an empty right input (every left row "
    "NULL-extended) and both sides filtered with NULL join keys on "
    "each (NULL keys never match, surviving as two unmatched rows).",
    ("join",),
)

register_regress(
    "regress_lasj_rowctor_notin_nulls",
    """
WITH lasj_foo(a, b) AS (
  VALUES (1, 2), (12, 20), (NULL, 2), (15, 2), (NULL, NULL), (1, 12),
         (1, 102)
),
lasj_bar(x, y) AS (
  SELECT CAST(floor(i / 10) AS INT), i FROM generate_series(1, 100) t(i)
  UNION ALL VALUES (NULL, 101), (NULL, 102), (NULL, NULL)
)
SELECT 'no_nulls' AS arm, count(*) AS n FROM lasj_foo
WHERE (a, b) NOT IN (SELECT x, y FROM lasj_bar WHERE y IS NOT NULL
                                                 AND x IS NOT NULL)
UNION ALL
SELECT 'empty' AS arm, count(*) AS n FROM lasj_foo
WHERE (a, b) NOT IN (SELECT x, y FROM lasj_bar WHERE y = -1)
UNION ALL
SELECT 'with_nulls' AS arm, count(*) AS n FROM lasj_foo
WHERE (a, b) NOT IN (SELECT x, y FROM lasj_bar)
""",
    "qp_left_anti_semi_join.sql:36-40 — row-constructor NOT IN over "
    "NULL pairs: a NULL-free inner set (rows with any NULL component "
    "still pass only if no inner row can possibly equal them), an "
    "empty set (all 7 rows pass), and the full set whose (NULL,NULL) "
    "row makes NOT IN never-true for every probe. Spark matches PG's "
    "three-valued row comparison; DuckDB struct equality treats NULL "
    "as a value, so the oracle spells PG's NOT IN as the exact "
    "NOT EXISTS over componentwise non-FALSE comparisons.",
    ("join", "subquery"),
    oracle="""
WITH lasj_foo(a, b) AS (
  VALUES (1, 2), (12, 20), (NULL, 2), (15, 2), (NULL, NULL), (1, 12),
         (1, 102)
),
lasj_bar(x, y) AS (
  SELECT CAST(floor(i / 10) AS INT), i FROM generate_series(1, 100) t(i)
  UNION ALL VALUES (NULL, 101), (NULL, 102), (NULL, NULL)
)
SELECT 'no_nulls' AS arm, count(*) AS n FROM lasj_foo
WHERE NOT EXISTS (SELECT 1 FROM lasj_bar
                  WHERE y IS NOT NULL AND x IS NOT NULL
                    AND (x = a OR x IS NULL OR a IS NULL)
                    AND (y = b OR y IS NULL OR b IS NULL))
UNION ALL
SELECT 'empty' AS arm, count(*) AS n FROM lasj_foo
WHERE NOT EXISTS (SELECT 1 FROM lasj_bar WHERE y = -1
                    AND (x = a OR x IS NULL OR a IS NULL)
                    AND (y = b OR y IS NULL OR b IS NULL))
UNION ALL
SELECT 'with_nulls' AS arm, count(*) AS n FROM lasj_foo
WHERE NOT EXISTS (SELECT 1 FROM lasj_bar
                  WHERE (x = a OR x IS NULL OR a IS NULL)
                    AND (y = b OR y IS NULL OR b IS NULL))
""",
)


# ---------------------------------------------------------------------------
# case_gp.sql — GP's CASE grammar extension: simple CASE with
# `WHEN IS NOT DISTINCT FROM` arms (null-safe simple CASE, reference
# gram.y). The frontend lowers any simple CASE containing such an arm
# to a searched CASE (operand substituted into every arm); DuckDB
# cannot parse the GP form either, so oracles spell the searched CASE.
# ---------------------------------------------------------------------------

register_regress(
    "regress_casegp_notdistinct_mixed",
    """
WITH mytable(a, b, c) AS (
  VALUES (1,2,'t'), (2,3,'e'), (3,4,'o'), (4,5,'o'), (4,4,'o'),
         (5,5,'t'), (6,6,'t'), (7,6,'a'), (8,7,'t'), (9,8,'a')
)
SELECT a, b, CAST(CASE a WHEN IS NOT DISTINCT FROM b THEN b*10
                    WHEN IS NOT DISTINCT FROM b+1 THEN b*100
                    WHEN b-1 THEN b*1000
                    WHEN b*10 THEN b*10000
                    WHEN (b * (-1)) THEN b*(-1.0)
                    ELSE b END AS DOUBLE) AS newb
FROM mytable ORDER BY a, b
""",
    "src/test/regress/sql/case_gp.sql:56-63 (myview) — simple CASE "
    "mixing IS NOT DISTINCT FROM arms with plain value arms and an "
    "expression arm (the negate() SQL function inlined as b*(-1); "
    "result CAST to DOUBLE for cross-engine dtype stability).",
    ("scalar", "case"),
    oracle="""
WITH mytable(a, b, c) AS (
  VALUES (1,2,'t'), (2,3,'e'), (3,4,'o'), (4,5,'o'), (4,4,'o'),
         (5,5,'t'), (6,6,'t'), (7,6,'a'), (8,7,'t'), (9,8,'a')
)
SELECT a, b, CAST(CASE WHEN a IS NOT DISTINCT FROM b THEN b*10
                    WHEN a IS NOT DISTINCT FROM b+1 THEN b*100
                    WHEN a = b-1 THEN b*1000
                    WHEN a = b*10 THEN b*10000
                    WHEN a = (b * (-1)) THEN b*(-1.0)
                    ELSE b END AS DOUBLE) AS newb
FROM mytable ORDER BY a, b
""",
)

register_regress(
    "regress_casegp_notdistinct_noelse",
    """
WITH products(id, name, price) AS (
  VALUES (1, 'keyboard', CAST(124.99 AS DOUBLE)),
         (2, 'monitor', 299.99), (3, 'mouse', 45.59)
)
SELECT id, name, price as old_price,
       CAST(CASE name WHEN IS NOT DISTINCT FROM 'keyboard'
                          THEN price*1.5
                      WHEN IS NOT DISTINCT FROM 'monitor'
                          THEN price*1.2
                      WHEN 'keyboard tray' THEN price*0.9
                      END AS DOUBLE) AS new_price
FROM products
""",
    "case_gp.sql:66-74 — null-safe simple CASE over text with no "
    "ELSE (the unmatched mouse row yields NULL).",
    ("scalar", "case"),
    oracle="""
WITH products(id, name, price) AS (
  VALUES (1, 'keyboard', CAST(124.99 AS DOUBLE)),
         (2, 'monitor', 299.99), (3, 'mouse', 45.59)
)
SELECT id, name, price as old_price,
       CAST(CASE WHEN name IS NOT DISTINCT FROM 'keyboard'
                     THEN price*1.5
                 WHEN name IS NOT DISTINCT FROM 'monitor'
                     THEN price*1.2
                 WHEN name = 'keyboard tray' THEN price*0.9
                 END AS DOUBLE) AS new_price
FROM products
""",
)


# ---------------------------------------------------------------------------
# join.sql tier 3 — NATURAL JOIN (parse_clause.c transformFromClauseItem
# natural-join expansion): common-column matching, alias column-list
# renames steering WHICH columns match, and outer NATURAL variants.
# ---------------------------------------------------------------------------

register_regress(
    "regress_join_natural_basic",
    """
SELECT i, j, t, k FROM j1_tbl NATURAL JOIN j2_tbl ORDER BY 1, 2, 4
""",
    "src/test/regress/sql/join.sql:146-147 — NATURAL JOIN matches the "
    "single common column i and emits it once.",
    ("join",),
)

register_regress(
    "regress_join_natural_renamed",
    """
SELECT a, b, c, d
FROM j1_tbl t1 (a, b, c) NATURAL JOIN j2_tbl t2 (a, d)
ORDER BY 1, 2, 4
""",
    "join.sql:149-150 — alias column lists rename BOTH sides so the "
    "natural match is on the renamed a (underlying i = i).",
    ("join",),
)

register_regress(
    "regress_join_natural_cross_rename",
    """
SELECT a, b, c, d
FROM j1_tbl t1 (a, b, c) NATURAL JOIN j2_tbl t2 (d, a)
ORDER BY 1, 2, 3
""",
    "join.sql:152-153 — the rename CROSSES columns: t2's k becomes a, "
    "so the natural join is j1.i = j2.k (not i = i).",
    ("join",),
)

register_regress(
    "regress_join_natural_outer",
    """
SELECT 'l' AS arm, i, t, k FROM j1_tbl NATURAL LEFT JOIN j2_tbl
UNION ALL
SELECT 'f' AS arm, i, t, k FROM j1_tbl NATURAL FULL JOIN j2_tbl
""",
    "join.sql NATURAL LEFT/FULL variants — the merged natural column "
    "coalesces across the outer sides (NULL join keys never match, "
    "surviving as unmatched rows on both arms).",
    ("join",),
)


# ---------------------------------------------------------------------------
# union.sql tier 3 — set operations over composite (array) values and
# cross-type numeric coercion (both engines hash/compare nested types;
# the reference exercises hashed and sorted setop paths — one port
# covers both since the answer is identical).
# ---------------------------------------------------------------------------

register_regress(
    "regress_setop_array_types",
    """
SELECT arm, array_to_string(x, ',') AS x FROM (
SELECT 'u' AS arm, x
FROM (VALUES (array[1, 2]), (array[1, 3])) _(x)
UNION SELECT 'u', x FROM (VALUES (array[1, 2]), (array[1, 4])) _(x)
UNION ALL
SELECT 'i' AS arm, x
FROM ((VALUES (array[1, 2]), (array[1, 3]))
      INTERSECT (VALUES (array[1, 2]), (array[1, 4]))) _(x)
UNION ALL
SELECT 'e' AS arm, x
FROM ((VALUES (array[1, 2]), (array[1, 3]))
      EXCEPT (VALUES (array[1, 2]), (array[1, 4]))) _(x)
) setop_arr
""",
    "src/test/regress/sql/union.sql:183-203 — UNION/INTERSECT/EXCEPT "
    "over array-typed rows: element-wise equality drives the dedup "
    "(arrays are hashable on both engines; the outer projection "
    "string-joins them so the driver hash never sees a raw ARRAY).",
    ("setop", "array"),
)

register_regress(
    "regress_setop_mixed_numeric",
    """
(SELECT 'i' AS arm, f1 FROM float4_tbl WHERE f1 > -1
 INTERSECT SELECT 'i', CAST(f1 AS DOUBLE) FROM int4_tbl)
UNION ALL
(SELECT 'e' AS arm, f1 FROM float4_tbl WHERE f1 > -1
 EXCEPT SELECT 'e', CAST(f1 AS DOUBLE) FROM int4_tbl)
""",
    "union.sql:253-256 — setops across numeric types: the float side "
    "intersects/excepts against int values through implicit "
    "widening (0 matches the int 0; 1004.3 survives the EXCEPT; "
    "arms parenthesized — INTERSECT binds tighter than UNION/EXCEPT "
    "on both engines, CAST spelled for cross-engine dtype "
    "agreement).",
    ("setop", "scalar"),
)


# ---------------------------------------------------------------------------
# groupingsets.sql tier 3 — GROUPING() over join variables.
# ---------------------------------------------------------------------------

register_regress(
    "regress_gs_join_vars",
    """
select t1.a AS a, t2.b AS b, grouping(t1.a, t2.b) AS g,
       CAST(sum(t1.v) AS BIGINT) AS s, max(t2.a) AS m
  from gstest t1 join gstest2 t2 on (t1.a=t2.a)
 group by grouping sets ((t1.a, t2.b), ())
 order by 1, 2, 3
""",
    "src/test/regress/sql/groupingsets.sql:203-205 — grouping sets "
    "whose keys come from BOTH sides of a join, with multi-arg "
    "GROUPING() resolving the join vars (frontend maps to "
    "grouping_id) and a grand-total () set.",
    ("agg", "join"),
)

register_regress(
    "regress_gs_join_using",
    """
select a, b, grouping(a, b) AS g, CAST(sum(t1.v) AS BIGINT) AS s,
       max(t2.c) AS m
  from gstest t1 join gstest2 t2 using (a, b)
 group by grouping sets ((a, b), ())
 order by 1, 2
""",
    "groupingsets.sql:211-213 — grouping sets over USING-merged join "
    "columns (the merged a/b resolve to one output column each).",
    ("agg", "join"),
)


# ---------------------------------------------------------------------------
# WITH ORDINALITY (nodeFunctionscan.c; used throughout the reference's
# brin/json batteries): unnest paired with its 1-based position.
# ---------------------------------------------------------------------------

register_regress(
    "regress_srf_with_ordinality",
    """
SELECT t.o, t.v, element_at(value, t.o) AS subscripted
FROM (SELECT array['x', 'y', 'z'] AS value) s,
     unnest(array['x', 'y', 'z']) WITH ORDINALITY AS t(v, o)
ORDER BY t.o
""",
    "src/test/regress/sql/brin.sql:319 (pattern) — unnest WITH "
    "ORDINALITY joined back through the 1-based ordinal as an array "
    "subscript (frontend lowers to a posexplode derived table with "
    "pos + 1; PG's 1-based value[o] spelled element_at(value, o) — "
    "also 1-based — since Spark subscripts are 0-based; DuckDB has "
    "no WITH ORDINALITY, so the oracle pairs unnest with "
    "generate_subscripts).",
    ("srf", "array"),
    oracle="""
SELECT o, v, value[o] AS subscripted
FROM (SELECT array['x', 'y', 'z'] AS value) s,
     (SELECT unnest(array['x', 'y', 'z']) AS v,
             generate_subscripts(array['x', 'y', 'z'], 1) AS o) t
ORDER BY o
""",
)


register_regress(
    "regress_horology_overlaps",
    """
SELECT 't1' AS arm, (timestamp '2000-11-27', timestamp '2000-11-28')
  OVERLAPS (timestamp '2000-11-27 12:00:00', timestamp '2000-11-30') AS r
UNION ALL
SELECT 'f1', (timestamp '2000-11-26', timestamp '2000-11-27')
  OVERLAPS (timestamp '2000-11-27 12:00:00', timestamp '2000-11-30')
UNION ALL
SELECT 't2', (timestamp '2000-11-27', timestamp '2000-11-28')
  OVERLAPS (timestamp '2000-11-27 12:00:00', interval '1 day')
UNION ALL
SELECT 'f2', (timestamp '2000-11-27', interval '12 hours')
  OVERLAPS (timestamp '2000-11-27 12:00:00', timestamp '2000-11-30')
UNION ALL
SELECT 't3', (timestamp '2000-11-27', interval '12 hours')
  OVERLAPS (timestamp '2000-11-27', interval '12 hours')
UNION ALL
SELECT 'f3', (timestamp '2000-11-27', interval '12 hours')
  OVERLAPS (timestamp '2000-11-27 12:00:00', interval '12 hours')
""",
    "src/test/regress/sql/horology.sql:253-291 — the SQL92 OVERLAPS "
    "battery (timestamp.c timestamp_overlaps): endpoint and "
    "interval-length forms, touching-not-overlapping edges. Neither "
    "engine implements OVERLAPS: the frontend lowers to PG's exact "
    "normalized comparison (s1>s2 ? s1<e2 : s1<s2 ? s2<e1 : TRUE); "
    "the DuckDB oracle spells the same comparison.",
    ("scalar", "datetime"),
    oracle="""
WITH ov(arm, s1, e1, s2, e2) AS (VALUES
  ('t1', timestamp '2000-11-27', timestamp '2000-11-28',
         timestamp '2000-11-27 12:00:00', timestamp '2000-11-30'),
  ('f1', timestamp '2000-11-26', timestamp '2000-11-27',
         timestamp '2000-11-27 12:00:00', timestamp '2000-11-30'),
  ('t2', timestamp '2000-11-27', timestamp '2000-11-28',
         timestamp '2000-11-27 12:00:00',
         timestamp '2000-11-27 12:00:00' + interval '1 day'),
  ('f2', timestamp '2000-11-27',
         timestamp '2000-11-27' + interval '12 hours',
         timestamp '2000-11-27 12:00:00', timestamp '2000-11-30'),
  ('t3', timestamp '2000-11-27',
         timestamp '2000-11-27' + interval '12 hours',
         timestamp '2000-11-27',
         timestamp '2000-11-27' + interval '12 hours'),
  ('f3', timestamp '2000-11-27',
         timestamp '2000-11-27' + interval '12 hours',
         timestamp '2000-11-27 12:00:00',
         timestamp '2000-11-27 12:00:00' + interval '12 hours'))
SELECT arm,
       CASE WHEN least(s1, e1) > least(s2, e2)
                THEN least(s1, e1) < greatest(s2, e2)
            WHEN least(s1, e1) < least(s2, e2)
                THEN least(s2, e2) < greatest(s1, e1)
            ELSE TRUE END AS r
FROM ov
""",
)


register_regress(
    "regress_between_symmetric",
    """
SELECT
  (select count(*) from date_tbl
   where f1 between symmetric DATE '1997-01-01' and DATE '1998-01-01')
      AS n_in,
  (select count(*) from date_tbl
   where f1 not between symmetric DATE '1998-01-01' and DATE '1997-01-01')
      AS n_out_swapped
FROM (VALUES (1)) v(x)
""",
    "src/test/regress/sql/horology.sql:392-402 — BETWEEN SYMMETRIC "
    "(parse_expr.c AEXPR_BETWEEN_SYM: bounds swap when reversed); the "
    "frontend lowers to least/greatest bounds, second arm passes the "
    "bounds REVERSED so the swap is load-bearing. DuckDB lacks "
    "SYMMETRIC too — the oracle spells the swapped bounds.",
    ("scalar", "datetime"),
    oracle="""
SELECT
  (select count(*) from date_tbl
   where f1 between DATE '1997-01-01' and DATE '1998-01-01') AS n_in,
  (select count(*) from date_tbl
   where f1 not between DATE '1997-01-01' and DATE '1998-01-01')
      AS n_out_swapped
FROM (VALUES (1)) v(x)
""",
)

register_regress(
    "regress_limit_all_noop",
    """
WITH t_limit_all(a, b) AS (
  SELECT g, g FROM generate_series(1, 10) t(g)
)
SELECT count(*) AS n, CAST(min(b) AS BIGINT) AS mn,
       CAST(max(b) AS BIGINT) AS mx
FROM (SELECT b FROM t_limit_all ORDER BY b ASC LIMIT ALL) s
""",
    "src/test/regress/sql/limit_gp.sql:59-64 — LIMIT ALL is a no-op "
    "(the GP bug gathered everything to one node for it); Spark has "
    "no spelling, the frontend drops the clause (the reference's "
    "ARRAY(subquery) wrapper is spelled as aggregates).",
    ("limit",),
)


register_regress(
    "regress_rowtypes_comparisons",
    """
select 'lt_true' AS arm, ROW(1,2) < ROW(1,3) as r
UNION ALL select 'lt_false', ROW(1,2) < ROW(1,1)
UNION ALL select 'lt_null', ROW(1,2) < ROW(1,NULL)
UNION ALL select 'lt_null_skipped', ROW(1,2,3) < ROW(1,3,NULL)
UNION ALL select 'text_lt', ROW(11,'ABC') < ROW(11,'DEF')
UNION ALL select 'text_gt_false', ROW(11,'ABC') > ROW(11,'DEF')
UNION ALL select 'gt_true', ROW(12,'ABC') > ROW(11,'DEF')
UNION ALL select 'lt_null_mid', ROW(1,2,3) < ROW(1,NULL,4)
UNION ALL select 'eq_false', ROW(1,2,3) = ROW(1,NULL,4)
UNION ALL select 'ne_true', ROW(1,2,3) <> ROW(1,NULL,4)
UNION ALL select 'in_list', ROW(1,2) in (ROW(3,4), ROW(1,2))
UNION ALL select 'le_eq', ROW(1,2) <= ROW(1,2)
""",
    "src/test/regress/sql/rowtypes.sql:108-124 — row-wise comparison "
    "battery (rowtypes.c record_cmp): pairwise three-valued "
    "LEXICOGRAPHIC semantics — `ROW(1,2,3) < ROW(1,3,NULL)` is TRUE "
    "(the NULL is never examined) while `ROW(1,2) < ROW(1,NULL)` is "
    "NULL. The frontend expands ROW() OP ROW() to the standard "
    "OR/AND chain (Spark struct ordering sorts NULLs as values — "
    "wrong semantics) and lowers remaining ROW( to struct( for the "
    "IN-list arm. The inputs are literals, so the oracle pins PG's "
    "documented outputs (golden).",
    ("scalar", "rowtype"),
    oracle="""
SELECT arm, r FROM (VALUES
  ('lt_true', true), ('lt_false', false),
  ('lt_null', CAST(NULL AS BOOLEAN)), ('lt_null_skipped', true),
  ('text_lt', true), ('text_gt_false', false), ('gt_true', true),
  ('lt_null_mid', CAST(NULL AS BOOLEAN)), ('eq_false', false),
  ('ne_true', true), ('in_list', true), ('le_eq', true)) t(arm, r)
""",
)


register_regress(
    "regress_boolean_is_tests",
    """
SELECT true IS TRUE AS t1,
       false IS NOT TRUE AS t2,
       CAST(NULL AS BOOLEAN) IS UNKNOWN AS t3,
       (CAST(NULL AS INT) = 1) IS UNKNOWN AS t4,
       true IS NOT UNKNOWN AS t5,
       false IS FALSE AS t6,
       CAST(NULL AS BOOLEAN) IS NOT FALSE AS t7,
       (1 > 2) IS FALSE AS t8
FROM (VALUES (1)) v(x)
""",
    "src/test/regress/sql/boolean.sql — the BooleanTest battery "
    "(parse_expr.c TruthValue tests): IS [NOT] TRUE/FALSE/UNKNOWN "
    "never yield NULL, UNKNOWN matches exactly the NULL boolean "
    "(Spark-native; the battery pins the passthrough).",
    ("scalar", "boolean"),
)


register_regress(
    "regress_substring_posix_regex",
    r"""
SELECT substring('foobar' from 'o(b.r)') AS grp,
       substring('foobar' from 'o.b') AS whole,
       substring('foobar' from 'qqq') AS nomatch,
       substring('a1b234c' from '\d+') AS digits,
       substring(c, '([A-Z]+)') AS col_grp
FROM (VALUES ('xxBBBy'), ('nope')) t(c)
""",
    "src/test/regress/sql/strings.sql (textregexsubstr) — "
    "substring(x FROM 'posix-regex'): first capture group when the "
    "pattern has one, whole match otherwise, NULL on no match "
    "(frontend lowers to nullif(regexp_extract, ''); DuckDB lacks "
    "the FROM-regex form so the oracle spells the same lowering).",
    ("scalar", "regex"),
    oracle=r"""
SELECT nullif(regexp_extract('foobar', 'o(b.r)', 1), '') AS grp,
       nullif(regexp_extract('foobar', 'o.b', 0), '') AS whole,
       nullif(regexp_extract('foobar', 'qqq', 0), '') AS nomatch,
       nullif(regexp_extract('a1b234c', '\d+', 0), '') AS digits,
       nullif(regexp_extract(c, '([A-Z]+)', 1), '') AS col_grp
FROM (VALUES ('xxBBBy'), ('nope')) t(c)
""",
)


register_regress(
    "regress_jira_range_asymmetric_frames",
    """
WITH esc176_1(id, seq, clickdate, val) AS (
  SELECT CAST(1 + g % 2 AS INT), CAST(g AS BIGINT),
         timestamp '2011-01-01 00:00:00' + g * interval '300 seconds',
         CAST(g * 10 AS BIGINT)
  FROM generate_series(1, 10) t(g)
)
select 'ff_int' AS arm, id, seq, CAST(sum(val) over (partition by id
    order by clickdate range between interval '0 seconds' following
    and interval '1000 seconds' following) AS BIGINT) AS s
from esc176_1
UNION ALL
select 'pf_int', id, seq, CAST(sum(val) over (partition by id
    order by clickdate range between interval '0 seconds' preceding
    and interval '1000 seconds' following) AS BIGINT)
from esc176_1
UNION ALL
select 'ff_num', id, seq, CAST(sum(val) over (partition by id
    order by seq range between 0 following and 10 following) AS BIGINT)
from esc176_1
UNION ALL
select 'pp_num', id, seq, CAST(sum(val) over (partition by id
    order by seq range between 10 preceding and 0 preceding) AS BIGINT)
from esc176_1
""",
    "src/test/regress/sql/qp_misc_jiras.sql:2432-2435 (ESC-176) — "
    "asymmetric RANGE frames: both-bounds FOLLOWING with interval "
    "offsets over a timestamp key, 0-offset bounds, and "
    "both-bounds-PRECEDING ending at 0 PRECEDING (PG includes the "
    "current row's peers there, and Spark agrees; DuckDB excludes "
    "them, so the oracle spells that arm's end bound as CURRENT "
    "ROW).",
    ("window",),
    oracle="""
WITH esc176_1(id, seq, clickdate, val) AS (
  SELECT CAST(1 + g % 2 AS INT), CAST(g AS BIGINT),
         timestamp '2011-01-01 00:00:00' + g * interval '300 seconds',
         CAST(g * 10 AS BIGINT)
  FROM generate_series(1, 10) t(g)
)
select 'ff_int' AS arm, id, seq, CAST(sum(val) over (partition by id
    order by clickdate range between interval '0 seconds' following
    and interval '1000 seconds' following) AS BIGINT) AS s
from esc176_1
UNION ALL
select 'pf_int', id, seq, CAST(sum(val) over (partition by id
    order by clickdate range between interval '0 seconds' preceding
    and interval '1000 seconds' following) AS BIGINT)
from esc176_1
UNION ALL
select 'ff_num', id, seq, CAST(sum(val) over (partition by id
    order by seq range between 0 following and 10 following) AS BIGINT)
from esc176_1
UNION ALL
select 'pp_num', id, seq, CAST(sum(val) over (partition by id
    order by seq range between 10 preceding and current row) AS BIGINT)
from esc176_1
""",
)

register_regress(
    "regress_jira_cube_null_groups",
    """
WITH tbl7957_foo(x, y, z) AS (VALUES (1,2,3), (1,2,3), (1,2,3))
SELECT 'cx' AS arm, count(*) as c FROM tbl7957_foo group by cube(x)
UNION ALL
SELECT 'sz', CAST(sum(z) AS BIGINT) FROM tbl7957_foo group by cube(y)
UNION ALL
SELECT 'sy', CAST(sum(z) AS BIGINT) FROM tbl7957_foo group by cube(z)
""",
    "qp_misc_jiras.sql:1707-1717 (MPP-7957) — single-column CUBE over "
    "a uniform table: two identical groups per arm (the value group "
    "and the grand total), exercised per column.",
    ("aggregate",),
)


register_regress(
    "regress_srf_series_stepped",
    """
SELECT 'step3' AS arm, count(*) AS n, CAST(min(g) AS STRING) AS mn,
       CAST(max(g) AS STRING) AS mx
FROM generate_series(1, 10, 3) t(g)
UNION ALL
SELECT 'negstep', count(*), CAST(min(g) AS STRING), CAST(max(g) AS STRING)
FROM generate_series(10, 1, -4) t(g)
UNION ALL
SELECT 'ts6h', count(*), CAST(min(g) AS STRING), CAST(max(g) AS STRING)
FROM generate_series(timestamp '2020-01-01 00:00:00',
                     timestamp '2020-01-02 00:00:00',
                     interval '6 hours') t(g)
""",
    "src/backend/utils/adt/int.c generate_series_step_int4 + "
    "timestamp.c generate_series_timestamp — stepped and "
    "timestamp/interval series (sequence() carries all three "
    "natively; endpoints text-cast for the mixed-type arms).",
    ("srf",),
)


# ---------------------------------------------------------------------------
# gp_tsrf.sql — targetlist SRFs (ExecProjectSRF): a generator in the
# SELECT list, bare and beside table columns with correlated bounds.
# The frontend now lowers ONE top-level select-list generate_series to
# explode(sequence(..)); multiple SRFs per list (PG's LCM expansion)
# and SRFs nested inside expressions stay out of scope and fail loudly.
# ---------------------------------------------------------------------------

register_regress(
    "regress_tsrf_select_list",
    """
SELECT generate_series(1,4) as x
""",
    "src/test/regress/sql/gp_tsrf.sql:2 — bare SRF as the whole "
    "select list: four rows (DuckDB returns a LIST for a select-list "
    "generate_series, so the oracle unnests).",
    ("srf",),
    oracle="""
SELECT unnest(generate_series(1, 4)) AS x
""",
)

register_regress(
    "regress_tsrf_correlated_bound",
    """
WITH test_srf(a, b, c) AS (VALUES (2,2,2), (3,2,2))
select generate_series(1,a) as output, b, c from test_srf
""",
    "gp_tsrf.sql:21-22 — select-list SRF whose bound is a TABLE "
    "column (one generator row-set per input row, 2 + 3 rows).",
    ("srf",),
    oracle="""
WITH test_srf(a, b, c) AS (VALUES (2,2,2), (3,2,2))
select unnest(generate_series(1, a)) as output, b, c from test_srf
""",
)

register_regress(
    "regress_tsrf_in_subquery_correlated",
    """
SELECT a IN (SELECT generate_series(1,a)) AS x
FROM (SELECT g AS a FROM generate_series(1, 3) t(g)) s
""",
    "gp_tsrf.sql:26-27 — correlated select-list SRF inside an IN "
    "subquery: every a is within its own 1..a series.",
    ("srf", "subquery"),
    oracle="""
SELECT a IN (SELECT unnest(generate_series(1, a))) AS x
FROM (SELECT g AS a FROM generate_series(1, 3) t(g)) s
""",
)


register_regress(
    "regress_gparr_order_nulls_battery",
    """
WITH aggordertest(a, b) AS (
  VALUES (1,1), (2,2), (1,3), (3,4), (NULL,5), (2,NULL)
)
select 'af' AS arm,
       array_join(array_agg(a order by a nulls first), ',', 'N') AS r
FROM aggordertest
UNION ALL select 'al',
       array_join(array_agg(a order by a nulls last), ',', 'N')
FROM aggordertest
UNION ALL select 'df',
       array_join(array_agg(a order by a desc nulls first), ',', 'N')
FROM aggordertest
UNION ALL select 'dl',
       array_join(array_agg(a order by a desc nulls last), ',', 'N')
FROM aggordertest
UNION ALL select 'bf',
       array_join(array_agg(a order by b nulls first), ',', 'N')
FROM aggordertest
UNION ALL select 'bl',
       array_join(array_agg(a order by b nulls last), ',', 'N')
FROM aggordertest
UNION ALL select 'bdf',
       array_join(array_agg(a order by b desc nulls first), ',', 'N')
FROM aggordertest
UNION ALL select 'bdl',
       array_join(array_agg(a order by b desc nulls last), ',', 'N')
FROM aggordertest
""",
    "src/test/regress/sql/gp_array_agg.sql:24-31 — the 8-way ordered "
    "array_agg battery: every ASC/DESC x NULLS FIRST/LAST "
    "combination, over NULL order keys AND NULL values (the frontend "
    "sorted-struct rewrite now honors explicit NULLS placement on "
    "top of PG's defaults). NULL elements render through the 'N' "
    "sentinel so the driver hash sees plain strings.",
    ("aggregate", "array"),
    oracle="""
WITH aggordertest(a, b) AS (
  VALUES (1,1), (2,2), (1,3), (3,4), (NULL,5), (2,NULL)
)
select 'af' AS arm,
       array_to_string(list_transform(array_agg(a order by a nulls first),
           x -> coalesce(CAST(x AS VARCHAR), 'N')), ',') AS r
FROM aggordertest
UNION ALL select 'al',
       array_to_string(list_transform(array_agg(a order by a nulls last),
           x -> coalesce(CAST(x AS VARCHAR), 'N')), ',')
FROM aggordertest
UNION ALL select 'df',
       array_to_string(list_transform(
           array_agg(a order by a desc nulls first),
           x -> coalesce(CAST(x AS VARCHAR), 'N')), ',')
FROM aggordertest
UNION ALL select 'dl',
       array_to_string(list_transform(
           array_agg(a order by a desc nulls last),
           x -> coalesce(CAST(x AS VARCHAR), 'N')), ',')
FROM aggordertest
UNION ALL select 'bf',
       array_to_string(list_transform(array_agg(a order by b nulls first),
           x -> coalesce(CAST(x AS VARCHAR), 'N')), ',')
FROM aggordertest
UNION ALL select 'bl',
       array_to_string(list_transform(array_agg(a order by b nulls last),
           x -> coalesce(CAST(x AS VARCHAR), 'N')), ',')
FROM aggordertest
UNION ALL select 'bdf',
       array_to_string(list_transform(
           array_agg(a order by b desc nulls first),
           x -> coalesce(CAST(x AS VARCHAR), 'N')), ',')
FROM aggordertest
UNION ALL select 'bdl',
       array_to_string(list_transform(
           array_agg(a order by b desc nulls last),
           x -> coalesce(CAST(x AS VARCHAR), 'N')), ',')
FROM aggordertest
""",
)


register_regress(
    "regress_agg_array_distinct_ordered",
    """
WITH dt(a) AS (VALUES (3), (1), (3), (NULL), (2), (NULL), (1))
select 'asc' AS arm,
       array_join(array_agg(distinct a order by a), ',', 'N') AS r FROM dt
UNION ALL
select 'desc',
       array_join(array_agg(distinct a order by a desc), ',', 'N') FROM dt
UNION ALL
select 'desc_nl',
       array_join(array_agg(distinct a order by a desc nulls last),
                  ',', 'N')
FROM dt
""",
    "src/test/regress/sql/aggregates.sql:648-654 — DISTINCT ordered "
    "array_agg (parse_agg.c: the ORDER BY expr must equal the "
    "DISTINCT expr): one NULL survives the dedup and obeys the "
    "NULLS placement. Frontend dedups at the sorted-struct level "
    "(collect_set would DROP the NULL). PG's DESC default is NULLS "
    "FIRST and Spark's lowering matches; DuckDB defaults DESC to "
    "nulls-last, so the oracle spells NULLS FIRST on that arm. "
    "NULL elements render through the 'N' sentinel (driver-hash "
    "safety).",
    ("aggregate", "array"),
    oracle="""
WITH dt(a) AS (VALUES (3), (1), (3), (NULL), (2), (NULL), (1))
select 'asc' AS arm,
       array_to_string(list_transform(array_agg(distinct a order by a),
           x -> coalesce(CAST(x AS VARCHAR), 'N')), ',') AS r FROM dt
UNION ALL
select 'desc',
       array_to_string(list_transform(
           array_agg(distinct a order by a desc nulls first),
           x -> coalesce(CAST(x AS VARCHAR), 'N')), ',') FROM dt
UNION ALL
select 'desc_nl',
       array_to_string(list_transform(
           array_agg(distinct a order by a desc nulls last),
           x -> coalesce(CAST(x AS VARCHAR), 'N')), ',')
FROM dt
""",
)


register_regress(
    "regress_string_agg_distinct_ordered",
    """
WITH vt(f1) AS (VALUES ('a'), ('ab'), ('abcd'), ('a'), ('abcd'))
select 'asc' AS arm, string_agg(distinct f1, ',' order by f1) AS s
from vt
UNION ALL
select 'desc', string_agg(distinct f1, '|' order by f1 desc) from vt
""",
    "src/test/regress/sql/aggregates.sql:786 — DISTINCT ordered "
    "string_agg (listagg DISTINCT ... WITHIN GROUP on Spark, "
    "passthrough pinned both directions; one ordering per aggregate "
    "node — Spark rejects two differently-ordered DISTINCT listaggs "
    "in one select, so the arms are UNION ALLed).",
    ("aggregate",),
)


# ---------------------------------------------------------------------------
# regex.sql — the PG regular-expression battery (backrefs, lookaround,
# NFA stress shapes). PG's regex engine (src/backend/regex/, the Tcl
# "advanced RE" engine) and Java's differ in pathological corners, so
# every case below was probed to agree with the reference's expected
# output (src/test/regress/expected/regex.out); the expected values ARE
# the oracle (DuckDB's RE2 cannot run backrefs or lookaround at all,
# which is the point of pinning these on literals).
# ---------------------------------------------------------------------------

register_regress(
    "regress_regex_backref_battery",
    r"""
SELECT 'bbbbb' ~ '^([bc])\1*$' AS t1,
       'ccc'   ~ '^([bc])\1*$' AS t2,
       'xxx'   ~ '^([bc])\1*$' AS f1,
       'bbc'   ~ '^([bc])\1*$' AS f2,
       'b'     ~ '^([bc])\1*$' AS t3,
       'abc abc abc' ~ '^(\w+)( \1)+$' AS t4,
       'abc abd abc' ~ '^(\w+)( \1)+$' AS f3,
       'abc abc abd' ~ '^(\w+)( \1)+$' AS f4,
       'abc abc abc' ~ '^(.+)( \1)+$'  AS t5,
       'abc abd abc' ~ '^(.+)( \1)+$'  AS f5,
       'abc abc abd' ~ '^(.+)( \1)+$'  AS f6,
       'Programmer'  ~ '(\w).*?\1'     AS t6
""",
    "src/test/regress/sql/regex.sql:9-22,136 — quantified backrefs, "
    "backrefs inside larger expressions, and backref + non-greedy "
    "quantifier (Tcl bug 6585b21c). Java regex agrees with PG's ARE "
    "on all 12 (probed).",
    ("regex", "scalar"),
    oracle="""
SELECT true AS t1, true AS t2, false AS f1, false AS f2, true AS t3,
       true AS t4, false AS f3, false AS f4, true AS t5, false AS f5,
       false AS f6, true AS t6
""",
)

register_regress(
    "regress_regex_lookaround_battery",
    """
SELECT 'xz'  ~ 'x(?=[xy])'      AS f1,
       'xy'  ~ 'x(?=[xy])'      AS t1,
       'xz'  ~ 'x(?![xy])'      AS t2,
       'xy'  ~ 'x(?![xy])'      AS f2,
       'x'   ~ 'x(?![xy])'      AS t3,
       'xyy' ~ '(?<=[xy])yy+'   AS t4,
       'zyy' ~ '(?<=[xy])yy+'   AS f3,
       'xyy' ~ '(?<![xy])yy+'   AS f4,
       'zyy' ~ '(?<![xy])yy+'   AS t5,
       'b'   ~ '(?=b)b'         AS t6,
       'a'   ~ '(?=b)b'         AS f5
""",
    "src/test/regress/sql/regex.sql:36-70 — lookahead / lookbehind "
    "constraint batteries (single-chr-or-bracket LACON optimization "
    "paths). Java regex agrees with PG on all 11 (probed).",
    ("regex", "scalar"),
    oracle="""
SELECT false AS f1, true AS t1, true AS t2, false AS f2, true AS t3,
       true AS t4, false AS f3, false AS f4, true AS t5, true AS t6,
       false AS f5
""",
)

register_regress(
    "regress_regex_nfa_stress",
    r"""
SELECT 'a' ~ '($|^)*'                       AS t1,
       'a' ~ '(^$)*'                        AS t2,
       'aa bb cc' ~ '(^(?!aa))+'            AS f1,
       'dd x' ~ '(^(?!aa)(?!bb)(?!cc))+'    AS t3,
       'a' ~ '((((((a)*)*)*)*)*)*'          AS t4,
       'xxx' ~ '(.){0}(\1)'                 AS f2,
       'xyz' ~ '((.)){0}(\2){0}'            AS t5,
       'abcdef' ~ '^(.)\1|\1.'              AS f3,
       'abadef' ~ '^((.)\2|..)\2'           AS f4
""",
    "src/test/regress/sql/regex.sql:103-134 — the CVE-2007-4772 "
    "pullback() loop shapes, fixempties() loop (Tcl 3604074), "
    "capture-groups-in-{0} removal, and the zaptreesubs oversight "
    "cases. Java regex agrees with PG's documented expected output "
    "on all 9 (probed against expected/regex.out).",
    ("regex", "scalar"),
    oracle="""
SELECT true AS t1, true AS t2, false AS f1, true AS t3, true AS t4,
       false AS f2, true AS t5, false AS f3, false AS f4
""",
)

register_regress(
    "regress_regex_substring_pmatch",
    """
SELECT substring('asd TO foo'
                 from ' TO (([a-z0-9._]+|"([^"]+|"")+")+)') AS s1,
       substring('a' from '((a))+') AS s2,
       substring('a' from '((a)+)') AS s3,
       substring('foobar' from 'o.b') AS s4,
       substring('foobar' from 'o(.)b') AS s5,
       substring('foobar' from 'x(.)y') AS s6
""",
    "src/test/regress/sql/regex.sql:24-27 + qp_regexp.sql:95-96 — the "
    "9.2beta1 pmatch[]-overrun crash patterns plus the basic POSIX "
    "substring forms: first capture group when present, whole match "
    "otherwise, NULL on no match (textregexsubstr, adt/regexp.c).",
    ("regex", "scalar"),
    oracle="""
SELECT 'foo' AS s1, 'a' AS s2, 'a' AS s3, 'oob' AS s4, 'o' AS s5,
       CAST(NULL AS VARCHAR) AS s6
""",
)


# ---------------------------------------------------------------------------
# qp_regexp.sql — regexp function battery. The frontend now lowers PG's
# first-only flagless regexp_replace (global replace of the ^-anchored
# lazy-prefix pattern), regexp_split_to_table/_array, and the SQL99
# substring(s FROM pat FOR esc) form (similar_escape with esc" capture
# markers). Two probed divergences stay documented instead of ported:
# zero-length-match splits (PG never splits adjacent to a previous
# match; Java emits empty strings) and RE-level non-greedy matching
# ('Y*?(...)': PG shortest-total-match gives '1', Java gives '123').
# ---------------------------------------------------------------------------

register_regress(
    "regress_qpregexp_split_table",
    r"""
SELECT foo
FROM regexp_split_to_table(
       'the quick brown fox jumped over the lazy dog', E'\\s+') AS foo
""",
    "qp_regexp.sql:79 — regexp_split_to_table as a FROM-position SRF "
    "(SRF-alias rule names the column): lowered to explode(split()).",
    ("regex", "srf"),
    oracle=r"""
SELECT unnest(regexp_split_to_array(
    'the quick brown fox jumped over the lazy dog', '\s+')) AS foo
""",
)

register_regress(
    "regress_qpregexp_split_array",
    r"""
SELECT array_to_string(regexp_split_to_array(
    'the quick brown fox jumped over the lazy dog', E'\\s+'), '|') AS r
""",
    "qp_regexp.sql:81 — regexp_split_to_array; the E'\\\\s+' escape "
    "string is unescaped at translate time and re-escaped for Spark's "
    "string parser. String-joined for driver-hash safety.",
    ("regex", "array"),
    oracle=r"""
SELECT array_to_string(regexp_split_to_array(
    'the quick brown fox jumped over the lazy dog', '\s+'), '|') AS r
""",
)

register_regress(
    "regress_qpregexp_basics",
    r"""
SELECT '123' ~ E'^\\d{3}' AS t1,
       'abc' SIMILAR TO 'abc' AS t2,
       'abc' SIMILAR TO 'a' AS f1,
       'abc' SIMILAR TO '%(b|d)%' AS t3,
       'abc' SIMILAR TO '(b|c)%' AS f2,
       substring('foobar' from '%#"o_b#"%' for '#') AS s1,
       substring('foobar' from '#"o_b#"%' for '#') AS s2,
       SUBSTRING('XY1234Z', 'Y*([0-9]{1,3})') AS s3,
       regexp_replace('foobarbaz', 'b..', 'X') AS r1,
       regexp_replace('foobarbaz', 'b..', 'X', 'g') AS r2,
       regexp_replace('foobarbaz', 'b(..)', E'X\\1Y', 'g') AS r3
""",
    "qp_regexp.sql:85-105 — ~ with E-string pattern, SIMILAR TO "
    "batteries, SQL99 substring FOR-escape capture markers, greedy "
    "POSIX substring, and regexp_replace first-only default vs 'g' "
    "vs backref replacement (expected values from "
    "expected/qp_regexp.out; DuckDB lacks the FOR-escape form).",
    ("regex", "scalar"),
    oracle="""
SELECT true AS t1, true AS t2, false AS f1, true AS t3, false AS f2,
       'oob' AS s1, CAST(NULL AS VARCHAR) AS s2, '123' AS s3,
       'fooXbaz' AS r1, 'fooXX' AS r2, 'fooXarYXazY' AS r3
""",
)


# ---------------------------------------------------------------------------
# decode_expr.sql — Oracle-style DECODE. Spark's built-in decode()
# (since 3.2) already implements the Oracle semantics the reference's
# parser provides (decode -> CASE with null-safe matching,
# gram.y/parse_expr.c DECODE support): NULL search values MATCH a NULL
# expr, unlike a simple CASE. DuckDB has no decode, so oracles spell
# the IS NOT DISTINCT FROM CASE expansion.
# ---------------------------------------------------------------------------

register_regress(
    "regress_decode_int_battery",
    """
WITH decodeint(a, b) AS (
  VALUES (0,0),(1,1),(2,2),(3,3),(4,4),(5,5),(6,6),
         (NULL,1),(1,1),(2,1),(3,1),(4,1),(5,1),(6,1)
)
select a, b,
       decode(a, 1, 'A', 2, 'B', 3, 'C', 4, 'D', 5, 'E') as dec_nodef,
       decode(a, 1, 'A', 2, 'B', 3, 'C', 4, 'D', 5, 'E', 'Z')
           as dec_def,
       decode(a, 10, 'J', 11, 'K', 12, 'L', 13, 'M') as dec_nomatch,
       decode(a, 10, 'J', 11, 'K', 12, 'L', 13, 'M', 'Z')
           as dec_nomatch_def
from decodeint order by a, b
""",
    "decode_expr.sql:23-28 — DECODE over an int column incl. a NULL "
    "row: no-default -> NULL, default, no-match, no-match-with-default "
    "arms.",
    ("scalar", "conditional"),
    oracle="""
WITH decodeint(a, b) AS (
  VALUES (0,0),(1,1),(2,2),(3,3),(4,4),(5,5),(6,6),
         (NULL,1),(1,1),(2,1),(3,1),(4,1),(5,1),(6,1)
)
select a, b,
       CASE WHEN a IS NOT DISTINCT FROM 1 THEN 'A'
            WHEN a IS NOT DISTINCT FROM 2 THEN 'B'
            WHEN a IS NOT DISTINCT FROM 3 THEN 'C'
            WHEN a IS NOT DISTINCT FROM 4 THEN 'D'
            WHEN a IS NOT DISTINCT FROM 5 THEN 'E' END as dec_nodef,
       CASE WHEN a IS NOT DISTINCT FROM 1 THEN 'A'
            WHEN a IS NOT DISTINCT FROM 2 THEN 'B'
            WHEN a IS NOT DISTINCT FROM 3 THEN 'C'
            WHEN a IS NOT DISTINCT FROM 4 THEN 'D'
            WHEN a IS NOT DISTINCT FROM 5 THEN 'E'
            ELSE 'Z' END as dec_def,
       CAST(NULL AS VARCHAR) as dec_nomatch,
       'Z' as dec_nomatch_def
from decodeint order by a, b
""",
)

register_regress(
    "regress_decode_null_semantics",
    """
select decode(CAST(NULL AS int), 1, 'null = 1', 'null != 1') AS r1,
       decode(CAST(NULL AS int), CAST(NULL AS int),
              'null = null', 'null != null') AS r2,
       decode(1, CAST(NULL AS int), '1 = null', '1 != null') AS r3,
       decode(10, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6, 7, 7, 8, 8,
              9, 9, 10, CAST(NULL AS int), 1) AS r4,
       decode(11, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6, 7, 7, 8, 8,
              9, 9, 10, 10, CAST(NULL AS int)) AS r5
""",
    "decode_expr.sql:614-624 — DECODE's null-safe matching: a NULL "
    "search value MATCHES a NULL expr (unlike simple CASE); a matched "
    "NULL result stays NULL even with a trailing default.",
    ("scalar", "conditional"),
    oracle="""
select 'null != 1' AS r1, 'null = null' AS r2, '1 != null' AS r3,
       CAST(NULL AS int) AS r4, CAST(NULL AS int) AS r5
""",
)

register_regress(
    "regress_decode_expr_shapes",
    """
WITH s(empid, startdate) AS (
  VALUES (1, DATE '2011-01-05'), (2, DATE '2010-12-30'),
         (3, DATE '2011-03-15'), (4, DATE '2009-07-01')
)
select empid,
       decode((s.startdate >= DATE '2011-01-01'), true, 'Y', 'N')
           AS started_2011,
       decode(extract(year from s.startdate),
              2011, 2011, 2010, 2010, 2009, 2009, 2005) AS start_yr,
       decode(s.startdate, DATE '2011-01-05', 1,
              DATE '2010-12-30', 12, 0) AS start_mon
from s order by empid
""",
    "decode_expr.sql:303,407,211 — DECODE over a boolean expression, "
    "an extract() result, and date search values.",
    ("scalar", "conditional"),
    oracle="""
WITH s(empid, startdate) AS (
  VALUES (1, DATE '2011-01-05'), (2, DATE '2010-12-30'),
         (3, DATE '2011-03-15'), (4, DATE '2009-07-01')
)
select empid,
       CASE WHEN (s.startdate >= DATE '2011-01-01') THEN 'Y'
            ELSE 'N' END AS started_2011,
       CASE extract(year from s.startdate)
            WHEN 2011 THEN 2011 WHEN 2010 THEN 2010
            WHEN 2009 THEN 2009 ELSE 2005 END AS start_yr,
       CASE s.startdate WHEN DATE '2011-01-05' THEN 1
            WHEN DATE '2010-12-30' THEN 12 ELSE 0 END AS start_mon
from s order by empid
""",
)


# ---------------------------------------------------------------------------
# qp_union_intersect.sql — set operations over inputs with NULL rows
# and duplicates: NULL rows compare EQUAL for set-op purposes
# (grouping semantics, not =), and the ALL forms do multiplicity
# arithmetic min(m,n) / max(m-n, 0). The fixture mirrors the file's
# dml_union_r/s: dup rows + 3 all-NULL rows on one side, 1 on the
# other.
# ---------------------------------------------------------------------------

register_regress(
    "regress_qpunion_null_multiplicity",
    """
WITH u_r(a, b) AS (
  VALUES (1,1),(1,1),(2,2),(3,3),(3,3),(3,3),
         (NULL,NULL),(NULL,NULL),(NULL,NULL),(5,6)
),
u_s(a, b) AS (
  VALUES (1,1),(3,3),(3,3),(NULL,NULL),(7,8)
)
SELECT 'int' AS arm, a, b FROM (
  SELECT a, b FROM u_r INTERSECT SELECT a, b FROM u_s) x
UNION ALL
SELECT 'int_all', a, b FROM (
  SELECT a, b FROM u_r INTERSECT ALL SELECT a, b FROM u_s) y
UNION ALL
SELECT 'exc', a, b FROM (
  SELECT a, b FROM u_r EXCEPT SELECT a, b FROM u_s) z
UNION ALL
SELECT 'exc_all', a, b FROM (
  SELECT a, b FROM u_r EXCEPT ALL SELECT a, b FROM u_s) w
""",
    "qp_union_intersect.sql:55-100 shapes — INTERSECT [ALL] / EXCEPT "
    "[ALL] where both inputs carry duplicate and all-NULL rows: NULLs "
    "group equal, INTERSECT ALL keeps min(m,n) copies, EXCEPT ALL "
    "keeps max(m-n,0).",
    ("setop",),
)

register_regress(
    "regress_qpunion_series_prune",
    """
SELECT count(*) AS c1 FROM (
  SELECT g AS i FROM generate_series(1,10) t(g)
  INTERSECT SELECT g FROM generate_series(1,100) t2(g)) foo
""",
    "qp_union_intersect.sql:73-84 — INTERSECT between two "
    "generate_series SRFs (the small side prunes the big one).",
    ("setop", "srf"),
)


# ---------------------------------------------------------------------------
# json.sql / jsonb.sql — operator chains through the frontend. The
# chain composer folds j -> 'a' -> 0 ->> 'b' into ONE
# get_json_object path (and #>/#>> path-array spellings into the
# same), so a chain costs one JVM expression, not N string parses.
# Divergence (documented in MIGRATION.md): a `->` whose LEAF is a
# json string returns it unquoted here (get_json_object strips
# quotes); chains ending in ->> or yielding objects/arrays agree.
# ---------------------------------------------------------------------------

register_regress(
    "regress_jsonb_op_chains",
    """
WITH t(id, j) AS (VALUES
  (1, '{"a":{"b":"c","d":[1,2,3]},"n":null,"num":42}'),
  (2, '{"a":{"b":"x","d":[9]},"num":7}'),
  (3, '{"other":true}')
)
SELECT id,
       j -> 'a' ->> 'b' AS ab,
       j -> 'a' -> 'd' ->> 1 AS ad1,
       j #>> '{a,d,2}' AS ad2,
       j #> '{a,d}' AS ad_json,
       j ->> 'num' AS num_text,
       j ->> 'missing' AS missing
FROM t ORDER BY id
""",
    "jsonb.sql operator battery (jsonfuncs.c json_object_field/"
    "json_array_element/json_extract_path): -> chains, integer index "
    "steps, #>/#>> path arrays, NULL on missing keys.",
    ("json",),
    oracle="""
WITH t(id, j) AS (VALUES
  (1, '{"a":{"b":"c","d":[1,2,3]},"n":null,"num":42}'),
  (2, '{"a":{"b":"x","d":[9]},"num":7}'),
  (3, '{"other":true}')
)
SELECT id,
       json_extract_string(j, '$.a.b') AS ab,
       json_extract_string(j, '$.a.d[1]') AS ad1,
       json_extract_string(j, '$.a.d[2]') AS ad2,
       CAST(json_extract(j, '$.a.d') AS VARCHAR) AS ad_json,
       json_extract_string(j, '$.num') AS num_text,
       json_extract_string(j, '$.missing') AS missing
FROM t ORDER BY id
""",
)

register_regress(
    "regress_json_length_keys",
    """
WITH t(id, j) AS (VALUES
  (1, '{"k1":1,"k2":[10,20,30,40],"k3":{"x":1}}'),
  (2, '{"z":[],"a":[5]}')
)
SELECT id,
       json_array_length(j -> 'k2') AS len_k2,
       array_join(array_sort(json_object_keys(j)), ',') AS keys
FROM t ORDER BY id
""",
    "json.sql — json_array_length + json_object_keys (Spark builtins "
    "share PG's names; PG's keys SRF becomes an array column, the "
    "set-returning spelling is covered by json_each_object_keys). "
    "Keys sorted + string-joined: document order is engine-specific "
    "and the driver hash cannot take raw arrays (CORRECTNESS_r05 "
    "red).",
    ("json",),
    oracle="""
WITH t(id, j) AS (VALUES
  (1, '{"k1":1,"k2":[10,20,30,40],"k3":{"x":1}}'),
  (2, '{"z":[],"a":[5]}')
)
SELECT id,
       json_array_length(j, '$.k2') AS len_k2,
       array_to_string(list_sort(json_keys(j)), ',') AS keys
FROM t ORDER BY id
""",
)

register_regress(
    "regress_collate_c_order",
    """
SELECT f1 AS f1 FROM varchar_tbl ORDER BY f1 COLLATE "C", f1
""",
    'collate.sql "C" collation class — PG\'s "C"/"POSIX" collations '
    "ARE byte order, which is Spark's (and DuckDB's default) string "
    "comparison, so the clause drops to a no-op; locale collations "
    "still fail loudly at translate time (varlena.c varstr_cmp; "
    "MIGRATION.md COLLATE).",
    ("scalar", "collate"),
    oracle="""
SELECT f1 AS f1 FROM varchar_tbl ORDER BY f1, f1
""",
)

register_regress(
    "regress_multidim_array_subset",
    """
SELECT (ARRAY[ARRAY[1,2,3],ARRAY[4,5,6]])[2][1] AS a21,
       (ARRAY[ARRAY[1,2,3],ARRAY[4,5,6]])[1][3] AS a13,
       (ARRAY[ARRAY[1,2,3],ARRAY[4,5,6]])[3][1] AS oob,
       (ARRAY[ARRAY['x','y'],ARRAY['z','w']])[2][2] AS s22
""",
    "arrays.sql multidimensional subset (arrayfuncs.c): PG rectangular "
    "multidim arrays map onto nested Spark arrays for literal "
    "construction + element access — a[i][j] rewrites innermost-out "
    "to chained 1-based try_element_at, out-of-bounds yields NULL as "
    "in PG. Slices and explicit lower bounds remain out "
    "(MIGRATION.md).",
    ("scalar", "array"),
    oracle="""
SELECT ([[1,2,3],[4,5,6]])[2][1] AS a21,
       ([[1,2,3],[4,5,6]])[1][3] AS a13,
       ([[1,2,3],[4,5,6]])[3][1] AS oob,
       ([['x','y'],['z','w']])[2][2] AS s22
""",
)
