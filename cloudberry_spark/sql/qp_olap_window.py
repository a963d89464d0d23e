"""qp_olap_window.sql ports: the reference's window-function fuzzer
battery (2,977 statements over the ow_sale Macbeth schema), determinist-
ic slice.

The battery marks tie-ambiguous outputs with `-- mvd` annotations and
checks functional dependencies, because ROW_NUMBER/LAG/LEAD over
non-unique ORDER BY keys have no single correct answer. A value-hash
driver keeps the queries whose window functions are deterministic
under ties (RANK/DENSE_RANK/CUME_DIST/PERCENT_RANK, no ROWS frames);
an evenly spaced sample of that slice is ported verbatim (outer select
lists aliased; TO_CHAR numeric templates run natively on Spark and are
spelled printf in the DuckDB oracle). Originally generated from the
reference tree, which is no longer available. The module is the source of record; edit it in place.
"""

from cloudberry_spark.sql.regress import register_regress

QPOW_PRELUDE = r'''

WITH ow_customer(cn, cname, cloc) AS (
  VALUES (1, 'Macbeth', 'Inverness'), (2, 'Duncan', 'Forres'),
         (3, 'Lady Macbeth', 'Inverness'), (4, 'Witches, Inc', 'Lonely Heath')
),
ow_vendor(vn, vname, vloc) AS (
  VALUES (10, 'Witches, Inc', 'Lonely Heath'), (20, 'Lady Macbeth', 'Inverness'),
         (30, 'Duncan', 'Forres'), (40, 'Macbeth', 'Inverness'),
         (50, 'Macduff', 'Fife')
),
ow_product(pn, pname, pcolor) AS (
  VALUES (100, 'Sword', 'Black'), (200, 'Dream', 'Black'),
         (300, 'Castle', 'Grey'), (400, 'Justice', 'Clear'),
         (500, 'Donuts', 'Plain'), (600, 'Donuts', 'Chocolate'),
         (700, 'Hamburger', 'Grey'), (800, 'Fries', 'Grey')
),
ow_sale(cn, vn, pn, dt, qty, prc) AS (
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
ow_sale_ord(ord, cn, vn, pn, dt, qty, prc) AS (
  VALUES (1, 2, 40, 100, DATE '1401-01-01', 1100, CAST(2400 AS DOUBLE)),
         (2, 1, 10, 200, DATE '1401-03-01', 1, 0),
         (3, 3, 40, 200, DATE '1401-04-01', 1, 0),
         (4, 1, 20, 100, DATE '1401-05-01', 1, 0),
         (5, 1, 30, 300, DATE '1401-05-02', 1, 0),
         (6, 1, 50, 400, DATE '1401-06-01', 1, 0),
         (7, 2, 50, 400, DATE '1401-06-01', 1, 0),
         (8, 1, 30, 500, DATE '1401-06-01', 12, 5),
         (9, 3, 30, 500, DATE '1401-06-01', 12, 5),
         (10, 3, 30, 600, DATE '1401-06-01', 12, 5),
         (11, 4, 40, 700, DATE '1401-06-01', 1, 1),
         (12, 4, 40, 800, DATE '1401-06-01', 1, 1)
)
'''


def _w(name, sql, doc, oracle='same'):
    register_regress(name, sql, doc, tags=("qpow", "window"),
                     oracle=oracle, prelude=QPOW_PRELUDE)

_w(
    "regress_qpow_dense_rank_00",
    r'''
SELECT ow_sale.vn AS c1,
  ow_sale.cn AS c2,
  ow_sale.cn AS c3,
  format_string('%16.7f', CAST(COALESCE(DENSE_RANK() OVER(win1),0) AS DOUBLE)) AS c4,
  ow_sale.pn AS c5
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer WHERE ow_sale_ord.cn=ow_customer.cn ) ow_sale
WINDOW win1 as (order by ow_sale.pn asc,ow_sale.cn asc)
''',
    "qp_olap_window.sql fuzzer battery — dense_rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #0.",
    oracle=r'''
SELECT ow_sale.vn AS c1,
  ow_sale.cn AS c2,
  ow_sale.cn AS c3,
  printf('%16.7f', CAST(COALESCE(DENSE_RANK() OVER (order by ow_sale.pn asc,ow_sale.cn asc),0) AS DOUBLE)) AS c4,
  ow_sale.pn AS c5
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer WHERE ow_sale_ord.cn=ow_customer.cn ) ow_sale

''',
)

_w(
    "regress_qpow_dense_rank_01",
    r'''
SELECT ow_sale.pn AS c1,
  ow_sale.prc AS c2,
  format_string('%16.7f', CAST(COALESCE(DENSE_RANK() OVER(win1),0) AS DOUBLE)) AS c3,
  ow_sale.cn AS c4,
  ow_sale.dt AS c5,
  ow_sale.qty AS c6
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_vendor WHERE ow_sale_ord.vn=ow_vendor.vn) ow_sale
WINDOW win1 as (partition by ow_sale.pn,ow_sale.dt,ow_sale.qty,ow_sale.qty,ow_sale.pn order by ow_sale.cn desc,ow_sale.cn asc)
''',
    "qp_olap_window.sql fuzzer battery — dense_rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #1.",
    oracle=r'''
SELECT ow_sale.pn AS c1,
  ow_sale.prc AS c2,
  printf('%16.7f', CAST(COALESCE(DENSE_RANK() OVER (partition by ow_sale.pn,ow_sale.dt,ow_sale.qty,ow_sale.qty,ow_sale.pn order by ow_sale.cn desc,ow_sale.cn asc),0) AS DOUBLE)) AS c3,
  ow_sale.cn AS c4,
  ow_sale.dt AS c5,
  ow_sale.qty AS c6
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_vendor WHERE ow_sale_ord.vn=ow_vendor.vn) ow_sale

''',
)

_w(
    "regress_qpow_rank_02",
    r'''
SELECT ow_sale.vn AS c1,
  ow_sale.cn AS c2,
  ow_sale.qty AS c3,
  ow_sale.cn AS c4,
  format_string('%16.7f', CAST(COALESCE(RANK() OVER(win1),0) AS DOUBLE)) AS c5
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product,ow_vendor WHERE ow_sale_ord.pn=ow_product.pn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale
WINDOW win1 as (order by ow_sale.vn desc)
''',
    "qp_olap_window.sql fuzzer battery — rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #2.",
    oracle=r'''
SELECT ow_sale.vn AS c1,
  ow_sale.cn AS c2,
  ow_sale.qty AS c3,
  ow_sale.cn AS c4,
  printf('%16.7f', CAST(COALESCE(RANK() OVER (order by ow_sale.vn desc),0) AS DOUBLE)) AS c5
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product,ow_vendor WHERE ow_sale_ord.pn=ow_product.pn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale

''',
)

_w(
    "regress_qpow_dense_rank_rank_03",
    r'''
SELECT ow_sale.pn AS c1,
  ow_sale.pn AS c2,
  ow_sale.vn AS c3,
  format_string('%16.7f', CAST(COALESCE(RANK() OVER(win1),0) AS DOUBLE)) AS c4,
  ow_sale.cn AS c5,
  format_string('%16.7f', CAST(COALESCE(DENSE_RANK() OVER(win1),0) AS DOUBLE)) AS c6
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product,ow_vendor WHERE ow_sale_ord.pn=ow_product.pn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale
WINDOW win1 as (order by ow_sale.cn asc,ow_sale.cn desc)
''',
    "qp_olap_window.sql fuzzer battery — dense_rank/rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #3.",
    oracle=r'''
SELECT ow_sale.pn AS c1,
  ow_sale.pn AS c2,
  ow_sale.vn AS c3,
  printf('%16.7f', CAST(COALESCE(RANK() OVER (order by ow_sale.cn asc,ow_sale.cn desc),0) AS DOUBLE)) AS c4,
  ow_sale.cn AS c5,
  printf('%16.7f', CAST(COALESCE(DENSE_RANK() OVER (order by ow_sale.cn asc,ow_sale.cn desc),0) AS DOUBLE)) AS c6
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product,ow_vendor WHERE ow_sale_ord.pn=ow_product.pn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale

''',
)

_w(
    "regress_qpow_rank_04",
    r'''
SELECT ow_sale.vn AS c1,
  ow_sale.dt AS c2,
  ow_sale.pn AS c3,
  format_string('%16.7f', CAST(COALESCE(RANK() OVER(win1),0) AS DOUBLE)) AS c4
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_product WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.pn=ow_product.pn) ow_sale
WINDOW win1 as (partition by ow_sale.dt,ow_sale.dt order by ow_sale.pn desc,ow_sale.vn desc)
''',
    "qp_olap_window.sql fuzzer battery — rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #4.",
    oracle=r'''
SELECT ow_sale.vn AS c1,
  ow_sale.dt AS c2,
  ow_sale.pn AS c3,
  printf('%16.7f', CAST(COALESCE(RANK() OVER (partition by ow_sale.dt,ow_sale.dt order by ow_sale.pn desc,ow_sale.vn desc),0) AS DOUBLE)) AS c4
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_product WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.pn=ow_product.pn) ow_sale

''',
)

_w(
    "regress_qpow_cume_dist_05",
    r'''
SELECT ow_sale.qty AS c1,
  ow_sale.prc AS c2,
  ow_sale.vn AS c3,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(win1),0) AS DOUBLE)) AS c4,
  ow_sale.cn AS c5
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer WHERE ow_sale_ord.cn=ow_customer.cn ) ow_sale
WINDOW win1 as (order by ow_sale.cn desc,ow_sale.vn asc)
''',
    "qp_olap_window.sql fuzzer battery — cume_dist over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #5.",
    oracle=r'''
SELECT ow_sale.qty AS c1,
  ow_sale.prc AS c2,
  ow_sale.vn AS c3,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER (order by ow_sale.cn desc,ow_sale.vn asc),0) AS DOUBLE)) AS c4,
  ow_sale.cn AS c5
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer WHERE ow_sale_ord.cn=ow_customer.cn ) ow_sale

''',
)

_w(
    "regress_qpow_cume_dist_dense_rank_06",
    r'''
SELECT ow_sale.cn AS c1,
  ow_sale.qty AS c2,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(win1),0) AS DOUBLE)) AS c3,
  format_string('%16.7f', CAST(COALESCE(DENSE_RANK() OVER(win1),0) AS DOUBLE)) AS c4
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_vendor WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale
WINDOW win1 as (order by ow_sale.cn desc,ow_sale.cn desc)
''',
    "qp_olap_window.sql fuzzer battery — cume_dist/dense_rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #6.",
    oracle=r'''
SELECT ow_sale.cn AS c1,
  ow_sale.qty AS c2,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER (order by ow_sale.cn desc,ow_sale.cn desc),0) AS DOUBLE)) AS c3,
  printf('%16.7f', CAST(COALESCE(DENSE_RANK() OVER (order by ow_sale.cn desc,ow_sale.cn desc),0) AS DOUBLE)) AS c4
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_vendor WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale

''',
)

_w(
    "regress_qpow_cume_dist_07",
    r'''
SELECT ow_sale.qty AS c1,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(win1),0) AS DOUBLE)) AS c2,
  ow_sale.cn AS c3,
  ow_sale.dt AS c4
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product WHERE ow_sale_ord.pn=ow_product.pn) ow_sale
WINDOW win1 as (partition by ow_sale.dt,ow_sale.dt,ow_sale.cn,ow_sale.dt order by ow_sale.cn desc,ow_sale.cn asc)
''',
    "qp_olap_window.sql fuzzer battery — cume_dist over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #7.",
    oracle=r'''
SELECT ow_sale.qty AS c1,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER (partition by ow_sale.dt,ow_sale.dt,ow_sale.cn,ow_sale.dt order by ow_sale.cn desc,ow_sale.cn asc),0) AS DOUBLE)) AS c2,
  ow_sale.cn AS c3,
  ow_sale.dt AS c4
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product WHERE ow_sale_ord.pn=ow_product.pn) ow_sale

''',
)

_w(
    "regress_qpow_percent_rank_08",
    r'''
SELECT ow_sale.pn AS c1,
  ow_sale.cn AS c2,
  ow_sale.pn AS c3,
  ow_sale.pn AS c4,
  ow_sale.prc AS c5,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win1),0) AS DOUBLE)) AS c6,
  ow_sale.vn AS c7
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_vendor WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale
WINDOW win1 as (order by ow_sale.vn asc,ow_sale.vn desc)
''',
    "qp_olap_window.sql fuzzer battery — percent_rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #8.",
    oracle=r'''
SELECT ow_sale.pn AS c1,
  ow_sale.cn AS c2,
  ow_sale.pn AS c3,
  ow_sale.pn AS c4,
  ow_sale.prc AS c5,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (order by ow_sale.vn asc,ow_sale.vn desc),0) AS DOUBLE)) AS c6,
  ow_sale.vn AS c7
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_vendor WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale

''',
)

_w(
    "regress_qpow_percent_rank_rank_09",
    r'''
SELECT ow_sale.pn AS c1,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win1),0) AS DOUBLE)) AS c2,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win1),0) AS DOUBLE)) AS c3,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win1),0) AS DOUBLE)) AS c4,
  format_string('%16.7f', CAST(COALESCE(RANK() OVER(order by ow_sale.pn desc),0) AS DOUBLE)) AS c5
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_vendor WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale
WINDOW win1 as (order by ow_sale.pn desc)
''',
    "qp_olap_window.sql fuzzer battery — percent_rank/rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #9.",
    oracle=r'''
SELECT ow_sale.pn AS c1,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (order by ow_sale.pn desc),0) AS DOUBLE)) AS c2,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (order by ow_sale.pn desc),0) AS DOUBLE)) AS c3,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (order by ow_sale.pn desc),0) AS DOUBLE)) AS c4,
  printf('%16.7f', CAST(COALESCE(RANK() OVER(order by ow_sale.pn desc),0) AS DOUBLE)) AS c5
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_vendor WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale

''',
)

_w(
    "regress_qpow_percent_rank_10",
    r'''
SELECT ow_sale.prc AS c1,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win1),0) AS DOUBLE)) AS c2,
  ow_sale.dt AS c3,
  ow_sale.cn AS c4,
  ow_sale.vn AS c5
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale
WINDOW win1 as (partition by ow_sale.cn,ow_sale.dt,ow_sale.prc,ow_sale.vn,ow_sale.dt order by ow_sale.cn asc)
''',
    "qp_olap_window.sql fuzzer battery — percent_rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #10.",
    oracle=r'''
SELECT ow_sale.prc AS c1,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (partition by ow_sale.cn,ow_sale.dt,ow_sale.prc,ow_sale.vn,ow_sale.dt order by ow_sale.cn asc),0) AS DOUBLE)) AS c2,
  ow_sale.dt AS c3,
  ow_sale.cn AS c4,
  ow_sale.vn AS c5
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale

''',
)

_w(
    "regress_qpow_cume_dist_percent_rank_11",
    r'''
SELECT ow_sale.cn AS c1,
  ow_sale.qty AS c2,
  ow_sale.qty AS c3,
  ow_sale.dt AS c4,
  ow_sale.cn AS c5,
  ow_sale.qty AS c6,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win1),0) AS DOUBLE)) AS c7,
  ow_sale.pn AS c8,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(partition by ow_sale.qty,ow_sale.qty,ow_sale.dt order by ow_sale.cn desc,ow_sale.pn desc),0) AS DOUBLE)) AS c9
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale
WINDOW win1 as (partition by ow_sale.qty,ow_sale.qty,ow_sale.dt order by ow_sale.cn desc,ow_sale.pn desc)
''',
    "qp_olap_window.sql fuzzer battery — cume_dist/percent_rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #11.",
    oracle=r'''
SELECT ow_sale.cn AS c1,
  ow_sale.qty AS c2,
  ow_sale.qty AS c3,
  ow_sale.dt AS c4,
  ow_sale.cn AS c5,
  ow_sale.qty AS c6,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (partition by ow_sale.qty,ow_sale.qty,ow_sale.dt order by ow_sale.cn desc,ow_sale.pn desc),0) AS DOUBLE)) AS c7,
  ow_sale.pn AS c8,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER(partition by ow_sale.qty,ow_sale.qty,ow_sale.dt order by ow_sale.cn desc,ow_sale.pn desc),0) AS DOUBLE)) AS c9
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale

''',
)

_w(
    "regress_qpow_cume_dist_12",
    r'''
SELECT ow_sale.prc AS c1,
  ow_sale.vn AS c2,
  ow_sale.pn AS c3,
  ow_sale.cn AS c4,
  format_string('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.pn)) OVER(win1),0) AS DOUBLE)) AS c5,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(win2),0) AS DOUBLE)) AS c6
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product,ow_vendor WHERE ow_sale_ord.pn=ow_product.pn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale
WINDOW win1 as (partition by ow_sale.vn,ow_sale.pn),
win2 as (partition by ow_sale.pn order by ow_sale.cn asc)
''',
    "qp_olap_window.sql fuzzer battery — cume_dist over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #12.",
    oracle=r'''
SELECT ow_sale.prc AS c1,
  ow_sale.vn AS c2,
  ow_sale.pn AS c3,
  ow_sale.cn AS c4,
  printf('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.pn)) OVER (partition by ow_sale.vn,ow_sale.pn),0) AS DOUBLE)) AS c5,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER (partition by ow_sale.pn order by ow_sale.cn asc),0) AS DOUBLE)) AS c6
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product,ow_vendor WHERE ow_sale_ord.pn=ow_product.pn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale

''',
)

_w(
    "regress_qpow_percent_rank_13",
    r'''
SELECT ow_sale.cn AS c1,
  ow_sale.vn AS c2,
  ow_sale.pn AS c3,
  ow_sale.qty AS c4,
  format_string('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.prc*ow_sale.cn)) OVER(win1),0) AS DOUBLE)) AS c5,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(order by ow_sale.vn asc,ow_sale.cn desc,ow_sale.pn desc),0) AS DOUBLE)) AS c6
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale
WINDOW win1 as (order by ow_sale.vn asc,ow_sale.cn desc,ow_sale.pn desc)
''',
    "qp_olap_window.sql fuzzer battery — percent_rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #13.",
    oracle=r'''
SELECT ow_sale.cn AS c1,
  ow_sale.vn AS c2,
  ow_sale.pn AS c3,
  ow_sale.qty AS c4,
  printf('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.prc*ow_sale.cn)) OVER (order by ow_sale.vn asc,ow_sale.cn desc,ow_sale.pn desc),0) AS DOUBLE)) AS c5,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(order by ow_sale.vn asc,ow_sale.cn desc,ow_sale.pn desc),0) AS DOUBLE)) AS c6
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale

''',
)

_w(
    "regress_qpow_rank_14",
    r'''
SELECT ow_sale.vn AS c1,
  ow_sale.pn AS c2,
  format_string('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.cn)) OVER(win1),0) AS DOUBLE)) AS c3,
  ow_sale.cn AS c4,
  format_string('%16.7f', CAST(COALESCE(RANK() OVER(win2),0) AS DOUBLE)) AS c5,
  ow_sale.prc AS c6,
  ow_sale.dt AS c7,
  ow_sale.qty AS c8,
  format_string('%16.7f', CAST(COALESCE(RANK() OVER(win2),0) AS DOUBLE)) AS c9
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_vendor WHERE ow_sale_ord.vn=ow_vendor.vn) ow_sale
WINDOW win1 as (order by ow_sale.cn desc range current row ),
win2 as (partition by ow_sale.pn,ow_sale.prc,ow_sale.cn,ow_sale.dt,ow_sale.qty order by ow_sale.pn desc)
''',
    "qp_olap_window.sql fuzzer battery — rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #14.",
    oracle=r'''
SELECT ow_sale.vn AS c1,
  ow_sale.pn AS c2,
  printf('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.cn)) OVER (order by ow_sale.cn desc range current row ),0) AS DOUBLE)) AS c3,
  ow_sale.cn AS c4,
  printf('%16.7f', CAST(COALESCE(RANK() OVER (partition by ow_sale.pn,ow_sale.prc,ow_sale.cn,ow_sale.dt,ow_sale.qty order by ow_sale.pn desc),0) AS DOUBLE)) AS c5,
  ow_sale.prc AS c6,
  ow_sale.dt AS c7,
  ow_sale.qty AS c8,
  printf('%16.7f', CAST(COALESCE(RANK() OVER (partition by ow_sale.pn,ow_sale.prc,ow_sale.cn,ow_sale.dt,ow_sale.qty order by ow_sale.pn desc),0) AS DOUBLE)) AS c9
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_vendor WHERE ow_sale_ord.vn=ow_vendor.vn) ow_sale

''',
)

_w(
    "regress_qpow_dense_rank_percent_rank_rank_15",
    r'''
SELECT ow_sale.pn AS c1,
  ow_sale.cn AS c2,
  ow_sale.qty AS c3,
  format_string('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.vn)) OVER(win1),0) AS DOUBLE)) AS c4,
  format_string('%16.7f', CAST(COALESCE(RANK() OVER(win2),0) AS DOUBLE)) AS c5,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win3),0) AS DOUBLE)) AS c6,
  ow_sale.vn AS c7,
  format_string('%16.7f', CAST(COALESCE(DENSE_RANK() OVER(win2),0) AS DOUBLE)) AS c8
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_vendor WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale
WINDOW win1 as (order by ow_sale.pn desc range between 3 following and unbounded following ),
win2 as (order by ow_sale.pn asc),
win3 as (partition by ow_sale.vn,ow_sale.qty,ow_sale.cn order by ow_sale.cn asc)
''',
    "qp_olap_window.sql fuzzer battery — dense_rank/percent_rank/rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #15.",
    oracle=r'''
SELECT ow_sale.pn AS c1,
  ow_sale.cn AS c2,
  ow_sale.qty AS c3,
  printf('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.vn)) OVER (order by ow_sale.pn desc range between 3 following and unbounded following ),0) AS DOUBLE)) AS c4,
  printf('%16.7f', CAST(COALESCE(RANK() OVER (order by ow_sale.pn asc),0) AS DOUBLE)) AS c5,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (partition by ow_sale.vn,ow_sale.qty,ow_sale.cn order by ow_sale.cn asc),0) AS DOUBLE)) AS c6,
  ow_sale.vn AS c7,
  printf('%16.7f', CAST(COALESCE(DENSE_RANK() OVER (order by ow_sale.pn asc),0) AS DOUBLE)) AS c8
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_vendor WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale

''',
)

_w(
    "regress_qpow_rank_16",
    r'''
SELECT ow_sale.cn AS c1,
  ow_sale.qty AS c2,
  format_string('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.prc*ow_sale.qty)) OVER(win1),0) AS DOUBLE)) AS c3,
  ow_sale.dt AS c4,
  ow_sale.vn AS c5,
  ow_sale.pn AS c6,
  format_string('%16.7f', CAST(COALESCE(RANK() OVER(win2),0) AS DOUBLE)) AS c7,
  ow_sale.prc AS c8
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_product WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.pn=ow_product.pn) ow_sale
WINDOW win1 as (partition by ow_sale.pn,ow_sale.pn,ow_sale.dt,ow_sale.cn,ow_sale.vn,ow_sale.cn order by ow_sale.vn desc range unbounded preceding ),
win2 as (partition by ow_sale.dt,ow_sale.dt,ow_sale.prc order by ow_sale.cn desc)
''',
    "qp_olap_window.sql fuzzer battery — rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #16.",
    oracle=r'''
SELECT ow_sale.cn AS c1,
  ow_sale.qty AS c2,
  printf('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.prc*ow_sale.qty)) OVER (partition by ow_sale.pn,ow_sale.pn,ow_sale.dt,ow_sale.cn,ow_sale.vn,ow_sale.cn order by ow_sale.vn desc range unbounded preceding ),0) AS DOUBLE)) AS c3,
  ow_sale.dt AS c4,
  ow_sale.vn AS c5,
  ow_sale.pn AS c6,
  printf('%16.7f', CAST(COALESCE(RANK() OVER (partition by ow_sale.dt,ow_sale.dt,ow_sale.prc order by ow_sale.cn desc),0) AS DOUBLE)) AS c7,
  ow_sale.prc AS c8
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_product WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.pn=ow_product.pn) ow_sale

''',
)

_w(
    "regress_qpow_dense_rank_17",
    r'''
SELECT ow_sale.vn AS c1,
  ow_sale.prc AS c2,
  format_string('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.qty)) OVER(win1),0) AS DOUBLE)) AS c3,
  ow_sale.cn AS c4,
  ow_sale.dt AS c5,
  ow_sale.qty AS c6,
  ow_sale.pn AS c7,
  format_string('%16.7f', CAST(COALESCE(DENSE_RANK() OVER(win2),0) AS DOUBLE)) AS c8
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer WHERE ow_sale_ord.cn=ow_customer.cn ) ow_sale
WINDOW win1 as (partition by ow_sale.dt,ow_sale.prc,ow_sale.qty,ow_sale.prc,ow_sale.pn order by ow_sale.cn asc range 1 preceding ),
win2 as (order by ow_sale.pn desc)
''',
    "qp_olap_window.sql fuzzer battery — dense_rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #17.",
    oracle=r'''
SELECT ow_sale.vn AS c1,
  ow_sale.prc AS c2,
  printf('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.qty)) OVER (partition by ow_sale.dt,ow_sale.prc,ow_sale.qty,ow_sale.prc,ow_sale.pn order by ow_sale.cn asc range 1 preceding ),0) AS DOUBLE)) AS c3,
  ow_sale.cn AS c4,
  ow_sale.dt AS c5,
  ow_sale.qty AS c6,
  ow_sale.pn AS c7,
  printf('%16.7f', CAST(COALESCE(DENSE_RANK() OVER (order by ow_sale.pn desc),0) AS DOUBLE)) AS c8
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer WHERE ow_sale_ord.cn=ow_customer.cn ) ow_sale

''',
)

_w(
    "regress_qpow_dense_rank_18",
    r'''
SELECT ow_sale.qty AS c1,
  ow_sale.qty AS c2,
  format_string('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.prc-ow_sale.prc)) OVER(win1),0) AS DOUBLE)) AS c3,
  ow_sale.cn AS c4,
  ow_sale.vn AS c5,
  format_string('%16.7f', CAST(COALESCE(DENSE_RANK() OVER(win2),0) AS DOUBLE)) AS c6,
  ow_sale.pn AS c7
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_vendor WHERE ow_sale_ord.vn=ow_vendor.vn) ow_sale
WINDOW win1 as (partition by ow_sale.cn,ow_sale.vn,ow_sale.vn,ow_sale.vn order by ow_sale.vn asc range current row ),
win2 as (order by ow_sale.pn desc)
''',
    "qp_olap_window.sql fuzzer battery — dense_rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #18.",
    oracle=r'''
SELECT ow_sale.qty AS c1,
  ow_sale.qty AS c2,
  printf('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.prc-ow_sale.prc)) OVER (partition by ow_sale.cn,ow_sale.vn,ow_sale.vn,ow_sale.vn order by ow_sale.vn asc range current row ),0) AS DOUBLE)) AS c3,
  ow_sale.cn AS c4,
  ow_sale.vn AS c5,
  printf('%16.7f', CAST(COALESCE(DENSE_RANK() OVER (order by ow_sale.pn desc),0) AS DOUBLE)) AS c6,
  ow_sale.pn AS c7
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_vendor WHERE ow_sale_ord.vn=ow_vendor.vn) ow_sale

''',
)

_w(
    "regress_qpow_cume_dist_19",
    r'''
SELECT ow_sale.qty AS c1,
  format_string('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.vn)) OVER(win1),0) AS DOUBLE)) AS c2,
  ow_sale.vn AS c3,
  ow_sale.pn AS c4,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(win2),0) AS DOUBLE)) AS c5,
  ow_sale.cn AS c6
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_vendor WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale
WINDOW win1 as (partition by ow_sale.pn order by ow_sale.vn desc range between unbounded preceding and 4 preceding ),
win2 as (order by ow_sale.cn asc)
''',
    "qp_olap_window.sql fuzzer battery — cume_dist over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #19.",
    oracle=r'''
SELECT ow_sale.qty AS c1,
  printf('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.vn)) OVER (partition by ow_sale.pn order by ow_sale.vn desc range between unbounded preceding and 4 preceding ),0) AS DOUBLE)) AS c2,
  ow_sale.vn AS c3,
  ow_sale.pn AS c4,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER (order by ow_sale.cn asc),0) AS DOUBLE)) AS c5,
  ow_sale.cn AS c6
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_vendor WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale

''',
)

_w(
    "regress_qpow_dense_rank_20",
    r'''
SELECT ow_sale.pn AS c1,
  format_string('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.cn+ow_sale.cn)) OVER(win1),0) AS DOUBLE)) AS c2,
  ow_sale.dt AS c3,
  ow_sale.vn AS c4,
  format_string('%16.7f', CAST(COALESCE(DENSE_RANK() OVER(win2),0) AS DOUBLE)) AS c5
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_vendor WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale
WINDOW win1 as (partition by ow_sale.vn,ow_sale.dt order by ow_sale.pn asc range between unbounded preceding and current row ),
win2 as (order by ow_sale.vn asc)
''',
    "qp_olap_window.sql fuzzer battery — dense_rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #20.",
    oracle=r'''
SELECT ow_sale.pn AS c1,
  printf('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.cn+ow_sale.cn)) OVER (partition by ow_sale.vn,ow_sale.dt order by ow_sale.pn asc range between unbounded preceding and current row ),0) AS DOUBLE)) AS c2,
  ow_sale.dt AS c3,
  ow_sale.vn AS c4,
  printf('%16.7f', CAST(COALESCE(DENSE_RANK() OVER (order by ow_sale.vn asc),0) AS DOUBLE)) AS c5
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_vendor WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale

''',
)

_w(
    "regress_qpow_percent_rank_21",
    r'''
SELECT ow_sale.pn AS c1,
  ow_sale.cn AS c2,
  ow_sale.vn AS c3,
  ow_sale.pn AS c4,
  ow_sale.qty AS c5,
  format_string('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.vn+ow_sale.cn)) OVER(win1),0) AS DOUBLE)) AS c6,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win1),0) AS DOUBLE)) AS c7
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_vendor WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale
WINDOW win1 as (order by ow_sale.vn desc,ow_sale.vn asc)
''',
    "qp_olap_window.sql fuzzer battery — percent_rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #21.",
    oracle=r'''
SELECT ow_sale.pn AS c1,
  ow_sale.cn AS c2,
  ow_sale.vn AS c3,
  ow_sale.pn AS c4,
  ow_sale.qty AS c5,
  printf('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.vn+ow_sale.cn)) OVER (order by ow_sale.vn desc,ow_sale.vn asc),0) AS DOUBLE)) AS c6,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (order by ow_sale.vn desc,ow_sale.vn asc),0) AS DOUBLE)) AS c7
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_vendor WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale

''',
)

_w(
    "regress_qpow_dense_rank_22",
    r'''
SELECT ow_sale.dt AS c1,
  ow_sale.dt AS c2,
  ow_sale.qty AS c3,
  ow_sale.cn AS c4,
  ow_sale.cn AS c5,
  format_string('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.qty)) OVER(win1),0) AS DOUBLE)) AS c6,
  ow_sale.pn AS c7,
  format_string('%16.7f', CAST(COALESCE(DENSE_RANK() OVER(win2),0) AS DOUBLE)) AS c8,
  ow_sale.vn AS c9,
  format_string('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.qty-ow_sale.vn)) OVER(win2),0) AS DOUBLE)) AS c10
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer WHERE ow_sale_ord.cn=ow_customer.cn ) ow_sale
WINDOW win1 as (order by ow_sale.pn asc range 3 preceding ),
win2 as (partition by ow_sale.dt,ow_sale.pn,ow_sale.qty,ow_sale.vn,ow_sale.dt,ow_sale.pn order by ow_sale.vn desc)
''',
    "qp_olap_window.sql fuzzer battery — dense_rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #22.",
    oracle=r'''
SELECT ow_sale.dt AS c1,
  ow_sale.dt AS c2,
  ow_sale.qty AS c3,
  ow_sale.cn AS c4,
  ow_sale.cn AS c5,
  printf('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.qty)) OVER (order by ow_sale.pn asc range 3 preceding ),0) AS DOUBLE)) AS c6,
  ow_sale.pn AS c7,
  printf('%16.7f', CAST(COALESCE(DENSE_RANK() OVER (partition by ow_sale.dt,ow_sale.pn,ow_sale.qty,ow_sale.vn,ow_sale.dt,ow_sale.pn order by ow_sale.vn desc),0) AS DOUBLE)) AS c8,
  ow_sale.vn AS c9,
  printf('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.qty-ow_sale.vn)) OVER (partition by ow_sale.dt,ow_sale.pn,ow_sale.qty,ow_sale.vn,ow_sale.dt,ow_sale.pn order by ow_sale.vn desc),0) AS DOUBLE)) AS c10
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer WHERE ow_sale_ord.cn=ow_customer.cn ) ow_sale

''',
)

_w(
    "regress_qpow_rank_23",
    r'''
SELECT ow_sale.pn AS c1,
  format_string('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.cn)) OVER(win1),0) AS DOUBLE)) AS c2,
  ow_sale.cn AS c3,
  format_string('%16.7f', CAST(COALESCE(RANK() OVER(win2),0) AS DOUBLE)) AS c4
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product WHERE ow_sale_ord.pn=ow_product.pn) ow_sale
WINDOW win1 as (order by ow_sale.cn desc range between unbounded preceding and 1 following ),
win2 as (order by ow_sale.cn desc)
''',
    "qp_olap_window.sql fuzzer battery — rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #23.",
    oracle=r'''
SELECT ow_sale.pn AS c1,
  printf('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.cn)) OVER (order by ow_sale.cn desc range between unbounded preceding and 1 following ),0) AS DOUBLE)) AS c2,
  ow_sale.cn AS c3,
  printf('%16.7f', CAST(COALESCE(RANK() OVER (order by ow_sale.cn desc),0) AS DOUBLE)) AS c4
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product WHERE ow_sale_ord.pn=ow_product.pn) ow_sale

''',
)

_w(
    "regress_qpow_dense_rank_24",
    r'''
SELECT ow_sale.qty AS c1,
  ow_sale.vn AS c2,
  ow_sale.cn AS c3,
  ow_sale.prc AS c4,
  ow_sale.cn AS c5,
  format_string('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.qty)) OVER(win1),0) AS DOUBLE)) AS c6,
  format_string('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.qty)) OVER(win1),0) AS DOUBLE)) AS c7,
  format_string('%16.7f', CAST(COALESCE(DENSE_RANK() OVER(win2),0) AS DOUBLE)) AS c8,
  ow_sale.dt AS c9,
  ow_sale.pn AS c10,
  format_string('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.qty-ow_sale.cn)) OVER(win2),0) AS DOUBLE)) AS c11
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_vendor WHERE ow_sale_ord.vn=ow_vendor.vn) ow_sale
WINDOW win1 as (order by ow_sale.cn asc range between current row and 1 following ),
win2 as (partition by ow_sale.pn,ow_sale.dt,ow_sale.vn,ow_sale.prc,ow_sale.cn,ow_sale.vn order by ow_sale.pn desc)
''',
    "qp_olap_window.sql fuzzer battery — dense_rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #24.",
    oracle=r'''
SELECT ow_sale.qty AS c1,
  ow_sale.vn AS c2,
  ow_sale.cn AS c3,
  ow_sale.prc AS c4,
  ow_sale.cn AS c5,
  printf('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.qty)) OVER (order by ow_sale.cn asc range between current row and 1 following ),0) AS DOUBLE)) AS c6,
  printf('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.qty)) OVER (order by ow_sale.cn asc range between current row and 1 following ),0) AS DOUBLE)) AS c7,
  printf('%16.7f', CAST(COALESCE(DENSE_RANK() OVER (partition by ow_sale.pn,ow_sale.dt,ow_sale.vn,ow_sale.prc,ow_sale.cn,ow_sale.vn order by ow_sale.pn desc),0) AS DOUBLE)) AS c8,
  ow_sale.dt AS c9,
  ow_sale.pn AS c10,
  printf('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.qty-ow_sale.cn)) OVER (partition by ow_sale.pn,ow_sale.dt,ow_sale.vn,ow_sale.prc,ow_sale.cn,ow_sale.vn order by ow_sale.pn desc),0) AS DOUBLE)) AS c11
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_vendor WHERE ow_sale_ord.vn=ow_vendor.vn) ow_sale

''',
)

_w(
    "regress_qpow_percent_rank_25",
    r'''
SELECT ow_sale.qty AS c1,
  ow_sale.cn AS c2,
  ow_sale.vn AS c3,
  ow_sale.cn AS c4,
  format_string('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.cn)) OVER(win1),0) AS DOUBLE)) AS c5,
  ow_sale.pn AS c6,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(partition by ow_sale.vn,ow_sale.pn,ow_sale.pn,ow_sale.cn,ow_sale.vn order by ow_sale.pn desc),0) AS DOUBLE)) AS c7
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_vendor WHERE ow_sale_ord.vn=ow_vendor.vn) ow_sale
WINDOW win1 as (partition by ow_sale.vn,ow_sale.pn,ow_sale.pn,ow_sale.cn,ow_sale.vn order by ow_sale.pn desc)
''',
    "qp_olap_window.sql fuzzer battery — percent_rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #25.",
    oracle=r'''
SELECT ow_sale.qty AS c1,
  ow_sale.cn AS c2,
  ow_sale.vn AS c3,
  ow_sale.cn AS c4,
  printf('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.cn)) OVER (partition by ow_sale.vn,ow_sale.pn,ow_sale.pn,ow_sale.cn,ow_sale.vn order by ow_sale.pn desc),0) AS DOUBLE)) AS c5,
  ow_sale.pn AS c6,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(partition by ow_sale.vn,ow_sale.pn,ow_sale.pn,ow_sale.cn,ow_sale.vn order by ow_sale.pn desc),0) AS DOUBLE)) AS c7
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_vendor WHERE ow_sale_ord.vn=ow_vendor.vn) ow_sale

''',
)

_w(
    "regress_qpow_cume_dist_dense_rank_26",
    r'''
SELECT ow_sale.dt AS c1,
  ow_sale.pn AS c2,
  format_string('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.cn+ow_sale.qty)) OVER(win1),0) AS DOUBLE)) AS c3,
  ow_sale.vn AS c4,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(win2),0) AS DOUBLE)) AS c5,
  ow_sale.qty AS c6,
  format_string('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.cn-ow_sale.vn)) OVER(partition by ow_sale.pn,ow_sale.pn,ow_sale.qty,ow_sale.dt,ow_sale.dt order by ow_sale.vn asc),0) AS DOUBLE)) AS c7,
  format_string('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.cn-ow_sale.vn)) OVER(partition by ow_sale.dt,ow_sale.dt,ow_sale.pn,ow_sale.vn,ow_sale.dt order by ow_sale.vn asc range unbounded preceding ),0) AS DOUBLE)) AS c8,
  format_string('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.prc)) OVER(partition by ow_sale.pn,ow_sale.pn,ow_sale.qty,ow_sale.dt,ow_sale.dt order by ow_sale.vn asc),0) AS DOUBLE)) AS c9,
  format_string('%16.7f', CAST(COALESCE(DENSE_RANK() OVER(partition by ow_sale.pn,ow_sale.pn,ow_sale.qty,ow_sale.dt,ow_sale.dt order by ow_sale.vn asc),0) AS DOUBLE)) AS c10
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product WHERE ow_sale_ord.pn=ow_product.pn) ow_sale
WINDOW win1 as (partition by ow_sale.dt,ow_sale.dt,ow_sale.pn,ow_sale.vn,ow_sale.dt order by ow_sale.vn asc range unbounded preceding ),
win2 as (partition by ow_sale.pn,ow_sale.pn,ow_sale.qty,ow_sale.dt,ow_sale.dt order by ow_sale.vn asc)
''',
    "qp_olap_window.sql fuzzer battery — cume_dist/dense_rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #26.",
    oracle=r'''
SELECT ow_sale.dt AS c1,
  ow_sale.pn AS c2,
  printf('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.cn+ow_sale.qty)) OVER (partition by ow_sale.dt,ow_sale.dt,ow_sale.pn,ow_sale.vn,ow_sale.dt order by ow_sale.vn asc range unbounded preceding ),0) AS DOUBLE)) AS c3,
  ow_sale.vn AS c4,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER (partition by ow_sale.pn,ow_sale.pn,ow_sale.qty,ow_sale.dt,ow_sale.dt order by ow_sale.vn asc),0) AS DOUBLE)) AS c5,
  ow_sale.qty AS c6,
  printf('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.cn-ow_sale.vn)) OVER(partition by ow_sale.pn,ow_sale.pn,ow_sale.qty,ow_sale.dt,ow_sale.dt order by ow_sale.vn asc),0) AS DOUBLE)) AS c7,
  printf('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.cn-ow_sale.vn)) OVER(partition by ow_sale.dt,ow_sale.dt,ow_sale.pn,ow_sale.vn,ow_sale.dt order by ow_sale.vn asc range unbounded preceding ),0) AS DOUBLE)) AS c8,
  printf('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.prc)) OVER(partition by ow_sale.pn,ow_sale.pn,ow_sale.qty,ow_sale.dt,ow_sale.dt order by ow_sale.vn asc),0) AS DOUBLE)) AS c9,
  printf('%16.7f', CAST(COALESCE(DENSE_RANK() OVER(partition by ow_sale.pn,ow_sale.pn,ow_sale.qty,ow_sale.dt,ow_sale.dt order by ow_sale.vn asc),0) AS DOUBLE)) AS c10
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product WHERE ow_sale_ord.pn=ow_product.pn) ow_sale

''',
)

_w(
    "regress_qpow_percent_rank_27",
    r'''
SELECT ow_sale.prc AS c1,
  ow_sale.pn AS c2,
  format_string('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.cn*ow_sale.pn)) OVER(win1),0) AS DOUBLE)) AS c3,
  ow_sale.cn AS c4,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win2),0) AS DOUBLE)) AS c5,
  ow_sale.vn AS c6,
  format_string('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.cn)) OVER(win2),0) AS DOUBLE)) AS c7
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale
WINDOW win1 as (partition by ow_sale.cn,ow_sale.cn,ow_sale.cn order by ow_sale.cn asc range current row ),
win2 as (order by ow_sale.vn desc)
''',
    "qp_olap_window.sql fuzzer battery — percent_rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #27.",
    oracle=r'''
SELECT ow_sale.prc AS c1,
  ow_sale.pn AS c2,
  printf('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.cn*ow_sale.pn)) OVER (partition by ow_sale.cn,ow_sale.cn,ow_sale.cn order by ow_sale.cn asc range current row ),0) AS DOUBLE)) AS c3,
  ow_sale.cn AS c4,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (order by ow_sale.vn desc),0) AS DOUBLE)) AS c5,
  ow_sale.vn AS c6,
  printf('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.cn)) OVER (order by ow_sale.vn desc),0) AS DOUBLE)) AS c7
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale

''',
)

_w(
    "regress_qpow_cume_dist_rank_28",
    r'''
SELECT ow_sale.pn AS c1,
  format_string('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.vn*ow_sale.cn)) OVER(win1),0) AS DOUBLE)) AS c2,
  ow_sale.cn AS c3,
  ow_sale.vn AS c4,
  format_string('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.vn)) OVER(win1),0) AS DOUBLE)) AS c5,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(win2),0) AS DOUBLE)) AS c6,
  format_string('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.cn)) OVER(partition by ow_sale.cn,ow_sale.vn,ow_sale.cn order by ow_sale.cn asc range between unbounded preceding and current row ),0) AS DOUBLE)) AS c7,
  format_string('%16.7f', CAST(COALESCE(RANK() OVER(win3),0) AS DOUBLE)) AS c8,
  ow_sale.dt AS c9
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_product WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.pn=ow_product.pn) ow_sale
WINDOW win1 as (partition by ow_sale.cn,ow_sale.vn,ow_sale.cn order by ow_sale.cn asc range between unbounded preceding and current row ),
win2 as (order by ow_sale.vn asc),
win3 as (partition by ow_sale.cn,ow_sale.pn,ow_sale.dt order by ow_sale.cn desc)
''',
    "qp_olap_window.sql fuzzer battery — cume_dist/rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #28.",
    oracle=r'''
SELECT ow_sale.pn AS c1,
  printf('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.vn*ow_sale.cn)) OVER (partition by ow_sale.cn,ow_sale.vn,ow_sale.cn order by ow_sale.cn asc range between unbounded preceding and current row ),0) AS DOUBLE)) AS c2,
  ow_sale.cn AS c3,
  ow_sale.vn AS c4,
  printf('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.vn)) OVER (partition by ow_sale.cn,ow_sale.vn,ow_sale.cn order by ow_sale.cn asc range between unbounded preceding and current row ),0) AS DOUBLE)) AS c5,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER (order by ow_sale.vn asc),0) AS DOUBLE)) AS c6,
  printf('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.cn)) OVER(partition by ow_sale.cn,ow_sale.vn,ow_sale.cn order by ow_sale.cn asc range between unbounded preceding and current row ),0) AS DOUBLE)) AS c7,
  printf('%16.7f', CAST(COALESCE(RANK() OVER (partition by ow_sale.cn,ow_sale.pn,ow_sale.dt order by ow_sale.cn desc),0) AS DOUBLE)) AS c8,
  ow_sale.dt AS c9
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_product WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.pn=ow_product.pn) ow_sale

''',
)

_w(
    "regress_qpow_percent_rank_29",
    r'''
SELECT ow_sale.prc AS c1,
  ow_sale.pn AS c2,
  ow_sale.cn AS c3,
  format_string('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.pn*ow_sale.qty)) OVER(win1),0) AS DOUBLE)) AS c4,
  ow_sale.dt AS c5,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win2),0) AS DOUBLE)) AS c6
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product WHERE ow_sale_ord.pn=ow_product.pn) ow_sale
WINDOW win1 as (partition by ow_sale.dt order by ow_sale.cn desc range between current row and current row ),
win2 as (order by ow_sale.pn desc)
''',
    "qp_olap_window.sql fuzzer battery — percent_rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #29.",
    oracle=r'''
SELECT ow_sale.prc AS c1,
  ow_sale.pn AS c2,
  ow_sale.cn AS c3,
  printf('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.pn*ow_sale.qty)) OVER (partition by ow_sale.dt order by ow_sale.cn desc range between current row and current row ),0) AS DOUBLE)) AS c4,
  ow_sale.dt AS c5,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (order by ow_sale.pn desc),0) AS DOUBLE)) AS c6
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product WHERE ow_sale_ord.pn=ow_product.pn) ow_sale

''',
)

_w(
    "regress_qpow_cume_dist_dense_rank_30",
    r'''
SELECT ow_sale.pn AS c1,
  ow_sale.vn AS c2,
  format_string('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.cn-ow_sale.pn)) OVER(win1),0) AS DOUBLE)) AS c3,
  ow_sale.cn AS c4,
  format_string('%16.7f', CAST(COALESCE(DENSE_RANK() OVER(win2),0) AS DOUBLE)) AS c5,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(order by ow_sale.vn desc),0) AS DOUBLE)) AS c6,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(win3),0) AS DOUBLE)) AS c7
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale
WINDOW win1 as (order by ow_sale.cn asc range between 2 preceding and unbounded following ),
win2 as (order by ow_sale.vn desc),
win3 as (order by ow_sale.cn desc)
''',
    "qp_olap_window.sql fuzzer battery — cume_dist/dense_rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #30.",
    oracle=r'''
SELECT ow_sale.pn AS c1,
  ow_sale.vn AS c2,
  printf('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.cn-ow_sale.pn)) OVER (order by ow_sale.cn asc range between 2 preceding and unbounded following ),0) AS DOUBLE)) AS c3,
  ow_sale.cn AS c4,
  printf('%16.7f', CAST(COALESCE(DENSE_RANK() OVER (order by ow_sale.vn desc),0) AS DOUBLE)) AS c5,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER(order by ow_sale.vn desc),0) AS DOUBLE)) AS c6,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER (order by ow_sale.cn desc),0) AS DOUBLE)) AS c7
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale

''',
)

_w(
    "regress_qpow_cume_dist_31",
    r'''
SELECT ow_sale.vn AS c1,
  ow_sale.qty AS c2,
  format_string('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.vn)) OVER(win1),0) AS DOUBLE)) AS c3,
  ow_sale.cn AS c4,
  format_string('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.cn)) OVER(win1),0) AS DOUBLE)) AS c5,
  format_string('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.qty)) OVER(win1),0) AS DOUBLE)) AS c6,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(win2),0) AS DOUBLE)) AS c7,
  ow_sale.pn AS c8
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product WHERE ow_sale_ord.pn=ow_product.pn) ow_sale
WINDOW win1 as (order by ow_sale.cn desc range between current row and current row ),
win2 as (partition by ow_sale.cn order by ow_sale.pn desc)
''',
    "qp_olap_window.sql fuzzer battery — cume_dist over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #31.",
    oracle=r'''
SELECT ow_sale.vn AS c1,
  ow_sale.qty AS c2,
  printf('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.vn)) OVER (order by ow_sale.cn desc range between current row and current row ),0) AS DOUBLE)) AS c3,
  ow_sale.cn AS c4,
  printf('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.cn)) OVER (order by ow_sale.cn desc range between current row and current row ),0) AS DOUBLE)) AS c5,
  printf('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.qty)) OVER (order by ow_sale.cn desc range between current row and current row ),0) AS DOUBLE)) AS c6,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER (partition by ow_sale.cn order by ow_sale.pn desc),0) AS DOUBLE)) AS c7,
  ow_sale.pn AS c8
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product WHERE ow_sale_ord.pn=ow_product.pn) ow_sale

''',
)

_w(
    "regress_qpow_dense_rank_percent_rank_32",
    r'''
SELECT ow_sale.dt AS c1,
  ow_sale.qty AS c2,
  ow_sale.qty AS c3,
  ow_sale.vn AS c4,
  format_string('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.prc)) OVER(win1),0) AS DOUBLE)) AS c5,
  ow_sale.cn AS c6,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win2),0) AS DOUBLE)) AS c7,
  ow_sale.prc AS c8,
  ow_sale.pn AS c9,
  format_string('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.qty+ow_sale.prc)) OVER(win1),0) AS DOUBLE)) AS c10,
  format_string('%16.7f', CAST(COALESCE(DENSE_RANK() OVER(win3),0) AS DOUBLE)) AS c11
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product,ow_vendor WHERE ow_sale_ord.pn=ow_product.pn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale
WINDOW win1 as (order by ow_sale.cn desc range between current row and 4 following ),
win2 as (partition by ow_sale.prc,ow_sale.vn,ow_sale.pn,ow_sale.prc,ow_sale.qty,ow_sale.prc order by ow_sale.cn desc),
win3 as (order by ow_sale.vn asc)
''',
    "qp_olap_window.sql fuzzer battery — dense_rank/percent_rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #32.",
    oracle=r'''
SELECT ow_sale.dt AS c1,
  ow_sale.qty AS c2,
  ow_sale.qty AS c3,
  ow_sale.vn AS c4,
  printf('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.prc)) OVER (order by ow_sale.cn desc range between current row and 4 following ),0) AS DOUBLE)) AS c5,
  ow_sale.cn AS c6,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (partition by ow_sale.prc,ow_sale.vn,ow_sale.pn,ow_sale.prc,ow_sale.qty,ow_sale.prc order by ow_sale.cn desc),0) AS DOUBLE)) AS c7,
  ow_sale.prc AS c8,
  ow_sale.pn AS c9,
  printf('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.qty+ow_sale.prc)) OVER (order by ow_sale.cn desc range between current row and 4 following ),0) AS DOUBLE)) AS c10,
  printf('%16.7f', CAST(COALESCE(DENSE_RANK() OVER (order by ow_sale.vn asc),0) AS DOUBLE)) AS c11
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product,ow_vendor WHERE ow_sale_ord.pn=ow_product.pn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale

''',
)

_w(
    "regress_qpow_percent_rank_rank_33",
    r'''
SELECT ow_sale.pn AS c1,
  ow_sale.qty AS c2,
  format_string('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.cn*ow_sale.vn)) OVER(win1),0) AS DOUBLE)) AS c3,
  ow_sale.vn AS c4,
  format_string('%16.7f', CAST(COALESCE(RANK() OVER(win2),0) AS DOUBLE)) AS c5,
  format_string('%16.7f', CAST(COALESCE(RANK() OVER(win3),0) AS DOUBLE)) AS c6,
  format_string('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.cn-ow_sale.vn)) OVER(order by ow_sale.vn desc),0) AS DOUBLE)) AS c7,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win2),0) AS DOUBLE)) AS c8
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale
WINDOW win1 as (order by ow_sale.vn desc range between 4 following and unbounded following ),
win2 as (order by ow_sale.vn desc),
win3 as (order by ow_sale.vn asc)
''',
    "qp_olap_window.sql fuzzer battery — percent_rank/rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #33.",
    oracle=r'''
SELECT ow_sale.pn AS c1,
  ow_sale.qty AS c2,
  printf('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.cn*ow_sale.vn)) OVER (order by ow_sale.vn desc range between 4 following and unbounded following ),0) AS DOUBLE)) AS c3,
  ow_sale.vn AS c4,
  printf('%16.7f', CAST(COALESCE(RANK() OVER (order by ow_sale.vn desc),0) AS DOUBLE)) AS c5,
  printf('%16.7f', CAST(COALESCE(RANK() OVER (order by ow_sale.vn asc),0) AS DOUBLE)) AS c6,
  printf('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.cn-ow_sale.vn)) OVER(order by ow_sale.vn desc),0) AS DOUBLE)) AS c7,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (order by ow_sale.vn desc),0) AS DOUBLE)) AS c8
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale

''',
)

_w(
    "regress_qpow_cume_dist_percent_rank_34",
    r'''
SELECT ow_sale.cn AS c1,
  ow_sale.qty AS c2,
  format_string('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.prc-ow_sale.prc)) OVER(win1),0) AS DOUBLE)) AS c3,
  ow_sale.pn AS c4,
  format_string('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.vn-ow_sale.qty)) OVER(win1),0) AS DOUBLE)) AS c5,
  format_string('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.qty)) OVER(partition by ow_sale.pn order by ow_sale.cn desc range current row ),0) AS DOUBLE)) AS c6,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(win2),0) AS DOUBLE)) AS c7,
  ow_sale.vn AS c8,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win3),0) AS DOUBLE)) AS c9,
  ow_sale.dt AS c10
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_vendor WHERE ow_sale_ord.vn=ow_vendor.vn) ow_sale
WINDOW win1 as (partition by ow_sale.pn order by ow_sale.cn desc range current row ),
win2 as (partition by ow_sale.vn,ow_sale.cn order by ow_sale.pn desc),
win3 as (partition by ow_sale.pn,ow_sale.dt,ow_sale.vn,ow_sale.vn,ow_sale.vn,ow_sale.dt order by ow_sale.cn desc)
''',
    "qp_olap_window.sql fuzzer battery — cume_dist/percent_rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #34.",
    oracle=r'''
SELECT ow_sale.cn AS c1,
  ow_sale.qty AS c2,
  printf('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.prc-ow_sale.prc)) OVER (partition by ow_sale.pn order by ow_sale.cn desc range current row ),0) AS DOUBLE)) AS c3,
  ow_sale.pn AS c4,
  printf('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.vn-ow_sale.qty)) OVER (partition by ow_sale.pn order by ow_sale.cn desc range current row ),0) AS DOUBLE)) AS c5,
  printf('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.qty)) OVER(partition by ow_sale.pn order by ow_sale.cn desc range current row ),0) AS DOUBLE)) AS c6,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER (partition by ow_sale.vn,ow_sale.cn order by ow_sale.pn desc),0) AS DOUBLE)) AS c7,
  ow_sale.vn AS c8,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (partition by ow_sale.pn,ow_sale.dt,ow_sale.vn,ow_sale.vn,ow_sale.vn,ow_sale.dt order by ow_sale.cn desc),0) AS DOUBLE)) AS c9,
  ow_sale.dt AS c10
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_vendor WHERE ow_sale_ord.vn=ow_vendor.vn) ow_sale

''',
)

_w(
    "regress_qpow_percent_rank_35",
    r'''
SELECT ow_sale.prc AS c1,
  ow_sale.qty AS c2,
  format_string('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.cn-ow_sale.pn)) OVER(win1),0) AS DOUBLE)) AS c3,
  ow_sale.cn AS c4,
  ow_sale.vn AS c5,
  ow_sale.pn AS c6,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win2),0) AS DOUBLE)) AS c7
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale
WINDOW win1 as (partition by ow_sale.cn,ow_sale.vn,ow_sale.pn,ow_sale.pn order by ow_sale.vn asc range between unbounded preceding and current row ),
win2 as (order by ow_sale.pn asc)
''',
    "qp_olap_window.sql fuzzer battery — percent_rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #35.",
    oracle=r'''
SELECT ow_sale.prc AS c1,
  ow_sale.qty AS c2,
  printf('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.cn-ow_sale.pn)) OVER (partition by ow_sale.cn,ow_sale.vn,ow_sale.pn,ow_sale.pn order by ow_sale.vn asc range between unbounded preceding and current row ),0) AS DOUBLE)) AS c3,
  ow_sale.cn AS c4,
  ow_sale.vn AS c5,
  ow_sale.pn AS c6,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (order by ow_sale.pn asc),0) AS DOUBLE)) AS c7
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale

''',
)

_w(
    "regress_qpow_percent_rank_36",
    r'''
SELECT ow_sale.prc AS c1,
  ow_sale.cn AS c2,
  ow_sale.vn AS c3,
  format_string('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.vn)) OVER(win1),0) AS DOUBLE)) AS c4,
  ow_sale.dt AS c5,
  ow_sale.pn AS c6,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win2),0) AS DOUBLE)) AS c7
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_vendor WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale
WINDOW win1 as (partition by ow_sale.dt order by ow_sale.pn desc range between unbounded preceding and unbounded following ),
win2 as (partition by ow_sale.pn,ow_sale.cn order by ow_sale.cn desc)
''',
    "qp_olap_window.sql fuzzer battery — percent_rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #36.",
    oracle=r'''
SELECT ow_sale.prc AS c1,
  ow_sale.cn AS c2,
  ow_sale.vn AS c3,
  printf('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.vn)) OVER (partition by ow_sale.dt order by ow_sale.pn desc range between unbounded preceding and unbounded following ),0) AS DOUBLE)) AS c4,
  ow_sale.dt AS c5,
  ow_sale.pn AS c6,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (partition by ow_sale.pn,ow_sale.cn order by ow_sale.cn desc),0) AS DOUBLE)) AS c7
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_vendor WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale

''',
)

_w(
    "regress_qpow_cume_dist_37",
    r'''
SELECT ow_sale.qty AS c1,
  ow_sale.vn AS c2,
  format_string('%16.7f', CAST(COALESCE(STDDEV(floor(ow_sale.prc)) OVER(win1),0) AS DOUBLE)) AS c3,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(win2),0) AS DOUBLE)) AS c4,
  format_string('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.cn)) OVER(order by ow_sale.vn desc range between 2 preceding and current row ),0) AS DOUBLE)) AS c5
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale
WINDOW win1 as (order by ow_sale.vn desc range between 2 preceding and current row ),
win2 as (order by ow_sale.vn asc)
''',
    "qp_olap_window.sql fuzzer battery — cume_dist over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #37.",
    oracle=r'''
SELECT ow_sale.qty AS c1,
  ow_sale.vn AS c2,
  printf('%16.7f', CAST(COALESCE(STDDEV(floor(ow_sale.prc)) OVER (order by ow_sale.vn desc range between 2 preceding and current row ),0) AS DOUBLE)) AS c3,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER (order by ow_sale.vn asc),0) AS DOUBLE)) AS c4,
  printf('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.cn)) OVER(order by ow_sale.vn desc range between 2 preceding and current row ),0) AS DOUBLE)) AS c5
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale

''',
)

_w(
    "regress_qpow_cume_dist_38",
    r'''
SELECT ow_sale.vn AS c1,
  ow_sale.vn AS c2,
  format_string('%16.7f', CAST(COALESCE(STDDEV(floor(ow_sale.prc)) OVER(win1),0) AS DOUBLE)) AS c3,
  ow_sale.cn AS c4,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(win2),0) AS DOUBLE)) AS c5
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale
WINDOW win1 as (order by ow_sale.cn asc range between 2 preceding and 2 following ),
win2 as (order by ow_sale.cn desc)
''',
    "qp_olap_window.sql fuzzer battery — cume_dist over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #38.",
    oracle=r'''
SELECT ow_sale.vn AS c1,
  ow_sale.vn AS c2,
  printf('%16.7f', CAST(COALESCE(STDDEV(floor(ow_sale.prc)) OVER (order by ow_sale.cn asc range between 2 preceding and 2 following ),0) AS DOUBLE)) AS c3,
  ow_sale.cn AS c4,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER (order by ow_sale.cn desc),0) AS DOUBLE)) AS c5
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale

''',
)

_w(
    "regress_qpow_cume_dist_dense_rank_percent_rank_39",
    r'''
SELECT ow_sale.cn AS c1,
  ow_sale.vn AS c2,
  format_string('%16.7f', CAST(COALESCE(STDDEV(floor(ow_sale.pn)) OVER(win1),0) AS DOUBLE)) AS c3,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win2),0) AS DOUBLE)) AS c4,
  format_string('%16.7f', CAST(COALESCE(DENSE_RANK() OVER(win3),0) AS DOUBLE)) AS c5,
  ow_sale.dt AS c6,
  ow_sale.pn AS c7,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win2),0) AS DOUBLE)) AS c8,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(win2),0) AS DOUBLE)) AS c9,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(win2),0) AS DOUBLE)) AS c10
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale
WINDOW win1 as (order by ow_sale.cn asc range between current row and unbounded following ),
win2 as (order by ow_sale.vn asc),
win3 as (partition by ow_sale.pn,ow_sale.dt,ow_sale.vn,ow_sale.dt order by ow_sale.vn asc)
''',
    "qp_olap_window.sql fuzzer battery — cume_dist/dense_rank/percent_rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #39.",
    oracle=r'''
SELECT ow_sale.cn AS c1,
  ow_sale.vn AS c2,
  printf('%16.7f', CAST(COALESCE(STDDEV(floor(ow_sale.pn)) OVER (order by ow_sale.cn asc range between current row and unbounded following ),0) AS DOUBLE)) AS c3,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (order by ow_sale.vn asc),0) AS DOUBLE)) AS c4,
  printf('%16.7f', CAST(COALESCE(DENSE_RANK() OVER (partition by ow_sale.pn,ow_sale.dt,ow_sale.vn,ow_sale.dt order by ow_sale.vn asc),0) AS DOUBLE)) AS c5,
  ow_sale.dt AS c6,
  ow_sale.pn AS c7,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (order by ow_sale.vn asc),0) AS DOUBLE)) AS c8,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER (order by ow_sale.vn asc),0) AS DOUBLE)) AS c9,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER (order by ow_sale.vn asc),0) AS DOUBLE)) AS c10
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale

''',
)

_w(
    "regress_qpow_rank_40",
    r'''
SELECT ow_sale.cn AS c1,
  ow_sale.vn AS c2,
  format_string('%16.7f', CAST(COALESCE(STDDEV(floor(ow_sale.pn)) OVER(win1),0) AS DOUBLE)) AS c3,
  ow_sale.prc AS c4,
  ow_sale.dt AS c5,
  ow_sale.qty AS c6,
  format_string('%16.7f', CAST(COALESCE(RANK() OVER(win1),0) AS DOUBLE)) AS c7,
  format_string('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.cn-ow_sale.vn)) OVER(partition by ow_sale.qty,ow_sale.prc,ow_sale.vn,ow_sale.dt,ow_sale.dt,ow_sale.cn order by ow_sale.cn asc,ow_sale.vn desc),0) AS DOUBLE)) AS c8
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale
WINDOW win1 as (partition by ow_sale.qty,ow_sale.prc,ow_sale.vn,ow_sale.dt,ow_sale.dt,ow_sale.cn order by ow_sale.cn asc,ow_sale.vn desc)
''',
    "qp_olap_window.sql fuzzer battery — rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #40.",
    oracle=r'''
SELECT ow_sale.cn AS c1,
  ow_sale.vn AS c2,
  printf('%16.7f', CAST(COALESCE(STDDEV(floor(ow_sale.pn)) OVER (partition by ow_sale.qty,ow_sale.prc,ow_sale.vn,ow_sale.dt,ow_sale.dt,ow_sale.cn order by ow_sale.cn asc,ow_sale.vn desc),0) AS DOUBLE)) AS c3,
  ow_sale.prc AS c4,
  ow_sale.dt AS c5,
  ow_sale.qty AS c6,
  printf('%16.7f', CAST(COALESCE(RANK() OVER (partition by ow_sale.qty,ow_sale.prc,ow_sale.vn,ow_sale.dt,ow_sale.dt,ow_sale.cn order by ow_sale.cn asc,ow_sale.vn desc),0) AS DOUBLE)) AS c7,
  printf('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.cn-ow_sale.vn)) OVER(partition by ow_sale.qty,ow_sale.prc,ow_sale.vn,ow_sale.dt,ow_sale.dt,ow_sale.cn order by ow_sale.cn asc,ow_sale.vn desc),0) AS DOUBLE)) AS c8
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale

''',
)

_w(
    "regress_qpow_cume_dist_percent_rank_rank_41",
    r'''
SELECT ow_sale.cn AS c1,
  ow_sale.vn AS c2,
  ow_sale.cn AS c3,
  ow_sale.qty AS c4,
  format_string('%16.7f', CAST(COALESCE(STDDEV(floor(ow_sale.prc)) OVER(win1),0) AS DOUBLE)) AS c5,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win2),0) AS DOUBLE)) AS c6,
  format_string('%16.7f', CAST(COALESCE(RANK() OVER(win3),0) AS DOUBLE)) AS c7,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(order by ow_sale.cn desc),0) AS DOUBLE)) AS c8
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product,ow_vendor WHERE ow_sale_ord.pn=ow_product.pn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale
WINDOW win1 as (partition by ow_sale.cn,ow_sale.cn,ow_sale.vn order by ow_sale.cn asc range 4 preceding ),
win2 as (order by ow_sale.cn desc),
win3 as (order by ow_sale.cn desc)
''',
    "qp_olap_window.sql fuzzer battery — cume_dist/percent_rank/rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #41.",
    oracle=r'''
SELECT ow_sale.cn AS c1,
  ow_sale.vn AS c2,
  ow_sale.cn AS c3,
  ow_sale.qty AS c4,
  printf('%16.7f', CAST(COALESCE(STDDEV(floor(ow_sale.prc)) OVER (partition by ow_sale.cn,ow_sale.cn,ow_sale.vn order by ow_sale.cn asc range 4 preceding ),0) AS DOUBLE)) AS c5,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (order by ow_sale.cn desc),0) AS DOUBLE)) AS c6,
  printf('%16.7f', CAST(COALESCE(RANK() OVER (order by ow_sale.cn desc),0) AS DOUBLE)) AS c7,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER(order by ow_sale.cn desc),0) AS DOUBLE)) AS c8
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product,ow_vendor WHERE ow_sale_ord.pn=ow_product.pn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale

''',
)

_w(
    "regress_qpow_dense_rank_percent_rank_42",
    r'''
SELECT ow_sale.qty AS c1,
  ow_sale.prc AS c2,
  ow_sale.pn AS c3,
  ow_sale.qty AS c4,
  format_string('%16.7f', CAST(COALESCE(STDDEV_POP(floor(ow_sale.qty-ow_sale.vn)) OVER(win1),0) AS DOUBLE)) AS c5,
  format_string('%16.7f', CAST(COALESCE(DENSE_RANK() OVER(win2),0) AS DOUBLE)) AS c6,
  ow_sale.vn AS c7,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win3),0) AS DOUBLE)) AS c8,
  ow_sale.cn AS c9,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(order by ow_sale.vn asc),0) AS DOUBLE)) AS c10
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_vendor WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale
WINDOW win1 as (order by ow_sale.pn desc range between current row and unbounded following ),
win2 as (order by ow_sale.vn asc),
win3 as (order by ow_sale.cn desc)
''',
    "qp_olap_window.sql fuzzer battery — dense_rank/percent_rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #42.",
    oracle=r'''
SELECT ow_sale.qty AS c1,
  ow_sale.prc AS c2,
  ow_sale.pn AS c3,
  ow_sale.qty AS c4,
  printf('%16.7f', CAST(COALESCE(STDDEV_POP(floor(ow_sale.qty-ow_sale.vn)) OVER (order by ow_sale.pn desc range between current row and unbounded following ),0) AS DOUBLE)) AS c5,
  printf('%16.7f', CAST(COALESCE(DENSE_RANK() OVER (order by ow_sale.vn asc),0) AS DOUBLE)) AS c6,
  ow_sale.vn AS c7,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (order by ow_sale.cn desc),0) AS DOUBLE)) AS c8,
  ow_sale.cn AS c9,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(order by ow_sale.vn asc),0) AS DOUBLE)) AS c10
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_vendor WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale

''',
)

_w(
    "regress_qpow_dense_rank_43",
    r'''
SELECT ow_sale.qty AS c1,
  ow_sale.qty AS c2,
  ow_sale.dt AS c3,
  ow_sale.pn AS c4,
  format_string('%16.7f', CAST(COALESCE(STDDEV_POP(floor(ow_sale.qty)) OVER(win1),0) AS DOUBLE)) AS c5,
  ow_sale.cn AS c6,
  ow_sale.vn AS c7,
  format_string('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.pn)) OVER(partition by ow_sale.dt,ow_sale.cn,ow_sale.dt order by ow_sale.vn asc range current row ),0) AS DOUBLE)) AS c8,
  format_string('%16.7f', CAST(COALESCE(DENSE_RANK() OVER(win2),0) AS DOUBLE)) AS c9,
  format_string('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.qty-ow_sale.vn)) OVER(order by ow_sale.cn desc),0) AS DOUBLE)) AS c10,
  format_string('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.vn)) OVER(win2),0) AS DOUBLE)) AS c11,
  format_string('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.prc)) OVER(win1),0) AS DOUBLE)) AS c12
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale
WINDOW win1 as (partition by ow_sale.dt,ow_sale.cn,ow_sale.dt order by ow_sale.vn asc range current row ),
win2 as (order by ow_sale.cn desc)
''',
    "qp_olap_window.sql fuzzer battery — dense_rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #43.",
    oracle=r'''
SELECT ow_sale.qty AS c1,
  ow_sale.qty AS c2,
  ow_sale.dt AS c3,
  ow_sale.pn AS c4,
  printf('%16.7f', CAST(COALESCE(STDDEV_POP(floor(ow_sale.qty)) OVER (partition by ow_sale.dt,ow_sale.cn,ow_sale.dt order by ow_sale.vn asc range current row ),0) AS DOUBLE)) AS c5,
  ow_sale.cn AS c6,
  ow_sale.vn AS c7,
  printf('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.pn)) OVER(partition by ow_sale.dt,ow_sale.cn,ow_sale.dt order by ow_sale.vn asc range current row ),0) AS DOUBLE)) AS c8,
  printf('%16.7f', CAST(COALESCE(DENSE_RANK() OVER (order by ow_sale.cn desc),0) AS DOUBLE)) AS c9,
  printf('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.qty-ow_sale.vn)) OVER(order by ow_sale.cn desc),0) AS DOUBLE)) AS c10,
  printf('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.vn)) OVER (order by ow_sale.cn desc),0) AS DOUBLE)) AS c11,
  printf('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.prc)) OVER (partition by ow_sale.dt,ow_sale.cn,ow_sale.dt order by ow_sale.vn asc range current row ),0) AS DOUBLE)) AS c12
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale

''',
)

_w(
    "regress_qpow_percent_rank_44",
    r'''
SELECT ow_sale.vn AS c1,
  ow_sale.prc AS c2,
  ow_sale.qty AS c3,
  format_string('%16.7f', CAST(COALESCE(STDDEV_POP(floor(ow_sale.qty)) OVER(win1),0) AS DOUBLE)) AS c4,
  ow_sale.cn AS c5,
  ow_sale.dt AS c6,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win2),0) AS DOUBLE)) AS c7,
  ow_sale.pn AS c8,
  format_string('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.cn)) OVER(win1),0) AS DOUBLE)) AS c9,
  format_string('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.cn-ow_sale.cn)) OVER(partition by ow_sale.dt,ow_sale.cn order by ow_sale.vn asc range between unbounded preceding and unbounded following ),0) AS DOUBLE)) AS c10
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product,ow_vendor WHERE ow_sale_ord.pn=ow_product.pn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale
WINDOW win1 as (partition by ow_sale.dt,ow_sale.cn order by ow_sale.vn asc range between unbounded preceding and unbounded following ),
win2 as (partition by ow_sale.pn order by ow_sale.vn asc)
''',
    "qp_olap_window.sql fuzzer battery — percent_rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #44.",
    oracle=r'''
SELECT ow_sale.vn AS c1,
  ow_sale.prc AS c2,
  ow_sale.qty AS c3,
  printf('%16.7f', CAST(COALESCE(STDDEV_POP(floor(ow_sale.qty)) OVER (partition by ow_sale.dt,ow_sale.cn order by ow_sale.vn asc range between unbounded preceding and unbounded following ),0) AS DOUBLE)) AS c4,
  ow_sale.cn AS c5,
  ow_sale.dt AS c6,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (partition by ow_sale.pn order by ow_sale.vn asc),0) AS DOUBLE)) AS c7,
  ow_sale.pn AS c8,
  printf('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.cn)) OVER (partition by ow_sale.dt,ow_sale.cn order by ow_sale.vn asc range between unbounded preceding and unbounded following ),0) AS DOUBLE)) AS c9,
  printf('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.cn-ow_sale.cn)) OVER(partition by ow_sale.dt,ow_sale.cn order by ow_sale.vn asc range between unbounded preceding and unbounded following ),0) AS DOUBLE)) AS c10
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product,ow_vendor WHERE ow_sale_ord.pn=ow_product.pn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale

''',
)

_w(
    "regress_qpow_cume_dist_45",
    r'''
SELECT ow_sale.pn AS c1,
  format_string('%16.7f', CAST(COALESCE(STDDEV_POP(floor(ow_sale.vn*ow_sale.cn)) OVER(win1),0) AS DOUBLE)) AS c2,
  ow_sale.dt AS c3,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(win2),0) AS DOUBLE)) AS c4,
  ow_sale.cn AS c5,
  ow_sale.qty AS c6
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product WHERE ow_sale_ord.pn=ow_product.pn) ow_sale
WINDOW win1 as (partition by ow_sale.dt,ow_sale.dt,ow_sale.dt,ow_sale.dt order by ow_sale.pn asc range between current row and current row ),
win2 as (partition by ow_sale.cn,ow_sale.qty order by ow_sale.pn desc)
''',
    "qp_olap_window.sql fuzzer battery — cume_dist over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #45.",
    oracle=r'''
SELECT ow_sale.pn AS c1,
  printf('%16.7f', CAST(COALESCE(STDDEV_POP(floor(ow_sale.vn*ow_sale.cn)) OVER (partition by ow_sale.dt,ow_sale.dt,ow_sale.dt,ow_sale.dt order by ow_sale.pn asc range between current row and current row ),0) AS DOUBLE)) AS c2,
  ow_sale.dt AS c3,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER (partition by ow_sale.cn,ow_sale.qty order by ow_sale.pn desc),0) AS DOUBLE)) AS c4,
  ow_sale.cn AS c5,
  ow_sale.qty AS c6
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product WHERE ow_sale_ord.pn=ow_product.pn) ow_sale

''',
)

_w(
    "regress_qpow_cume_dist_dense_rank_percent_rank_46",
    r'''
SELECT ow_sale.pn AS c1,
  ow_sale.cn AS c2,
  format_string('%16.7f', CAST(COALESCE(STDDEV_POP(floor(ow_sale.prc)) OVER(win1),0) AS DOUBLE)) AS c3,
  ow_sale.vn AS c4,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(win2),0) AS DOUBLE)) AS c5,
  format_string('%16.7f', CAST(COALESCE(DENSE_RANK() OVER(win2),0) AS DOUBLE)) AS c6,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win2),0) AS DOUBLE)) AS c7,
  format_string('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.qty+ow_sale.prc)) OVER(order by ow_sale.pn desc),0) AS DOUBLE)) AS c8,
  format_string('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.pn+ow_sale.prc)) OVER(win2),0) AS DOUBLE)) AS c9
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer WHERE ow_sale_ord.cn=ow_customer.cn ) ow_sale
WINDOW win1 as (partition by ow_sale.vn order by ow_sale.vn asc range between 2 following and unbounded following ),
win2 as (order by ow_sale.pn desc)
''',
    "qp_olap_window.sql fuzzer battery — cume_dist/dense_rank/percent_rank over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #46.",
    oracle=r'''
SELECT ow_sale.pn AS c1,
  ow_sale.cn AS c2,
  printf('%16.7f', CAST(COALESCE(STDDEV_POP(floor(ow_sale.prc)) OVER (partition by ow_sale.vn order by ow_sale.vn asc range between 2 following and unbounded following ),0) AS DOUBLE)) AS c3,
  ow_sale.vn AS c4,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER (order by ow_sale.pn desc),0) AS DOUBLE)) AS c5,
  printf('%16.7f', CAST(COALESCE(DENSE_RANK() OVER (order by ow_sale.pn desc),0) AS DOUBLE)) AS c6,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (order by ow_sale.pn desc),0) AS DOUBLE)) AS c7,
  printf('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.qty+ow_sale.prc)) OVER(order by ow_sale.pn desc),0) AS DOUBLE)) AS c8,
  printf('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.pn+ow_sale.prc)) OVER (order by ow_sale.pn desc),0) AS DOUBLE)) AS c9
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer WHERE ow_sale_ord.cn=ow_customer.cn ) ow_sale

''',
)

_w(
    "regress_qpow_cume_dist_47",
    r'''
SELECT ow_sale.cn AS c1,
  format_string('%16.7f', CAST(COALESCE(STDDEV_SAMP(floor(ow_sale.pn*ow_sale.vn)) OVER(win1),0) AS DOUBLE)) AS c2,
  ow_sale.pn AS c3,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(order by ow_sale.pn asc),0) AS DOUBLE)) AS c4
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer WHERE ow_sale_ord.cn=ow_customer.cn ) ow_sale
WINDOW win1 as (order by ow_sale.pn asc)
''',
    "qp_olap_window.sql fuzzer battery — cume_dist over named/inline windows with duplicate partition keys; deterministic-under-ties slice, sample #47.",
    oracle=r'''
SELECT ow_sale.cn AS c1,
  printf('%16.7f', CAST(COALESCE(STDDEV_SAMP(floor(ow_sale.pn*ow_sale.vn)) OVER (order by ow_sale.pn asc),0) AS DOUBLE)) AS c2,
  ow_sale.pn AS c3,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER(order by ow_sale.pn asc),0) AS DOUBLE)) AS c4
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer WHERE ow_sale_ord.cn=ow_customer.cn ) ow_sale

''',
)

