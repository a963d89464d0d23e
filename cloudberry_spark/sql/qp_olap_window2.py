"""qp_olap_window.sql ports, second densification pass: +30
evenly spaced deterministic-slice samples beyond the 48 in
sql/qp_olap_window.py (same selection rules; DuckDB-replayed at
generation). The generator read the reference tree, which is no
longer available; this module is the source of record, edited in
place."""

from cloudberry_spark.sql.qp_olap_window import QPOW_PRELUDE
from cloudberry_spark.sql.regress import register_regress


def _w(name, sql, doc, oracle='same'):
    register_regress(name, sql, doc, tags=("qpow", "window"),
                     oracle=oracle, prelude=QPOW_PRELUDE)

_w(
    "regress_qpow_percent_rank_rank_b000",
    r'''
SELECT ow_sale.qty AS c1,
  ow_sale.qty AS c2,
  ow_sale.prc AS c3,
  ow_sale.pn AS c4,
  format_string('%16.7f', CAST(COALESCE(STDDEV_SAMP(floor(ow_sale.pn*ow_sale.prc)) OVER(win1),0) AS DOUBLE)) AS c5,
  ow_sale.cn AS c6,
  format_string('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.pn-ow_sale.cn)) OVER(order by ow_sale.cn desc range between current row and unbounded following ),0) AS DOUBLE)) AS c7,
  format_string('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.cn)) OVER(win1),0) AS DOUBLE)) AS c8,
  format_string('%16.7f', CAST(COALESCE(RANK() OVER(win2),0) AS DOUBLE)) AS c9,
  ow_sale.dt AS c10,
  ow_sale.vn AS c11,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win3),0) AS DOUBLE)) AS c12
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale
WINDOW win1 as (order by ow_sale.cn desc range between current row and unbounded following ),
win2 as (partition by ow_sale.pn,ow_sale.pn,ow_sale.dt order by ow_sale.vn asc),
win3 as (order by ow_sale.cn asc)
''',
    "qp_olap_window.sql fuzzer battery — percent_rank/rank; deterministic-under-ties slice, pass-2 sample #0.",
    oracle=r'''
SELECT ow_sale.qty AS c1,
  ow_sale.qty AS c2,
  ow_sale.prc AS c3,
  ow_sale.pn AS c4,
  printf('%16.7f', CAST(COALESCE(STDDEV_SAMP(floor(ow_sale.pn*ow_sale.prc)) OVER (order by ow_sale.cn desc range between current row and unbounded following ),0) AS DOUBLE)) AS c5,
  ow_sale.cn AS c6,
  printf('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.pn-ow_sale.cn)) OVER(order by ow_sale.cn desc range between current row and unbounded following ),0) AS DOUBLE)) AS c7,
  printf('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.cn)) OVER (order by ow_sale.cn desc range between current row and unbounded following ),0) AS DOUBLE)) AS c8,
  printf('%16.7f', CAST(COALESCE(RANK() OVER (partition by ow_sale.pn,ow_sale.pn,ow_sale.dt order by ow_sale.vn asc),0) AS DOUBLE)) AS c9,
  ow_sale.dt AS c10,
  ow_sale.vn AS c11,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (order by ow_sale.cn asc),0) AS DOUBLE)) AS c12
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale

''',
)

_w(
    "regress_qpow_percent_rank_b001",
    r'''
SELECT ow_sale.qty AS c1,
  ow_sale.vn AS c2,
  ow_sale.vn AS c3,
  format_string('%16.7f', CAST(COALESCE(STDDEV_SAMP(floor(ow_sale.vn-ow_sale.cn)) OVER(win1),0) AS DOUBLE)) AS c4,
  ow_sale.cn AS c5,
  ow_sale.dt AS c6,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win2),0) AS DOUBLE)) AS c7
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale
WINDOW win1 as (partition by ow_sale.dt order by ow_sale.cn asc range current row ),
win2 as (order by ow_sale.vn desc)
''',
    "qp_olap_window.sql fuzzer battery — percent_rank; deterministic-under-ties slice, pass-2 sample #1.",
    oracle=r'''
SELECT ow_sale.qty AS c1,
  ow_sale.vn AS c2,
  ow_sale.vn AS c3,
  printf('%16.7f', CAST(COALESCE(STDDEV_SAMP(floor(ow_sale.vn-ow_sale.cn)) OVER (partition by ow_sale.dt order by ow_sale.cn asc range current row ),0) AS DOUBLE)) AS c4,
  ow_sale.cn AS c5,
  ow_sale.dt AS c6,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (order by ow_sale.vn desc),0) AS DOUBLE)) AS c7
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale

''',
)

_w(
    "regress_qpow_rank_b002",
    r'''
SELECT ow_sale.pn AS c1,
  ow_sale.cn AS c2,
  format_string('%16.7f', CAST(COALESCE(STDDEV_SAMP(floor(ow_sale.prc+ow_sale.prc)) OVER(win1),0) AS DOUBLE)) AS c3,
  ow_sale.prc AS c4,
  ow_sale.dt AS c5,
  format_string('%16.7f', CAST(COALESCE(RANK() OVER(win2),0) AS DOUBLE)) AS c6,
  format_string('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.qty)) OVER(win1),0) AS DOUBLE)) AS c7,
  format_string('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.qty-ow_sale.qty)) OVER(partition by ow_sale.prc,ow_sale.dt order by ow_sale.pn desc range between current row and current row ),0) AS DOUBLE)) AS c8,
  format_string('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.prc-ow_sale.vn)) OVER(win2),0) AS DOUBLE)) AS c9
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_product WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.pn=ow_product.pn) ow_sale
WINDOW win1 as (partition by ow_sale.prc,ow_sale.dt order by ow_sale.pn desc range between current row and current row ),
win2 as (order by ow_sale.cn asc)
''',
    "qp_olap_window.sql fuzzer battery — rank; deterministic-under-ties slice, pass-2 sample #2.",
    oracle=r'''
SELECT ow_sale.pn AS c1,
  ow_sale.cn AS c2,
  printf('%16.7f', CAST(COALESCE(STDDEV_SAMP(floor(ow_sale.prc+ow_sale.prc)) OVER (partition by ow_sale.prc,ow_sale.dt order by ow_sale.pn desc range between current row and current row ),0) AS DOUBLE)) AS c3,
  ow_sale.prc AS c4,
  ow_sale.dt AS c5,
  printf('%16.7f', CAST(COALESCE(RANK() OVER (order by ow_sale.cn asc),0) AS DOUBLE)) AS c6,
  printf('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.qty)) OVER (partition by ow_sale.prc,ow_sale.dt order by ow_sale.pn desc range between current row and current row ),0) AS DOUBLE)) AS c7,
  printf('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.qty-ow_sale.qty)) OVER(partition by ow_sale.prc,ow_sale.dt order by ow_sale.pn desc range between current row and current row ),0) AS DOUBLE)) AS c8,
  printf('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.prc-ow_sale.vn)) OVER (order by ow_sale.cn asc),0) AS DOUBLE)) AS c9
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_product WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.pn=ow_product.pn) ow_sale

''',
)

_w(
    "regress_qpow_rank_b003",
    r'''
SELECT ow_sale.prc AS c1,
  ow_sale.qty AS c2,
  format_string('%16.7f', CAST(COALESCE(STDDEV_SAMP(floor(ow_sale.vn*ow_sale.prc)) OVER(win1),0) AS DOUBLE)) AS c3,
  ow_sale.cn AS c4,
  ow_sale.dt AS c5,
  ow_sale.vn AS c6,
  format_string('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.prc+ow_sale.pn)) OVER(win1),0) AS DOUBLE)) AS c7,
  format_string('%16.7f', CAST(COALESCE(RANK() OVER(win2),0) AS DOUBLE)) AS c8,
  ow_sale.pn AS c9
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale
WINDOW win1 as (partition by ow_sale.vn,ow_sale.dt,ow_sale.vn order by ow_sale.cn asc range between current row and 2 following ),
win2 as (partition by ow_sale.vn,ow_sale.vn order by ow_sale.pn desc)
''',
    "qp_olap_window.sql fuzzer battery — rank; deterministic-under-ties slice, pass-2 sample #3.",
    oracle=r'''
SELECT ow_sale.prc AS c1,
  ow_sale.qty AS c2,
  printf('%16.7f', CAST(COALESCE(STDDEV_SAMP(floor(ow_sale.vn*ow_sale.prc)) OVER (partition by ow_sale.vn,ow_sale.dt,ow_sale.vn order by ow_sale.cn asc range between current row and 2 following ),0) AS DOUBLE)) AS c3,
  ow_sale.cn AS c4,
  ow_sale.dt AS c5,
  ow_sale.vn AS c6,
  printf('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.prc+ow_sale.pn)) OVER (partition by ow_sale.vn,ow_sale.dt,ow_sale.vn order by ow_sale.cn asc range between current row and 2 following ),0) AS DOUBLE)) AS c7,
  printf('%16.7f', CAST(COALESCE(RANK() OVER (partition by ow_sale.vn,ow_sale.vn order by ow_sale.pn desc),0) AS DOUBLE)) AS c8,
  ow_sale.pn AS c9
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale

''',
)

_w(
    "regress_qpow_cume_dist_percent_rank_b004",
    r'''
SELECT ow_sale.qty AS c1,
  ow_sale.cn AS c2,
  format_string('%16.7f', CAST(COALESCE(STDDEV_SAMP(floor(ow_sale.qty-ow_sale.pn)) OVER(win1),0) AS DOUBLE)) AS c3,
  ow_sale.prc AS c4,
  ow_sale.dt AS c5,
  ow_sale.vn AS c6,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win2),0) AS DOUBLE)) AS c7,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(win3),0) AS DOUBLE)) AS c8,
  ow_sale.pn AS c9,
  format_string('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.pn*ow_sale.vn)) OVER(order by ow_sale.vn desc),0) AS DOUBLE)) AS c10
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_product WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.pn=ow_product.pn) ow_sale
WINDOW win1 as (partition by ow_sale.dt,ow_sale.dt,ow_sale.prc order by ow_sale.vn asc range between current row and unbounded following ),
win2 as (order by ow_sale.vn desc),
win3 as (order by ow_sale.pn desc)
''',
    "qp_olap_window.sql fuzzer battery — cume_dist/percent_rank; deterministic-under-ties slice, pass-2 sample #4.",
    oracle=r'''
SELECT ow_sale.qty AS c1,
  ow_sale.cn AS c2,
  printf('%16.7f', CAST(COALESCE(STDDEV_SAMP(floor(ow_sale.qty-ow_sale.pn)) OVER (partition by ow_sale.dt,ow_sale.dt,ow_sale.prc order by ow_sale.vn asc range between current row and unbounded following ),0) AS DOUBLE)) AS c3,
  ow_sale.prc AS c4,
  ow_sale.dt AS c5,
  ow_sale.vn AS c6,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (order by ow_sale.vn desc),0) AS DOUBLE)) AS c7,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER (order by ow_sale.pn desc),0) AS DOUBLE)) AS c8,
  ow_sale.pn AS c9,
  printf('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.pn*ow_sale.vn)) OVER(order by ow_sale.vn desc),0) AS DOUBLE)) AS c10
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_product WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.pn=ow_product.pn) ow_sale

''',
)

_w(
    "regress_qpow_cume_dist_percent_rank_b005",
    r'''
SELECT ow_sale.cn AS c1,
  format_string('%16.7f', CAST(COALESCE(SUM(floor(ow_sale.cn)) OVER(win1),0) AS DOUBLE)) AS c2,
  ow_sale.prc AS c3,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win2),0) AS DOUBLE)) AS c4,
  ow_sale.dt AS c5,
  format_string('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.qty)) OVER(win1),0) AS DOUBLE)) AS c6,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(partition by ow_sale.dt,ow_sale.dt order by ow_sale.cn asc),0) AS DOUBLE)) AS c7
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale
WINDOW win1 as (partition by ow_sale.prc),
win2 as (partition by ow_sale.dt,ow_sale.dt order by ow_sale.cn asc)
''',
    "qp_olap_window.sql fuzzer battery — cume_dist/percent_rank; deterministic-under-ties slice, pass-2 sample #5.",
    oracle=r'''
SELECT ow_sale.cn AS c1,
  printf('%16.7f', CAST(COALESCE(SUM(floor(ow_sale.cn)) OVER (partition by ow_sale.prc),0) AS DOUBLE)) AS c2,
  ow_sale.prc AS c3,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (partition by ow_sale.dt,ow_sale.dt order by ow_sale.cn asc),0) AS DOUBLE)) AS c4,
  ow_sale.dt AS c5,
  printf('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.qty)) OVER (partition by ow_sale.prc),0) AS DOUBLE)) AS c6,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER(partition by ow_sale.dt,ow_sale.dt order by ow_sale.cn asc),0) AS DOUBLE)) AS c7
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale

''',
)

_w(
    "regress_qpow_cume_dist_b006",
    r'''
SELECT ow_sale.vn AS c1,
  ow_sale.dt AS c2,
  ow_sale.pn AS c3,
  format_string('%16.7f', CAST(COALESCE(SUM(floor(ow_sale.prc)) OVER(win1),0) AS DOUBLE)) AS c4,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(win2),0) AS DOUBLE)) AS c5,
  ow_sale.cn AS c6,
  format_string('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.qty+ow_sale.pn)) OVER(order by ow_sale.cn desc),0) AS DOUBLE)) AS c7
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_vendor WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale
WINDOW win1 as (order by ow_sale.pn desc range unbounded preceding ),
win2 as (order by ow_sale.cn desc)
''',
    "qp_olap_window.sql fuzzer battery — cume_dist; deterministic-under-ties slice, pass-2 sample #6.",
    oracle=r'''
SELECT ow_sale.vn AS c1,
  ow_sale.dt AS c2,
  ow_sale.pn AS c3,
  printf('%16.7f', CAST(COALESCE(SUM(floor(ow_sale.prc)) OVER (order by ow_sale.pn desc range unbounded preceding ),0) AS DOUBLE)) AS c4,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER (order by ow_sale.cn desc),0) AS DOUBLE)) AS c5,
  ow_sale.cn AS c6,
  printf('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.qty+ow_sale.pn)) OVER(order by ow_sale.cn desc),0) AS DOUBLE)) AS c7
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_vendor WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale

''',
)

_w(
    "regress_qpow_percent_rank_rank_b007",
    r'''
SELECT ow_sale.dt AS c1,
  ow_sale.cn AS c2,
  ow_sale.vn AS c3,
  ow_sale.vn AS c4,
  format_string('%16.7f', CAST(COALESCE(SUM(floor(ow_sale.prc)) OVER(win1),0) AS DOUBLE)) AS c5,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win2),0) AS DOUBLE)) AS c6,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(partition by ow_sale.vn,ow_sale.vn order by ow_sale.vn desc),0) AS DOUBLE)) AS c7,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win2),0) AS DOUBLE)) AS c8,
  format_string('%16.7f', CAST(COALESCE(RANK() OVER(win2),0) AS DOUBLE)) AS c9
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_product WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.pn=ow_product.pn) ow_sale
WINDOW win1 as (order by ow_sale.cn desc range between unbounded preceding and 2 preceding ),
win2 as (partition by ow_sale.vn,ow_sale.vn order by ow_sale.vn desc)
''',
    "qp_olap_window.sql fuzzer battery — percent_rank/rank; deterministic-under-ties slice, pass-2 sample #7.",
    oracle=r'''
SELECT ow_sale.dt AS c1,
  ow_sale.cn AS c2,
  ow_sale.vn AS c3,
  ow_sale.vn AS c4,
  printf('%16.7f', CAST(COALESCE(SUM(floor(ow_sale.prc)) OVER (order by ow_sale.cn desc range between unbounded preceding and 2 preceding ),0) AS DOUBLE)) AS c5,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (partition by ow_sale.vn,ow_sale.vn order by ow_sale.vn desc),0) AS DOUBLE)) AS c6,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(partition by ow_sale.vn,ow_sale.vn order by ow_sale.vn desc),0) AS DOUBLE)) AS c7,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (partition by ow_sale.vn,ow_sale.vn order by ow_sale.vn desc),0) AS DOUBLE)) AS c8,
  printf('%16.7f', CAST(COALESCE(RANK() OVER (partition by ow_sale.vn,ow_sale.vn order by ow_sale.vn desc),0) AS DOUBLE)) AS c9
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_product WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.pn=ow_product.pn) ow_sale

''',
)

_w(
    "regress_qpow_percent_rank_rank_b008",
    r'''
SELECT ow_sale.qty AS c1,
  ow_sale.pn AS c2,
  ow_sale.cn AS c3,
  ow_sale.cn AS c4,
  ow_sale.qty AS c5,
  format_string('%16.7f', CAST(COALESCE(SUM(floor(ow_sale.qty+ow_sale.vn)) OVER(win1),0) AS DOUBLE)) AS c6,
  ow_sale.vn AS c7,
  format_string('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.pn)) OVER(win1),0) AS DOUBLE)) AS c8,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win2),0) AS DOUBLE)) AS c9,
  ow_sale.prc AS c10,
  format_string('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.qty)) OVER(win2),0) AS DOUBLE)) AS c11,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win3),0) AS DOUBLE)) AS c12,
  ow_sale.dt AS c13,
  format_string('%16.7f', CAST(COALESCE(RANK() OVER(partition by ow_sale.cn,ow_sale.pn,ow_sale.prc,ow_sale.vn,ow_sale.vn,ow_sale.pn order by ow_sale.pn asc),0) AS DOUBLE)) AS c14
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product WHERE ow_sale_ord.pn=ow_product.pn) ow_sale
WINDOW win1 as (order by ow_sale.vn desc range between 1 preceding and current row ),
win2 as (partition by ow_sale.cn,ow_sale.pn,ow_sale.prc,ow_sale.vn,ow_sale.vn,ow_sale.pn order by ow_sale.pn asc),
win3 as (partition by ow_sale.dt,ow_sale.cn,ow_sale.prc,ow_sale.prc order by ow_sale.pn asc)
''',
    "qp_olap_window.sql fuzzer battery — percent_rank/rank; deterministic-under-ties slice, pass-2 sample #8.",
    oracle=r'''
SELECT ow_sale.qty AS c1,
  ow_sale.pn AS c2,
  ow_sale.cn AS c3,
  ow_sale.cn AS c4,
  ow_sale.qty AS c5,
  printf('%16.7f', CAST(COALESCE(SUM(floor(ow_sale.qty+ow_sale.vn)) OVER (order by ow_sale.vn desc range between 1 preceding and current row ),0) AS DOUBLE)) AS c6,
  ow_sale.vn AS c7,
  printf('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.pn)) OVER (order by ow_sale.vn desc range between 1 preceding and current row ),0) AS DOUBLE)) AS c8,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (partition by ow_sale.cn,ow_sale.pn,ow_sale.prc,ow_sale.vn,ow_sale.vn,ow_sale.pn order by ow_sale.pn asc),0) AS DOUBLE)) AS c9,
  ow_sale.prc AS c10,
  printf('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.qty)) OVER (partition by ow_sale.cn,ow_sale.pn,ow_sale.prc,ow_sale.vn,ow_sale.vn,ow_sale.pn order by ow_sale.pn asc),0) AS DOUBLE)) AS c11,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (partition by ow_sale.dt,ow_sale.cn,ow_sale.prc,ow_sale.prc order by ow_sale.pn asc),0) AS DOUBLE)) AS c12,
  ow_sale.dt AS c13,
  printf('%16.7f', CAST(COALESCE(RANK() OVER(partition by ow_sale.cn,ow_sale.pn,ow_sale.prc,ow_sale.vn,ow_sale.vn,ow_sale.pn order by ow_sale.pn asc),0) AS DOUBLE)) AS c14
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product WHERE ow_sale_ord.pn=ow_product.pn) ow_sale

''',
)

_w(
    "regress_qpow_cume_dist_b009",
    r'''
SELECT ow_sale.prc AS c1,
  ow_sale.dt AS c2,
  ow_sale.cn AS c3,
  format_string('%16.7f', CAST(COALESCE(SUM(floor(ow_sale.pn+ow_sale.vn)) OVER(win1),0) AS DOUBLE)) AS c4,
  ow_sale.vn AS c5,
  ow_sale.pn AS c6,
  format_string('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.cn)) OVER(partition by ow_sale.vn order by ow_sale.vn asc,ow_sale.cn asc,ow_sale.pn desc),0) AS DOUBLE)) AS c7,
  format_string('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.qty)) OVER(partition by ow_sale.vn order by ow_sale.vn asc,ow_sale.cn asc,ow_sale.pn desc),0) AS DOUBLE)) AS c8,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(partition by ow_sale.vn order by ow_sale.vn asc,ow_sale.cn asc,ow_sale.pn desc),0) AS DOUBLE)) AS c9
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product WHERE ow_sale_ord.pn=ow_product.pn) ow_sale
WINDOW win1 as (partition by ow_sale.vn order by ow_sale.vn asc,ow_sale.cn asc,ow_sale.pn desc)
''',
    "qp_olap_window.sql fuzzer battery — cume_dist; deterministic-under-ties slice, pass-2 sample #9.",
    oracle=r'''
SELECT ow_sale.prc AS c1,
  ow_sale.dt AS c2,
  ow_sale.cn AS c3,
  printf('%16.7f', CAST(COALESCE(SUM(floor(ow_sale.pn+ow_sale.vn)) OVER (partition by ow_sale.vn order by ow_sale.vn asc,ow_sale.cn asc,ow_sale.pn desc),0) AS DOUBLE)) AS c4,
  ow_sale.vn AS c5,
  ow_sale.pn AS c6,
  printf('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.cn)) OVER(partition by ow_sale.vn order by ow_sale.vn asc,ow_sale.cn asc,ow_sale.pn desc),0) AS DOUBLE)) AS c7,
  printf('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.qty)) OVER(partition by ow_sale.vn order by ow_sale.vn asc,ow_sale.cn asc,ow_sale.pn desc),0) AS DOUBLE)) AS c8,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER(partition by ow_sale.vn order by ow_sale.vn asc,ow_sale.cn asc,ow_sale.pn desc),0) AS DOUBLE)) AS c9
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product WHERE ow_sale_ord.pn=ow_product.pn) ow_sale

''',
)

_w(
    "regress_qpow_dense_rank_percent_rank_rank_b010",
    r'''
SELECT ow_sale.cn AS c1,
  ow_sale.vn AS c2,
  ow_sale.qty AS c3,
  format_string('%16.7f', CAST(COALESCE(VAR_POP(floor(ow_sale.vn*ow_sale.vn)) OVER(win1),0) AS DOUBLE)) AS c4,
  format_string('%16.7f', CAST(COALESCE(DENSE_RANK() OVER(win2),0) AS DOUBLE)) AS c5,
  ow_sale.pn AS c6,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win2),0) AS DOUBLE)) AS c7,
  format_string('%16.7f', CAST(COALESCE(RANK() OVER(win2),0) AS DOUBLE)) AS c8
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product WHERE ow_sale_ord.pn=ow_product.pn) ow_sale
WINDOW win1 as (),
win2 as (order by ow_sale.pn desc)
''',
    "qp_olap_window.sql fuzzer battery — dense_rank/percent_rank/rank; deterministic-under-ties slice, pass-2 sample #10.",
    oracle=r'''
SELECT ow_sale.cn AS c1,
  ow_sale.vn AS c2,
  ow_sale.qty AS c3,
  printf('%16.7f', CAST(COALESCE(VAR_POP(floor(ow_sale.vn*ow_sale.vn)) OVER (),0) AS DOUBLE)) AS c4,
  printf('%16.7f', CAST(COALESCE(DENSE_RANK() OVER (order by ow_sale.pn desc),0) AS DOUBLE)) AS c5,
  ow_sale.pn AS c6,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (order by ow_sale.pn desc),0) AS DOUBLE)) AS c7,
  printf('%16.7f', CAST(COALESCE(RANK() OVER (order by ow_sale.pn desc),0) AS DOUBLE)) AS c8
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product WHERE ow_sale_ord.pn=ow_product.pn) ow_sale

''',
)

_w(
    "regress_qpow_cume_dist_dense_rank_rank_b011",
    r'''
SELECT ow_sale.vn AS c1,
  ow_sale.cn AS c2,
  ow_sale.vn AS c3,
  ow_sale.pn AS c4,
  ow_sale.vn AS c5,
  format_string('%16.7f', CAST(COALESCE(VAR_POP(floor(ow_sale.qty)) OVER(win1),0) AS DOUBLE)) AS c6,
  ow_sale.dt AS c7,
  format_string('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.qty-ow_sale.vn)) OVER(partition by ow_sale.cn,ow_sale.vn,ow_sale.cn,ow_sale.pn,ow_sale.cn,ow_sale.dt),0) AS DOUBLE)) AS c8,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(win2),0) AS DOUBLE)) AS c9,
  ow_sale.qty AS c10,
  format_string('%16.7f', CAST(COALESCE(RANK() OVER(win3),0) AS DOUBLE)) AS c11,
  format_string('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.qty+ow_sale.qty)) OVER(win2),0) AS DOUBLE)) AS c12,
  format_string('%16.7f', CAST(COALESCE(DENSE_RANK() OVER(win4),0) AS DOUBLE)) AS c13
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product WHERE ow_sale_ord.pn=ow_product.pn) ow_sale
WINDOW win1 as (partition by ow_sale.cn,ow_sale.vn,ow_sale.cn,ow_sale.pn,ow_sale.cn,ow_sale.dt),
win2 as (partition by ow_sale.qty,ow_sale.vn order by ow_sale.pn desc),
win3 as (order by ow_sale.cn asc),
win4 as (partition by ow_sale.qty,ow_sale.pn,ow_sale.vn order by ow_sale.cn asc)
''',
    "qp_olap_window.sql fuzzer battery — cume_dist/dense_rank/rank; deterministic-under-ties slice, pass-2 sample #11.",
    oracle=r'''
SELECT ow_sale.vn AS c1,
  ow_sale.cn AS c2,
  ow_sale.vn AS c3,
  ow_sale.pn AS c4,
  ow_sale.vn AS c5,
  printf('%16.7f', CAST(COALESCE(VAR_POP(floor(ow_sale.qty)) OVER (partition by ow_sale.cn,ow_sale.vn,ow_sale.cn,ow_sale.pn,ow_sale.cn,ow_sale.dt),0) AS DOUBLE)) AS c6,
  ow_sale.dt AS c7,
  printf('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.qty-ow_sale.vn)) OVER(partition by ow_sale.cn,ow_sale.vn,ow_sale.cn,ow_sale.pn,ow_sale.cn,ow_sale.dt),0) AS DOUBLE)) AS c8,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER (partition by ow_sale.qty,ow_sale.vn order by ow_sale.pn desc),0) AS DOUBLE)) AS c9,
  ow_sale.qty AS c10,
  printf('%16.7f', CAST(COALESCE(RANK() OVER (order by ow_sale.cn asc),0) AS DOUBLE)) AS c11,
  printf('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.qty+ow_sale.qty)) OVER (partition by ow_sale.qty,ow_sale.vn order by ow_sale.pn desc),0) AS DOUBLE)) AS c12,
  printf('%16.7f', CAST(COALESCE(DENSE_RANK() OVER (partition by ow_sale.qty,ow_sale.pn,ow_sale.vn order by ow_sale.cn asc),0) AS DOUBLE)) AS c13
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product WHERE ow_sale_ord.pn=ow_product.pn) ow_sale

''',
)

_w(
    "regress_qpow_cume_dist_b012",
    r'''
SELECT ow_sale.dt AS c1,
  format_string('%16.7f', CAST(COALESCE(VAR_POP(floor(ow_sale.cn)) OVER(win1),0) AS DOUBLE)) AS c2,
  ow_sale.vn AS c3,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(win2),0) AS DOUBLE)) AS c4,
  ow_sale.pn AS c5,
  format_string('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.vn*ow_sale.vn)) OVER(order by ow_sale.pn desc),0) AS DOUBLE)) AS c6
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_vendor WHERE ow_sale_ord.vn=ow_vendor.vn) ow_sale
WINDOW win1 as (order by ow_sale.vn asc range unbounded preceding ),
win2 as (order by ow_sale.pn desc)
''',
    "qp_olap_window.sql fuzzer battery — cume_dist; deterministic-under-ties slice, pass-2 sample #12.",
    oracle=r'''
SELECT ow_sale.dt AS c1,
  printf('%16.7f', CAST(COALESCE(VAR_POP(floor(ow_sale.cn)) OVER (order by ow_sale.vn asc range unbounded preceding ),0) AS DOUBLE)) AS c2,
  ow_sale.vn AS c3,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER (order by ow_sale.pn desc),0) AS DOUBLE)) AS c4,
  ow_sale.pn AS c5,
  printf('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.vn*ow_sale.vn)) OVER(order by ow_sale.pn desc),0) AS DOUBLE)) AS c6
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_vendor WHERE ow_sale_ord.vn=ow_vendor.vn) ow_sale

''',
)

_w(
    "regress_qpow_cume_dist_b013",
    r'''
SELECT ow_sale.qty AS c1,
  format_string('%16.7f', CAST(COALESCE(VAR_POP(floor(ow_sale.pn)) OVER(win1),0) AS DOUBLE)) AS c2,
  ow_sale.cn AS c3,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(win2),0) AS DOUBLE)) AS c4,
  ow_sale.vn AS c5
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product WHERE ow_sale_ord.pn=ow_product.pn) ow_sale
WINDOW win1 as (order by ow_sale.cn asc range between unbounded preceding and unbounded following ),
win2 as (partition by ow_sale.vn order by ow_sale.cn asc)
''',
    "qp_olap_window.sql fuzzer battery — cume_dist; deterministic-under-ties slice, pass-2 sample #13.",
    oracle=r'''
SELECT ow_sale.qty AS c1,
  printf('%16.7f', CAST(COALESCE(VAR_POP(floor(ow_sale.pn)) OVER (order by ow_sale.cn asc range between unbounded preceding and unbounded following ),0) AS DOUBLE)) AS c2,
  ow_sale.cn AS c3,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER (partition by ow_sale.vn order by ow_sale.cn asc),0) AS DOUBLE)) AS c4,
  ow_sale.vn AS c5
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product WHERE ow_sale_ord.pn=ow_product.pn) ow_sale

''',
)

_w(
    "regress_qpow_cume_dist_rank_b014",
    r'''
SELECT ow_sale.cn AS c1,
  format_string('%16.7f', CAST(COALESCE(VAR_POP(floor(ow_sale.pn+ow_sale.qty)) OVER(win1),0) AS DOUBLE)) AS c2,
  ow_sale.vn AS c3,
  format_string('%16.7f', CAST(COALESCE(RANK() OVER(win2),0) AS DOUBLE)) AS c4,
  ow_sale.pn AS c5,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(win3),0) AS DOUBLE)) AS c6
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product,ow_vendor WHERE ow_sale_ord.pn=ow_product.pn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale
WINDOW win1 as (order by ow_sale.vn desc range between current row and current row ),
win2 as (order by ow_sale.pn desc),
win3 as (order by ow_sale.cn desc)
''',
    "qp_olap_window.sql fuzzer battery — cume_dist/rank; deterministic-under-ties slice, pass-2 sample #14.",
    oracle=r'''
SELECT ow_sale.cn AS c1,
  printf('%16.7f', CAST(COALESCE(VAR_POP(floor(ow_sale.pn+ow_sale.qty)) OVER (order by ow_sale.vn desc range between current row and current row ),0) AS DOUBLE)) AS c2,
  ow_sale.vn AS c3,
  printf('%16.7f', CAST(COALESCE(RANK() OVER (order by ow_sale.pn desc),0) AS DOUBLE)) AS c4,
  ow_sale.pn AS c5,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER (order by ow_sale.cn desc),0) AS DOUBLE)) AS c6
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product,ow_vendor WHERE ow_sale_ord.pn=ow_product.pn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale

''',
)

_w(
    "regress_qpow_dense_rank_rank_b015",
    r'''
SELECT ow_sale.qty AS c1,
  ow_sale.vn AS c2,
  ow_sale.dt AS c3,
  format_string('%16.7f', CAST(COALESCE(VAR_POP(floor(ow_sale.pn+ow_sale.prc)) OVER(win1),0) AS DOUBLE)) AS c4,
  ow_sale.cn AS c5,
  format_string('%16.7f', CAST(COALESCE(RANK() OVER(win2),0) AS DOUBLE)) AS c6,
  format_string('%16.7f', CAST(COALESCE(DENSE_RANK() OVER(win2),0) AS DOUBLE)) AS c7
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_vendor WHERE ow_sale_ord.vn=ow_vendor.vn) ow_sale
WINDOW win1 as (order by ow_sale.cn desc range between current row and unbounded following ),
win2 as (order by ow_sale.cn desc)
''',
    "qp_olap_window.sql fuzzer battery — dense_rank/rank; deterministic-under-ties slice, pass-2 sample #15.",
    oracle=r'''
SELECT ow_sale.qty AS c1,
  ow_sale.vn AS c2,
  ow_sale.dt AS c3,
  printf('%16.7f', CAST(COALESCE(VAR_POP(floor(ow_sale.pn+ow_sale.prc)) OVER (order by ow_sale.cn desc range between current row and unbounded following ),0) AS DOUBLE)) AS c4,
  ow_sale.cn AS c5,
  printf('%16.7f', CAST(COALESCE(RANK() OVER (order by ow_sale.cn desc),0) AS DOUBLE)) AS c6,
  printf('%16.7f', CAST(COALESCE(DENSE_RANK() OVER (order by ow_sale.cn desc),0) AS DOUBLE)) AS c7
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_vendor WHERE ow_sale_ord.vn=ow_vendor.vn) ow_sale

''',
)

_w(
    "regress_qpow_cume_dist_dense_rank_b016",
    r'''
SELECT ow_sale.qty AS c1,
  ow_sale.vn AS c2,
  ow_sale.cn AS c3,
  ow_sale.vn AS c4,
  format_string('%16.7f', CAST(COALESCE(VAR_POP(floor(ow_sale.qty)) OVER(win1),0) AS DOUBLE)) AS c5,
  ow_sale.pn AS c6,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(win1),0) AS DOUBLE)) AS c7,
  format_string('%16.7f', CAST(COALESCE(DENSE_RANK() OVER(partition by ow_sale.qty order by ow_sale.pn desc,ow_sale.vn desc),0) AS DOUBLE)) AS c8
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer WHERE ow_sale_ord.cn=ow_customer.cn ) ow_sale
WINDOW win1 as (partition by ow_sale.qty order by ow_sale.pn desc,ow_sale.vn desc)
''',
    "qp_olap_window.sql fuzzer battery — cume_dist/dense_rank; deterministic-under-ties slice, pass-2 sample #16.",
    oracle=r'''
SELECT ow_sale.qty AS c1,
  ow_sale.vn AS c2,
  ow_sale.cn AS c3,
  ow_sale.vn AS c4,
  printf('%16.7f', CAST(COALESCE(VAR_POP(floor(ow_sale.qty)) OVER (partition by ow_sale.qty order by ow_sale.pn desc,ow_sale.vn desc),0) AS DOUBLE)) AS c5,
  ow_sale.pn AS c6,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER (partition by ow_sale.qty order by ow_sale.pn desc,ow_sale.vn desc),0) AS DOUBLE)) AS c7,
  printf('%16.7f', CAST(COALESCE(DENSE_RANK() OVER(partition by ow_sale.qty order by ow_sale.pn desc,ow_sale.vn desc),0) AS DOUBLE)) AS c8
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer WHERE ow_sale_ord.cn=ow_customer.cn ) ow_sale

''',
)

_w(
    "regress_qpow_cume_dist_dense_rank_b017",
    r'''
SELECT ow_sale.cn AS c1,
  ow_sale.qty AS c2,
  ow_sale.dt AS c3,
  format_string('%16.7f', CAST(COALESCE(VAR_POP(floor(ow_sale.cn)) OVER(win1),0) AS DOUBLE)) AS c4,
  ow_sale.pn AS c5,
  format_string('%16.7f', CAST(COALESCE(DENSE_RANK() OVER(win2),0) AS DOUBLE)) AS c6,
  ow_sale.vn AS c7,
  format_string('%16.7f', CAST(COALESCE(DENSE_RANK() OVER(win3),0) AS DOUBLE)) AS c8,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(partition by ow_sale.pn order by ow_sale.cn desc),0) AS DOUBLE)) AS c9
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_product WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.pn=ow_product.pn) ow_sale
WINDOW win1 as (partition by ow_sale.pn,ow_sale.dt order by ow_sale.cn desc range 1 preceding ),
win2 as (order by ow_sale.vn desc),
win3 as (partition by ow_sale.pn order by ow_sale.cn desc)
''',
    "qp_olap_window.sql fuzzer battery — cume_dist/dense_rank; deterministic-under-ties slice, pass-2 sample #17.",
    oracle=r'''
SELECT ow_sale.cn AS c1,
  ow_sale.qty AS c2,
  ow_sale.dt AS c3,
  printf('%16.7f', CAST(COALESCE(VAR_POP(floor(ow_sale.cn)) OVER (partition by ow_sale.pn,ow_sale.dt order by ow_sale.cn desc range 1 preceding ),0) AS DOUBLE)) AS c4,
  ow_sale.pn AS c5,
  printf('%16.7f', CAST(COALESCE(DENSE_RANK() OVER (order by ow_sale.vn desc),0) AS DOUBLE)) AS c6,
  ow_sale.vn AS c7,
  printf('%16.7f', CAST(COALESCE(DENSE_RANK() OVER (partition by ow_sale.pn order by ow_sale.cn desc),0) AS DOUBLE)) AS c8,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER(partition by ow_sale.pn order by ow_sale.cn desc),0) AS DOUBLE)) AS c9
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_product WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.pn=ow_product.pn) ow_sale

''',
)

_w(
    "regress_qpow_percent_rank_b018",
    r'''
SELECT ow_sale.pn AS c1,
  ow_sale.qty AS c2,
  ow_sale.pn AS c3,
  ow_sale.pn AS c4,
  ow_sale.dt AS c5,
  format_string('%16.7f', CAST(COALESCE(VAR_POP(floor(ow_sale.qty+ow_sale.vn)) OVER(win1),0) AS DOUBLE)) AS c6,
  ow_sale.prc AS c7,
  ow_sale.cn AS c8,
  ow_sale.vn AS c9,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win2),0) AS DOUBLE)) AS c10
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_vendor WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale
WINDOW win1 as (partition by ow_sale.vn,ow_sale.dt,ow_sale.dt,ow_sale.prc,ow_sale.cn order by ow_sale.pn asc range between unbounded preceding and unbounded following ),
win2 as (order by ow_sale.vn asc)
''',
    "qp_olap_window.sql fuzzer battery — percent_rank; deterministic-under-ties slice, pass-2 sample #18.",
    oracle=r'''
SELECT ow_sale.pn AS c1,
  ow_sale.qty AS c2,
  ow_sale.pn AS c3,
  ow_sale.pn AS c4,
  ow_sale.dt AS c5,
  printf('%16.7f', CAST(COALESCE(VAR_POP(floor(ow_sale.qty+ow_sale.vn)) OVER (partition by ow_sale.vn,ow_sale.dt,ow_sale.dt,ow_sale.prc,ow_sale.cn order by ow_sale.pn asc range between unbounded preceding and unbounded following ),0) AS DOUBLE)) AS c6,
  ow_sale.prc AS c7,
  ow_sale.cn AS c8,
  ow_sale.vn AS c9,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (order by ow_sale.vn asc),0) AS DOUBLE)) AS c10
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer,ow_vendor WHERE ow_sale_ord.cn=ow_customer.cn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale

''',
)

_w(
    "regress_qpow_percent_rank_b019",
    r'''
SELECT ow_sale.cn AS c1,
  format_string('%16.7f', CAST(COALESCE(VAR_SAMP(floor(ow_sale.qty-ow_sale.pn)) OVER(win1),0) AS DOUBLE)) AS c2,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win2),0) AS DOUBLE)) AS c3,
  ow_sale.vn AS c4
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product WHERE ow_sale_ord.pn=ow_product.pn) ow_sale
WINDOW win1 as (order by ow_sale.cn desc range unbounded preceding ),
win2 as (partition by ow_sale.vn,ow_sale.vn order by ow_sale.vn asc)
''',
    "qp_olap_window.sql fuzzer battery — percent_rank; deterministic-under-ties slice, pass-2 sample #19.",
    oracle=r'''
SELECT ow_sale.cn AS c1,
  printf('%16.7f', CAST(COALESCE(VAR_SAMP(floor(ow_sale.qty-ow_sale.pn)) OVER (order by ow_sale.cn desc range unbounded preceding ),0) AS DOUBLE)) AS c2,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (partition by ow_sale.vn,ow_sale.vn order by ow_sale.vn asc),0) AS DOUBLE)) AS c3,
  ow_sale.vn AS c4
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product WHERE ow_sale_ord.pn=ow_product.pn) ow_sale

''',
)

_w(
    "regress_qpow_cume_dist_rank_b020",
    r'''
SELECT ow_sale.cn AS c1,
  ow_sale.vn AS c2,
  format_string('%16.7f', CAST(COALESCE(VAR_SAMP(floor(ow_sale.vn)) OVER(win1),0) AS DOUBLE)) AS c3,
  format_string('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.cn)) OVER(order by ow_sale.cn asc range current row ),0) AS DOUBLE)) AS c4,
  format_string('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.prc)) OVER(win1),0) AS DOUBLE)) AS c5,
  format_string('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.pn)) OVER(order by ow_sale.cn asc range current row ),0) AS DOUBLE)) AS c6,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(win2),0) AS DOUBLE)) AS c7,
  format_string('%16.7f', CAST(COALESCE(RANK() OVER(win3),0) AS DOUBLE)) AS c8,
  ow_sale.prc AS c9,
  ow_sale.pn AS c10
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_vendor WHERE ow_sale_ord.vn=ow_vendor.vn) ow_sale
WINDOW win1 as (order by ow_sale.cn asc range current row ),
win2 as (order by ow_sale.vn desc),
win3 as (partition by ow_sale.vn,ow_sale.prc order by ow_sale.pn desc)
''',
    "qp_olap_window.sql fuzzer battery — cume_dist/rank; deterministic-under-ties slice, pass-2 sample #20.",
    oracle=r'''
SELECT ow_sale.cn AS c1,
  ow_sale.vn AS c2,
  printf('%16.7f', CAST(COALESCE(VAR_SAMP(floor(ow_sale.vn)) OVER (order by ow_sale.cn asc range current row ),0) AS DOUBLE)) AS c3,
  printf('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.cn)) OVER(order by ow_sale.cn asc range current row ),0) AS DOUBLE)) AS c4,
  printf('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.prc)) OVER (order by ow_sale.cn asc range current row ),0) AS DOUBLE)) AS c5,
  printf('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.pn)) OVER(order by ow_sale.cn asc range current row ),0) AS DOUBLE)) AS c6,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER (order by ow_sale.vn desc),0) AS DOUBLE)) AS c7,
  printf('%16.7f', CAST(COALESCE(RANK() OVER (partition by ow_sale.vn,ow_sale.prc order by ow_sale.pn desc),0) AS DOUBLE)) AS c8,
  ow_sale.prc AS c9,
  ow_sale.pn AS c10
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_vendor WHERE ow_sale_ord.vn=ow_vendor.vn) ow_sale

''',
)

_w(
    "regress_qpow_rank_b021",
    r'''
SELECT ow_sale.pn AS c1,
  ow_sale.cn AS c2,
  ow_sale.dt AS c3,
  ow_sale.vn AS c4,
  ow_sale.pn AS c5,
  ow_sale.cn AS c6,
  format_string('%16.7f', CAST(COALESCE(VAR_SAMP(floor(ow_sale.qty)) OVER(win1),0) AS DOUBLE)) AS c7,
  ow_sale.prc AS c8,
  format_string('%16.7f', CAST(COALESCE(RANK() OVER(win2),0) AS DOUBLE)) AS c9,
  format_string('%16.7f', CAST(COALESCE(RANK() OVER(order by ow_sale.cn desc),0) AS DOUBLE)) AS c10,
  format_string('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.prc)) OVER(order by ow_sale.cn desc),0) AS DOUBLE)) AS c11
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product,ow_vendor WHERE ow_sale_ord.pn=ow_product.pn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale
WINDOW win1 as (partition by ow_sale.vn,ow_sale.prc order by ow_sale.vn desc range between unbounded preceding and 4 preceding ),
win2 as (order by ow_sale.cn desc)
''',
    "qp_olap_window.sql fuzzer battery — rank; deterministic-under-ties slice, pass-2 sample #21.",
    oracle=r'''
SELECT ow_sale.pn AS c1,
  ow_sale.cn AS c2,
  ow_sale.dt AS c3,
  ow_sale.vn AS c4,
  ow_sale.pn AS c5,
  ow_sale.cn AS c6,
  printf('%16.7f', CAST(COALESCE(VAR_SAMP(floor(ow_sale.qty)) OVER (partition by ow_sale.vn,ow_sale.prc order by ow_sale.vn desc range between unbounded preceding and 4 preceding ),0) AS DOUBLE)) AS c7,
  ow_sale.prc AS c8,
  printf('%16.7f', CAST(COALESCE(RANK() OVER (order by ow_sale.cn desc),0) AS DOUBLE)) AS c9,
  printf('%16.7f', CAST(COALESCE(RANK() OVER(order by ow_sale.cn desc),0) AS DOUBLE)) AS c10,
  printf('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.prc)) OVER(order by ow_sale.cn desc),0) AS DOUBLE)) AS c11
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product,ow_vendor WHERE ow_sale_ord.pn=ow_product.pn AND ow_sale_ord.vn=ow_vendor.vn) ow_sale

''',
)

_w(
    "regress_qpow_percent_rank_b022",
    r'''
SELECT ow_sale.dt AS c1,
  ow_sale.qty AS c2,
  ow_sale.pn AS c3,
  ow_sale.vn AS c4,
  ow_sale.dt AS c5,
  ow_sale.cn AS c6,
  format_string('%16.7f', CAST(COALESCE(VAR_SAMP(floor(ow_sale.qty*ow_sale.cn)) OVER(win1),0) AS DOUBLE)) AS c7,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win2),0) AS DOUBLE)) AS c8,
  ow_sale.prc AS c9,
  format_string('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.pn*ow_sale.qty)) OVER(win2),0) AS DOUBLE)) AS c10,
  format_string('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.pn)) OVER(win2),0) AS DOUBLE)) AS c11
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product,ow_vendor,ow_customer WHERE ow_sale_ord.pn=ow_product.pn AND ow_sale_ord.vn=ow_vendor.vn AND ow_sale_ord.cn=ow_customer.cn) ow_sale
WINDOW win1 as (partition by ow_sale.dt,ow_sale.dt,ow_sale.pn,ow_sale.dt,ow_sale.qty order by ow_sale.cn desc range between unbounded preceding and 1 following ),
win2 as (partition by ow_sale.prc,ow_sale.cn,ow_sale.pn,ow_sale.cn,ow_sale.vn,ow_sale.qty order by ow_sale.cn asc)
''',
    "qp_olap_window.sql fuzzer battery — percent_rank; deterministic-under-ties slice, pass-2 sample #22.",
    oracle=r'''
SELECT ow_sale.dt AS c1,
  ow_sale.qty AS c2,
  ow_sale.pn AS c3,
  ow_sale.vn AS c4,
  ow_sale.dt AS c5,
  ow_sale.cn AS c6,
  printf('%16.7f', CAST(COALESCE(VAR_SAMP(floor(ow_sale.qty*ow_sale.cn)) OVER (partition by ow_sale.dt,ow_sale.dt,ow_sale.pn,ow_sale.dt,ow_sale.qty order by ow_sale.cn desc range between unbounded preceding and 1 following ),0) AS DOUBLE)) AS c7,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (partition by ow_sale.prc,ow_sale.cn,ow_sale.pn,ow_sale.cn,ow_sale.vn,ow_sale.qty order by ow_sale.cn asc),0) AS DOUBLE)) AS c8,
  ow_sale.prc AS c9,
  printf('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.pn*ow_sale.qty)) OVER (partition by ow_sale.prc,ow_sale.cn,ow_sale.pn,ow_sale.cn,ow_sale.vn,ow_sale.qty order by ow_sale.cn asc),0) AS DOUBLE)) AS c10,
  printf('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.pn)) OVER (partition by ow_sale.prc,ow_sale.cn,ow_sale.pn,ow_sale.cn,ow_sale.vn,ow_sale.qty order by ow_sale.cn asc),0) AS DOUBLE)) AS c11
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product,ow_vendor,ow_customer WHERE ow_sale_ord.pn=ow_product.pn AND ow_sale_ord.vn=ow_vendor.vn AND ow_sale_ord.cn=ow_customer.cn) ow_sale

''',
)

_w(
    "regress_qpow_percent_rank_b023",
    r'''
SELECT ow_sale.pn AS c1,
  ow_sale.cn AS c2,
  ow_sale.vn AS c3,
  ow_sale.qty AS c4,
  format_string('%16.7f', CAST(COALESCE(VARIANCE(floor(ow_sale.vn)) OVER(win1),0) AS DOUBLE)) AS c5,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win2),0) AS DOUBLE)) AS c6
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product,ow_vendor,ow_customer WHERE ow_sale_ord.pn=ow_product.pn AND ow_sale_ord.vn=ow_vendor.vn AND ow_sale_ord.cn=ow_customer.cn) ow_sale
WINDOW win1 as (order by ow_sale.vn desc range 4 preceding ),
win2 as (order by ow_sale.pn asc)
''',
    "qp_olap_window.sql fuzzer battery — percent_rank; deterministic-under-ties slice, pass-2 sample #23.",
    oracle=r'''
SELECT ow_sale.pn AS c1,
  ow_sale.cn AS c2,
  ow_sale.vn AS c3,
  ow_sale.qty AS c4,
  printf('%16.7f', CAST(COALESCE(VARIANCE(floor(ow_sale.vn)) OVER (order by ow_sale.vn desc range 4 preceding ),0) AS DOUBLE)) AS c5,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (order by ow_sale.pn asc),0) AS DOUBLE)) AS c6
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product,ow_vendor,ow_customer WHERE ow_sale_ord.pn=ow_product.pn AND ow_sale_ord.vn=ow_vendor.vn AND ow_sale_ord.cn=ow_customer.cn) ow_sale

''',
)

_w(
    "regress_qpow_percent_rank_rank_b024",
    r'''
SELECT ow_sale.qty AS c1,
  format_string('%16.7f', CAST(COALESCE(VARIANCE(floor(ow_sale.qty)) OVER(win1),0) AS DOUBLE)) AS c2,
  ow_sale.vn AS c3,
  format_string('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER(win2),0) AS DOUBLE)) AS c4,
  ow_sale.cn AS c5,
  format_string('%16.7f', CAST(COALESCE(RANK() OVER(win3),0) AS DOUBLE)) AS c6,
  ow_sale.pn AS c7,
  format_string('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.pn)) OVER(partition by ow_sale.cn,ow_sale.qty,ow_sale.vn,ow_sale.pn order by ow_sale.vn desc),0) AS DOUBLE)) AS c8
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale
WINDOW win1 as (order by ow_sale.vn desc range between unbounded preceding and 1 preceding ),
win2 as (order by ow_sale.cn desc),
win3 as (partition by ow_sale.cn,ow_sale.qty,ow_sale.vn,ow_sale.pn order by ow_sale.vn desc)
''',
    "qp_olap_window.sql fuzzer battery — percent_rank/rank; deterministic-under-ties slice, pass-2 sample #24.",
    oracle=r'''
SELECT ow_sale.qty AS c1,
  printf('%16.7f', CAST(COALESCE(VARIANCE(floor(ow_sale.qty)) OVER (order by ow_sale.vn desc range between unbounded preceding and 1 preceding ),0) AS DOUBLE)) AS c2,
  ow_sale.vn AS c3,
  printf('%16.7f', CAST(COALESCE(PERCENT_RANK() OVER (order by ow_sale.cn desc),0) AS DOUBLE)) AS c4,
  ow_sale.cn AS c5,
  printf('%16.7f', CAST(COALESCE(RANK() OVER (partition by ow_sale.cn,ow_sale.qty,ow_sale.vn,ow_sale.pn order by ow_sale.vn desc),0) AS DOUBLE)) AS c6,
  ow_sale.pn AS c7,
  printf('%16.7f', CAST(COALESCE(COUNT(floor(ow_sale.pn)) OVER(partition by ow_sale.cn,ow_sale.qty,ow_sale.vn,ow_sale.pn order by ow_sale.vn desc),0) AS DOUBLE)) AS c8
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord) ow_sale

''',
)

_w(
    "regress_qpow_cume_dist_b025",
    r'''
SELECT ow_sale.cn AS c1,
  ow_sale.cn AS c2,
  format_string('%16.7f', CAST(COALESCE(VARIANCE(floor(ow_sale.cn-ow_sale.prc)) OVER(win1),0) AS DOUBLE)) AS c3,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(win2),0) AS DOUBLE)) AS c4,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(order by ow_sale.cn asc),0) AS DOUBLE)) AS c5
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer WHERE ow_sale_ord.cn=ow_customer.cn ) ow_sale
WINDOW win1 as (order by ow_sale.cn asc range between current row and 1 following ),
win2 as (order by ow_sale.cn asc)
''',
    "qp_olap_window.sql fuzzer battery — cume_dist; deterministic-under-ties slice, pass-2 sample #25.",
    oracle=r'''
SELECT ow_sale.cn AS c1,
  ow_sale.cn AS c2,
  printf('%16.7f', CAST(COALESCE(VARIANCE(floor(ow_sale.cn-ow_sale.prc)) OVER (order by ow_sale.cn asc range between current row and 1 following ),0) AS DOUBLE)) AS c3,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER (order by ow_sale.cn asc),0) AS DOUBLE)) AS c4,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER(order by ow_sale.cn asc),0) AS DOUBLE)) AS c5
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_customer WHERE ow_sale_ord.cn=ow_customer.cn ) ow_sale

''',
)

_w(
    "regress_qpow_cume_dist_b026",
    r'''
SELECT ow_sale.vn AS c1,
  ow_sale.vn AS c2,
  ow_sale.pn AS c3,
  ow_sale.prc AS c4,
  ow_sale.vn AS c5,
  format_string('%16.7f', CAST(COALESCE(VARIANCE(floor(ow_sale.prc)) OVER(win1),0) AS DOUBLE)) AS c6,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(win2),0) AS DOUBLE)) AS c7,
  format_string('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.pn)) OVER(order by ow_sale.pn desc range between current row and unbounded following ),0) AS DOUBLE)) AS c8,
  format_string('%16.7f', CAST(COALESCE(CUME_DIST() OVER(win3),0) AS DOUBLE)) AS c9,
  ow_sale.cn AS c10,
  format_string('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.vn*ow_sale.pn)) OVER(win2),0) AS DOUBLE)) AS c11
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product WHERE ow_sale_ord.pn=ow_product.pn) ow_sale
WINDOW win1 as (order by ow_sale.pn desc range between current row and unbounded following ),
win2 as (order by ow_sale.vn desc),
win3 as (partition by ow_sale.vn,ow_sale.pn order by ow_sale.cn asc)
''',
    "qp_olap_window.sql fuzzer battery — cume_dist; deterministic-under-ties slice, pass-2 sample #26.",
    oracle=r'''
SELECT ow_sale.vn AS c1,
  ow_sale.vn AS c2,
  ow_sale.pn AS c3,
  ow_sale.prc AS c4,
  ow_sale.vn AS c5,
  printf('%16.7f', CAST(COALESCE(VARIANCE(floor(ow_sale.prc)) OVER (order by ow_sale.pn desc range between current row and unbounded following ),0) AS DOUBLE)) AS c6,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER (order by ow_sale.vn desc),0) AS DOUBLE)) AS c7,
  printf('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.pn)) OVER(order by ow_sale.pn desc range between current row and unbounded following ),0) AS DOUBLE)) AS c8,
  printf('%16.7f', CAST(COALESCE(CUME_DIST() OVER (partition by ow_sale.vn,ow_sale.pn order by ow_sale.cn asc),0) AS DOUBLE)) AS c9,
  ow_sale.cn AS c10,
  printf('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.vn*ow_sale.pn)) OVER (order by ow_sale.vn desc),0) AS DOUBLE)) AS c11
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product WHERE ow_sale_ord.pn=ow_product.pn) ow_sale

''',
)

_w(
    "regress_qpow_rank_b027",
    r'''
SELECT ow_sale.prc AS c1,
  ow_sale.vn AS c2,
  ow_sale.dt AS c3,
  format_string('%16.7f', CAST(COALESCE(VARIANCE(floor(ow_sale.prc-ow_sale.qty)) OVER(win1),0) AS DOUBLE)) AS c4,
  format_string('%16.7f', CAST(COALESCE(RANK() OVER(win2),0) AS DOUBLE)) AS c5
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product,ow_vendor,ow_customer WHERE ow_sale_ord.pn=ow_product.pn AND ow_sale_ord.vn=ow_vendor.vn AND ow_sale_ord.cn=ow_customer.cn) ow_sale
WINDOW win1 as (order by ow_sale.vn asc range between 2 following and unbounded following ),
win2 as (order by ow_sale.vn desc)
''',
    "qp_olap_window.sql fuzzer battery — rank; deterministic-under-ties slice, pass-2 sample #27.",
    oracle=r'''
SELECT ow_sale.prc AS c1,
  ow_sale.vn AS c2,
  ow_sale.dt AS c3,
  printf('%16.7f', CAST(COALESCE(VARIANCE(floor(ow_sale.prc-ow_sale.qty)) OVER (order by ow_sale.vn asc range between 2 following and unbounded following ),0) AS DOUBLE)) AS c4,
  printf('%16.7f', CAST(COALESCE(RANK() OVER (order by ow_sale.vn desc),0) AS DOUBLE)) AS c5
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_product,ow_vendor,ow_customer WHERE ow_sale_ord.pn=ow_product.pn AND ow_sale_ord.vn=ow_vendor.vn AND ow_sale_ord.cn=ow_customer.cn) ow_sale

''',
)

_w(
    "regress_qpow_dense_rank_b028",
    r'''
SELECT ow_sale.cn AS c1,
  ow_sale.pn AS c2,
  ow_sale.pn AS c3,
  ow_sale.vn AS c4,
  ow_sale.prc AS c5,
  ow_sale.pn AS c6,
  format_string('%16.7f', CAST(COALESCE(VARIANCE(floor(ow_sale.prc+ow_sale.cn)) OVER(win1),0) AS DOUBLE)) AS c7,
  format_string('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.vn+ow_sale.vn)) OVER(partition by ow_sale.pn order by ow_sale.pn asc range between unbounded preceding and current row ),0) AS DOUBLE)) AS c8,
  format_string('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.qty)) OVER(win1),0) AS DOUBLE)) AS c9,
  format_string('%16.7f', CAST(COALESCE(DENSE_RANK() OVER(win2),0) AS DOUBLE)) AS c10,
  format_string('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.vn)) OVER(partition by ow_sale.pn order by ow_sale.pn asc range between unbounded preceding and current row ),0) AS DOUBLE)) AS c11,
  format_string('%16.7f', CAST(COALESCE(DENSE_RANK() OVER(order by ow_sale.cn desc),0) AS DOUBLE)) AS c12
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_vendor WHERE ow_sale_ord.vn=ow_vendor.vn) ow_sale
WINDOW win1 as (partition by ow_sale.pn order by ow_sale.pn asc range between unbounded preceding and current row ),
win2 as (order by ow_sale.cn desc)
''',
    "qp_olap_window.sql fuzzer battery — dense_rank; deterministic-under-ties slice, pass-2 sample #28.",
    oracle=r'''
SELECT ow_sale.cn AS c1,
  ow_sale.pn AS c2,
  ow_sale.pn AS c3,
  ow_sale.vn AS c4,
  ow_sale.prc AS c5,
  ow_sale.pn AS c6,
  printf('%16.7f', CAST(COALESCE(VARIANCE(floor(ow_sale.prc+ow_sale.cn)) OVER (partition by ow_sale.pn order by ow_sale.pn asc range between unbounded preceding and current row ),0) AS DOUBLE)) AS c7,
  printf('%16.7f', CAST(COALESCE(MAX(floor(ow_sale.vn+ow_sale.vn)) OVER(partition by ow_sale.pn order by ow_sale.pn asc range between unbounded preceding and current row ),0) AS DOUBLE)) AS c8,
  printf('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.qty)) OVER (partition by ow_sale.pn order by ow_sale.pn asc range between unbounded preceding and current row ),0) AS DOUBLE)) AS c9,
  printf('%16.7f', CAST(COALESCE(DENSE_RANK() OVER (order by ow_sale.cn desc),0) AS DOUBLE)) AS c10,
  printf('%16.7f', CAST(COALESCE(MIN(floor(ow_sale.vn)) OVER(partition by ow_sale.pn order by ow_sale.pn asc range between unbounded preceding and current row ),0) AS DOUBLE)) AS c11,
  printf('%16.7f', CAST(COALESCE(DENSE_RANK() OVER(order by ow_sale.cn desc),0) AS DOUBLE)) AS c12
FROM (SELECT ow_sale_ord.* FROM ow_sale_ord,ow_vendor WHERE ow_sale_ord.vn=ow_vendor.vn) ow_sale

''',
)

