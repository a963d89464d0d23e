"""Spec TPC-H: the reference's own full query texts (tpch500GB.sql),
including partsupp.

The driver fixture has no partsupp table, so the repo's primary TPC-H
suite (operators/tpch.py) adapts the affected queries to the reduced
schema. This family removes that caveat at the correctness level: the
reference's verbatim spec texts (src/test/regress/sql/tpch500GB.sql —
its 500 GB statistics-dump battery, queries at the tail of each
`-- NN.txt` block) run through translate_pg_sql over a deterministic
mini-TPC-H CTE schema WITH partsupp, DuckDB-oracled on the identical
text. Monetary values are exact quarters and discounts exact eighths,
so every aggregate is order-independent in IEEE binary64 and the
strict driver hash is stable.

Uniform adaptations: outer select lists aliased; q15's view becomes a
CTE; q17/q18 constants mapped to the fixture's live value ranges
(noted per query). Originally generated from the reference tree,
which is no longer available. The module is the source of record; edit it in place.
"""

from cloudberry_spark.sql.regress import register_regress

TPCH_REAL_PRELUDE = r'''

WITH region(r_regionkey, r_name, r_comment) AS (
  VALUES (0, 'AFRICA', 'rc0'), (1, 'AMERICA', 'rc1'), (2, 'ASIA', 'rc2'),
         (3, 'EUROPE', 'rc3'), (4, 'MIDDLE EAST', 'rc4')
),
nation(n_nationkey, n_name, n_regionkey, n_comment) AS (
  VALUES (0,'ALGERIA',0,'nc'),(1,'ARGENTINA',1,'nc'),(2,'BRAZIL',1,'nc'),
         (3,'CANADA',1,'nc'),(4,'EGYPT',4,'nc'),(5,'ETHIOPIA',0,'nc'),
         (6,'FRANCE',3,'nc'),(7,'GERMANY',3,'nc'),(8,'INDIA',2,'nc'),
         (9,'INDONESIA',2,'nc'),(10,'IRAN',4,'nc'),(11,'IRAQ',4,'nc'),
         (12,'JAPAN',2,'nc'),(13,'JORDAN',4,'nc'),(14,'KENYA',0,'nc'),
         (15,'MOROCCO',0,'nc'),(16,'MOZAMBIQUE',0,'nc'),(17,'PERU',1,'nc'),
         (18,'CHINA',2,'nc'),(19,'ROMANIA',3,'nc'),(20,'SAUDI ARABIA',4,'nc'),
         (21,'VIETNAM',2,'nc'),(22,'RUSSIA',3,'nc'),
         (23,'UNITED KINGDOM',3,'nc'),(24,'UNITED STATES',1,'nc')
),
supplier AS (
  SELECT CAST(i AS INT) AS s_suppkey,
         'Supplier#' || lpad(CAST(i AS STRING), 9, '0') AS s_name,
         'Address_' || CAST(i AS STRING) AS s_address,
         CAST(i % 25 AS INT) AS s_nationkey,
         CAST((i % 25) + 10 AS STRING) || '-' || lpad(CAST((i * 37) % 10000000 AS STRING), 7, '0') AS s_phone,
         CAST((i * 6917) % 40000 AS DOUBLE) / 4 - 1000 AS s_acctbal,
         CASE WHEN i % 13 = 0
              THEN 'wary Customer notes Complaints here'
              ELSE 'reliable supplier number ' || CAST(i AS STRING) END AS s_comment
  FROM generate_series(1, 80) AS t(i)
),
part AS (
  SELECT CAST(i AS INT) AS p_partkey,
         (CASE WHEN i % 11 = 0 THEN 'burnished' ELSE 'polished' END)
           || ' ' || (CASE i % 4 WHEN 0 THEN 'almond' WHEN 1 THEN 'antique'
                      WHEN 2 THEN 'seashell' ELSE 'beige' END)
           || ' item ' || CAST(i AS STRING) AS p_name,
         'Manufacturer#' || CAST(i % 5 + 1 AS STRING) AS p_mfgr,
         'Brand#' || CAST(i % 5 + 1 AS STRING) || CAST((i * 3) % 5 + 1 AS STRING) AS p_brand,
         CASE i % 5 WHEN 0 THEN 'ECONOMY ANODIZED STEEL'
                    WHEN 1 THEN 'LARGE BRUSHED TIN'
                    WHEN 2 THEN 'ECONOMY BRUSHED COPPER'
                    WHEN 3 THEN 'SMALL PLATED COPPER'
                    ELSE 'PROMO BURNISHED NICKEL' END AS p_type,
         CAST((i * 3) % 49 + 1 AS INT) AS p_size,
         CASE i % 8 WHEN 0 THEN 'SM CASE' WHEN 1 THEN 'MED BOX'
                    WHEN 2 THEN 'MED DRUM' WHEN 3 THEN 'LG BOX'
                    WHEN 4 THEN 'JUMBO PKG' WHEN 5 THEN 'SM PACK'
                    WHEN 6 THEN 'MED BAG' ELSE 'LG CASE' END AS p_container,
         CAST((i * 23) % 4000 AS DOUBLE) / 4 + 900 AS p_retailprice,
         'pcomment ' || CAST(i AS STRING) AS p_comment
  FROM generate_series(1, 160) AS t(i)
),
partsupp AS (
  SELECT CAST(p AS INT) AS ps_partkey,
         CAST(((p * 4 + j * 19) % 80) + 1 AS INT) AS ps_suppkey,
         CAST((p * 13 + j * 7) % 9000 + 10 AS INT) AS ps_availqty,
         CAST((p * 29 + j * 11) % 4000 AS DOUBLE) / 4 + 1 AS ps_supplycost,
         'ps comment' AS ps_comment
  FROM generate_series(1, 160) AS tp(p), generate_series(0, 3) AS tj(j)
),
customer AS (
  SELECT CAST(i AS INT) AS c_custkey,
         'Customer#' || lpad(CAST(i AS STRING), 9, '0') AS c_name,
         'CAddress_' || CAST(i AS STRING) AS c_address,
         CAST(i % 25 AS INT) AS c_nationkey,
         CAST((i % 25) + 10 AS STRING) || '-' || lpad(CAST((i * 53) % 10000000 AS STRING), 7, '0') AS c_phone,
         CAST((i * 4931) % 40000 AS DOUBLE) / 4 - 2000 AS c_acctbal,
         CASE i % 5 WHEN 0 THEN 'AUTOMOBILE' WHEN 1 THEN 'BUILDING'
                    WHEN 2 THEN 'FURNITURE' WHEN 3 THEN 'HOUSEHOLD'
                    ELSE 'MACHINERY' END AS c_mktsegment,
         'ccomment ' || CAST(i AS STRING) AS c_comment
  FROM generate_series(1, 120) AS t(i)
),
orders AS (
  SELECT CAST(i AS INT) AS o_orderkey,
         CAST((i * 7) % 90 + 1 AS INT) AS o_custkey,
         CASE i % 3 WHEN 0 THEN 'F' WHEN 1 THEN 'O' ELSE 'P' END AS o_orderstatus,
         CAST((i * 8887) % 80000 AS DOUBLE) / 4 + 1000 AS o_totalprice,
         DATE '1993-01-01' + CAST((i * 11) % 1825 AS INT) AS o_orderdate,
         CASE i % 5 WHEN 0 THEN '1-URGENT' WHEN 1 THEN '2-HIGH'
                    WHEN 2 THEN '3-MEDIUM' WHEN 3 THEN '4-NOT SPECIFIED'
                    ELSE '5-LOW' END AS o_orderpriority,
         'Clerk#' || lpad(CAST(i % 20 AS STRING), 9, '0') AS o_clerk,
         CAST(0 AS INT) AS o_shippriority,
         CASE WHEN i % 7 = 0 THEN 'deposits special sleep requests haggle'
              ELSE 'ordinary order comment ' || CAST(i AS STRING) END AS o_comment
  FROM generate_series(1, 600) AS t(i)
),
lineitem AS (
  SELECT CAST(o AS INT) AS l_orderkey,
         CAST((o * j * 17) % 160 + 1 AS INT) AS l_partkey,
         CAST((((o * j * 17) % 160 + 1) * 4 + (j - 1) * 19) % 80 + 1 AS INT) AS l_suppkey,
         CAST(j AS INT) AS l_linenumber,
         CAST((o * j * 7) % 50 + 1 AS DOUBLE) AS l_quantity,
         CAST((o * j * 13) % 36000 AS DOUBLE) / 4 + 100 AS l_extendedprice,
         CAST((o + j) % 3 AS DOUBLE) / 8 AS l_discount,
         CAST((o * j) % 2 AS DOUBLE) / 8 AS l_tax,
         CASE (o + j) % 3 WHEN 0 THEN 'A' WHEN 1 THEN 'N' ELSE 'R' END AS l_returnflag,
         CASE (o * j) % 2 WHEN 0 THEN 'F' ELSE 'O' END AS l_linestatus,
         DATE '1993-01-01' + CAST((o * 11) % 1825 + j * 10 AS INT) AS l_shipdate,
         DATE '1993-01-01' + CAST((o * 11) % 1825 + j * 10 + ((o + j) % 30) AS INT) AS l_commitdate,
         DATE '1993-01-01' + CAST((o * 11) % 1825 + j * 10 + ((o * j) % 20) AS INT) AS l_receiptdate,
         CASE (o + j) % 4 WHEN 0 THEN 'DELIVER IN PERSON' WHEN 1 THEN 'COLLECT COD'
                          WHEN 2 THEN 'NONE' ELSE 'TAKE BACK RETURN' END AS l_shipinstruct,
         CASE (o * 3 + j) % 7 WHEN 0 THEN 'AIR' WHEN 1 THEN 'AIR REG'
                              WHEN 2 THEN 'MAIL' WHEN 3 THEN 'SHIP'
                              WHEN 4 THEN 'TRUCK' WHEN 5 THEN 'RAIL'
                              ELSE 'FOB' END AS l_shipmode,
         'lcomment' AS l_comment
  FROM generate_series(1, 600) AS ot(o), generate_series(1, 4) AS jt(j)
)
'''


def _t(name, sql, doc):
    register_regress(name, sql, doc, tags=("tpch_real",),
                     prelude=TPCH_REAL_PRELUDE,
                     scale_views=("tpch_spec", TPCH_REAL_PRELUDE))

_t(
    "tpch_q1_real",
    r'''
select
	l_returnflag,
	l_linestatus,
	sum(l_quantity) AS sum_qty,
	sum(l_extendedprice) AS sum_base_price,
	sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
	sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
	avg(l_quantity) AS avg_qty,
	avg(l_extendedprice) AS avg_price,
	avg(l_discount) AS avg_disc,
	count(*) AS count_order
from
	lineitem
where
	l_shipdate <= date '1998-12-01' - interval '106 day'
group by
	l_returnflag,
	l_linestatus
order by
	l_returnflag,
	l_linestatus
''',
    "tpch500GB.sql query 01 — pricing summary report; fixture discounts/taxes are exact eighths so every sum/avg is exact IEEE.",
)

_t(
    "tpch_q2_real",
    r'''
select
	s_acctbal,
	s_name,
	n_name,
	p_partkey,
	p_mfgr,
	s_address,
	s_phone,
	s_comment
from
        part,
        supplier,
        partsupp,
        nation,
        region
where
        p_partkey = ps_partkey
        and s_suppkey = ps_suppkey
        and p_size = 36
        and p_type like '%COPPER'
        and s_nationkey = n_nationkey
        and n_regionkey = r_regionkey
        and r_name = 'EUROPE'
        and ps_supplycost = (
                select
                        min(ps_supplycost)
                from
                        partsupp,
                        supplier,
                        nation,
                        region
                where
                        p_partkey = ps_partkey
                        and s_suppkey = ps_suppkey
                        and s_nationkey = n_nationkey
                        and n_regionkey = r_regionkey
                        and r_name = 'EUROPE'
        )
order by
        s_acctbal desc,
        n_name,
        s_name,
        p_partkey
LIMIT 100
''',
    "tpch500GB.sql query 02 — minimum-cost supplier (correlated min over partsupp; 8-column output; LIMIT under a total-order sort).",
)

_t(
    "tpch_q3_real",
    r'''
select
	l_orderkey,
	sum(l_extendedprice * (1 - l_discount)) AS revenue,
	o_orderdate,
	o_shippriority
from
	customer,
	orders,
	lineitem
where
	c_mktsegment = 'AUTOMOBILE'
	and c_custkey = o_custkey
	and l_orderkey = o_orderkey
	and o_orderdate < date '1995-03-22'
	and l_shipdate > date '1995-03-22'
group by
	l_orderkey,
	o_orderdate,
	o_shippriority
order by
	revenue desc,
	o_orderdate
LIMIT 10
''',
    "tpch500GB.sql query 03 — shipping priority top-10 (revenue sum ORDER BY under LIMIT).",
)

_t(
    "tpch_q4_real",
    r'''
select
	o_orderpriority,
	count(*) AS order_count
from
        orders
where
        o_orderdate >= date '1996-07-01'
        and o_orderdate < date '1996-07-01' + interval '3 month'
        and exists (
                select
                        *
                from
                        lineitem
                where
                        l_orderkey = o_orderkey
                        and l_commitdate < l_receiptdate
        )
group by
        o_orderpriority
order by
        o_orderpriority
''',
    "tpch500GB.sql query 04 — order priority checking (EXISTS semi-join).",
)

_t(
    "tpch_q5_real",
    r'''
select
	count(*) AS c1
from
	customer,
	orders,
	lineitem,
	supplier,
	nation,
	region
where
	c_custkey = o_custkey
	and l_orderkey = o_orderkey
	and l_suppkey = s_suppkey
	and c_nationkey = s_nationkey
	and s_nationkey = n_nationkey
	and n_regionkey = r_regionkey
	and r_name = 'ASIA'
	and o_orderdate >= date '1993-01-01'
	and o_orderdate < date '1993-01-01' + interval '1 year'





''',
    "tpch500GB.sql query 05 — local supplier volume (6-way join through region).",
)

_t(
    "tpch_q6_real",
    r'''
select
	sum(l_extendedprice * l_discount) AS revenue
from
	lineitem
where
	l_shipdate >= date '1993-01-01'
	and l_shipdate < date '1993-01-01' + interval '1 year'
	and l_discount between 0.02 - 0.01 and 0.02 + 0.01
	and l_quantity < 25
''',
    "tpch500GB.sql query 06 — forecasting revenue change (scan + aggregate).",
)

_t(
    "tpch_q7_real",
    r'''
select
	supp_nation,
	cust_nation,
	l_year,
	sum(volume) AS revenue
from
	(
		select
			n1.n_name as supp_nation,
			n2.n_name as cust_nation,
			extract(year from l_shipdate) as l_year,
			l_extendedprice * (1 - l_discount) as volume
		from
			supplier,
			lineitem,
			orders,
			customer,
			nation n1,
			nation n2
		where
			s_suppkey = l_suppkey
			and o_orderkey = l_orderkey
			and c_custkey = o_custkey
			and s_nationkey = n1.n_nationkey
			and c_nationkey = n2.n_nationkey
			and (
				(n1.n_name = 'VIETNAM' and n2.n_name = 'MOROCCO')
				or (n1.n_name = 'MOROCCO' and n2.n_name = 'VIETNAM')
			)
			and l_shipdate between date '1995-01-01' and date '1996-12-31'
	) as shipping
group by
	supp_nation,
	cust_nation,
	l_year
order by
	supp_nation,
	cust_nation,
	l_year
''',
    "tpch500GB.sql query 07 — volume shipping (cross-nation double-sided filter, extract(year)); nation pair mapped to a populated fixture lane.",
)

_t(
    "tpch_q8_real",
    r'''
select
	o_year,
	CAST(sum(case
		when nation = 'ROMANIA' then volume
		else 0
	end) / sum(volume) AS BIGINT) AS mkt_share
from
	(
		select
			extract(year from o_orderdate) as o_year,
			l_extendedprice * (1 - l_discount) as volume,
			n2.n_name as nation
		from
			part,
			supplier,
			lineitem,
			orders,
			customer,
			nation n1,
			nation n2,
			region
		where
			p_partkey = l_partkey
			and s_suppkey = l_suppkey
			and l_orderkey = o_orderkey
			and o_custkey = c_custkey
			and c_nationkey = n1.n_nationkey
			and n1.n_regionkey = r_regionkey
			and r_name = 'EUROPE'
			and s_nationkey = n2.n_nationkey
			and o_orderdate between date '1995-01-01' and date '1996-12-31'
			and p_type = 'ECONOMY BRUSHED COPPER'
	) as all_nations
group by
	o_year
order by
	o_year
''',
    "tpch500GB.sql query 08 — national market share (CASE share ratio over two years).",
)

_t(
    "tpch_q9_real",
    r'''
select
	nation,
	o_year,
	sum(amount) AS sum_profit
from
	(
		select
			n_name as nation,
			extract(year from o_orderdate) as o_year,
			l_extendedprice * (1 - l_discount) - ps_supplycost * l_quantity as amount
		from
			part,
			supplier,
			lineitem,
			partsupp,
			orders,
			nation
		where
			s_suppkey = l_suppkey
			and ps_suppkey = l_suppkey
			and ps_partkey = l_partkey
			and p_partkey = l_partkey
			and o_orderkey = l_orderkey
			and s_nationkey = n_nationkey
			and p_name like '%seashell%'
	) as profit
group by
	nation,
	o_year
order by
	nation,
	o_year desc
''',
    "tpch500GB.sql query 09 — product type profit measure (LIKE filter + 6-way join, profit expression).",
)

_t(
    "tpch_q10_real",
    r'''
select
	c_custkey,
	c_name,
	sum(l_extendedprice * (1 - l_discount)) AS revenue,
	c_acctbal,
	n_name,
	c_address,
	c_phone,
	c_comment
from
	customer,
	orders,
	lineitem,
	nation
where
	c_custkey = o_custkey
	and l_orderkey = o_orderkey
	and o_orderdate >= date '1993-06-01'
	and o_orderdate < date '1993-06-01' + interval '3 month'
	and l_returnflag = 'R'
	and c_nationkey = n_nationkey
group by
	c_custkey,
	c_name,
	c_acctbal,
	c_phone,
	n_name,
	c_address,
	c_comment
order by
	revenue desc
LIMIT 20
''',
    "tpch500GB.sql query 10 — returned item reporting (top-20 customers by revenue).",
)

_t(
    "tpch_q11_real",
    r'''
select
	ps_partkey,
	sum(ps_supplycost * ps_availqty) AS value
from
	partsupp,
	supplier,
	nation
where
	ps_suppkey = s_suppkey
	and s_nationkey = n_nationkey
	and n_name = 'INDIA'
group by
	ps_partkey having
		sum(ps_supplycost * ps_availqty) > (
			select
				sum(ps_supplycost * ps_availqty) * 0.0000001000
			from
				partsupp,
				supplier,
				nation
			where
				ps_suppkey = s_suppkey
				and s_nationkey = n_nationkey
				and n_name = 'INDIA'
		)
order by
	value desc
''',
    "tpch500GB.sql query 11 — important stock identification (partsupp value HAVING against a global scalar subquery).",
)

_t(
    "tpch_q12_real",
    r'''
select
	l_shipmode,
	CAST(sum(case
		when o_orderpriority = '1-URGENT'
			or o_orderpriority = '2-HIGH'
			then 1
		else 0
	end) AS BIGINT) AS high_line_count,
	CAST(sum(case
		when o_orderpriority <> '1-URGENT'
			and o_orderpriority <> '2-HIGH'
			then 1
		else 0
	end) AS BIGINT) AS low_line_count
from
	orders,
	lineitem
where
	o_orderkey = l_orderkey
	and l_shipmode in ('AIR', 'MAIL')
	and l_commitdate < l_receiptdate
	and l_shipdate < l_commitdate
	and l_receiptdate >= date '1997-01-01'
	and l_receiptdate < date '1997-01-01' + interval '1 year'
group by
	l_shipmode
order by
	l_shipmode
''',
    "tpch500GB.sql query 12 — shipping modes and order priority (CASE counts).",
)

_t(
    "tpch_q13_real",
    r'''
select
	c_count,
	count(*) AS custdist
from
	(
		select
			c_custkey,
			count(o_orderkey)
		from
			customer left outer join orders on
				c_custkey = o_custkey
				and o_comment not like '%unusual%deposits%'
		group by
			c_custkey
	) as c_orders (c_custkey, c_count)
group by
	c_count
order by
	custdist desc,
	c_count desc
''',
    "tpch500GB.sql query 13 — customer distribution (LOJ with comment anti-LIKE, derived-table column alias list).",
)

_t(
    "tpch_q14_real",
    r'''
select
	100.00 * sum(case
		when p_type like 'PROMO%'
			then l_extendedprice * (1 - l_discount)
		else 0
	end) / sum(l_extendedprice * (1 - l_discount)) AS promo_revenue
from
	lineitem,
	part
where
	l_partkey = p_partkey
	and l_shipdate >= date '1997-08-01'
	and l_shipdate < date '1997-08-01' + interval '1 month'
''',
    "tpch500GB.sql query 14 — promotion effect (conditional revenue ratio).",
)

_t(
    "tpch_q15_real",
    r'''
with revenue0 (supplier_no, total_revenue) as (
select
		l_suppkey,
		sum(l_extendedprice * (1 - l_discount))
	from
		lineitem
	where
		l_shipdate >= date '1997-08-01'
		and l_shipdate < date '1997-08-01' + interval '3 month'
	group by
		l_suppkey
)
select
	s_suppkey,
	s_name,
	s_address,
	s_phone,
	total_revenue
from
	supplier,
	revenue0
where
	s_suppkey = supplier_no
	and total_revenue = (
		select
			max(total_revenue)
		from
			revenue0
	)
order by
	s_suppkey
''',
    "tpch500GB.sql query 15 — top supplier over a revenue view (ported as a CTE; ties to the max revenue).",
)

_t(
    "tpch_q16_real",
    r'''
select
	p_brand,
	p_type,
	p_size,
	count(distinct ps_suppkey) AS supplier_cnt
from
	partsupp,
	part
where
	p_partkey = ps_partkey
	and p_brand <> 'Brand#15'
	and p_type not like 'LARGE BRUSHED%'
	and p_size in (4, 41, 17, 9, 15, 2, 25, 34)
	and ps_suppkey not in (
		select
			s_suppkey
		from
			supplier
		where
			s_comment like '%Customer%Complaints%'
	)
group by
	p_brand,
	p_type,
	p_size
order by
	supplier_cnt desc,
	p_brand,
	p_type,
	p_size
''',
    "tpch500GB.sql query 16 — parts/supplier relationship (count distinct + NOT IN over complaint suppliers).",
)

_t(
    "tpch_q17_real",
    r'''
select
	sum(l_extendedprice) / 7.0 AS avg_yearly
from
	lineitem,
	part
where
	p_partkey = l_partkey
	and p_brand = 'Brand#24'
	and p_container = 'SM PACK'
	and l_quantity < (
		select
			0.2 * avg(l_quantity)
		from
			lineitem
		where
			l_partkey = p_partkey
	)
''',
    "tpch500GB.sql query 17 — small-quantity-order revenue (correlated avg threshold; brand/container constants mapped to the fixture's live combo).",
)

_t(
    "tpch_q18_real",
    r'''
select
	c_name,
	c_custkey,
	o_orderkey,
	o_orderdate,
	o_totalprice,
	sum(l_quantity) AS c6
from
	customer,
	orders,
	lineitem
where
	o_orderkey in (
		select
			l_orderkey
		from
			lineitem
		group by
			l_orderkey having
				sum(l_quantity) > 120
	)
	and c_custkey = o_custkey
	and o_orderkey = l_orderkey
group by
	c_name,
	c_custkey,
	o_orderkey,
	o_orderdate,
	o_totalprice
order by
	o_totalprice desc,
	o_orderdate
LIMIT 100
''',
    "tpch500GB.sql query 18 — large volume customer (HAVING sum IN-subquery; threshold scaled to the fixture's max 4-line orders).",
)

_t(
    "tpch_q19_real",
    r'''
select
	sum(l_extendedprice* (1 - l_discount)) AS revenue
from
	lineitem,
	part
where
	(
		p_partkey = l_partkey
		and p_brand = 'Brand#11'
		and p_container in ('SM CASE', 'SM BOX', 'SM PACK', 'SM PKG')
		and l_quantity >= 9 and l_quantity <= 9 + 10
		and p_size between 1 and 5
		and l_shipmode in ('AIR', 'AIR REG')
		and l_shipinstruct = 'DELIVER IN PERSON'
	)
	or
	(
		p_partkey = l_partkey
		and p_brand = 'Brand#51'
		and p_container in ('MED BAG', 'MED BOX', 'MED PKG', 'MED PACK')
		and l_quantity >= 10 and l_quantity <= 10 + 10
		and p_size between 1 and 10
		and l_shipmode in ('AIR', 'AIR REG')
		and l_shipinstruct = 'DELIVER IN PERSON'
	)
	or
	(
		p_partkey = l_partkey
		and p_brand = 'Brand#23'
		and p_container in ('LG CASE', 'LG BOX', 'LG PACK', 'LG PKG')
		and l_quantity >= 22 and l_quantity <= 22 + 10
		and p_size between 1 and 15
		and l_shipmode in ('AIR', 'AIR REG')
		and l_shipinstruct = 'DELIVER IN PERSON'
	)
''',
    "tpch500GB.sql query 19 — discounted revenue (three OR'd bracket predicates).",
)

_t(
    "tpch_q20_real",
    r'''
select
	s_name,
	s_address
from
	supplier,
	nation
where
	s_suppkey in (
		select
			ps_suppkey
		from
			partsupp
		where
			ps_partkey in (
				select
					p_partkey
				from
					part
				where
					p_name like 'burnished%'
			)
			and ps_availqty > (
				select
					0.5 * sum(l_quantity)
				from
					lineitem
				where
					l_partkey = ps_partkey
					and l_suppkey = ps_suppkey
					and l_shipdate >= date '1997-01-01'
					and l_shipdate < date '1997-01-01' + interval '1 year'
			)
	)
	and s_nationkey = n_nationkey
	and n_name = 'ALGERIA'
order by
	s_name
''',
    "tpch500GB.sql query 20 — potential part promotion (nested IN with correlated half-sum threshold).",
)

_t(
    "tpch_q21_real",
    r'''
select
	s_name,
	count(*) AS numwait
from
	supplier,
	lineitem l1,
	orders,
	nation
where
	s_suppkey = l1.l_suppkey
	and o_orderkey = l1.l_orderkey
	and o_orderstatus = 'F'
	and l1.l_receiptdate > l1.l_commitdate
	and exists (
		select
			*
		from
			lineitem l2
		where
			l2.l_orderkey = l1.l_orderkey
			and l2.l_suppkey <> l1.l_suppkey
	)
	and not exists (
		select
			*
		from
			lineitem l3
		where
			l3.l_orderkey = l1.l_orderkey
			and l3.l_suppkey <> l1.l_suppkey
			and l3.l_receiptdate > l3.l_commitdate
	)
	and s_nationkey = n_nationkey
	and n_name = 'IRAQ'
group by
	s_name
order by
	numwait desc,
	s_name
LIMIT 100
''',
    "tpch500GB.sql query 21 — suppliers who kept orders waiting (EXISTS + NOT EXISTS over lineitem self-references; nation constant mapped to the fixture's populated single-late-supplier nation).",
)

_t(
    "tpch_q22_real",
    r'''
select
	cntrycode,
	count(*) AS numcust,
	sum(c_acctbal) AS totacctbal
from
	(
		select
			substring(c_phone from 1 for 2) as cntrycode,
			c_acctbal
		from
			customer
		where
			substring(c_phone from 1 for 2) in
				('10', '28', '11', '15', '18', '16', '19')
			and c_acctbal > (
				select
					avg(c_acctbal)
				from
					customer
				where
					c_acctbal > 0.00
					and substring(c_phone from 1 for 2) in
						('10', '28', '11', '15', '18', '16', '19')
			)
			and not exists (
				select
					*
				from
					orders
				where
					o_custkey = c_custkey
			)
	) as custsale
group by
	cntrycode
order by
	cntrycode
''',
    "tpch500GB.sql query 22 — global sales opportunity (phone-prefix substring, anti-join, global avg subquery).",
)

