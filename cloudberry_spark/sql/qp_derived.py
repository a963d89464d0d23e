"""qp_derived_table.sql ports: the reference's derived-table /
join-fuzzer battery (src/test/regress/sql/qp_derived_table.sql,
1.4 MB, 1000 generated queries over T0..T99).

Each ported query keeps the reference text verbatim (tables as
VALUES CTEs carrying the file's exact INSERT rows; outermost
select list aliased c1..cN and SUM items cast to BIGINT for the
dtype-sensitive driver hash — the noted uniform adaptations).
Query ordinals index the file's post-ANALYZE statement list.
Originally generated from the reference tree, which is no longer
available. The module is the source of record; edit it in place.
"""
from cloudberry_spark.sql.regress import register_regress  # noqa: E501

register_regress(
    "regress_qpdt_join_chain_3way",
    r'''
SELECT
 DT102.C339 AS c1
 , DT102.C340 AS c2
 , DT100.C498 AS c3
 , CAST(SUM( DT102.C339 ) AS BIGINT) AS c4
 , CAST(SUM( DT102.C340 ) AS BIGINT) AS c5
 , COUNT( DT100.C498 ) AS c6
FROM
	(
		(
			T43 DT100
		INNER JOIN
			T33 DT101
		ON
			DT100.C498 = DT101.C401
		)
	INNER JOIN
		T29 DT102
	ON
		DT101.C385 = DT102.C338
	)
WHERE
	(
		(
			DT101.C390 = DT100.C500
		)
		OR
		(
			(
				DT102.C338 <> DT101.C388
			)
			AND
			(
				DT102.C336 < DT100.C494
			)
		)
	)
	OR
	(
		(
			DT101.C391 < DT101.C399
		)
		AND
		(
			DT102.C335 = DT100.C490
		)
	)
GROUP BY
	DT100.C498
	, DT102.C339
	, DT102.C340
ORDER BY
	DT102.C339
	, DT102.C340
	, DT100.C498
	, SUM( DT102.C339 )
	, SUM( DT102.C340 )
	, COUNT( DT100.C498 )
LIMIT 497
''',
    "src/test/regress/sql/qp_derived_table.sql query #0 — parenthesized 3-way inner-join tree, OR-of-AND filter, aggregate ORDER BY. Tables T29, T33, T43 carry the file's exact 10-row INSERT data as CTEs.",
    tags=("qpdt",),
    prelude=r'''
WITH t29(c334, c335, c336, c337, c338, c339, c340) AS (
  VALUES (CAST(5 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(4 AS INT)), ( 5, 5, 4, 3, 3, 3, 2 ), ( 5, 1, 3, 2, 1, 5, 4 ), ( 4, 1, 4, 4, 3, 2, 3 ), ( 3, 4, 1, 5, 3, 3, 3 ), ( 2, 5, 4, 3, 5, 3, 4 ), ( 4, 5, 1, 1, 1, 3, 2 ), ( 4, 5, 2, 1, 5, 3, 4 ), ( 4, 5, 2, 1, 5, 3, 1 ), ( 1, 2, 2, 2, 4, 3, 3 )
),
t33(c383, c384, c385, c386, c387, c388, c389, c390, c391, c392, c393, c394, c395, c396, c397, c398, c399, c400, c401) AS (
  VALUES (CAST(5 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(3 AS INT)), ( 2, 2, 1, 5, 2, 4, 3, 4, 5, 5, 2, 4, 2, 4, 2, 1, 2, 3, 5 ), ( 1, 3, 2, 3, 5, 3, 2, 2, 5, 5, 5, 1, 4, 1, 5, 2, 4, 2, 4 ), ( 1, 1, 4, 3, 1, 5, 1, 2, 1, 1, 3, 2, 4, 3, 5, 1, 1, 2, 2 ), ( 1, 4, 1, 2, 5, 2, 5, 1, 4, 2, 3, 5, 3, 2, 3, 3, 2, 2, 4 ), ( 4, 2, 5, 3, 4, 4, 3, 2, 1, 2, 1, 3, 3, 3, 5, 4, 2, 1, 4 ), ( 2, 3, 1, 5, 2, 2, 3, 4, 2, 5, 2, 3, 4, 2, 4, 4, 5, 5, 3 ), ( 3, 1, 2, 2, 2, 5, 3, 3, 3, 5, 3, 2, 2, 4, 3, 5, 3, 4, 1 ), ( 2, 5, 5, 3, 1, 2, 4, 3, 3, 4, 1, 4, 3, 2, 5, 3, 2, 1, 1 ), ( 1, 2, 5, 1, 2, 2, 4, 5, 2, 1, 2, 2, 3, 5, 3, 5, 5, 1, 2 )
),
t43(c487, c488, c489, c490, c491, c492, c493, c494, c495, c496, c497, c498, c499, c500, c501) AS (
  VALUES (CAST(5 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(1 AS INT)), ( 4, 1, 2, 5, 4, 5, 3, 5, 4, 3, 4, 2, 5, 3, 1 ), ( 5, 3, 3, 1, 5, 3, 2, 1, 5, 5, 3, 5, 1, 4, 4 ), ( 3, 2, 1, 4, 3, 3, 5, 1, 1, 3, 3, 5, 4, 5, 4 ), ( 2, 3, 4, 4, 5, 3, 3, 3, 3, 4, 2, 1, 5, 3, 4 ), ( 3, 5, 5, 3, 4, 1, 4, 4, 4, 5, 2, 3, 1, 3, 1 ), ( 5, 5, 3, 4, 3, 1, 2, 2, 5, 2, 4, 2, 1, 5, 3 ), ( 2, 5, 2, 3, 1, 1, 2, 4, 5, 4, 2, 1, 3, 5, 1 ), ( 2, 4, 3, 3, 1, 1, 3, 1, 5, 4, 5, 1, 2, 5, 1 ), ( 3, 3, 3, 4, 1, 1, 2, 3, 2, 5, 4, 2, 5, 1, 3 )
)
''',
)

register_regress(
    "regress_qpdt_loj_in_join_tree",
    r'''
SELECT
 DT104.C427 AS c1
 , CAST(SUM( DT106.C632 ) AS BIGINT) AS c2
FROM
	(
		T52 DT106
	INNER JOIN
		(
			T35 DT103
		INNER JOIN
			(
				T36 DT104
			LEFT OUTER JOIN
				T28 DT105
			ON
				DT104.C430 > DT105.C331
			)
		ON
			DT103.C416 = DT104.C425
		)
	ON
		DT106.C632 = DT103.C413
	)
WHERE
	(
		(
			DT104.C424 = DT104.C429
		)
		OR
		(
			(
				DT104.C430 <> DT105.C332
			)
			OR
			(
				DT103.C415 <> DT104.C425
			)
		)
	)
	OR
	(
		(
			DT106.C628 = DT105.C330
		)
		AND
		(
			DT104.C420 = DT103.C413
		)
	)
GROUP BY
	DT106.C632
	, DT104.C427
ORDER BY
	DT104.C427
	, SUM( DT106.C632 )
LIMIT 795
''',
    "src/test/regress/sql/qp_derived_table.sql query #1 — LEFT OUTER JOIN on range predicate nested inside inner joins, WHERE touching the nullable side. Tables T28, T35, T36, T52 carry the file's exact 10-row INSERT data as CTEs.",
    tags=("qpdt",),
    prelude=r'''
WITH t28(c328, c329, c330, c331, c332, c333) AS (
  VALUES (CAST(3 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(5 AS INT)), ( 1, 1, 1, 2, 3, 4 ), ( 2, 3, 4, 2, 3, 5 ), ( 4, 1, 3, 5, 4, 1 ), ( 5, 2, 2, 4, 2, 5 ), ( 2, 5, 5, 2, 3, 3 ), ( 4, 5, 1, 4, 5, 3 ), ( 2, 1, 5, 1, 1, 3 ), ( 5, 2, 3, 2, 3, 2 ), ( 2, 3, 3, 5, 4, 2 )
),
t35(c411, c412, c413, c414, c415, c416, c417, c418) AS (
  VALUES (CAST(5 AS INT), CAST(4 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(3 AS INT)), ( 3, 5, 5, 3, 4, 4, 2, 4 ), ( 5, 3, 1, 1, 3, 1, 2, 4 ), ( 5, 5, 4, 2, 1, 2, 3, 1 ), ( 1, 5, 5, 2, 5, 1, 1, 2 ), ( 2, 1, 5, 5, 4, 1, 1, 3 ), ( 1, 5, 4, 5, 2, 5, 5, 2 ), ( 4, 3, 2, 5, 2, 1, 2, 5 ), ( 4, 4, 4, 4, 4, 2, 1, 4 ), ( 2, 5, 5, 4, 3, 3, 2, 5 )
),
t36(c419, c420, c421, c422, c423, c424, c425, c426, c427, c428, c429, c430, c431, c432, c433, c434, c435, c436, c437) AS (
  VALUES (CAST(3 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(2 AS INT)), ( 1, 1, 1, 3, 4, 5, 1, 5, 3, 2, 5, 2, 5, 5, 1, 1, 4, 5, 1 ), ( 1, 4, 5, 4, 5, 1, 5, 3, 3, 3, 5, 3, 2, 5, 1, 4, 5, 4, 2 ), ( 5, 2, 1, 3, 5, 4, 2, 4, 2, 5, 2, 4, 5, 3, 2, 2, 3, 4, 1 ), ( 3, 2, 5, 3, 1, 4, 3, 4, 2, 2, 1, 4, 1, 4, 4, 2, 5, 1, 1 ), ( 1, 2, 5, 2, 5, 4, 3, 4, 1, 5, 5, 1, 4, 5, 5, 1, 1, 4, 1 ), ( 2, 3, 4, 4, 4, 1, 5, 5, 1, 4, 1, 4, 2, 3, 2, 1, 5, 4, 4 ), ( 2, 1, 5, 2, 1, 2, 4, 3, 1, 1, 2, 4, 5, 1, 2, 5, 3, 1, 3 ), ( 1, 5, 2, 3, 4, 1, 4, 2, 5, 1, 4, 4, 4, 2, 2, 5, 2, 2, 2 ), ( 3, 5, 5, 4, 4, 2, 2, 4, 2, 4, 1, 4, 5, 1, 5, 3, 4, 4, 2 )
),
t52(c625, c626, c627, c628, c629, c630, c631, c632, c633, c634, c635) AS (
  VALUES (CAST(1 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(3 AS INT)), ( 5, 4, 1, 4, 4, 4, 2, 1, 1, 5, 5 ), ( 4, 3, 2, 2, 3, 4, 2, 3, 5, 5, 4 ), ( 5, 2, 4, 4, 5, 3, 1, 1, 3, 5, 1 ), ( 4, 5, 5, 4, 5, 4, 4, 4, 3, 2, 4 ), ( 1, 3, 5, 2, 1, 1, 2, 3, 3, 4, 5 ), ( 1, 1, 4, 1, 4, 2, 2, 1, 4, 2, 4 ), ( 4, 4, 2, 5, 3, 1, 5, 3, 4, 4, 3 ), ( 3, 4, 1, 4, 2, 2, 5, 1, 3, 1, 5 ), ( 4, 1, 5, 4, 3, 5, 5, 3, 5, 2, 2 )
)
''',
)

register_regress(
    "regress_qpdt_roj_pair",
    r'''
SELECT
 DT116.C675 AS c1
 , to_char(AVG( DT116.C675 ),'9999999.9999999') AS c2
FROM
	(
		T2 DT115
	RIGHT OUTER JOIN
		T56 DT116
	ON
		DT115.C15 = DT116.C669
	)
WHERE
	(
		DT115.C21 <> DT115.C22
	)
	OR
	(
		DT116.C675 < DT116.C681
	)
GROUP BY
	DT116.C675
	, DT116.C669
ORDER BY
	DT116.C675
	, AVG( DT116.C675 )
LIMIT 393
''',
    "src/test/regress/sql/qp_derived_table.sql query #5 — RIGHT OUTER JOIN pair with grouped aggregates. Tables T2, T56 carry the file's exact 10-row INSERT data as CTEs.",
    tags=("qpdt",),
    oracle=r'''
SELECT
 DT116.C675 AS c1
 , printf('%15.7f', AVG( DT116.C675 )) AS c2
FROM
	(
		T2 DT115
	RIGHT OUTER JOIN
		T56 DT116
	ON
		DT115.C15 = DT116.C669
	)
WHERE
	(
		DT115.C21 <> DT115.C22
	)
	OR
	(
		DT116.C675 < DT116.C681
	)
GROUP BY
	DT116.C675
	, DT116.C669
ORDER BY
	DT116.C675
	, AVG( DT116.C675 )
LIMIT 393
''',
    prelude=r'''
WITH t2(c15, c16, c17, c18, c19, c20, c21, c22, c23, c24, c25, c26, c27, c28, c29, c30, c31) AS (
  VALUES (CAST(3 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(2 AS INT)), ( 1, 5, 1, 2, 1, 4, 4, 1, 1, 4, 5, 1, 2, 5, 1, 1, 5 ), ( 4, 3, 1, 4, 4, 2, 4, 1, 5, 5, 1, 5, 5, 4, 4, 4, 2 ), ( 1, 5, 3, 4, 2, 1, 5, 4, 4, 5, 3, 3, 3, 3, 3, 2, 2 ), ( 3, 5, 3, 2, 3, 3, 1, 2, 1, 1, 5, 4, 5, 5, 1, 3, 2 ), ( 4, 5, 1, 5, 2, 5, 1, 3, 2, 3, 2, 5, 1, 2, 3, 1, 4 ), ( 4, 4, 5, 5, 4, 5, 2, 2, 2, 2, 1, 2, 4, 1, 2, 1, 3 ), ( 4, 1, 3, 5, 1, 1, 4, 3, 1, 3, 5, 5, 2, 3, 2, 4, 2 ), ( 3, 3, 2, 1, 3, 4, 2, 2, 5, 3, 4, 4, 5, 1, 1, 2, 1 ), ( 2, 4, 1, 1, 3, 1, 3, 5, 5, 1, 5, 4, 2, 1, 4, 3, 2 )
),
t56(c668, c669, c670, c671, c672, c673, c674, c675, c676, c677, c678, c679, c680, c681) AS (
  VALUES (CAST(4 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(2 AS INT)), ( 4, 1, 4, 2, 3, 2, 2, 4, 5, 1, 3, 3, 5, 3 ), ( 3, 5, 4, 2, 5, 3, 1, 2, 2, 3, 5, 4, 4, 5 ), ( 1, 4, 2, 1, 5, 2, 5, 5, 1, 3, 1, 4, 2, 5 ), ( 2, 1, 4, 3, 2, 5, 1, 2, 1, 4, 4, 3, 4, 2 ), ( 4, 1, 2, 1, 2, 4, 3, 5, 5, 1, 3, 5, 2, 1 ), ( 3, 5, 2, 2, 3, 2, 1, 1, 2, 2, 2, 5, 4, 3 ), ( 1, 2, 4, 2, 1, 1, 1, 4, 1, 3, 5, 1, 2, 1 ), ( 4, 1, 3, 2, 1, 5, 5, 4, 1, 1, 3, 2, 3, 2 ), ( 2, 2, 5, 4, 5, 1, 4, 1, 3, 4, 1, 5, 4, 3 )
)
''',
)

register_regress(
    "regress_qpdt_inner_4way",
    r'''
SELECT
 DT146.C454 AS c1
FROM
	(
		(
			(
				T0 DT144
			INNER JOIN
				T3 DT145
			ON
				DT144.C3 = DT145.C38
			)
		INNER JOIN
			T10 DT143
		ON
			DT145.C46 = DT143.C149
		)
	INNER JOIN
		T41 DT146
	ON
		DT143.C138 > DT146.C464
	)
WHERE
	(
		DT144.C3 <> DT145.C34
	)
	AND
	(
		DT144.C2 = DT145.C49
	)
GROUP BY
	DT144.C1
	, DT146.C454
ORDER BY
	DT146.C454
LIMIT 780
''',
    "src/test/regress/sql/qp_derived_table.sql query #16 — 4-table inner-join chain. Tables T0, T3, T10, T41 carry the file's exact 10-row INSERT data as CTEs.",
    tags=("qpdt",),
    prelude=r'''
WITH t0(c0, c1, c2, c3) AS (
  VALUES (CAST(3 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(5 AS INT)),( 3, 4, 4, 4 ),( 5, 4, 5, 5 ),( 1, 1, 4, 3 ),( 2, 3, 2, 4 ),( 4, 4, 3, 1 ),( 2, 2, 5, 2 ),( 5, 2, 3, 2 ),( 4, 5, 4, 1 ),( 2, 3, 2, 5 )
),
t3(c32, c33, c34, c35, c36, c37, c38, c39, c40, c41, c42, c43, c44, c45, c46, c47, c48, c49, c50, c51, c52) AS (
  VALUES (CAST(1 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(1 AS INT)), ( 5, 1, 1, 1, 1, 5, 1, 2, 3, 3, 2, 4, 3, 3, 3, 2, 1, 3, 2, 2, 5 ), ( 4, 5, 5, 2, 5, 3, 5, 4, 1, 5, 3, 4, 1, 3, 5, 2, 5, 2, 5, 3, 4 ), ( 5, 2, 5, 4, 4, 2, 2, 3, 1, 1, 1, 2, 4, 5, 3, 2, 2, 4, 3, 2, 3 ), ( 4, 1, 5, 5, 4, 1, 4, 1, 1, 2, 1, 2, 5, 5, 1, 1, 4, 1, 3, 3, 1 ), ( 5, 4, 2, 4, 4, 3, 3, 2, 2, 1, 3, 2, 5, 3, 2, 4, 1, 2, 5, 2, 4 ), ( 1, 2, 1, 3, 2, 1, 5, 5, 1, 5, 4, 1, 5, 4, 3, 5, 3, 3, 5, 2, 1 ), ( 2, 2, 2, 2, 2, 5, 3, 2, 1, 2, 3, 5, 3, 1, 2, 1, 4, 1, 3, 1, 5 ), ( 2, 5, 1, 2, 5, 5, 1, 3, 1, 4, 3, 2, 3, 4, 4, 2, 3, 3, 3, 4, 1 ), ( 1, 2, 4, 3, 1, 2, 2, 1, 1, 5, 2, 2, 2, 1, 4, 3, 1, 3, 3, 2, 5 )
),
t10(c138, c139, c140, c141, c142, c143, c144, c145, c146, c147, c148, c149, c150, c151) AS (
  VALUES (CAST(5 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(2 AS INT)), ( 5, 1, 1, 1, 5, 2, 1, 4, 5, 5, 4, 1, 3, 3 ), ( 2, 4, 5, 2, 4, 3, 1, 1, 1, 1, 2, 4, 3, 1 ), ( 4, 4, 1, 1, 3, 4, 4, 5, 2, 4, 3, 1, 2, 1 ), ( 3, 3, 4, 4, 2, 1, 1, 3, 1, 5, 1, 3, 1, 1 ), ( 5, 1, 3, 3, 4, 4, 2, 4, 1, 4, 3, 2, 5, 3 ), ( 3, 2, 2, 1, 3, 4, 4, 4, 3, 3, 3, 2, 5, 3 ), ( 4, 2, 4, 4, 2, 3, 4, 2, 1, 1, 4, 3, 4, 4 ), ( 1, 2, 4, 2, 3, 4, 3, 1, 2, 3, 4, 5, 1, 5 ), ( 2, 3, 1, 4, 4, 3, 5, 3, 5, 1, 3, 1, 5, 3 )
),
t41(c451, c452, c453, c454, c455, c456, c457, c458, c459, c460, c461, c462, c463, c464, c465, c466, c467, c468, c469, c470, c471, c472) AS (
  VALUES (CAST(4 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(2 AS INT)), ( 5, 4, 3, 3, 3, 4, 1, 5, 5, 4, 3, 2, 3, 4, 2, 5, 1, 1, 2, 5, 5, 2 ), ( 4, 4, 3, 2, 4, 2, 4, 2, 1, 1, 4, 1, 1, 1, 5, 2, 5, 3, 1, 2, 4, 4 ), ( 4, 1, 3, 3, 1, 5, 4, 3, 1, 4, 2, 3, 4, 5, 3, 4, 3, 3, 2, 3, 3, 2 ), ( 5, 1, 3, 5, 3, 5, 5, 3, 5, 5, 2, 3, 1, 5, 3, 4, 4, 5, 5, 1, 4, 3 ), ( 1, 5, 3, 4, 5, 5, 3, 2, 3, 5, 2, 3, 4, 3, 1, 2, 5, 3, 4, 4, 1, 2 ), ( 3, 1, 2, 1, 5, 5, 1, 3, 3, 5, 1, 3, 5, 4, 1, 4, 2, 3, 5, 5, 2, 1 ), ( 1, 2, 2, 5, 5, 2, 3, 3, 2, 1, 1, 5, 3, 4, 5, 4, 1, 5, 3, 1, 3, 1 ), ( 4, 3, 3, 3, 3, 5, 1, 5, 3, 4, 5, 4, 2, 1, 4, 3, 5, 5, 3, 3, 5, 3 ), ( 3, 1, 3, 2, 1, 1, 4, 3, 3, 5, 1, 2, 2, 5, 2, 3, 3, 5, 5, 1, 4, 5 )
)
''',
)

register_regress(
    "regress_qpdt_pair_minmax",
    r'''
SELECT
 MAX( DT205.C3 ) AS c1
FROM
	(
		T0 DT205
	INNER JOIN
		T99 DT204
	ON
		DT205.C3 < DT204.C1208
	)
WHERE
	(
		DT204.C1208 > DT205.C1
	)
	OR
	(
		DT205.C0 = DT204.C1204
	)
GROUP BY
	DT205.C3
	, DT205.C0
	, DT204.C1206
ORDER BY
	MAX( DT205.C3 )
LIMIT 437
''',
    "src/test/regress/sql/qp_derived_table.sql query #35 — 2-table join, MIN/MAX aggregates. Tables T0, T99 carry the file's exact 10-row INSERT data as CTEs.",
    tags=("qpdt",),
    prelude=r'''
WITH t0(c0, c1, c2, c3) AS (
  VALUES (CAST(3 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(5 AS INT)),( 3, 4, 4, 4 ),( 5, 4, 5, 5 ),( 1, 1, 4, 3 ),( 2, 3, 2, 4 ),( 4, 4, 3, 1 ),( 2, 2, 5, 2 ),( 5, 2, 3, 2 ),( 4, 5, 4, 1 ),( 2, 3, 2, 5 )
),
t99(c1204, c1205, c1206, c1207, c1208) AS (
  VALUES (CAST(5 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(1 AS INT)), ( 1, 1, 1, 1, 1 ), ( 2, 2, 1, 4, 2 ), ( 4, 1, 5, 4, 5 ), ( 1, 1, 2, 2, 1 ), ( 3, 3, 5, 2, 2 ), ( 3, 1, 5, 1, 1 ), ( 4, 4, 2, 3, 1 ), ( 2, 1, 4, 2, 4 ), ( 4, 5, 5, 2, 3 )
)
''',
)

register_regress(
    "regress_qpdt_loj_groupby",
    r'''
SELECT
 MAX( DT242.C714 ) AS c1
FROM
	(
		T72 DT241
	LEFT OUTER JOIN
		T59 DT242
	ON
		DT241.C875 = DT242.C714
	)
WHERE
	(
		(
			DT241.C875 = DT242.C713
		)
		AND
		(
			(
				(
					DT241.C880 < DT241.C872
				)
				OR
				(
					DT241.C870 <> DT242.C714
				)
			)
			OR
			(
				DT241.C868 < DT242.C716
			)
		)
	)
	AND
	(
		DT241.C881 < DT241.C880
	)
GROUP BY
	DT242.C714
	, DT241.C873
ORDER BY
	MAX( DT242.C714 )
LIMIT 304
''',
    "src/test/regress/sql/qp_derived_table.sql query #48 — LEFT OUTER JOIN + GROUP BY over the outer side. Tables T59, T72 carry the file's exact 10-row INSERT data as CTEs.",
    tags=("qpdt",),
    prelude=r'''
WITH t59(c713, c714, c715, c716) AS (
  VALUES (CAST(2 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(2 AS INT)), ( 1, 5, 1, 1 ), ( 1, 4, 1, 2 ), ( 2, 4, 1, 1 ), ( 1, 2, 5, 5 ), ( 3, 3, 4, 5 ), ( 5, 4, 4, 2 ), ( 5, 5, 4, 2 ), ( 2, 1, 3, 2 ), ( 4, 4, 4, 5 )
),
t72(c867, c868, c869, c870, c871, c872, c873, c874, c875, c876, c877, c878, c879, c880, c881, c882, c883, c884, c885, c886, c887, c888) AS (
  VALUES (CAST(2 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(3 AS INT)), ( 4, 1, 4, 2, 3, 4, 2, 2, 2, 2, 2, 5, 1, 3, 4, 3, 2, 3, 3, 2, 3, 5 ), ( 1, 4, 1, 2, 5, 5, 5, 1, 2, 5, 1, 3, 2, 1, 1, 2, 1, 5, 2, 4, 4, 4 ), ( 5, 3, 5, 3, 3, 1, 4, 3, 4, 4, 2, 2, 2, 4, 2, 5, 1, 5, 3, 1, 5, 1 ), ( 2, 5, 4, 4, 2, 3, 3, 4, 1, 1, 3, 2, 4, 1, 4, 3, 2, 2, 2, 1, 1, 2 ), ( 3, 4, 3, 5, 3, 1, 4, 3, 2, 4, 5, 4, 4, 4, 3, 4, 3, 2, 4, 4, 3, 5 ), ( 3, 5, 4, 5, 2, 5, 1, 2, 1, 1, 4, 1, 1, 1, 1, 3, 4, 2, 1, 2, 5, 4 ), ( 3, 3, 2, 2, 5, 4, 2, 3, 4, 5, 4, 1, 1, 2, 4, 5, 2, 2, 3, 4, 4, 2 ), ( 5, 2, 2, 5, 3, 4, 4, 3, 2, 4, 2, 1, 1, 5, 3, 5, 5, 1, 1, 3, 2, 4 ), ( 1, 1, 5, 3, 1, 1, 3, 1, 3, 4, 3, 3, 1, 1, 3, 1, 1, 2, 4, 4, 2, 3 )
)
''',
)

register_regress(
    "regress_qpdt_mixed_4way",
    r'''
SELECT
 DT264.C364 AS c1
 , DT264.C378 AS c2
 , MIN( DT264.C378 ) AS c3
FROM
	(
		(
			T32 DT264
		INNER JOIN
			T16 DT265
		ON
			DT264.C375 <> DT265.C200
		)
	INNER JOIN
		(
			T11 DT263
		INNER JOIN
			T4 DT266
		ON
			DT263.C154 > DT266.C63
		)
	ON
		DT264.C380 = DT266.C54
	)
WHERE
	(
		(
			(
				DT266.C57 > DT266.C65
			)
			OR
			(
				DT264.C366 < DT265.C205
			)
		)
		OR
		(
			DT266.C58 = DT266.C59
		)
	)
	OR
	(
		DT264.C382 = DT266.C59
	)
GROUP BY
	DT265.C200
	, DT264.C378
	, DT264.C364
ORDER BY
	DT264.C364
	, DT264.C378
	, MIN( DT264.C378 )
LIMIT 240
''',
    "src/test/regress/sql/qp_derived_table.sql query #57 — 4-way join mixing join orders. Tables T4, T11, T16, T32 carry the file's exact 10-row INSERT data as CTEs.",
    tags=("qpdt",),
    prelude=r'''
WITH t4(c53, c54, c55, c56, c57, c58, c59, c60, c61, c62, c63, c64, c65) AS (
  VALUES (CAST(4 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(2 AS INT)),( 1, 5, 1, 2, 4, 3, 2, 1, 1, 4, 3, 3, 3 ), ( 3, 4, 1, 4, 1, 3, 1, 5, 4, 1, 4, 2, 3 ), ( 5, 1, 1, 2, 1, 1, 3, 1, 2, 2, 5, 5, 5 ), ( 4, 4, 2, 3, 2, 2, 4, 4, 1, 2, 2, 1, 3 ), ( 5, 4, 3, 1, 1, 4, 3, 4, 4, 5, 4, 3, 4 ), ( 4, 2, 4, 1, 2, 1, 2, 1, 2, 4, 4, 2, 3 ), ( 3, 4, 1, 2, 1, 4, 4, 4, 1, 2, 2, 1, 5 ), ( 3, 2, 5, 4, 4, 1, 1, 5, 5, 4, 3, 5, 5 ), ( 3, 4, 5, 4, 3, 2, 3, 4, 2, 3, 4, 2, 1 )
),
t11(c152, c153, c154, c155, c156) AS (
  VALUES (CAST(4 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(2 AS INT)), ( 2, 5, 1, 4, 2 ), ( 2, 5, 5, 2, 2 ), ( 3, 3, 1, 2, 5 ), ( 5, 4, 5, 4, 2 ), ( 5, 1, 1, 1, 4 ), ( 2, 4, 2, 5, 3 ), ( 2, 2, 1, 2, 2 ), ( 1, 4, 4, 5, 2 ), ( 3, 5, 3, 4, 4 )
),
t16(c200, c201, c202, c203, c204, c205, c206) AS (
  VALUES (CAST(3 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(3 AS INT)), ( 3, 4, 5, 1, 3, 1, 1 ), ( 5, 3, 3, 1, 3, 1, 4 ), ( 2, 3, 4, 3, 2, 2, 3 ), ( 1, 1, 2, 3, 2, 5, 3 ), ( 4, 5, 1, 3, 3, 3, 3 ), ( 3, 3, 4, 5, 4, 4, 4 ), ( 4, 5, 3, 5, 5, 4, 3 ), ( 1, 1, 5, 4, 1, 1, 1 ), ( 3, 3, 2, 3, 1, 4, 2 )
),
t32(c364, c365, c366, c367, c368, c369, c370, c371, c372, c373, c374, c375, c376, c377, c378, c379, c380, c381, c382) AS (
  VALUES (CAST(2 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(2 AS INT)), ( 3, 4, 1, 3, 4, 5, 3, 3, 4, 2, 4, 3, 1, 5, 3, 1, 2, 5, 2 ), ( 4, 2, 1, 3, 3, 2, 5, 4, 2, 4, 2, 2, 2, 1, 2, 4, 1, 1, 5 ), ( 4, 5, 4, 4, 1, 4, 3, 5, 5, 4, 4, 3, 2, 5, 2, 2, 4, 5, 5 ), ( 2, 2, 1, 4, 4, 4, 1, 4, 3, 5, 4, 3, 2, 1, 2, 2, 4, 1, 1 ), ( 4, 2, 2, 1, 1, 1, 5, 4, 1, 5, 3, 3, 1, 3, 3, 3, 2, 1, 5 ), ( 2, 3, 5, 1, 2, 2, 3, 1, 4, 5, 3, 2, 3, 2, 4, 4, 1, 4, 1 ), ( 5, 1, 4, 5, 5, 5, 3, 2, 4, 1, 2, 3, 4, 2, 3, 3, 4, 3, 4 ), ( 4, 1, 5, 3, 5, 2, 2, 1, 4, 2, 4, 3, 5, 3, 4, 2, 3, 2, 1 ), ( 5, 4, 4, 4, 1, 1, 3, 2, 3, 2, 3, 1, 5, 1, 4, 4, 4, 4, 2 )
)
''',
)

register_regress(
    "regress_qpdt_nested_derived",
    r'''
SELECT
 DT655.C225 AS c1
 , CAST((
	SELECT
		DT659.C2086
	FROM
		(
		SELECT
			AVG( DT658.C1207 )
			, DT657.C185
			, DT658.C1207
			, DT657.C181
			, SUM( DT657.C185 )
		FROM
			(
				T14 DT657
			RIGHT OUTER JOIN
				T99 DT658
			ON
				DT657.C184 = DT658.C1208
			)
		WHERE
			(
				(
					(
						DT657.C181 < DT658.C1207
					)
					OR
					(
						DT658.C1207 = DT658.C1204
					)
				)
				OR
				(
					DT657.C180 > DT657.C185
				)
			)
			OR
			(
				(
					DT658.C1207 < DT658.C1204
				)
				OR
				(
					DT657.C180 <> DT657.C180
				)
			)
		GROUP BY
			DT658.C1207
			, DT657.C185
			, DT657.C181
		ORDER BY
			AVG( DT658.C1207 )
			, DT657.C185
			, DT658.C1207
			, DT657.C181
			, SUM( DT657.C185 )
		LIMIT 816
		)  DT659 ( C2085, C2086, C2087, C2088, C2089 ) 
	
	ORDER BY
		DT659.C2086
	LIMIT 1
	) AS BIGINT) AS c2091
FROM
	(
		T18 DT655
	INNER JOIN
		T61 DT656
	ON
		DT655.C229 = DT656.C734
	)
WHERE
	(
		(
			DT656.C739 > DT655.C229
		)
		AND
		(
			(
				(
					DT655.C225 <> DT656.C736
				)
				AND
				(
					DT655.C228 < DT656.C734
				)
			)
			AND
			(
				DT656.C730 = DT656.C730
			)
		)
	)
	OR
	(
		DT655.C227 <> DT656.C735
	)
GROUP BY
	DT656.C735
	, DT656.C734
	, DT655.C225
ORDER BY
	DT655.C225
	, C2091
LIMIT 832
''',
    "src/test/regress/sql/qp_derived_table.sql query #846 — derived table with column-alias list inside a scalar subquery, ROJ inside the derived. Tables T14, T18, T61, T99 carry the file's exact 10-row INSERT data as CTEs.",
    tags=("qpdt",),
    prelude=r'''
WITH t14(c180, c181, c182, c183, c184, c185) AS (
  VALUES (CAST(1 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(3 AS INT)), ( 3, 5, 4, 2, 3, 3 ), ( 2, 5, 3, 4, 3, 3 ), ( 5, 4, 3, 1, 3, 5 ), ( 1, 3, 1, 5, 4, 3 ), ( 2, 2, 5, 2, 3, 2 ), ( 5, 5, 5, 1, 3, 5 ), ( 4, 2, 3, 4, 1, 2 ), ( 2, 3, 1, 3, 2, 5 ), ( 5, 1, 1, 5, 2, 3 )
),
t18(c219, c220, c221, c222, c223, c224, c225, c226, c227, c228, c229) AS (
  VALUES (CAST(3 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(1 AS INT)), ( 2, 2, 2, 4, 1, 2, 4, 2, 5, 2, 3 ), ( 2, 3, 2, 4, 3, 1, 5, 3, 1, 1, 1 ), ( 5, 5, 3, 1, 5, 5, 2, 5, 1, 4, 1 ), ( 2, 3, 4, 5, 1, 1, 2, 1, 4, 1, 5 ), ( 1, 4, 3, 5, 1, 1, 1, 2, 3, 1, 1 ), ( 4, 4, 4, 2, 1, 2, 4, 4, 4, 4, 5 ), ( 1, 1, 2, 2, 1, 5, 2, 3, 5, 2, 1 ), ( 5, 3, 3, 2, 1, 2, 2, 4, 4, 4, 4 ), ( 2, 1, 2, 1, 1, 4, 4, 5, 4, 4, 5 )
),
t61(c725, c726, c727, c728, c729, c730, c731, c732, c733, c734, c735, c736, c737, c738, c739) AS (
  VALUES (CAST(2 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(3 AS INT)), ( 5, 4, 5, 1, 2, 1, 5, 2, 4, 2, 1, 1, 5, 5, 1 ), ( 3, 4, 2, 2, 3, 2, 3, 1, 4, 4, 2, 2, 2, 2, 2 ), ( 1, 2, 1, 2, 2, 1, 1, 5, 2, 3, 1, 4, 2, 1, 1 ), ( 2, 5, 1, 3, 2, 3, 5, 5, 2, 5, 3, 5, 2, 1, 4 ), ( 4, 2, 2, 4, 3, 1, 3, 3, 1, 2, 2, 4, 3, 3, 4 ), ( 2, 5, 4, 4, 2, 4, 2, 4, 1, 5, 4, 4, 1, 1, 4 ), ( 1, 4, 2, 5, 4, 4, 3, 1, 5, 5, 2, 3, 1, 1, 2 ), ( 3, 5, 4, 4, 4, 3, 2, 4, 3, 2, 3, 4, 5, 1, 5 ), ( 5, 2, 2, 5, 3, 1, 1, 4, 4, 1, 4, 2, 1, 1, 1 )
),
t99(c1204, c1205, c1206, c1207, c1208) AS (
  VALUES (CAST(5 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(1 AS INT)), ( 1, 1, 1, 1, 1 ), ( 2, 2, 1, 4, 2 ), ( 4, 1, 5, 4, 5 ), ( 1, 1, 2, 2, 1 ), ( 3, 3, 5, 2, 2 ), ( 3, 1, 5, 1, 1 ), ( 4, 4, 2, 3, 1 ), ( 2, 1, 4, 2, 4 ), ( 4, 5, 5, 2, 3 )
)
''',
)

register_regress(
    "regress_qpdt_derived_in_from",
    r'''
SELECT
 MAX( DT752.C569 ) AS c1
 , DT752.C569 AS c2
 , CAST((
	SELECT
		SUM( DT757.C2245 )
	FROM
		(
		SELECT
			DT755.C1027
			, SUM( DT755.C1018 )
		FROM
			(
				T84 DT755
			LEFT OUTER JOIN
				T38 DT756
			ON
				DT755.C1027 = DT756.C442
			)
		WHERE
			(
				(
					DT755.C1016 = DT756.C443
				)
				AND
				(
					DT756.C443 = DT755.C1024
				)
			)
			AND
			(
				(
					DT755.C1016 = DT755.C1013
				)
				OR
				(
					(
						DT755.C1024 = DT755.C1010
					)
					AND
					(
						DT756.C442 = DT755.C1016
					)
				)
			)
		GROUP BY
			DT755.C1027
			, DT755.C1018
			, DT755.C1022
		ORDER BY
			DT755.C1027
			, SUM( DT755.C1018 )
		LIMIT 190
		) AS DT757 ( C2245, C2246 ) 
	
	) AS BIGINT) AS c2249
FROM
	(
		(
			T51 DT754
		INNER JOIN
			T48 DT752
		ON
			DT754.C612 = DT752.C574
		)
	INNER JOIN
		T86 DT753
	ON
		DT754.C612 = DT753.C1051
	)
WHERE
	(
		DT753.C1050 = DT754.C613
	)
	OR
	(
		DT754.C609 < DT753.C1047
	)
GROUP BY
	DT752.C579
	, DT752.C569
ORDER BY
	MAX( DT752.C569 )
	, DT752.C569
	, C2249
LIMIT 846
''',
    "src/test/regress/sql/qp_derived_table.sql query #857 — FROM (SELECT ... GROUP BY ... ORDER BY ... LIMIT) AS dt(cols) + aggregated scalar subquery over it. Tables T38, T48, T51, T84, T86 carry the file's exact 10-row INSERT data as CTEs.",
    tags=("qpdt",),
    prelude=r'''
WITH t38(c441, c442, c443) AS (
  VALUES (CAST(1 AS INT), CAST(4 AS INT), CAST(1 AS INT)), ( 4, 2, 4 ), ( 5, 3, 4 ), ( 4, 2, 2 ), ( 3, 1, 1 ), ( 4, 3, 1 ), ( 2, 3, 3 ), ( 4, 4, 5 ), ( 2, 2, 5 ), ( 1, 1, 4 )
),
t48(c568, c569, c570, c571, c572, c573, c574, c575, c576, c577, c578, c579, c580, c581, c582, c583, c584, c585) AS (
  VALUES (CAST(1 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(4 AS INT)), ( 3, 2, 1, 5, 4, 4, 3, 4, 2, 3, 3, 5, 1, 2, 3, 5, 2, 2 ), ( 3, 4, 4, 4, 1, 3, 2, 4, 2, 2, 5, 4, 5, 4, 5, 4, 1, 4 ), ( 3, 2, 1, 5, 2, 4, 5, 4, 1, 4, 2, 3, 1, 3, 4, 5, 5, 2 ), ( 4, 3, 1, 4, 5, 3, 3, 4, 2, 2, 3, 1, 1, 4, 1, 1, 4, 4 ), ( 4, 2, 3, 4, 3, 3, 3, 4, 4, 3, 1, 1, 3, 5, 3, 4, 3, 1 ), ( 2, 4, 1, 4, 4, 2, 4, 3, 1, 1, 5, 5, 1, 3, 4, 2, 5, 2 ), ( 5, 5, 3, 2, 4, 3, 1, 1, 2, 5, 4, 1, 4, 5, 5, 1, 5, 5 ), ( 1, 2, 3, 2, 4, 4, 4, 3, 5, 3, 5, 1, 1, 1, 3, 4, 4, 5 ), ( 4, 5, 5, 3, 3, 4, 2, 4, 2, 5, 3, 2, 2, 3, 5, 5, 4, 5 )
),
t51(c608, c609, c610, c611, c612, c613, c614, c615, c616, c617, c618, c619, c620, c621, c622, c623, c624) AS (
  VALUES (CAST(4 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(4 AS INT)), ( 3, 1, 3, 4, 5, 4, 3, 2, 4, 5, 5, 5, 2, 3, 3, 5, 4 ), ( 4, 1, 2, 5, 5, 4, 4, 1, 1, 3, 3, 5, 2, 2, 4, 5, 5 ), ( 2, 3, 5, 5, 4, 1, 3, 2, 2, 1, 1, 3, 2, 3, 5, 4, 2 ), ( 4, 4, 3, 4, 3, 5, 1, 3, 1, 1, 1, 1, 2, 5, 5, 3, 5 ), ( 4, 2, 3, 1, 1, 1, 5, 2, 3, 3, 4, 5, 5, 5, 3, 2, 1 ), ( 3, 5, 5, 1, 5, 1, 4, 3, 4, 2, 3, 1, 1, 3, 1, 1, 2 ), ( 1, 1, 2, 3, 3, 1, 5, 5, 2, 1, 4, 3, 4, 5, 1, 3, 5 ), ( 1, 1, 3, 2, 5, 2, 2, 1, 5, 3, 1, 3, 3, 1, 3, 3, 4 ), ( 1, 1, 5, 2, 1, 4, 4, 3, 4, 1, 1, 2, 1, 2, 4, 4, 4 )
),
t84(c1008, c1009, c1010, c1011, c1012, c1013, c1014, c1015, c1016, c1017, c1018, c1019, c1020, c1021, c1022, c1023, c1024, c1025, c1026, c1027, c1028) AS (
  VALUES (CAST(3 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(1 AS INT)), ( 3, 4, 1, 1, 5, 1, 5, 5, 1, 4, 3, 4, 4, 4, 1, 1, 1, 1, 2, 5, 1 ), ( 2, 2, 5, 5, 3, 1, 2, 5, 4, 3, 5, 1, 2, 3, 1, 2, 4, 1, 3, 1, 3 ), ( 1, 2, 1, 4, 3, 1, 2, 5, 2, 3, 1, 4, 4, 5, 1, 3, 1, 1, 3, 1, 5 ), ( 4, 5, 4, 1, 2, 1, 1, 4, 2, 4, 4, 3, 5, 5, 5, 1, 3, 3, 2, 4, 2 ), ( 5, 1, 1, 1, 4, 2, 4, 2, 5, 1, 4, 5, 3, 4, 2, 2, 5, 4, 2, 1, 3 ), ( 2, 4, 2, 5, 3, 5, 3, 4, 2, 3, 5, 1, 5, 4, 4, 5, 4, 5, 2, 1, 5 ), ( 4, 1, 4, 3, 2, 1, 1, 5, 4, 5, 5, 5, 5, 4, 4, 2, 3, 2, 2, 5, 3 ), ( 5, 2, 4, 5, 3, 5, 4, 4, 3, 3, 1, 1, 2, 4, 5, 2, 2, 3, 2, 4, 5 ), ( 1, 2, 4, 1, 5, 5, 4, 4, 3, 3, 3, 2, 1, 5, 5, 3, 3, 2, 5, 2, 2 )
),
t86(c1047, c1048, c1049, c1050, c1051, c1052, c1053, c1054, c1055) AS (
  VALUES (CAST(1 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(5 AS INT)), ( 1, 2, 4, 4, 5, 2, 2, 1, 3 ), ( 2, 4, 4, 3, 1, 3, 1, 2, 2 ), ( 5, 2, 5, 5, 3, 1, 4, 4, 2 ), ( 4, 1, 2, 1, 4, 2, 3, 5, 1 ), ( 5, 2, 5, 1, 4, 3, 5, 1, 1 ), ( 4, 4, 3, 5, 4, 5, 2, 4, 2 ), ( 5, 1, 5, 1, 1, 2, 2, 1, 3 ), ( 4, 1, 3, 5, 1, 4, 1, 1, 1 ), ( 2, 5, 5, 2, 5, 3, 1, 2, 5 )
)
''',
)

register_regress(
    "regress_qpdt_scalarsub_derived",
    r'''
SELECT
 DT1175.C1173 AS c1
 , (
	SELECT
		AVG( DT1181.C2837 )
	FROM
		(
		SELECT
			DT1177.C800
		FROM
			(
				(
					T66 DT1177
				LEFT OUTER JOIN
					T17 DT1179
				ON
					DT1177.C801 > DT1179.C210
				)
			INNER JOIN
				(
					T82 DT1180
				INNER JOIN
					(
						T35 DT1178
					INNER JOIN
						T95 DT1176
					ON
						DT1178.C417 = DT1176.C1173
					)
				ON
					DT1180.C1000 <> DT1178.C411
				)
			ON
				DT1179.C216 < DT1176.C1167
			)
		WHERE
			(
				(
					(
						DT1179.C213 > DT1179.C210
					)
					AND
					(
						DT1179.C209 = DT1177.C799
					)
				)
				OR
				(
					DT1180.C999 > DT1178.C411
				)
			)
			OR
			(
				DT1178.C413 < DT1176.C1174
			)
		GROUP BY
			DT1176.C1170
			, DT1178.C412
			, DT1177.C800
		ORDER BY
			DT1177.C800
		LIMIT 674
		) AS DT1181 ( C2837 ) 
	
	) AS c2840
FROM
	(
		(
			T19 DT1174
		INNER JOIN
			T95 DT1175
		ON
			DT1174.C232 <> DT1175.C1174
		)
	INNER JOIN
		T93 DT1173
	ON
		DT1175.C1172 > DT1173.C1141
	)
WHERE
	(
		DT1175.C1175 <> DT1175.C1167
	)
	OR
	(
		DT1173.C1139 <> DT1175.C1174
	)
GROUP BY
	DT1175.C1167
	, DT1175.C1173
ORDER BY
	DT1175.C1173
	, C2840
LIMIT 837
''',
    "src/test/regress/sql/qp_derived_table.sql query #895 — scalar subquery over nested derived tables with LOJ. Tables T17, T19, T35, T66, T82, T93, T95 carry the file's exact 10-row INSERT data as CTEs.",
    tags=("qpdt",),
    prelude=r'''
WITH t17(c207, c208, c209, c210, c211, c212, c213, c214, c215, c216, c217, c218) AS (
  VALUES (CAST(5 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(2 AS INT)), ( 2, 2, 1, 4, 3, 2, 3, 5, 2, 3, 3, 4 ), ( 1, 4, 4, 5, 5, 4, 5, 3, 4, 5, 5, 2 ), ( 4, 1, 3, 1, 5, 1, 2, 3, 4, 4, 4, 5 ), ( 1, 5, 1, 5, 1, 1, 4, 4, 5, 4, 1, 4 ), ( 2, 2, 5, 2, 2, 5, 2, 5, 3, 1, 3, 1 ), ( 4, 2, 3, 1, 4, 4, 1, 5, 1, 3, 3, 2 ), ( 5, 4, 3, 2, 1, 2, 3, 4, 2, 3, 1, 5 ), ( 5, 4, 1, 2, 4, 1, 3, 3, 4, 2, 1, 3 ), ( 3, 3, 5, 3, 1, 1, 5, 3, 3, 2, 2, 5 )
),
t19(c230, c231, c232) AS (
  VALUES (CAST(1 AS INT), CAST(4 AS INT), CAST(1 AS INT)), ( 5, 1, 3 ), ( 5, 5, 2 ), ( 4, 3, 1 ), ( 2, 2, 2 ), ( 1, 5, 4 ), ( 2, 3, 4 ), ( 5, 2, 5 ), ( 1, 1, 5 ), ( 5, 3, 3 )
),
t35(c411, c412, c413, c414, c415, c416, c417, c418) AS (
  VALUES (CAST(5 AS INT), CAST(4 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(3 AS INT)), ( 3, 5, 5, 3, 4, 4, 2, 4 ), ( 5, 3, 1, 1, 3, 1, 2, 4 ), ( 5, 5, 4, 2, 1, 2, 3, 1 ), ( 1, 5, 5, 2, 5, 1, 1, 2 ), ( 2, 1, 5, 5, 4, 1, 1, 3 ), ( 1, 5, 4, 5, 2, 5, 5, 2 ), ( 4, 3, 2, 5, 2, 1, 2, 5 ), ( 4, 4, 4, 4, 4, 2, 1, 4 ), ( 2, 5, 5, 4, 3, 3, 2, 5 )
),
t66(c798, c799, c800, c801, c802, c803, c804, c805, c806, c807, c808) AS (
  VALUES (CAST(4 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(4 AS INT)), ( 4, 5, 5, 2, 1, 5, 2, 1, 3, 2, 2 ), ( 2, 3, 1, 4, 4, 3, 5, 5, 3, 1, 3 ), ( 5, 1, 2, 1, 2, 3, 5, 4, 4, 2, 3 ), ( 3, 4, 5, 3, 5, 4, 1, 2, 3, 2, 4 ), ( 1, 4, 3, 4, 4, 2, 2, 2, 4, 4, 2 ), ( 5, 3, 3, 5, 2, 4, 4, 2, 5, 3, 5 ), ( 4, 3, 1, 1, 3, 1, 1, 2, 2, 5, 1 ), ( 5, 2, 1, 2, 2, 1, 4, 4, 1, 3, 1 ), ( 3, 4, 4, 2, 1, 4, 4, 1, 2, 4, 3 )
),
t82(c995, c996, c997, c998, c999, c1000) AS (
  VALUES (CAST(2 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(5 AS INT)), ( 1, 3, 3, 4, 2, 5 ), ( 3, 4, 5, 3, 1, 5 ), ( 5, 1, 5, 1, 2, 2 ), ( 5, 3, 3, 1, 5, 5 ), ( 1, 2, 5, 4, 4, 4 ), ( 4, 5, 5, 2, 4, 3 ), ( 3, 3, 3, 1, 2, 1 ), ( 3, 1, 1, 4, 5, 4 ), ( 3, 1, 2, 1, 4, 4 )
),
t93(c1136, c1137, c1138, c1139, c1140, c1141, c1142, c1143, c1144) AS (
  VALUES (CAST(3 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(2 AS INT)), ( 5, 1, 2, 5, 1, 2, 3, 3, 1 ), ( 3, 5, 3, 2, 3, 3, 4, 1, 4 ), ( 4, 5, 1, 4, 4, 4, 5, 3, 1 ), ( 5, 3, 5, 1, 4, 5, 3, 5, 4 ), ( 3, 2, 4, 2, 3, 1, 4, 3, 3 ), ( 4, 2, 4, 3, 1, 1, 2, 4, 4 ), ( 4, 4, 3, 5, 1, 2, 1, 2, 3 ), ( 3, 3, 2, 4, 4, 2, 5, 5, 1 ), ( 3, 2, 1, 4, 2, 5, 1, 4, 4 )
),
t95(c1167, c1168, c1169, c1170, c1171, c1172, c1173, c1174, c1175) AS (
  VALUES (CAST(1 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(5 AS INT)), ( 3, 4, 4, 4, 4, 3, 3, 5, 3 ), ( 4, 3, 5, 4, 5, 2, 4, 2, 5 ), ( 1, 2, 5, 1, 3, 3, 2, 1, 2 ), ( 2, 3, 5, 3, 2, 4, 3, 3, 1 ), ( 1, 1, 2, 2, 4, 2, 1, 2, 3 ), ( 4, 5, 1, 4, 1, 1, 5, 4, 4 ), ( 1, 2, 4, 2, 4, 5, 5, 2, 4 ), ( 4, 1, 2, 4, 3, 1, 1, 3, 1 ), ( 2, 5, 2, 2, 1, 1, 1, 2, 1 )
)
''',
)

register_regress(
    "regress_qpdt_pair_wide_tlist",
    r'''
SELECT
 DT396.C1165 AS c1
 , DT397.C281 AS c2
 , DT396.C1148 AS c3
 , DT396.C1146 AS c4
 , DT396.C1152 AS c5
 , DT396.C1163 AS c6
 , DT396.C1155 AS c7
 , DT396.C1153 AS c8
 , DT396.C1158 AS c9
 , DT396.C1156 AS c10
 , DT396.C1145 AS c11
 , DT396.C1147 AS c12
 , DT397.C282 AS c13
 , DT396.C1166 AS c14
 , DT396.C1149 AS c15
 , DT396.C1154 AS c16
 , DT396.C1160 AS c17
 , DT396.C1157 AS c18
 , DT396.C1150 AS c19
 , DT397.C279 AS c20
 , DT396.C1159 AS c21
 , DT396.C1151 AS c22
 , DT396.C1164 AS c23
FROM
	(
		T24 DT397
	INNER JOIN
		T94 DT396
	ON
		DT397.C279 = DT396.C1153
	)
WHERE
	(
		(
			DT396.C1149 > DT396.C1165
		)
		OR
		(
			DT396.C1166 = DT397.C282
		)
	)
	AND
	(
		DT396.C1159 > DT396.C1157
	)
ORDER BY
	DT396.C1165
	, DT397.C281
	, DT396.C1148
	, DT396.C1146
	, DT396.C1152
	, DT396.C1163
	, DT396.C1155
	, DT396.C1153
	, DT396.C1158
	, DT396.C1156
	, DT396.C1145
	, DT396.C1147
	, DT397.C282
	, DT396.C1166
	, DT396.C1149
	, DT396.C1154
	, DT396.C1160
	, DT396.C1157
	, DT396.C1150
	, DT397.C279
	, DT396.C1159
	, DT396.C1151
	, DT396.C1164
LIMIT 104
''',
    "src/test/regress/sql/qp_derived_table.sql query #100 — 2-table join, wide grouped target list. Tables T24, T94 carry the file's exact 10-row INSERT data as CTEs.",
    tags=("qpdt",),
    prelude=r'''
WITH t24(c279, c280, c281, c282) AS (
  VALUES (CAST(3 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(3 AS INT)), ( 2, 1, 1, 4 ), ( 1, 4, 4, 3 ), ( 4, 3, 2, 3 ), ( 2, 2, 4, 4 ), ( 3, 4, 4, 2 ), ( 3, 1, 3, 2 ), ( 2, 5, 1, 1 ), ( 2, 5, 2, 3 ), ( 2, 5, 5, 5 )
),
t94(c1145, c1146, c1147, c1148, c1149, c1150, c1151, c1152, c1153, c1154, c1155, c1156, c1157, c1158, c1159, c1160, c1161, c1162, c1163, c1164, c1165, c1166) AS (
  VALUES (CAST(1 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(1 AS INT)), ( 4, 4, 4, 5, 3, 4, 3, 3, 4, 2, 5, 5, 3, 4, 4, 5, 4, 4, 5, 1, 1, 4 ), ( 2, 3, 4, 4, 1, 4, 2, 4, 2, 5, 2, 1, 2, 5, 3, 3, 2, 2, 5, 3, 1, 2 ), ( 1, 1, 5, 5, 2, 3, 4, 3, 3, 4, 2, 4, 3, 4, 2, 2, 2, 2, 3, 4, 3, 5 ), ( 1, 1, 3, 2, 4, 1, 3, 2, 4, 2, 2, 1, 4, 2, 1, 2, 2, 2, 1, 1, 4, 1 ), ( 2, 4, 3, 4, 1, 5, 4, 4, 5, 5, 4, 1, 4, 2, 4, 2, 4, 2, 5, 2, 3, 1 ), ( 4, 4, 4, 5, 3, 4, 4, 1, 2, 4, 4, 1, 3, 2, 1, 5, 4, 3, 1, 1, 2, 1 ), ( 2, 3, 5, 4, 3, 4, 4, 3, 1, 4, 5, 4, 3, 2, 5, 2, 4, 5, 5, 4, 5, 2 ), ( 2, 1, 3, 4, 4, 2, 3, 1, 1, 5, 1, 2, 2, 1, 1, 3, 3, 5, 5, 4, 5, 5 ), ( 2, 2, 4, 2, 5, 5, 2, 3, 3, 2, 4, 5, 1, 1, 2, 4, 5, 3, 5, 1, 4, 2 )
)
''',
)

register_regress(
    "regress_qpdt_pair_compact",
    r'''
SELECT
 DT541.C2 AS c1
 , DT541.C1 AS c2
FROM
	(
		T0 DT541
	INNER JOIN
		T96 DT540
	ON
		DT541.C2 = DT540.C1188
	)
WHERE
	(
		DT540.C1188 = DT541.C3
	)
	AND
	(
		DT540.C1176 > DT540.C1177
	)
GROUP BY
	DT540.C1179
	, DT541.C2
	, DT541.C1
ORDER BY
	DT541.C2
	, DT541.C1
LIMIT 588
''',
    "src/test/regress/sql/qp_derived_table.sql query #150 — compact 2-table join with aggregate ordering. Tables T0, T96 carry the file's exact 10-row INSERT data as CTEs.",
    tags=("qpdt",),
    prelude=r'''
WITH t0(c0, c1, c2, c3) AS (
  VALUES (CAST(3 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(5 AS INT)),( 3, 4, 4, 4 ),( 5, 4, 5, 5 ),( 1, 1, 4, 3 ),( 2, 3, 2, 4 ),( 4, 4, 3, 1 ),( 2, 2, 5, 2 ),( 5, 2, 3, 2 ),( 4, 5, 4, 1 ),( 2, 3, 2, 5 )
),
t96(c1176, c1177, c1178, c1179, c1180, c1181, c1182, c1183, c1184, c1185, c1186, c1187, c1188, c1189) AS (
  VALUES (CAST(4 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(3 AS INT)), ( 2, 4, 1, 4, 1, 5, 4, 1, 2, 5, 2, 1, 5, 4 ), ( 5, 3, 4, 3, 1, 3, 1, 4, 4, 4, 2, 2, 4, 4 ), ( 3, 3, 2, 4, 4, 4, 4, 4, 1, 4, 5, 3, 2, 4 ), ( 4, 3, 2, 4, 2, 1, 4, 5, 1, 3, 3, 2, 3, 2 ), ( 3, 4, 4, 5, 4, 1, 5, 3, 5, 5, 5, 4, 1, 1 ), ( 4, 1, 1, 4, 2, 5, 1, 5, 1, 5, 2, 2, 1, 5 ), ( 4, 2, 3, 4, 4, 4, 3, 5, 3, 3, 5, 2, 1, 2 ), ( 4, 1, 5, 1, 5, 1, 2, 2, 4, 2, 2, 4, 1, 2 ), ( 4, 5, 3, 3, 5, 5, 1, 3, 3, 4, 3, 1, 5, 1 )
)
''',
)

register_regress(
    "regress_qpdt_3way_deep_quals",
    r'''
SELECT
 COUNT( DT159.C623 ) AS c1
 , DT159.C623 AS c2
 , MIN( DT159.C614 ) AS c3
 , MIN( DT159.C618 ) AS c4
FROM
	(
		T40 DT157
	INNER JOIN
		(
			T51 DT159
		INNER JOIN
			T19 DT158
		ON
			DT159.C616 <> DT158.C230
		)
	ON
		DT157.C449 = DT159.C614
	)
WHERE
	(
		(
			DT159.C622 < DT157.C449
		)
		AND
		(
			(
				(
					DT159.C612 > DT157.C447
				)
				AND
				(
					DT157.C449 = DT159.C623
				)
			)
			OR
			(
				DT157.C448 > DT159.C618
			)
		)
	)
	OR
	(
		DT159.C609 = DT159.C616
	)
GROUP BY
	DT159.C618
	, DT159.C623
	, DT159.C614
ORDER BY
	COUNT( DT159.C623 )
	, DT159.C623
	, MIN( DT159.C614 )
	, MIN( DT159.C618 )
LIMIT 468
''',
    "src/test/regress/sql/qp_derived_table.sql query #210 — 3-way join, deeply nested OR quals. Tables T19, T40, T51 carry the file's exact 10-row INSERT data as CTEs.",
    tags=("qpdt",),
    prelude=r'''
WITH t19(c230, c231, c232) AS (
  VALUES (CAST(1 AS INT), CAST(4 AS INT), CAST(1 AS INT)), ( 5, 1, 3 ), ( 5, 5, 2 ), ( 4, 3, 1 ), ( 2, 2, 2 ), ( 1, 5, 4 ), ( 2, 3, 4 ), ( 5, 2, 5 ), ( 1, 1, 5 ), ( 5, 3, 3 )
),
t40(c447, c448, c449, c450) AS (
  VALUES (CAST(2 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(2 AS INT)), ( 4, 5, 1, 2 ), ( 1, 4, 1, 4 ), ( 3, 2, 4, 2 ), ( 1, 5, 1, 5 ), ( 2, 5, 3, 5 ), ( 4, 4, 5, 4 ), ( 1, 3, 1, 3 ), ( 2, 5, 2, 4 ), ( 2, 4, 1, 4 )
),
t51(c608, c609, c610, c611, c612, c613, c614, c615, c616, c617, c618, c619, c620, c621, c622, c623, c624) AS (
  VALUES (CAST(4 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(4 AS INT)), ( 3, 1, 3, 4, 5, 4, 3, 2, 4, 5, 5, 5, 2, 3, 3, 5, 4 ), ( 4, 1, 2, 5, 5, 4, 4, 1, 1, 3, 3, 5, 2, 2, 4, 5, 5 ), ( 2, 3, 5, 5, 4, 1, 3, 2, 2, 1, 1, 3, 2, 3, 5, 4, 2 ), ( 4, 4, 3, 4, 3, 5, 1, 3, 1, 1, 1, 1, 2, 5, 5, 3, 5 ), ( 4, 2, 3, 1, 1, 1, 5, 2, 3, 3, 4, 5, 5, 5, 3, 2, 1 ), ( 3, 5, 5, 1, 5, 1, 4, 3, 4, 2, 3, 1, 1, 3, 1, 1, 2 ), ( 1, 1, 2, 3, 3, 1, 5, 5, 2, 1, 4, 3, 4, 5, 1, 3, 5 ), ( 1, 1, 3, 2, 5, 2, 2, 1, 5, 3, 1, 3, 3, 1, 3, 3, 4 ), ( 1, 1, 5, 2, 1, 4, 4, 3, 4, 1, 1, 2, 1, 2, 4, 4, 4 )
)
''',
)

register_regress(
    "regress_qpdt_multiway_wide",
    r'''
SELECT
 to_char(AVG( DT486.C1065 ),'9999999.9999999') AS c1
 , DT486.C1065 AS c2
 , DT493.C1753 AS c3
FROM
	(
		(
			(
			SELECT
				MIN( DT492.C981 )
				, DT492.C985
				, DT490.C268
				, DT492.C981
				, DT489.C152
				, COUNT( DT492.C985 )
			FROM
				(
					(
						T79 DT492
					INNER JOIN
						(
							T19 DT491
						INNER JOIN
							T22 DT490
						ON
							DT491.C230 > DT490.C269
						)
					ON
						DT492.C980 < DT490.C260
					)
				INNER JOIN
					T11 DT489
				ON
					DT490.C266 > DT489.C155
				)
			WHERE
				(
					(
						(
							DT490.C268 > DT490.C266
						)
						AND
						(
							DT492.C985 = DT492.C985
						)
					)
					AND
					(
						DT490.C260 < DT490.C263
					)
				)
				OR
				(
					(
						(
							DT492.C982 > DT489.C154
						)
						AND
						(
							DT490.C266 = DT490.C265
						)
					)
					OR
					(
						(
							DT491.C231 = DT491.C231
						)
						AND
						(
							DT490.C264 = DT492.C984
						)
					)
				)
			GROUP BY
				DT489.C152
				, DT492.C985
				, DT492.C981
				, DT489.C155
				, DT490.C268
			ORDER BY
				MIN( DT492.C981 )
				, DT492.C985
				, DT490.C268
				, DT492.C981
				, DT489.C152
				, COUNT( DT492.C985 )
			LIMIT 893
			)  DT493 ( C1753, C1754, C1755, C1756, C1757, C1758 ) 
		INNER JOIN
			T10 DT487
		ON
			DT493.C1755 <> DT487.C144
		)
	INNER JOIN
		(
			T88 DT486
		INNER JOIN
			T28 DT488
		ON
			DT486.C1070 < DT488.C328
		)
	ON
		DT487.C142 < DT486.C1064
	)
WHERE
	(
		(
			DT493.C1758 = DT493.C1754
		)
		OR
		(
			(
				DT487.C151 > DT487.C150
			)
			OR
			(
				(
					(
						DT487.C150 = DT493.C1753
					)
					OR
					(
						DT487.C141 <> DT487.C140
					)
				)
				AND
				(
					DT486.C1068 > DT486.C1066
				)
			)
		)
	)
	OR
	(
		(
			(
				DT486.C1066 > DT486.C1066
			)
			OR
			(
				DT486.C1064 < DT486.C1075
			)
		)
		OR
		(
			DT488.C330 = DT486.C1075
		)
	)
GROUP BY
	DT487.C143
	, DT487.C149
	, DT486.C1065
	, DT493.C1753
ORDER BY
	AVG( DT486.C1065 )
	, DT486.C1065
	, DT493.C1753
LIMIT 903
''',
    "src/test/regress/sql/qp_derived_table.sql query #260 — multi-table join with a wide grouped result. Tables T10, T11, T19, T22, T28, T79, T88 carry the file's exact 10-row INSERT data as CTEs.",
    tags=("qpdt",),
    oracle=r'''
SELECT
 printf('%15.7f', AVG( DT486.C1065 )) AS c1
 , DT486.C1065 AS c2
 , DT493.C1753 AS c3
FROM
	(
		(
			(
			SELECT
				MIN( DT492.C981 )
				, DT492.C985
				, DT490.C268
				, DT492.C981
				, DT489.C152
				, COUNT( DT492.C985 )
			FROM
				(
					(
						T79 DT492
					INNER JOIN
						(
							T19 DT491
						INNER JOIN
							T22 DT490
						ON
							DT491.C230 > DT490.C269
						)
					ON
						DT492.C980 < DT490.C260
					)
				INNER JOIN
					T11 DT489
				ON
					DT490.C266 > DT489.C155
				)
			WHERE
				(
					(
						(
							DT490.C268 > DT490.C266
						)
						AND
						(
							DT492.C985 = DT492.C985
						)
					)
					AND
					(
						DT490.C260 < DT490.C263
					)
				)
				OR
				(
					(
						(
							DT492.C982 > DT489.C154
						)
						AND
						(
							DT490.C266 = DT490.C265
						)
					)
					OR
					(
						(
							DT491.C231 = DT491.C231
						)
						AND
						(
							DT490.C264 = DT492.C984
						)
					)
				)
			GROUP BY
				DT489.C152
				, DT492.C985
				, DT492.C981
				, DT489.C155
				, DT490.C268
			ORDER BY
				MIN( DT492.C981 )
				, DT492.C985
				, DT490.C268
				, DT492.C981
				, DT489.C152
				, COUNT( DT492.C985 )
			LIMIT 893
			)  DT493 ( C1753, C1754, C1755, C1756, C1757, C1758 ) 
		INNER JOIN
			T10 DT487
		ON
			DT493.C1755 <> DT487.C144
		)
	INNER JOIN
		(
			T88 DT486
		INNER JOIN
			T28 DT488
		ON
			DT486.C1070 < DT488.C328
		)
	ON
		DT487.C142 < DT486.C1064
	)
WHERE
	(
		(
			DT493.C1758 = DT493.C1754
		)
		OR
		(
			(
				DT487.C151 > DT487.C150
			)
			OR
			(
				(
					(
						DT487.C150 = DT493.C1753
					)
					OR
					(
						DT487.C141 <> DT487.C140
					)
				)
				AND
				(
					DT486.C1068 > DT486.C1066
				)
			)
		)
	)
	OR
	(
		(
			(
				DT486.C1066 > DT486.C1066
			)
			OR
			(
				DT486.C1064 < DT486.C1075
			)
		)
		OR
		(
			DT488.C330 = DT486.C1075
		)
	)
GROUP BY
	DT487.C143
	, DT487.C149
	, DT486.C1065
	, DT493.C1753
ORDER BY
	AVG( DT486.C1065 )
	, DT486.C1065
	, DT493.C1753
LIMIT 903
''',
    prelude=r'''
WITH t10(c138, c139, c140, c141, c142, c143, c144, c145, c146, c147, c148, c149, c150, c151) AS (
  VALUES (CAST(5 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(2 AS INT)), ( 5, 1, 1, 1, 5, 2, 1, 4, 5, 5, 4, 1, 3, 3 ), ( 2, 4, 5, 2, 4, 3, 1, 1, 1, 1, 2, 4, 3, 1 ), ( 4, 4, 1, 1, 3, 4, 4, 5, 2, 4, 3, 1, 2, 1 ), ( 3, 3, 4, 4, 2, 1, 1, 3, 1, 5, 1, 3, 1, 1 ), ( 5, 1, 3, 3, 4, 4, 2, 4, 1, 4, 3, 2, 5, 3 ), ( 3, 2, 2, 1, 3, 4, 4, 4, 3, 3, 3, 2, 5, 3 ), ( 4, 2, 4, 4, 2, 3, 4, 2, 1, 1, 4, 3, 4, 4 ), ( 1, 2, 4, 2, 3, 4, 3, 1, 2, 3, 4, 5, 1, 5 ), ( 2, 3, 1, 4, 4, 3, 5, 3, 5, 1, 3, 1, 5, 3 )
),
t11(c152, c153, c154, c155, c156) AS (
  VALUES (CAST(4 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(2 AS INT)), ( 2, 5, 1, 4, 2 ), ( 2, 5, 5, 2, 2 ), ( 3, 3, 1, 2, 5 ), ( 5, 4, 5, 4, 2 ), ( 5, 1, 1, 1, 4 ), ( 2, 4, 2, 5, 3 ), ( 2, 2, 1, 2, 2 ), ( 1, 4, 4, 5, 2 ), ( 3, 5, 3, 4, 4 )
),
t19(c230, c231, c232) AS (
  VALUES (CAST(1 AS INT), CAST(4 AS INT), CAST(1 AS INT)), ( 5, 1, 3 ), ( 5, 5, 2 ), ( 4, 3, 1 ), ( 2, 2, 2 ), ( 1, 5, 4 ), ( 2, 3, 4 ), ( 5, 2, 5 ), ( 1, 1, 5 ), ( 5, 3, 3 )
),
t22(c259, c260, c261, c262, c263, c264, c265, c266, c267, c268, c269) AS (
  VALUES (CAST(2 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(5 AS INT)), ( 3, 4, 4, 3, 4, 3, 5, 2, 1, 4, 2 ), ( 1, 5, 3, 5, 1, 5, 2, 2, 4, 5, 5 ), ( 3, 2, 5, 2, 4, 2, 3, 4, 2, 5, 4 ), ( 2, 1, 3, 5, 1, 3, 4, 5, 1, 3, 5 ), ( 2, 5, 4, 3, 5, 3, 1, 2, 2, 3, 2 ), ( 5, 4, 5, 2, 1, 4, 3, 4, 5, 2, 4 ), ( 1, 2, 4, 3, 4, 1, 5, 3, 1, 5, 3 ), ( 4, 4, 2, 4, 3, 2, 3, 2, 5, 3, 3 ), ( 1, 1, 3, 3, 3, 2, 3, 4, 3, 5, 5 )
),
t28(c328, c329, c330, c331, c332, c333) AS (
  VALUES (CAST(3 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(5 AS INT)), ( 1, 1, 1, 2, 3, 4 ), ( 2, 3, 4, 2, 3, 5 ), ( 4, 1, 3, 5, 4, 1 ), ( 5, 2, 2, 4, 2, 5 ), ( 2, 5, 5, 2, 3, 3 ), ( 4, 5, 1, 4, 5, 3 ), ( 2, 1, 5, 1, 1, 3 ), ( 5, 2, 3, 2, 3, 2 ), ( 2, 3, 3, 5, 4, 2 )
),
t79(c979, c980, c981, c982, c983, c984, c985) AS (
  VALUES (CAST(2 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(5 AS INT)), ( 1, 3, 2, 5, 5, 1, 3 ), ( 3, 3, 3, 3, 3, 2, 1 ), ( 4, 2, 2, 1, 1, 5, 2 ), ( 2, 4, 1, 3, 5, 5, 5 ), ( 4, 1, 3, 3, 2, 5, 2 ), ( 3, 1, 4, 3, 2, 2, 2 ), ( 5, 4, 1, 4, 2, 1, 4 ), ( 5, 2, 1, 3, 2, 4, 4 ), ( 2, 3, 2, 4, 1, 5, 4 )
),
t88(c1064, c1065, c1066, c1067, c1068, c1069, c1070, c1071, c1072, c1073, c1074, c1075) AS (
  VALUES (CAST(3 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(4 AS INT)), ( 2, 1, 1, 3, 1, 4, 1, 5, 5, 4, 2, 3 ), ( 5, 4, 3, 2, 1, 5, 5, 1, 4, 2, 1, 4 ), ( 5, 1, 3, 3, 2, 2, 1, 2, 5, 4, 1, 5 ), ( 4, 5, 3, 5, 4, 5, 2, 3, 5, 5, 4, 1 ), ( 3, 4, 3, 1, 1, 4, 1, 3, 2, 2, 5, 2 ), ( 1, 2, 4, 3, 1, 4, 2, 1, 2, 2, 1, 5 ), ( 5, 3, 1, 3, 1, 3, 3, 4, 4, 1, 4, 2 ), ( 5, 1, 3, 3, 5, 1, 3, 4, 4, 1, 3, 1 ), ( 1, 1, 1, 2, 5, 5, 1, 1, 5, 1, 5, 3 )
)
''',
)

register_regress(
    "regress_qpdt_multiway_outer",
    r'''
SELECT
 MIN( DT546.C690 ) AS c1
FROM
	(
		T59 DT540
	INNER JOIN
		(
			(
			SELECT
				DT541.C740
				, DT543.C617
				, DT541.C742
			FROM
				(
					(
						T51 DT543
					INNER JOIN
						T62 DT541
					ON
						DT543.C610 > DT541.C740
					)
				INNER JOIN
					(
						T50 DT542
					LEFT OUTER JOIN
						T24 DT544
					ON
						DT542.C607 = DT544.C281
					)
				ON
					DT543.C623 < DT542.C603
				)
			WHERE
				(
					(
						DT543.C624 = DT543.C622
					)
					AND
					(
						DT544.C282 = DT543.C611
					)
				)
				OR
				(
					(
						(
							DT543.C617 > DT543.C622
						)
						OR
						(
							(
								(
									DT543.C611 < DT541.C741
								)
								OR
								(
									DT543.C616 = DT543.C623
								)
							)
							AND
							(
								DT542.C606 = DT543.C624
							)
						)
					)
					AND
					(
						(
							DT544.C279 > DT544.C280
						)
						OR
						(
							DT543.C612 > DT543.C622
						)
					)
				)
			GROUP BY
				DT541.C740
				, DT541.C742
				, DT543.C617
			ORDER BY
				DT541.C740
				, DT543.C617
				, DT541.C742
			LIMIT 886
			)  DT545 ( C1842, C1843, C1844 ) 
		INNER JOIN
			T57 DT546
		ON
			DT545.C1843 = DT546.C697
		)
	ON
		DT540.C714 = DT546.C691
	)
WHERE
	(
		(
			DT540.C714 = DT540.C716
		)
		OR
		(
			DT540.C713 = DT546.C692
		)
	)
	OR
	(
		(
			DT546.C692 > DT546.C697
		)
		OR
		(
			(
				DT546.C689 < DT546.C685
			)
			AND
			(
				(
					(
						DT546.C691 < DT545.C1842
					)
					OR
					(
						DT540.C714 = DT546.C697
					)
				)
				AND
				(
					DT546.C696 = DT546.C696
				)
			)
		)
	)
GROUP BY
	DT540.C713
	, DT546.C690
ORDER BY
	MIN( DT546.C690 )
LIMIT 144
''',
    "src/test/regress/sql/qp_derived_table.sql query #270 — multi-table join tree with outer joins. Tables T24, T50, T51, T57, T59, T62 carry the file's exact 10-row INSERT data as CTEs.",
    tags=("qpdt",),
    prelude=r'''
WITH t24(c279, c280, c281, c282) AS (
  VALUES (CAST(3 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(3 AS INT)), ( 2, 1, 1, 4 ), ( 1, 4, 4, 3 ), ( 4, 3, 2, 3 ), ( 2, 2, 4, 4 ), ( 3, 4, 4, 2 ), ( 3, 1, 3, 2 ), ( 2, 5, 1, 1 ), ( 2, 5, 2, 3 ), ( 2, 5, 5, 5 )
),
t50(c600, c601, c602, c603, c604, c605, c606, c607) AS (
  VALUES (CAST(2 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(4 AS INT)), ( 2, 4, 1, 4, 4, 2, 4, 2 ), ( 1, 4, 3, 2, 2, 3, 5, 1 ), ( 4, 5, 4, 2, 5, 4, 4, 1 ), ( 5, 2, 2, 4, 5, 2, 1, 2 ), ( 3, 5, 4, 3, 1, 4, 1, 1 ), ( 5, 1, 1, 5, 5, 1, 5, 1 ), ( 3, 2, 2, 5, 2, 1, 1, 5 ), ( 2, 4, 2, 5, 4, 3, 4, 4 ), ( 4, 4, 5, 1, 4, 2, 3, 1 )
),
t51(c608, c609, c610, c611, c612, c613, c614, c615, c616, c617, c618, c619, c620, c621, c622, c623, c624) AS (
  VALUES (CAST(4 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(4 AS INT)), ( 3, 1, 3, 4, 5, 4, 3, 2, 4, 5, 5, 5, 2, 3, 3, 5, 4 ), ( 4, 1, 2, 5, 5, 4, 4, 1, 1, 3, 3, 5, 2, 2, 4, 5, 5 ), ( 2, 3, 5, 5, 4, 1, 3, 2, 2, 1, 1, 3, 2, 3, 5, 4, 2 ), ( 4, 4, 3, 4, 3, 5, 1, 3, 1, 1, 1, 1, 2, 5, 5, 3, 5 ), ( 4, 2, 3, 1, 1, 1, 5, 2, 3, 3, 4, 5, 5, 5, 3, 2, 1 ), ( 3, 5, 5, 1, 5, 1, 4, 3, 4, 2, 3, 1, 1, 3, 1, 1, 2 ), ( 1, 1, 2, 3, 3, 1, 5, 5, 2, 1, 4, 3, 4, 5, 1, 3, 5 ), ( 1, 1, 3, 2, 5, 2, 2, 1, 5, 3, 1, 3, 3, 1, 3, 3, 4 ), ( 1, 1, 5, 2, 1, 4, 4, 3, 4, 1, 1, 2, 1, 2, 4, 4, 4 )
),
t57(c682, c683, c684, c685, c686, c687, c688, c689, c690, c691, c692, c693, c694, c695, c696, c697) AS (
  VALUES (CAST(3 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(4 AS INT)), ( 1, 1, 5, 4, 2, 1, 1, 2, 5, 3, 3, 5, 2, 4, 5, 4 ), ( 2, 1, 3, 4, 1, 3, 3, 2, 5, 2, 3, 4, 5, 1, 4, 1 ), ( 5, 2, 2, 5, 1, 5, 1, 5, 5, 3, 5, 3, 3, 3, 1, 1 ), ( 5, 4, 5, 5, 4, 5, 5, 2, 1, 5, 1, 5, 2, 1, 1, 3 ), ( 2, 4, 2, 2, 2, 1, 5, 5, 4, 3, 3, 3, 3, 5, 4, 3 ), ( 4, 2, 2, 3, 4, 3, 5, 5, 4, 2, 2, 4, 1, 3, 2, 1 ), ( 3, 2, 2, 5, 4, 1, 3, 5, 5, 4, 4, 5, 2, 2, 5, 5 ), ( 3, 3, 2, 5, 1, 1, 3, 2, 3, 1, 5, 1, 4, 5, 2, 4 ), ( 4, 2, 2, 2, 5, 4, 4, 4, 4, 4, 1, 1, 1, 4, 1, 2 )
),
t59(c713, c714, c715, c716) AS (
  VALUES (CAST(2 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(2 AS INT)), ( 1, 5, 1, 1 ), ( 1, 4, 1, 2 ), ( 2, 4, 1, 1 ), ( 1, 2, 5, 5 ), ( 3, 3, 4, 5 ), ( 5, 4, 4, 2 ), ( 5, 5, 4, 2 ), ( 2, 1, 3, 2 ), ( 4, 4, 4, 5 )
),
t62(c740, c741, c742) AS (
  VALUES (CAST(4 AS INT), CAST(5 AS INT), CAST(1 AS INT)), ( 1, 3, 5 ), ( 3, 1, 1 ), ( 5, 4, 4 ), ( 3, 1, 4 ), ( 3, 5, 1 ), ( 4, 5, 5 ), ( 4, 1, 4 ), ( 4, 5, 1 ), ( 5, 5, 4 )
)
''',
)

register_regress(
    "regress_qpdt_derived_loj_scalarsub",
    r'''
SELECT
 DT102.C339 AS c1
 , DT102.C340 AS c2
 , DT100.C498 AS c3
 , CAST(SUM( DT102.C339 ) AS BIGINT) AS c4
 , CAST(SUM( DT102.C340 ) AS BIGINT) AS c5
 , COUNT( DT100.C498 ) AS c6
 , (
	SELECT
		MIN( DT107.C1215 )
	FROM
		(
		SELECT
			DT103.C884
			, MAX( DT103.C884 )
		FROM
			(
				T44 DT105
			INNER JOIN
				(
					T56 DT106
				LEFT OUTER JOIN
					(
						T40 DT104
					INNER JOIN
						T72 DT103
					ON
						DT104.C449 = DT103.C873
					)
				ON
					DT106.C676 > DT103.C877
				)
			ON
				DT105.C508 = DT106.C678
			)
		WHERE
			(
				DT105.C506 < DT105.C506
			)
			AND
			(
				DT103.C870 > DT103.C878
			)
		GROUP BY
			DT103.C874
			, DT103.C884
			, DT103.C872
		ORDER BY
			DT103.C884
			, MAX( DT103.C884 )
		LIMIT 380
		)  DT107 ( C1215, C1216 ) 
	
	) AS c1219
FROM
	(
		(
			T43 DT100
		INNER JOIN
			T33 DT101
		ON
			DT100.C498 = DT101.C401
		)
	INNER JOIN
		T29 DT102
	ON
		DT101.C385 = DT102.C338
	)
WHERE
	(
		(
			DT101.C390 = DT100.C500
		)
		OR
		(
			(
				DT102.C338 <> DT101.C388
			)
			AND
			(
				DT102.C336 < DT100.C494
			)
		)
	)
	OR
	(
		(
			DT101.C391 < DT101.C399
		)
		AND
		(
			DT102.C335 = DT100.C490
		)
	)
GROUP BY
	DT100.C498
	, DT102.C339
	, DT102.C340
ORDER BY
	DT102.C339
	, DT102.C340
	, DT100.C498
	, SUM( DT102.C339 )
	, SUM( DT102.C340 )
	, COUNT( DT100.C498 )
	, C1219
LIMIT 735
''',
    "src/test/regress/sql/qp_derived_table.sql query #800 — derived table + LOJ + aggregated scalar subquery. Tables T29, T33, T40, T43, T44, T56, T72 carry the file's exact 10-row INSERT data as CTEs.",
    tags=("qpdt",),
    prelude=r'''
WITH t29(c334, c335, c336, c337, c338, c339, c340) AS (
  VALUES (CAST(5 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(4 AS INT)), ( 5, 5, 4, 3, 3, 3, 2 ), ( 5, 1, 3, 2, 1, 5, 4 ), ( 4, 1, 4, 4, 3, 2, 3 ), ( 3, 4, 1, 5, 3, 3, 3 ), ( 2, 5, 4, 3, 5, 3, 4 ), ( 4, 5, 1, 1, 1, 3, 2 ), ( 4, 5, 2, 1, 5, 3, 4 ), ( 4, 5, 2, 1, 5, 3, 1 ), ( 1, 2, 2, 2, 4, 3, 3 )
),
t33(c383, c384, c385, c386, c387, c388, c389, c390, c391, c392, c393, c394, c395, c396, c397, c398, c399, c400, c401) AS (
  VALUES (CAST(5 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(3 AS INT)), ( 2, 2, 1, 5, 2, 4, 3, 4, 5, 5, 2, 4, 2, 4, 2, 1, 2, 3, 5 ), ( 1, 3, 2, 3, 5, 3, 2, 2, 5, 5, 5, 1, 4, 1, 5, 2, 4, 2, 4 ), ( 1, 1, 4, 3, 1, 5, 1, 2, 1, 1, 3, 2, 4, 3, 5, 1, 1, 2, 2 ), ( 1, 4, 1, 2, 5, 2, 5, 1, 4, 2, 3, 5, 3, 2, 3, 3, 2, 2, 4 ), ( 4, 2, 5, 3, 4, 4, 3, 2, 1, 2, 1, 3, 3, 3, 5, 4, 2, 1, 4 ), ( 2, 3, 1, 5, 2, 2, 3, 4, 2, 5, 2, 3, 4, 2, 4, 4, 5, 5, 3 ), ( 3, 1, 2, 2, 2, 5, 3, 3, 3, 5, 3, 2, 2, 4, 3, 5, 3, 4, 1 ), ( 2, 5, 5, 3, 1, 2, 4, 3, 3, 4, 1, 4, 3, 2, 5, 3, 2, 1, 1 ), ( 1, 2, 5, 1, 2, 2, 4, 5, 2, 1, 2, 2, 3, 5, 3, 5, 5, 1, 2 )
),
t40(c447, c448, c449, c450) AS (
  VALUES (CAST(2 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(2 AS INT)), ( 4, 5, 1, 2 ), ( 1, 4, 1, 4 ), ( 3, 2, 4, 2 ), ( 1, 5, 1, 5 ), ( 2, 5, 3, 5 ), ( 4, 4, 5, 4 ), ( 1, 3, 1, 3 ), ( 2, 5, 2, 4 ), ( 2, 4, 1, 4 )
),
t43(c487, c488, c489, c490, c491, c492, c493, c494, c495, c496, c497, c498, c499, c500, c501) AS (
  VALUES (CAST(5 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(1 AS INT)), ( 4, 1, 2, 5, 4, 5, 3, 5, 4, 3, 4, 2, 5, 3, 1 ), ( 5, 3, 3, 1, 5, 3, 2, 1, 5, 5, 3, 5, 1, 4, 4 ), ( 3, 2, 1, 4, 3, 3, 5, 1, 1, 3, 3, 5, 4, 5, 4 ), ( 2, 3, 4, 4, 5, 3, 3, 3, 3, 4, 2, 1, 5, 3, 4 ), ( 3, 5, 5, 3, 4, 1, 4, 4, 4, 5, 2, 3, 1, 3, 1 ), ( 5, 5, 3, 4, 3, 1, 2, 2, 5, 2, 4, 2, 1, 5, 3 ), ( 2, 5, 2, 3, 1, 1, 2, 4, 5, 4, 2, 1, 3, 5, 1 ), ( 2, 4, 3, 3, 1, 1, 3, 1, 5, 4, 5, 1, 2, 5, 1 ), ( 3, 3, 3, 4, 1, 1, 2, 3, 2, 5, 4, 2, 5, 1, 3 )
),
t44(c502, c503, c504, c505, c506, c507, c508, c509, c510, c511) AS (
  VALUES (CAST(5 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(5 AS INT)), ( 5, 4, 3, 1, 3, 5, 1, 1, 5, 2 ), ( 1, 3, 4, 2, 4, 1, 4, 5, 1, 5 ), ( 5, 2, 1, 3, 1, 2, 1, 2, 5, 4 ), ( 2, 2, 5, 5, 1, 5, 1, 5, 5, 4 ), ( 5, 3, 4, 1, 1, 1, 4, 5, 1, 3 ), ( 3, 4, 1, 3, 3, 4, 2, 4, 1, 1 ), ( 3, 5, 1, 4, 4, 3, 4, 3, 1, 2 ), ( 1, 2, 2, 5, 3, 5, 5, 5, 4, 2 ), ( 1, 2, 3, 2, 5, 5, 5, 2, 3, 2 )
),
t56(c668, c669, c670, c671, c672, c673, c674, c675, c676, c677, c678, c679, c680, c681) AS (
  VALUES (CAST(4 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(2 AS INT)), ( 4, 1, 4, 2, 3, 2, 2, 4, 5, 1, 3, 3, 5, 3 ), ( 3, 5, 4, 2, 5, 3, 1, 2, 2, 3, 5, 4, 4, 5 ), ( 1, 4, 2, 1, 5, 2, 5, 5, 1, 3, 1, 4, 2, 5 ), ( 2, 1, 4, 3, 2, 5, 1, 2, 1, 4, 4, 3, 4, 2 ), ( 4, 1, 2, 1, 2, 4, 3, 5, 5, 1, 3, 5, 2, 1 ), ( 3, 5, 2, 2, 3, 2, 1, 1, 2, 2, 2, 5, 4, 3 ), ( 1, 2, 4, 2, 1, 1, 1, 4, 1, 3, 5, 1, 2, 1 ), ( 4, 1, 3, 2, 1, 5, 5, 4, 1, 1, 3, 2, 3, 2 ), ( 2, 2, 5, 4, 5, 1, 4, 1, 3, 4, 1, 5, 4, 3 )
),
t72(c867, c868, c869, c870, c871, c872, c873, c874, c875, c876, c877, c878, c879, c880, c881, c882, c883, c884, c885, c886, c887, c888) AS (
  VALUES (CAST(2 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(3 AS INT)), ( 4, 1, 4, 2, 3, 4, 2, 2, 2, 2, 2, 5, 1, 3, 4, 3, 2, 3, 3, 2, 3, 5 ), ( 1, 4, 1, 2, 5, 5, 5, 1, 2, 5, 1, 3, 2, 1, 1, 2, 1, 5, 2, 4, 4, 4 ), ( 5, 3, 5, 3, 3, 1, 4, 3, 4, 4, 2, 2, 2, 4, 2, 5, 1, 5, 3, 1, 5, 1 ), ( 2, 5, 4, 4, 2, 3, 3, 4, 1, 1, 3, 2, 4, 1, 4, 3, 2, 2, 2, 1, 1, 2 ), ( 3, 4, 3, 5, 3, 1, 4, 3, 2, 4, 5, 4, 4, 4, 3, 4, 3, 2, 4, 4, 3, 5 ), ( 3, 5, 4, 5, 2, 5, 1, 2, 1, 1, 4, 1, 1, 1, 1, 3, 4, 2, 1, 2, 5, 4 ), ( 3, 3, 2, 2, 5, 4, 2, 3, 4, 5, 4, 1, 1, 2, 4, 5, 2, 2, 3, 4, 4, 2 ), ( 5, 2, 2, 5, 3, 4, 4, 3, 2, 4, 2, 1, 1, 5, 3, 5, 5, 1, 1, 3, 2, 4 ), ( 1, 1, 5, 3, 1, 1, 3, 1, 3, 4, 3, 3, 1, 1, 3, 1, 1, 2, 4, 4, 2, 3 )
)
''',
)

register_regress(
    "regress_qpdt_derived_loj_scalarsub_b",
    r'''
SELECT
 AVG( DT126.C1074 ) AS c1
 , DT125.C123 AS c2
 , MIN( DT125.C118 ) AS c3
 , CAST(SUM( DT125.C119 ) AS BIGINT) AS c4
 , DT126.C1074 AS c5
 , (
	SELECT
		AVG( DT129.C1256 )
	FROM
		(
		SELECT
			AVG( DT128.C369 )
			, DT128.C369
		FROM
			(
				T32 DT128
			LEFT OUTER JOIN
				T52 DT127
			ON
				DT128.C368 <> DT127.C630
			)
		WHERE
			(
				(
					DT128.C380 <> DT128.C377
				)
				AND
				(
					DT128.C371 < DT128.C378
				)
			)
			AND
			(
				(
					DT127.C625 <> DT127.C631
				)
				OR
				(
					DT128.C381 = DT128.C382
				)
			)
		GROUP BY
			DT127.C626
			, DT128.C369
		ORDER BY
			AVG( DT128.C369 )
			, DT128.C369
		LIMIT 522
		) AS DT129 ( C1255, C1256 ) 
	
	) AS c1259
FROM
	(
		(
			T25 DT124
		INNER JOIN
			T8 DT125
		ON
			DT124.C295 = DT125.C117
		)
	INNER JOIN
		T88 DT126
	ON
		DT125.C116 = DT126.C1068
	)
WHERE
	(
		(
			DT126.C1064 = DT124.C295
		)
		OR
		(
			DT124.C296 = DT124.C294
		)
	)
	OR
	(
		(
			DT125.C111 > DT124.C291
		)
		AND
		(
			(
				DT124.C287 = DT124.C286
			)
			AND
			(
				DT124.C286 < DT126.C1074
			)
		)
	)
GROUP BY
	DT126.C1074
	, DT125.C118
	, DT125.C123
	, DT125.C119
ORDER BY
	AVG( DT126.C1074 )
	, DT125.C123
	, MIN( DT125.C118 )
	, SUM( DT125.C119 )
	, DT126.C1074
	, C1259
LIMIT 158
''',
    "src/test/regress/sql/qp_derived_table.sql query #804 — second derived/LOJ/scalar-subquery composition. Tables T8, T25, T32, T52, T88 carry the file's exact 10-row INSERT data as CTEs.",
    tags=("qpdt",),
    prelude=r'''
WITH t8(c110, c111, c112, c113, c114, c115, c116, c117, c118, c119, c120, c121, c122, c123, c124, c125) AS (
  VALUES (CAST(4 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(3 AS INT)), ( 5, 3, 5, 1, 4, 5, 3, 1, 1, 5, 3, 4, 4, 3, 4, 5 ), ( 2, 5, 1, 1, 5, 5, 1, 3, 5, 5, 3, 1, 4, 5, 4, 4 ), ( 3, 4, 2, 4, 2, 5, 3, 1, 2, 5, 4, 1, 1, 4, 2, 1 ), ( 1, 1, 2, 3, 5, 2, 1, 5, 1, 3, 4, 5, 1, 4, 3, 1 ), ( 4, 1, 1, 5, 2, 1, 3, 5, 5, 5, 3, 5, 2, 4, 4, 5 ), ( 3, 2, 5, 4, 2, 3, 5, 2, 4, 5, 1, 4, 3, 3, 1, 2 ), ( 5, 5, 4, 1, 4, 4, 4, 4, 3, 1, 2, 5, 3, 3, 4, 5 ), ( 1, 5, 3, 5, 1, 5, 1, 1, 2, 3, 3, 1, 4, 1, 2, 3 ), ( 1, 4, 3, 4, 1, 5, 3, 1, 2, 1, 5, 3, 3, 4, 4, 3 )
),
t25(c283, c284, c285, c286, c287, c288, c289, c290, c291, c292, c293, c294, c295, c296) AS (
  VALUES (CAST(3 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(3 AS INT)), ( 1, 2, 2, 2, 5, 3, 3, 3, 4, 1, 4, 1, 3, 5 ), ( 4, 3, 4, 5, 5, 5, 4, 2, 5, 5, 2, 3, 1, 3 ), ( 4, 4, 4, 2, 1, 2, 3, 2, 4, 4, 3, 1, 1, 2 ), ( 4, 1, 5, 3, 5, 5, 5, 2, 4, 1, 5, 4, 1, 2 ), ( 2, 5, 2, 2, 4, 5, 5, 5, 5, 3, 1, 5, 4, 4 ), ( 2, 2, 2, 3, 5, 2, 3, 3, 3, 1, 4, 5, 5, 3 ), ( 3, 1, 4, 4, 1, 5, 4, 3, 4, 2, 1, 1, 1, 2 ), ( 2, 3, 5, 1, 4, 3, 4, 5, 5, 4, 1, 3, 1, 1 ), ( 3, 5, 2, 5, 3, 5, 3, 4, 1, 1, 4, 1, 5, 2 )
),
t32(c364, c365, c366, c367, c368, c369, c370, c371, c372, c373, c374, c375, c376, c377, c378, c379, c380, c381, c382) AS (
  VALUES (CAST(2 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(2 AS INT)), ( 3, 4, 1, 3, 4, 5, 3, 3, 4, 2, 4, 3, 1, 5, 3, 1, 2, 5, 2 ), ( 4, 2, 1, 3, 3, 2, 5, 4, 2, 4, 2, 2, 2, 1, 2, 4, 1, 1, 5 ), ( 4, 5, 4, 4, 1, 4, 3, 5, 5, 4, 4, 3, 2, 5, 2, 2, 4, 5, 5 ), ( 2, 2, 1, 4, 4, 4, 1, 4, 3, 5, 4, 3, 2, 1, 2, 2, 4, 1, 1 ), ( 4, 2, 2, 1, 1, 1, 5, 4, 1, 5, 3, 3, 1, 3, 3, 3, 2, 1, 5 ), ( 2, 3, 5, 1, 2, 2, 3, 1, 4, 5, 3, 2, 3, 2, 4, 4, 1, 4, 1 ), ( 5, 1, 4, 5, 5, 5, 3, 2, 4, 1, 2, 3, 4, 2, 3, 3, 4, 3, 4 ), ( 4, 1, 5, 3, 5, 2, 2, 1, 4, 2, 4, 3, 5, 3, 4, 2, 3, 2, 1 ), ( 5, 4, 4, 4, 1, 1, 3, 2, 3, 2, 3, 1, 5, 1, 4, 4, 4, 4, 2 )
),
t52(c625, c626, c627, c628, c629, c630, c631, c632, c633, c634, c635) AS (
  VALUES (CAST(1 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(3 AS INT)), ( 5, 4, 1, 4, 4, 4, 2, 1, 1, 5, 5 ), ( 4, 3, 2, 2, 3, 4, 2, 3, 5, 5, 4 ), ( 5, 2, 4, 4, 5, 3, 1, 1, 3, 5, 1 ), ( 4, 5, 5, 4, 5, 4, 4, 4, 3, 2, 4 ), ( 1, 3, 5, 2, 1, 1, 2, 3, 3, 4, 5 ), ( 1, 1, 4, 1, 4, 2, 2, 1, 4, 2, 4 ), ( 4, 4, 2, 5, 3, 1, 5, 3, 4, 4, 3 ), ( 3, 4, 1, 4, 2, 2, 5, 1, 3, 1, 5 ), ( 4, 1, 5, 4, 3, 5, 5, 3, 5, 2, 2 )
),
t88(c1064, c1065, c1066, c1067, c1068, c1069, c1070, c1071, c1072, c1073, c1074, c1075) AS (
  VALUES (CAST(3 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(4 AS INT)), ( 2, 1, 1, 3, 1, 4, 1, 5, 5, 4, 2, 3 ), ( 5, 4, 3, 2, 1, 5, 5, 1, 4, 2, 1, 4 ), ( 5, 1, 3, 3, 2, 2, 1, 2, 5, 4, 1, 5 ), ( 4, 5, 3, 5, 4, 5, 2, 3, 5, 5, 4, 1 ), ( 3, 4, 3, 1, 1, 4, 1, 3, 2, 2, 5, 2 ), ( 1, 2, 4, 3, 1, 4, 2, 1, 2, 2, 1, 5 ), ( 5, 3, 1, 3, 1, 3, 3, 4, 4, 1, 4, 2 ), ( 5, 1, 3, 3, 5, 1, 3, 4, 4, 1, 3, 1 ), ( 1, 1, 1, 2, 5, 5, 1, 1, 5, 1, 5, 3 )
)
''',
)

register_regress(
    "regress_qpdt_derived_loj_roj_scalarsub",
    r'''
SELECT
 DT165.C246 AS c1
 , COUNT( DT166.C35 ) AS c2
 , DT166.C35 AS c3
 , DT166.C42 AS c4
 , DT166.C49 AS c5
 , (
	SELECT
		MAX( DT174.C1334 )
	FROM
		(
		SELECT
			DT172.C938
			, DT168.C602
			, COUNT( DT171.C1331 )
		FROM
			(
				(
					T10 DT167
				INNER JOIN
					T17 DT173
				ON
					DT167.C143 = DT173.C217
				)
			INNER JOIN
				(
					(
					SELECT
						DT169.C984
						, MAX( DT169.C980 )
						, MIN( DT169.C983 )
						, DT170.C945
					FROM
						(
							T79 DT169
						RIGHT OUTER JOIN
							T76 DT170
						ON
							DT169.C982 < DT170.C943
						)
					WHERE
						(
							(
								DT170.C941 < DT169.C980
							)
							AND
							(
								DT169.C981 = DT170.C943
							)
						)
						OR
						(
							DT170.C944 > DT169.C983
						)
					GROUP BY
						DT170.C945
						, DT169.C983
						, DT169.C980
						, DT169.C984
					ORDER BY
						DT169.C984
						, MAX( DT169.C980 )
						, MIN( DT169.C983 )
						, DT170.C945
					LIMIT 786
					)  DT171 ( C1329, C1330, C1331, C1332 ) 
				INNER JOIN
					(
						T50 DT168
					INNER JOIN
						T76 DT172
					ON
						DT168.C607 < DT172.C945
					)
				ON
					DT171.C1330 <> DT172.C943
				)
			ON
				DT167.C139 > DT171.C1331
			)
		WHERE
			(
				DT173.C209 > DT167.C138
			)
			AND
			(
				(
					DT167.C140 > DT171.C1331
				)
				OR
				(
					DT167.C148 = DT173.C217
				)
			)
		GROUP BY
			DT173.C213
			, DT172.C938
			, DT171.C1331
			, DT168.C602
		ORDER BY
			DT172.C938
			, DT168.C602
			, COUNT( DT171.C1331 )
		LIMIT 272
		)  DT174 ( C1334, C1335, C1336 ) 
	
	) AS c1339
FROM
	(
		T20 DT165
	LEFT OUTER JOIN
		T3 DT166
	ON
		DT165.C245 = DT166.C39
	)
WHERE
	(
		DT166.C46 < DT165.C235
	)
	OR
	(
		DT166.C34 <> DT166.C46
	)
GROUP BY
	DT165.C246
	, DT166.C35
	, DT166.C42
	, DT166.C49
ORDER BY
	DT165.C246
	, COUNT( DT166.C35 )
	, DT166.C35
	, DT166.C42
	, DT166.C49
	, C1339
LIMIT 337
''',
    "src/test/regress/sql/qp_derived_table.sql query #810 — derived table with both LOJ and ROJ under a scalar subquery. Tables T3, T10, T17, T20, T50, T76, T79 carry the file's exact 10-row INSERT data as CTEs.",
    tags=("qpdt",),
    prelude=r'''
WITH t3(c32, c33, c34, c35, c36, c37, c38, c39, c40, c41, c42, c43, c44, c45, c46, c47, c48, c49, c50, c51, c52) AS (
  VALUES (CAST(1 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(1 AS INT)), ( 5, 1, 1, 1, 1, 5, 1, 2, 3, 3, 2, 4, 3, 3, 3, 2, 1, 3, 2, 2, 5 ), ( 4, 5, 5, 2, 5, 3, 5, 4, 1, 5, 3, 4, 1, 3, 5, 2, 5, 2, 5, 3, 4 ), ( 5, 2, 5, 4, 4, 2, 2, 3, 1, 1, 1, 2, 4, 5, 3, 2, 2, 4, 3, 2, 3 ), ( 4, 1, 5, 5, 4, 1, 4, 1, 1, 2, 1, 2, 5, 5, 1, 1, 4, 1, 3, 3, 1 ), ( 5, 4, 2, 4, 4, 3, 3, 2, 2, 1, 3, 2, 5, 3, 2, 4, 1, 2, 5, 2, 4 ), ( 1, 2, 1, 3, 2, 1, 5, 5, 1, 5, 4, 1, 5, 4, 3, 5, 3, 3, 5, 2, 1 ), ( 2, 2, 2, 2, 2, 5, 3, 2, 1, 2, 3, 5, 3, 1, 2, 1, 4, 1, 3, 1, 5 ), ( 2, 5, 1, 2, 5, 5, 1, 3, 1, 4, 3, 2, 3, 4, 4, 2, 3, 3, 3, 4, 1 ), ( 1, 2, 4, 3, 1, 2, 2, 1, 1, 5, 2, 2, 2, 1, 4, 3, 1, 3, 3, 2, 5 )
),
t10(c138, c139, c140, c141, c142, c143, c144, c145, c146, c147, c148, c149, c150, c151) AS (
  VALUES (CAST(5 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(2 AS INT)), ( 5, 1, 1, 1, 5, 2, 1, 4, 5, 5, 4, 1, 3, 3 ), ( 2, 4, 5, 2, 4, 3, 1, 1, 1, 1, 2, 4, 3, 1 ), ( 4, 4, 1, 1, 3, 4, 4, 5, 2, 4, 3, 1, 2, 1 ), ( 3, 3, 4, 4, 2, 1, 1, 3, 1, 5, 1, 3, 1, 1 ), ( 5, 1, 3, 3, 4, 4, 2, 4, 1, 4, 3, 2, 5, 3 ), ( 3, 2, 2, 1, 3, 4, 4, 4, 3, 3, 3, 2, 5, 3 ), ( 4, 2, 4, 4, 2, 3, 4, 2, 1, 1, 4, 3, 4, 4 ), ( 1, 2, 4, 2, 3, 4, 3, 1, 2, 3, 4, 5, 1, 5 ), ( 2, 3, 1, 4, 4, 3, 5, 3, 5, 1, 3, 1, 5, 3 )
),
t17(c207, c208, c209, c210, c211, c212, c213, c214, c215, c216, c217, c218) AS (
  VALUES (CAST(5 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(2 AS INT)), ( 2, 2, 1, 4, 3, 2, 3, 5, 2, 3, 3, 4 ), ( 1, 4, 4, 5, 5, 4, 5, 3, 4, 5, 5, 2 ), ( 4, 1, 3, 1, 5, 1, 2, 3, 4, 4, 4, 5 ), ( 1, 5, 1, 5, 1, 1, 4, 4, 5, 4, 1, 4 ), ( 2, 2, 5, 2, 2, 5, 2, 5, 3, 1, 3, 1 ), ( 4, 2, 3, 1, 4, 4, 1, 5, 1, 3, 3, 2 ), ( 5, 4, 3, 2, 1, 2, 3, 4, 2, 3, 1, 5 ), ( 5, 4, 1, 2, 4, 1, 3, 3, 4, 2, 1, 3 ), ( 3, 3, 5, 3, 1, 1, 5, 3, 3, 2, 2, 5 )
),
t20(c233, c234, c235, c236, c237, c238, c239, c240, c241, c242, c243, c244, c245, c246) AS (
  VALUES (CAST(2 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(3 AS INT)), ( 3, 5, 4, 2, 3, 1, 1, 5, 1, 5, 3, 4, 4, 3 ), ( 4, 3, 1, 4, 2, 3, 1, 4, 5, 2, 3, 2, 3, 5 ), ( 2, 5, 5, 5, 1, 1, 4, 1, 4, 1, 3, 3, 5, 1 ), ( 4, 5, 4, 1, 2, 4, 1, 2, 2, 4, 5, 4, 2, 1 ), ( 4, 3, 1, 1, 4, 1, 4, 4, 5, 5, 5, 4, 2, 5 ), ( 2, 4, 4, 1, 2, 2, 3, 4, 5, 4, 4, 1, 5, 5 ), ( 5, 4, 5, 3, 1, 1, 2, 5, 1, 1, 5, 2, 1, 1 ), ( 2, 4, 5, 4, 4, 4, 1, 5, 4, 4, 3, 5, 3, 4 ), ( 1, 3, 1, 4, 4, 5, 5, 4, 1, 3, 4, 4, 2, 5 )
),
t50(c600, c601, c602, c603, c604, c605, c606, c607) AS (
  VALUES (CAST(2 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(4 AS INT)), ( 2, 4, 1, 4, 4, 2, 4, 2 ), ( 1, 4, 3, 2, 2, 3, 5, 1 ), ( 4, 5, 4, 2, 5, 4, 4, 1 ), ( 5, 2, 2, 4, 5, 2, 1, 2 ), ( 3, 5, 4, 3, 1, 4, 1, 1 ), ( 5, 1, 1, 5, 5, 1, 5, 1 ), ( 3, 2, 2, 5, 2, 1, 1, 5 ), ( 2, 4, 2, 5, 4, 3, 4, 4 ), ( 4, 4, 5, 1, 4, 2, 3, 1 )
),
t76(c938, c939, c940, c941, c942, c943, c944, c945, c946) AS (
  VALUES (CAST(5 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(3 AS INT)), ( 2, 1, 5, 2, 1, 5, 1, 2, 3 ), ( 4, 1, 1, 3, 4, 4, 5, 5, 5 ), ( 4, 4, 2, 2, 1, 4, 4, 2, 3 ), ( 5, 2, 5, 1, 4, 3, 3, 5, 4 ), ( 2, 4, 3, 1, 1, 1, 1, 2, 4 ), ( 1, 2, 1, 1, 4, 4, 3, 3, 4 ), ( 4, 4, 3, 1, 4, 2, 2, 2, 2 ), ( 1, 3, 1, 2, 1, 2, 4, 2, 1 ), ( 2, 2, 4, 3, 5, 1, 3, 5, 2 )
),
t79(c979, c980, c981, c982, c983, c984, c985) AS (
  VALUES (CAST(2 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(5 AS INT)), ( 1, 3, 2, 5, 5, 1, 3 ), ( 3, 3, 3, 3, 3, 2, 1 ), ( 4, 2, 2, 1, 1, 5, 2 ), ( 2, 4, 1, 3, 5, 5, 5 ), ( 4, 1, 3, 3, 2, 5, 2 ), ( 3, 1, 4, 3, 2, 2, 2 ), ( 5, 4, 1, 4, 2, 1, 4 ), ( 5, 2, 1, 3, 2, 4, 4 ), ( 2, 3, 2, 4, 1, 5, 4 )
)
''',
)

register_regress(
    "regress_qpdt_derived_loj_scalarsub_c",
    r'''
SELECT
 AVG( DT889.C1089 ) AS c1
 , AVG( DT888.C996 ) AS c2
 , AVG( DT886.C982 ) AS c3
 , CAST((
	SELECT
		SUM( DT893.C2458 )
	FROM
		(
		SELECT
			AVG( DT891.C1107 )
		FROM
			(
				(
					T91 DT891
				INNER JOIN
					T49 DT890
				ON
					DT891.C1111 = DT890.C591
				)
			INNER JOIN
				T13 DT892
			ON
				DT890.C591 = DT892.C165
			)
		WHERE
			(
				DT892.C164 > DT890.C592
			)
			AND
			(
				(
					(
						DT891.C1103 = DT892.C170
					)
					OR
					(
						DT891.C1103 <> DT892.C176
					)
				)
				AND
				(
					(
						DT890.C596 = DT891.C1103
					)
					OR
					(
						DT892.C176 <> DT891.C1105
					)
				)
			)
		GROUP BY
			DT892.C168
			, DT891.C1107
		ORDER BY
			AVG( DT891.C1107 )
		LIMIT 476
		)  DT893 ( C2458 ) 
	
	) AS BIGINT) AS c2483
 , CAST((
	SELECT
		DT911.C2481
	FROM
		(
		SELECT
			SUM( DT895.C607 )
			,
			(
			SELECT
				DT910.C2477
			FROM
				(
				SELECT
					SUM( DT902.C273 )
				FROM
					(
						(
							(
								T23 DT902
							LEFT OUTER JOIN
								T59 DT909
							ON
								DT902.C274 > DT909.C715
							)
						INNER JOIN
							(
							SELECT
								DT906.C412
								, AVG( DT905.C24 )
								, MAX( DT905.C30 )
								, DT903.C410
								, DT905.C24
							FROM
								(
									(
										T34 DT903
									INNER JOIN
										(
											T35 DT906
										INNER JOIN
											T2 DT905
										ON
											DT906.C418 = DT905.C18
										)
									ON
										DT903.C410 = DT906.C414
									)
								INNER JOIN
									(
										T19 DT907
									INNER JOIN
										T17 DT904
									ON
										DT907.C231 <> DT904.C211
									)
								ON
									DT906.C412 = DT904.C211
								)
							WHERE
								(
									(
										DT905.C27 = DT904.C211
									)
									OR
									(
										(
											DT907.C232 > DT904.C218
										)
										AND
										(
											DT906.C417 = DT907.C231
										)
									)
								)
								OR
								(
									DT904.C209 > DT904.C215
								)
							GROUP BY
								DT903.C410
								, DT905.C30
								, DT906.C412
								, DT905.C24
							ORDER BY
								DT906.C412
								, AVG( DT905.C24 )
								, MAX( DT905.C30 )
								, DT903.C410
								, DT905.C24
							LIMIT 262
							) AS DT908 ( C2470, C2471, C2472, C2473, C2474 ) 
						ON
							DT902.C274 = DT908.C2474
						)
					INNER JOIN
						T4 DT901
					ON
						DT902.C272 > DT901.C64
					)
				WHERE
					(
						DT909.C714 = DT901.C53
					)
					AND
					(
						(
							(
								DT908.C2473 > DT901.C53
							)
							OR
							(
								DT909.C716 = DT901.C59
							)
						)
						AND
						(
							DT901.C61 <> DT901.C62
						)
					)
				GROUP BY
					DT902.C273
					, DT902.C274
				ORDER BY
					SUM( DT902.C273 )
				LIMIT 781
				) AS DT910 ( C2477 ) 
			
			ORDER BY
				DT910.C2477
			LIMIT 1
			)
			AS C2479
		
		FROM
			(
				T22 DT897
			INNER JOIN
				(
					(
						T39 DT894
					INNER JOIN
						(
						SELECT
							MIN( DT898.C862 )
							, DT898.C862
						FROM
							(
								T71 DT898
							INNER JOIN
								T92 DT899
							ON
								DT898.C860 = DT899.C1120
							)
						WHERE
							(
								(
									(
										DT899.C1123 = DT899.C1120
									)
									AND
									(
										DT899.C1132 = DT899.C1130
									)
								)
								OR
								(
									DT899.C1118 = DT899.C1122
								)
							)
							AND
							(
								DT899.C1126 = DT898.C862
							)
						GROUP BY
							DT898.C862
							, DT898.C866
							, DT899.C1119
							, DT899.C1134
						ORDER BY
							MIN( DT898.C862 )
							, DT898.C862
						LIMIT 631
						) AS DT900 ( C2464, C2465 ) 
					ON
						DT894.C446 <> DT900.C2464
					)
				INNER JOIN
					(
						T56 DT896
					INNER JOIN
						T50 DT895
					ON
						DT896.C674 = DT895.C606
					)
				ON
					DT894.C445 = DT895.C605
				)
			ON
				DT897.C264 = DT895.C601
			)
		WHERE
			(
				(
					DT897.C261 = DT896.C679
				)
				OR
				(
					(
						DT896.C675 = DT895.C600
					)
					OR
					(
						DT897.C259 <> DT895.C603
					)
				)
			)
			OR
			(
				(
					DT895.C607 <> DT895.C605
				)
				OR
				(
					DT894.C446 = DT897.C261
				)
			)
		GROUP BY
			DT895.C607
			, DT896.C669
		ORDER BY
			SUM( DT895.C607 )
			, C2479
		LIMIT 789
		)  DT911 ( C2480, C2481 ) 
	
	ORDER BY
		DT911.C2481
	LIMIT 1
	) AS BIGINT) AS c2484
FROM
	(
		(
			T79 DT886
		INNER JOIN
			(
				T29 DT887
			INNER JOIN
				T82 DT888
			ON
				DT887.C338 < DT888.C997
			)
		ON
			DT886.C979 = DT888.C999
		)
	INNER JOIN
		T90 DT889
	ON
		DT887.C339 = DT889.C1087
	)
WHERE
	(
		DT886.C984 < DT888.C996
	)
	OR
	(
		DT887.C340 = DT888.C997
	)
GROUP BY
	DT886.C982
	, DT889.C1089
	, DT888.C996
ORDER BY
	AVG( DT889.C1089 )
	, AVG( DT888.C996 )
	, AVG( DT886.C982 )
	, C2483
	, C2484
LIMIT 468
''',
    "src/test/regress/sql/qp_derived_table.sql query #872 — 20-table derived/LOJ/scalar-subquery composition. Tables T2, T4, T13, T17, T19, T22, T23, T29, T34, T35, T39, T49, T50, T56, T59, T71, T79, T82, T90, T91, T92 carry the file's exact 10-row INSERT data as CTEs.",
    tags=("qpdt",),
    prelude=r'''
WITH t2(c15, c16, c17, c18, c19, c20, c21, c22, c23, c24, c25, c26, c27, c28, c29, c30, c31) AS (
  VALUES (CAST(3 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(2 AS INT)), ( 1, 5, 1, 2, 1, 4, 4, 1, 1, 4, 5, 1, 2, 5, 1, 1, 5 ), ( 4, 3, 1, 4, 4, 2, 4, 1, 5, 5, 1, 5, 5, 4, 4, 4, 2 ), ( 1, 5, 3, 4, 2, 1, 5, 4, 4, 5, 3, 3, 3, 3, 3, 2, 2 ), ( 3, 5, 3, 2, 3, 3, 1, 2, 1, 1, 5, 4, 5, 5, 1, 3, 2 ), ( 4, 5, 1, 5, 2, 5, 1, 3, 2, 3, 2, 5, 1, 2, 3, 1, 4 ), ( 4, 4, 5, 5, 4, 5, 2, 2, 2, 2, 1, 2, 4, 1, 2, 1, 3 ), ( 4, 1, 3, 5, 1, 1, 4, 3, 1, 3, 5, 5, 2, 3, 2, 4, 2 ), ( 3, 3, 2, 1, 3, 4, 2, 2, 5, 3, 4, 4, 5, 1, 1, 2, 1 ), ( 2, 4, 1, 1, 3, 1, 3, 5, 5, 1, 5, 4, 2, 1, 4, 3, 2 )
),
t4(c53, c54, c55, c56, c57, c58, c59, c60, c61, c62, c63, c64, c65) AS (
  VALUES (CAST(4 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(2 AS INT)),( 1, 5, 1, 2, 4, 3, 2, 1, 1, 4, 3, 3, 3 ), ( 3, 4, 1, 4, 1, 3, 1, 5, 4, 1, 4, 2, 3 ), ( 5, 1, 1, 2, 1, 1, 3, 1, 2, 2, 5, 5, 5 ), ( 4, 4, 2, 3, 2, 2, 4, 4, 1, 2, 2, 1, 3 ), ( 5, 4, 3, 1, 1, 4, 3, 4, 4, 5, 4, 3, 4 ), ( 4, 2, 4, 1, 2, 1, 2, 1, 2, 4, 4, 2, 3 ), ( 3, 4, 1, 2, 1, 4, 4, 4, 1, 2, 2, 1, 5 ), ( 3, 2, 5, 4, 4, 1, 1, 5, 5, 4, 3, 5, 5 ), ( 3, 4, 5, 4, 3, 2, 3, 4, 2, 3, 4, 2, 1 )
),
t13(c164, c165, c166, c167, c168, c169, c170, c171, c172, c173, c174, c175, c176, c177, c178, c179) AS (
  VALUES (CAST(5 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(4 AS INT)), ( 3, 3, 4, 5, 1, 5, 4, 5, 3, 1, 2, 3, 1, 4, 1, 3 ), ( 2, 2, 1, 1, 2, 1, 1, 4, 2, 4, 4, 5, 4, 5, 2, 2 ), ( 5, 2, 5, 5, 1, 1, 4, 2, 4, 4, 2, 3, 5, 1, 4, 2 ), ( 4, 5, 4, 4, 1, 1, 2, 2, 4, 1, 1, 2, 1, 5, 1, 3 ), ( 4, 5, 4, 1, 3, 4, 3, 1, 3, 1, 3, 1, 5, 1, 1, 2 ), ( 1, 5, 3, 4, 2, 3, 3, 4, 2, 4, 1, 3, 1, 4, 4, 4 ), ( 3, 3, 3, 2, 1, 3, 3, 5, 4, 4, 2, 4, 5, 4, 1, 5 ), ( 1, 3, 5, 3, 4, 2, 1, 5, 1, 3, 5, 3, 5, 5, 5, 1 ), ( 3, 2, 2, 4, 2, 2, 3, 2, 4, 3, 1, 1, 4, 2, 2, 4 )
),
t17(c207, c208, c209, c210, c211, c212, c213, c214, c215, c216, c217, c218) AS (
  VALUES (CAST(5 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(2 AS INT)), ( 2, 2, 1, 4, 3, 2, 3, 5, 2, 3, 3, 4 ), ( 1, 4, 4, 5, 5, 4, 5, 3, 4, 5, 5, 2 ), ( 4, 1, 3, 1, 5, 1, 2, 3, 4, 4, 4, 5 ), ( 1, 5, 1, 5, 1, 1, 4, 4, 5, 4, 1, 4 ), ( 2, 2, 5, 2, 2, 5, 2, 5, 3, 1, 3, 1 ), ( 4, 2, 3, 1, 4, 4, 1, 5, 1, 3, 3, 2 ), ( 5, 4, 3, 2, 1, 2, 3, 4, 2, 3, 1, 5 ), ( 5, 4, 1, 2, 4, 1, 3, 3, 4, 2, 1, 3 ), ( 3, 3, 5, 3, 1, 1, 5, 3, 3, 2, 2, 5 )
),
t19(c230, c231, c232) AS (
  VALUES (CAST(1 AS INT), CAST(4 AS INT), CAST(1 AS INT)), ( 5, 1, 3 ), ( 5, 5, 2 ), ( 4, 3, 1 ), ( 2, 2, 2 ), ( 1, 5, 4 ), ( 2, 3, 4 ), ( 5, 2, 5 ), ( 1, 1, 5 ), ( 5, 3, 3 )
),
t22(c259, c260, c261, c262, c263, c264, c265, c266, c267, c268, c269) AS (
  VALUES (CAST(2 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(5 AS INT)), ( 3, 4, 4, 3, 4, 3, 5, 2, 1, 4, 2 ), ( 1, 5, 3, 5, 1, 5, 2, 2, 4, 5, 5 ), ( 3, 2, 5, 2, 4, 2, 3, 4, 2, 5, 4 ), ( 2, 1, 3, 5, 1, 3, 4, 5, 1, 3, 5 ), ( 2, 5, 4, 3, 5, 3, 1, 2, 2, 3, 2 ), ( 5, 4, 5, 2, 1, 4, 3, 4, 5, 2, 4 ), ( 1, 2, 4, 3, 4, 1, 5, 3, 1, 5, 3 ), ( 4, 4, 2, 4, 3, 2, 3, 2, 5, 3, 3 ), ( 1, 1, 3, 3, 3, 2, 3, 4, 3, 5, 5 )
),
t23(c270, c271, c272, c273, c274, c275, c276, c277, c278) AS (
  VALUES (CAST(5 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(3 AS INT)), ( 3, 3, 5, 2, 1, 1, 3, 1, 2 ), ( 2, 4, 3, 5, 1, 3, 3, 4, 1 ), ( 5, 5, 1, 4, 1, 2, 4, 3, 1 ), ( 3, 2, 4, 5, 5, 2, 3, 5, 1 ), ( 3, 5, 2, 2, 5, 1, 1, 5, 2 ), ( 3, 5, 2, 1, 1, 3, 5, 3, 2 ), ( 5, 3, 4, 2, 1, 5, 1, 1, 1 ), ( 5, 5, 3, 4, 1, 4, 1, 4, 3 ), ( 1, 4, 4, 1, 5, 2, 3, 1, 3 )
),
t29(c334, c335, c336, c337, c338, c339, c340) AS (
  VALUES (CAST(5 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(4 AS INT)), ( 5, 5, 4, 3, 3, 3, 2 ), ( 5, 1, 3, 2, 1, 5, 4 ), ( 4, 1, 4, 4, 3, 2, 3 ), ( 3, 4, 1, 5, 3, 3, 3 ), ( 2, 5, 4, 3, 5, 3, 4 ), ( 4, 5, 1, 1, 1, 3, 2 ), ( 4, 5, 2, 1, 5, 3, 4 ), ( 4, 5, 2, 1, 5, 3, 1 ), ( 1, 2, 2, 2, 4, 3, 3 )
),
t34(c402, c403, c404, c405, c406, c407, c408, c409, c410) AS (
  VALUES (CAST(4 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(4 AS INT)), ( 2, 5, 4, 1, 3, 3, 3, 4, 3 ), ( 5, 3, 4, 1, 5, 4, 4, 1, 5 ), ( 5, 1, 3, 4, 3, 1, 3, 1, 1 ), ( 2, 5, 2, 4, 3, 1, 4, 1, 4 ), ( 5, 1, 4, 3, 4, 2, 2, 3, 3 ), ( 1, 4, 4, 4, 4, 3, 3, 4, 5 ), ( 3, 3, 2, 5, 5, 5, 3, 3, 2 ), ( 4, 4, 3, 5, 4, 1, 4, 5, 4 ), ( 2, 5, 1, 3, 3, 4, 2, 5, 4 )
),
t35(c411, c412, c413, c414, c415, c416, c417, c418) AS (
  VALUES (CAST(5 AS INT), CAST(4 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(3 AS INT)), ( 3, 5, 5, 3, 4, 4, 2, 4 ), ( 5, 3, 1, 1, 3, 1, 2, 4 ), ( 5, 5, 4, 2, 1, 2, 3, 1 ), ( 1, 5, 5, 2, 5, 1, 1, 2 ), ( 2, 1, 5, 5, 4, 1, 1, 3 ), ( 1, 5, 4, 5, 2, 5, 5, 2 ), ( 4, 3, 2, 5, 2, 1, 2, 5 ), ( 4, 4, 4, 4, 4, 2, 1, 4 ), ( 2, 5, 5, 4, 3, 3, 2, 5 )
),
t39(c444, c445, c446) AS (
  VALUES (CAST(1 AS INT), CAST(3 AS INT), CAST(2 AS INT)), ( 2, 1, 2 ), ( 5, 5, 4 ), ( 3, 2, 3 ), ( 5, 3, 3 ), ( 5, 5, 3 ), ( 4, 4, 4 ), ( 4, 2, 3 ), ( 1, 1, 3 ), ( 1, 2, 3 )
),
t49(c586, c587, c588, c589, c590, c591, c592, c593, c594, c595, c596, c597, c598, c599) AS (
  VALUES (CAST(2 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(4 AS INT)), ( 4, 5, 1, 3, 2, 3, 2, 2, 2, 1, 2, 1, 5, 2 ), ( 3, 3, 2, 2, 2, 4, 1, 4, 4, 2, 3, 4, 5, 3 ), ( 3, 4, 4, 2, 3, 1, 4, 1, 2, 1, 2, 5, 2, 4 ), ( 5, 1, 5, 3, 1, 4, 4, 2, 3, 1, 1, 4, 1, 2 ), ( 1, 2, 5, 5, 3, 3, 4, 4, 2, 1, 1, 5, 2, 5 ), ( 1, 3, 1, 3, 4, 5, 2, 1, 2, 1, 5, 2, 3, 4 ), ( 3, 5, 1, 1, 4, 3, 4, 4, 4, 5, 1, 5, 4, 4 ), ( 5, 1, 1, 3, 2, 4, 1, 3, 4, 4, 4, 4, 4, 2 ), ( 5, 1, 5, 5, 3, 4, 2, 5, 4, 3, 5, 1, 3, 2 )
),
t50(c600, c601, c602, c603, c604, c605, c606, c607) AS (
  VALUES (CAST(2 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(4 AS INT)), ( 2, 4, 1, 4, 4, 2, 4, 2 ), ( 1, 4, 3, 2, 2, 3, 5, 1 ), ( 4, 5, 4, 2, 5, 4, 4, 1 ), ( 5, 2, 2, 4, 5, 2, 1, 2 ), ( 3, 5, 4, 3, 1, 4, 1, 1 ), ( 5, 1, 1, 5, 5, 1, 5, 1 ), ( 3, 2, 2, 5, 2, 1, 1, 5 ), ( 2, 4, 2, 5, 4, 3, 4, 4 ), ( 4, 4, 5, 1, 4, 2, 3, 1 )
),
t56(c668, c669, c670, c671, c672, c673, c674, c675, c676, c677, c678, c679, c680, c681) AS (
  VALUES (CAST(4 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(2 AS INT)), ( 4, 1, 4, 2, 3, 2, 2, 4, 5, 1, 3, 3, 5, 3 ), ( 3, 5, 4, 2, 5, 3, 1, 2, 2, 3, 5, 4, 4, 5 ), ( 1, 4, 2, 1, 5, 2, 5, 5, 1, 3, 1, 4, 2, 5 ), ( 2, 1, 4, 3, 2, 5, 1, 2, 1, 4, 4, 3, 4, 2 ), ( 4, 1, 2, 1, 2, 4, 3, 5, 5, 1, 3, 5, 2, 1 ), ( 3, 5, 2, 2, 3, 2, 1, 1, 2, 2, 2, 5, 4, 3 ), ( 1, 2, 4, 2, 1, 1, 1, 4, 1, 3, 5, 1, 2, 1 ), ( 4, 1, 3, 2, 1, 5, 5, 4, 1, 1, 3, 2, 3, 2 ), ( 2, 2, 5, 4, 5, 1, 4, 1, 3, 4, 1, 5, 4, 3 )
),
t59(c713, c714, c715, c716) AS (
  VALUES (CAST(2 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(2 AS INT)), ( 1, 5, 1, 1 ), ( 1, 4, 1, 2 ), ( 2, 4, 1, 1 ), ( 1, 2, 5, 5 ), ( 3, 3, 4, 5 ), ( 5, 4, 4, 2 ), ( 5, 5, 4, 2 ), ( 2, 1, 3, 2 ), ( 4, 4, 4, 5 )
),
t71(c860, c861, c862, c863, c864, c865, c866) AS (
  VALUES (CAST(4 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(5 AS INT)), ( 5, 3, 1, 4, 2, 3, 5 ), ( 4, 1, 5, 5, 2, 2, 2 ), ( 3, 3, 1, 5, 1, 3, 3 ), ( 4, 3, 5, 2, 3, 5, 1 ), ( 3, 5, 3, 4, 5, 2, 3 ), ( 1, 4, 5, 4, 4, 2, 4 ), ( 5, 5, 4, 5, 3, 4, 1 ), ( 1, 3, 2, 4, 4, 5, 1 ), ( 4, 2, 3, 2, 2, 1, 2 )
),
t79(c979, c980, c981, c982, c983, c984, c985) AS (
  VALUES (CAST(2 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(5 AS INT)), ( 1, 3, 2, 5, 5, 1, 3 ), ( 3, 3, 3, 3, 3, 2, 1 ), ( 4, 2, 2, 1, 1, 5, 2 ), ( 2, 4, 1, 3, 5, 5, 5 ), ( 4, 1, 3, 3, 2, 5, 2 ), ( 3, 1, 4, 3, 2, 2, 2 ), ( 5, 4, 1, 4, 2, 1, 4 ), ( 5, 2, 1, 3, 2, 4, 4 ), ( 2, 3, 2, 4, 1, 5, 4 )
),
t82(c995, c996, c997, c998, c999, c1000) AS (
  VALUES (CAST(2 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(5 AS INT)), ( 1, 3, 3, 4, 2, 5 ), ( 3, 4, 5, 3, 1, 5 ), ( 5, 1, 5, 1, 2, 2 ), ( 5, 3, 3, 1, 5, 5 ), ( 1, 2, 5, 4, 4, 4 ), ( 4, 5, 5, 2, 4, 3 ), ( 3, 3, 3, 1, 2, 1 ), ( 3, 1, 1, 4, 5, 4 ), ( 3, 1, 2, 1, 4, 4 )
),
t90(c1079, c1080, c1081, c1082, c1083, c1084, c1085, c1086, c1087, c1088, c1089, c1090, c1091, c1092) AS (
  VALUES (CAST(4 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(2 AS INT)), ( 4, 3, 2, 2, 4, 4, 4, 3, 1, 5, 1, 2, 4, 3 ), ( 1, 1, 1, 5, 3, 2, 3, 3, 1, 4, 1, 5, 4, 1 ), ( 1, 2, 1, 2, 1, 1, 5, 1, 5, 2, 5, 1, 2, 3 ), ( 4, 5, 2, 1, 3, 1, 4, 2, 2, 4, 2, 1, 3, 3 ), ( 3, 2, 2, 5, 4, 5, 4, 4, 2, 3, 1, 1, 5, 2 ), ( 5, 5, 5, 2, 3, 4, 4, 1, 3, 5, 2, 2, 4, 3 ), ( 5, 4, 2, 3, 3, 3, 1, 5, 3, 3, 3, 5, 4, 4 ), ( 2, 1, 4, 3, 2, 5, 4, 3, 5, 3, 4, 3, 1, 2 ), ( 4, 2, 3, 4, 3, 5, 1, 3, 2, 3, 5, 2, 1, 5 )
),
t91(c1093, c1094, c1095, c1096, c1097, c1098, c1099, c1100, c1101, c1102, c1103, c1104, c1105, c1106, c1107, c1108, c1109, c1110, c1111, c1112, c1113, c1114) AS (
  VALUES (CAST(1 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(5 AS INT)), ( 3, 2, 5, 4, 5, 1, 2, 4, 3, 4, 4, 5, 3, 5, 2, 3, 2, 1, 1, 2, 1, 2 ), ( 4, 3, 5, 1, 3, 2, 4, 3, 1, 2, 1, 5, 3, 5, 5, 4, 2, 5, 1, 5, 2, 3 ), ( 3, 5, 2, 1, 5, 4, 1, 3, 4, 4, 1, 4, 2, 5, 2, 2, 5, 5, 1, 3, 3, 4 ), ( 4, 5, 4, 4, 4, 2, 5, 4, 4, 2, 1, 4, 3, 5, 3, 1, 4, 1, 3, 4, 2, 1 ), ( 5, 5, 3, 2, 3, 5, 2, 4, 2, 5, 4, 5, 1, 2, 4, 3, 3, 4, 1, 4, 3, 4 ), ( 5, 3, 2, 2, 4, 1, 2, 5, 3, 1, 2, 5, 5, 5, 2, 4, 5, 3, 4, 3, 1, 1 ), ( 1, 5, 2, 2, 5, 1, 2, 5, 2, 2, 2, 2, 4, 5, 4, 4, 1, 2, 3, 2, 4, 3 ), ( 3, 1, 3, 4, 1, 1, 5, 4, 4, 2, 1, 1, 1, 3, 5, 2, 3, 5, 5, 1, 5, 1 ), ( 3, 4, 1, 1, 2, 2, 1, 2, 4, 4, 3, 2, 1, 1, 3, 3, 5, 3, 4, 5, 1, 5 )
),
t92(c1115, c1116, c1117, c1118, c1119, c1120, c1121, c1122, c1123, c1124, c1125, c1126, c1127, c1128, c1129, c1130, c1131, c1132, c1133, c1134, c1135) AS (
  VALUES (CAST(2 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(3 AS INT)), ( 2, 1, 1, 3, 2, 2, 3, 2, 2, 3, 5, 1, 1, 4, 5, 5, 1, 1, 4, 1, 2 ), ( 5, 4, 3, 5, 1, 5, 3, 2, 5, 2, 4, 2, 4, 5, 5, 4, 3, 2, 4, 2, 5 ), ( 5, 5, 3, 3, 3, 2, 5, 2, 2, 5, 1, 5, 5, 3, 2, 1, 2, 2, 2, 1, 1 ), ( 3, 1, 5, 5, 4, 2, 5, 2, 5, 1, 1, 3, 5, 3, 5, 4, 1, 2, 1, 2, 5 ), ( 1, 2, 4, 1, 1, 1, 4, 3, 5, 5, 5, 1, 4, 5, 1, 5, 1, 3, 1, 4, 2 ), ( 2, 1, 3, 2, 2, 4, 4, 1, 1, 1, 3, 5, 1, 1, 4, 2, 2, 2, 4, 5, 3 ), ( 3, 2, 3, 5, 4, 3, 1, 4, 2, 4, 2, 1, 3, 5, 1, 5, 3, 2, 4, 4, 1 ), ( 5, 2, 4, 3, 1, 1, 5, 1, 1, 5, 1, 2, 2, 3, 2, 3, 2, 5, 5, 5, 5 ), ( 1, 4, 1, 4, 2, 4, 1, 2, 4, 4, 1, 2, 2, 5, 2, 4, 1, 2, 5, 3, 3 )
)
''',
)

register_regress(
    "regress_qpdt_c_inner2",
    r'''
SELECT
 DT491.C697 AS c1
 , DT490.C1111 AS c2
 , DT491.C690 AS c3
 , DT490.C1104 AS c4
 , DT490.C1101 AS c5
 , DT490.C1103 AS c6
 , DT492.C986 AS c7
 , DT491.C683 AS c8
 , DT490.C1109 AS c9
 , DT490.C1112 AS c10
 , DT491.C687 AS c11
 , DT491.C696 AS c12
 , DT491.C695 AS c13
 , DT490.C1102 AS c14
 , DT491.C688 AS c15
 , DT490.C1107 AS c16
 , DT492.C988 AS c17
FROM
	(
		T80 DT492
	INNER JOIN
		(
			T57 DT491
		INNER JOIN
			T91 DT490
		ON
			DT491.C696 = DT490.C1098
		)
	ON
		DT492.C986 = DT490.C1101
	)
WHERE
	(
		DT490.C1097 > DT490.C1102
	)
	AND
	(
		DT491.C688 > DT490.C1110
	)
ORDER BY
	DT491.C697
	, DT490.C1111
	, DT491.C690
	, DT490.C1104
	, DT490.C1101
	, DT490.C1103
	, DT492.C986
	, DT491.C683
	, DT490.C1109
	, DT490.C1112
	, DT491.C687
	, DT491.C696
	, DT491.C695
	, DT490.C1102
	, DT491.C688
	, DT490.C1107
	, DT492.C988
LIMIT 161
''',
    "src/test/regress/sql/qp_derived_table.sql query #133 — class inner2-limit (81 members): plain 3-table inner chain. Tables T57, T80, T91 carry the file's exact 10-row INSERT data as CTEs.",
    tags=("qpdt",),
    prelude=r'''
WITH t57(c682, c683, c684, c685, c686, c687, c688, c689, c690, c691, c692, c693, c694, c695, c696, c697) AS (
  VALUES (CAST(3 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(4 AS INT)), ( 1, 1, 5, 4, 2, 1, 1, 2, 5, 3, 3, 5, 2, 4, 5, 4 ), ( 2, 1, 3, 4, 1, 3, 3, 2, 5, 2, 3, 4, 5, 1, 4, 1 ), ( 5, 2, 2, 5, 1, 5, 1, 5, 5, 3, 5, 3, 3, 3, 1, 1 ), ( 5, 4, 5, 5, 4, 5, 5, 2, 1, 5, 1, 5, 2, 1, 1, 3 ), ( 2, 4, 2, 2, 2, 1, 5, 5, 4, 3, 3, 3, 3, 5, 4, 3 ), ( 4, 2, 2, 3, 4, 3, 5, 5, 4, 2, 2, 4, 1, 3, 2, 1 ), ( 3, 2, 2, 5, 4, 1, 3, 5, 5, 4, 4, 5, 2, 2, 5, 5 ), ( 3, 3, 2, 5, 1, 1, 3, 2, 3, 1, 5, 1, 4, 5, 2, 4 ), ( 4, 2, 2, 2, 5, 4, 4, 4, 4, 4, 1, 1, 1, 4, 1, 2 )
),
t80(c986, c987, c988, c989) AS (
  VALUES (CAST(2 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(1 AS INT)), ( 2, 4, 4, 5 ), ( 3, 2, 1, 5 ), ( 4, 3, 5, 5 ), ( 4, 5, 5, 5 ), ( 4, 2, 3, 4 ), ( 4, 4, 2, 2 ), ( 4, 1, 4, 4 ), ( 4, 5, 5, 2 ), ( 4, 1, 3, 2 )
),
t91(c1093, c1094, c1095, c1096, c1097, c1098, c1099, c1100, c1101, c1102, c1103, c1104, c1105, c1106, c1107, c1108, c1109, c1110, c1111, c1112, c1113, c1114) AS (
  VALUES (CAST(1 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(5 AS INT)), ( 3, 2, 5, 4, 5, 1, 2, 4, 3, 4, 4, 5, 3, 5, 2, 3, 2, 1, 1, 2, 1, 2 ), ( 4, 3, 5, 1, 3, 2, 4, 3, 1, 2, 1, 5, 3, 5, 5, 4, 2, 5, 1, 5, 2, 3 ), ( 3, 5, 2, 1, 5, 4, 1, 3, 4, 4, 1, 4, 2, 5, 2, 2, 5, 5, 1, 3, 3, 4 ), ( 4, 5, 4, 4, 4, 2, 5, 4, 4, 2, 1, 4, 3, 5, 3, 1, 4, 1, 3, 4, 2, 1 ), ( 5, 5, 3, 2, 3, 5, 2, 4, 2, 5, 4, 5, 1, 2, 4, 3, 3, 4, 1, 4, 3, 4 ), ( 5, 3, 2, 2, 4, 1, 2, 5, 3, 1, 2, 5, 5, 5, 2, 4, 5, 3, 4, 3, 1, 1 ), ( 1, 5, 2, 2, 5, 1, 2, 5, 2, 2, 2, 2, 4, 5, 4, 4, 1, 2, 3, 2, 4, 3 ), ( 3, 1, 3, 4, 1, 1, 5, 4, 4, 2, 1, 1, 1, 3, 5, 2, 3, 5, 5, 1, 5, 1 ), ( 3, 4, 1, 1, 2, 2, 1, 2, 4, 4, 3, 2, 1, 1, 3, 3, 5, 3, 4, 5, 1, 5 )
)
''',
)

register_regress(
    "regress_qpdt_c_inner4",
    r'''
SELECT
 DT117.C313 AS c1
 , DT116.C148 AS c2
 , DT116.C144 AS c3
 , DT118.C715 AS c4
 , DT116.C151 AS c5
 , DT116.C149 AS c6
 , DT115.C219 AS c7
 , DT117.C300 AS c8
 , DT115.C222 AS c9
 , DT118.C713 AS c10
 , DT116.C141 AS c11
 , DT117.C312 AS c12
 , DT115.C229 AS c13
FROM
	(
		(
			T26 DT117
		INNER JOIN
			T6 DT114
		ON
			DT117.C315 = DT114.C88
		)
	INNER JOIN
		(
			T18 DT115
		INNER JOIN
			(
				T59 DT118
			INNER JOIN
				T10 DT116
			ON
				DT118.C713 < DT116.C148
			)
		ON
			DT115.C220 = DT118.C714
		)
	ON
		DT114.C78 = DT115.C222
	)
WHERE
	(
		DT114.C79 < DT116.C141
	)
	OR
	(
		(
			(
				DT117.C311 > DT116.C147
			)
			AND
			(
				DT115.C222 = DT115.C229
			)
		)
		AND
		(
			(
				DT118.C713 = DT116.C144
			)
			OR
			(
				DT117.C306 = DT114.C80
			)
		)
	)
ORDER BY
	DT117.C313
	, DT116.C148
	, DT116.C144
	, DT118.C715
	, DT116.C151
	, DT116.C149
	, DT115.C219
	, DT117.C300
	, DT115.C222
	, DT118.C713
	, DT116.C141
	, DT117.C312
	, DT115.C229
LIMIT 295
''',
    "src/test/regress/sql/qp_derived_table.sql query #404 — class inner4+-limit (49 members): 5+-table inner chain. Tables T6, T10, T18, T26, T59 carry the file's exact 10-row INSERT data as CTEs.",
    tags=("qpdt",),
    prelude=r'''
WITH t6(c75, c76, c77, c78, c79, c80, c81, c82, c83, c84, c85, c86, c87, c88) AS (
  VALUES (CAST(3 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(1 AS INT)), ( 2, 4, 5, 2, 3, 5, 2, 3, 2, 5, 1, 4, 3, 3 ), ( 2, 5, 4, 4, 1, 2, 2, 2, 2, 3, 2, 2, 3, 3 ), ( 4, 3, 3, 2, 5, 1, 1, 1, 3, 5, 3, 4, 5, 1 ), ( 4, 5, 4, 1, 5, 5, 3, 2, 3, 2, 5, 2, 5, 3 ), ( 3, 3, 1, 3, 1, 5, 1, 4, 5, 5, 3, 5, 4, 1 ), ( 1, 4, 1, 3, 2, 5, 3, 1, 3, 1, 5, 3, 5, 2 ), ( 1, 3, 4, 3, 2, 4, 4, 5, 3, 4, 2, 2, 3, 5 ), ( 2, 4, 5, 1, 2, 4, 1, 2, 2, 5, 1, 1, 1, 3 ), ( 1, 5, 1, 3, 2, 2, 5, 2, 5, 3, 4, 2, 3, 2 )
),
t10(c138, c139, c140, c141, c142, c143, c144, c145, c146, c147, c148, c149, c150, c151) AS (
  VALUES (CAST(5 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(2 AS INT)), ( 5, 1, 1, 1, 5, 2, 1, 4, 5, 5, 4, 1, 3, 3 ), ( 2, 4, 5, 2, 4, 3, 1, 1, 1, 1, 2, 4, 3, 1 ), ( 4, 4, 1, 1, 3, 4, 4, 5, 2, 4, 3, 1, 2, 1 ), ( 3, 3, 4, 4, 2, 1, 1, 3, 1, 5, 1, 3, 1, 1 ), ( 5, 1, 3, 3, 4, 4, 2, 4, 1, 4, 3, 2, 5, 3 ), ( 3, 2, 2, 1, 3, 4, 4, 4, 3, 3, 3, 2, 5, 3 ), ( 4, 2, 4, 4, 2, 3, 4, 2, 1, 1, 4, 3, 4, 4 ), ( 1, 2, 4, 2, 3, 4, 3, 1, 2, 3, 4, 5, 1, 5 ), ( 2, 3, 1, 4, 4, 3, 5, 3, 5, 1, 3, 1, 5, 3 )
),
t18(c219, c220, c221, c222, c223, c224, c225, c226, c227, c228, c229) AS (
  VALUES (CAST(3 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(1 AS INT)), ( 2, 2, 2, 4, 1, 2, 4, 2, 5, 2, 3 ), ( 2, 3, 2, 4, 3, 1, 5, 3, 1, 1, 1 ), ( 5, 5, 3, 1, 5, 5, 2, 5, 1, 4, 1 ), ( 2, 3, 4, 5, 1, 1, 2, 1, 4, 1, 5 ), ( 1, 4, 3, 5, 1, 1, 1, 2, 3, 1, 1 ), ( 4, 4, 4, 2, 1, 2, 4, 4, 4, 4, 5 ), ( 1, 1, 2, 2, 1, 5, 2, 3, 5, 2, 1 ), ( 5, 3, 3, 2, 1, 2, 2, 4, 4, 4, 4 ), ( 2, 1, 2, 1, 1, 4, 4, 5, 4, 4, 5 )
),
t26(c297, c298, c299, c300, c301, c302, c303, c304, c305, c306, c307, c308, c309, c310, c311, c312, c313, c314, c315, c316, c317, c318) AS (
  VALUES (CAST(2 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(5 AS INT)), ( 3, 4, 4, 2, 1, 2, 1, 4, 4, 4, 4, 2, 5, 1, 3, 3, 3, 5, 5, 5, 4, 2 ), ( 3, 1, 1, 1, 3, 2, 3, 1, 3, 3, 4, 1, 3, 5, 1, 5, 1, 1, 2, 2, 4, 4 ), ( 2, 4, 5, 4, 5, 5, 3, 4, 2, 3, 3, 4, 1, 5, 1, 5, 1, 1, 2, 2, 5, 2 ), ( 5, 1, 4, 1, 5, 5, 4, 2, 3, 2, 3, 5, 1, 3, 2, 5, 4, 3, 2, 3, 1, 4 ), ( 3, 4, 1, 5, 2, 5, 4, 2, 3, 5, 3, 2, 2, 1, 2, 4, 2, 2, 4, 3, 5, 4 ), ( 4, 4, 2, 5, 1, 1, 5, 5, 3, 1, 4, 5, 4, 3, 3, 5, 5, 5, 1, 1, 5, 4 ), ( 1, 1, 5, 5, 2, 2, 5, 5, 4, 4, 3, 3, 5, 1, 2, 4, 1, 2, 1, 5, 4, 2 ), ( 1, 3, 2, 4, 1, 3, 5, 5, 1, 2, 4, 4, 1, 1, 3, 1, 4, 1, 4, 2, 2, 1 ), ( 5, 1, 2, 5, 5, 2, 5, 2, 2, 4, 1, 2, 4, 5, 1, 2, 4, 5, 3, 5, 2, 2 )
),
t59(c713, c714, c715, c716) AS (
  VALUES (CAST(2 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(2 AS INT)), ( 1, 5, 1, 1 ), ( 1, 4, 1, 2 ), ( 2, 4, 1, 1 ), ( 1, 2, 5, 5 ), ( 3, 3, 4, 5 ), ( 5, 4, 4, 2 ), ( 5, 5, 4, 2 ), ( 2, 1, 3, 2 ), ( 4, 4, 4, 5 )
)
''',
)

register_regress(
    "regress_qpdt_c_inner3",
    r'''
SELECT
 DT529.C577 AS c1
 , DT532.C818 AS c2
 , DT529.C573 AS c3
 , DT530.C562 AS c4
 , DT529.C568 AS c5
 , DT529.C583 AS c6
 , DT531.C282 AS c7
 , DT530.C558 AS c8
 , DT530.C565 AS c9
 , DT530.C551 AS c10
 , DT530.C556 AS c11
 , DT529.C574 AS c12
 , DT530.C567 AS c13
 , DT530.C555 AS c14
 , DT530.C552 AS c15
 , DT532.C820 AS c16
 , DT532.C819 AS c17
 , DT530.C553 AS c18
 , DT532.C814 AS c19
FROM
	(
		(
			T47 DT530
		INNER JOIN
			T48 DT529
		ON
			DT530.C566 > DT529.C572
		)
	INNER JOIN
		(
			T67 DT532
		INNER JOIN
			T24 DT531
		ON
			DT532.C820 = DT531.C279
		)
	ON
		DT530.C557 <> DT531.C280
	)
WHERE
	(
		(
			DT530.C552 < DT529.C573
		)
		AND
		(
			(
				DT530.C557 > DT532.C809
			)
			OR
			(
				DT532.C811 = DT530.C557
			)
		)
	)
	AND
	(
		DT529.C578 > DT530.C556
	)
ORDER BY
	DT529.C577
	, DT532.C818
	, DT529.C573
	, DT530.C562
	, DT529.C568
	, DT529.C583
	, DT531.C282
	, DT530.C558
	, DT530.C565
	, DT530.C551
	, DT530.C556
	, DT529.C574
	, DT530.C567
	, DT530.C555
	, DT530.C552
	, DT532.C820
	, DT532.C819
	, DT530.C553
	, DT532.C814
LIMIT 246
''',
    "src/test/regress/sql/qp_derived_table.sql query #146 — class inner3-limit (46 members): 4-table inner chain. Tables T24, T47, T48, T67 carry the file's exact 10-row INSERT data as CTEs.",
    tags=("qpdt",),
    prelude=r'''
WITH t24(c279, c280, c281, c282) AS (
  VALUES (CAST(3 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(3 AS INT)), ( 2, 1, 1, 4 ), ( 1, 4, 4, 3 ), ( 4, 3, 2, 3 ), ( 2, 2, 4, 4 ), ( 3, 4, 4, 2 ), ( 3, 1, 3, 2 ), ( 2, 5, 1, 1 ), ( 2, 5, 2, 3 ), ( 2, 5, 5, 5 )
),
t47(c548, c549, c550, c551, c552, c553, c554, c555, c556, c557, c558, c559, c560, c561, c562, c563, c564, c565, c566, c567) AS (
  VALUES (CAST(1 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(3 AS INT)), ( 3, 2, 3, 1, 1, 5, 5, 3, 2, 5, 4, 4, 3, 5, 1, 3, 4, 3, 4, 2 ), ( 5, 5, 1, 2, 3, 3, 5, 4, 3, 1, 3, 1, 4, 3, 2, 3, 1, 1, 5, 5 ), ( 2, 2, 1, 4, 4, 2, 5, 4, 2, 1, 4, 1, 2, 3, 5, 2, 3, 5, 1, 5 ), ( 5, 1, 2, 5, 5, 4, 3, 2, 4, 4, 1, 2, 1, 1, 3, 4, 2, 1, 2, 2 ), ( 4, 1, 5, 5, 2, 4, 1, 5, 3, 5, 5, 3, 4, 1, 4, 4, 4, 4, 2, 3 ), ( 3, 3, 4, 5, 3, 1, 1, 3, 3, 3, 1, 4, 5, 2, 1, 4, 3, 1, 3, 2 ), ( 4, 3, 2, 1, 5, 3, 5, 3, 4, 2, 4, 3, 4, 1, 5, 3, 5, 1, 1, 3 ), ( 4, 5, 5, 2, 3, 1, 2, 2, 5, 5, 3, 4, 5, 2, 1, 1, 2, 5, 1, 5 ), ( 3, 4, 5, 3, 1, 3, 3, 4, 5, 3, 5, 1, 1, 4, 1, 5, 2, 1, 1, 2 )
),
t48(c568, c569, c570, c571, c572, c573, c574, c575, c576, c577, c578, c579, c580, c581, c582, c583, c584, c585) AS (
  VALUES (CAST(1 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(4 AS INT)), ( 3, 2, 1, 5, 4, 4, 3, 4, 2, 3, 3, 5, 1, 2, 3, 5, 2, 2 ), ( 3, 4, 4, 4, 1, 3, 2, 4, 2, 2, 5, 4, 5, 4, 5, 4, 1, 4 ), ( 3, 2, 1, 5, 2, 4, 5, 4, 1, 4, 2, 3, 1, 3, 4, 5, 5, 2 ), ( 4, 3, 1, 4, 5, 3, 3, 4, 2, 2, 3, 1, 1, 4, 1, 1, 4, 4 ), ( 4, 2, 3, 4, 3, 3, 3, 4, 4, 3, 1, 1, 3, 5, 3, 4, 3, 1 ), ( 2, 4, 1, 4, 4, 2, 4, 3, 1, 1, 5, 5, 1, 3, 4, 2, 5, 2 ), ( 5, 5, 3, 2, 4, 3, 1, 1, 2, 5, 4, 1, 4, 5, 5, 1, 5, 5 ), ( 1, 2, 3, 2, 4, 4, 4, 3, 5, 3, 5, 1, 1, 1, 3, 4, 4, 5 ), ( 4, 5, 5, 3, 3, 4, 2, 4, 2, 5, 3, 2, 2, 3, 5, 5, 4, 5 )
),
t67(c809, c810, c811, c812, c813, c814, c815, c816, c817, c818, c819, c820) AS (
  VALUES (CAST(4 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(4 AS INT)), ( 2, 2, 2, 3, 2, 5, 5, 4, 2, 1, 4, 4 ), ( 1, 4, 3, 2, 5, 4, 2, 4, 5, 5, 1, 5 ), ( 3, 2, 3, 2, 2, 3, 3, 2, 4, 2, 5, 2 ), ( 2, 4, 5, 3, 2, 4, 5, 3, 3, 1, 1, 3 ), ( 5, 3, 1, 1, 5, 3, 3, 1, 4, 2, 4, 4 ), ( 5, 3, 3, 5, 2, 1, 2, 5, 2, 1, 3, 5 ), ( 1, 3, 1, 4, 2, 3, 2, 5, 5, 5, 5, 2 ), ( 4, 2, 3, 2, 2, 4, 4, 3, 2, 1, 2, 5 ), ( 4, 2, 1, 3, 5, 2, 1, 2, 1, 5, 5, 1 )
)
''',
)

register_regress(
    "regress_qpdt_c_loj_only",
    r'''
SELECT
 DT175.C188 AS c1
 , DT175.C192 AS c2
 , DT175.C186 AS c3
 , DT176.C126 AS c4
 , DT174.C1089 AS c5
 , DT175.C191 AS c6
 , DT174.C1079 AS c7
 , DT174.C1091 AS c8
 , DT174.C1081 AS c9
 , DT174.C1083 AS c10
 , DT175.C193 AS c11
 , DT176.C132 AS c12
 , DT176.C136 AS c13
 , DT176.C128 AS c14
 , DT176.C134 AS c15
 , DT174.C1084 AS c16
 , DT174.C1086 AS c17
 , DT174.C1087 AS c18
 , DT175.C194 AS c19
 , DT175.C187 AS c20
 , DT174.C1090 AS c21
 , DT175.C189 AS c22
 , DT174.C1092 AS c23
 , DT175.C196 AS c24
 , DT175.C195 AS c25
 , DT175.C199 AS c26
FROM
	(
		T15 DT175
	CROSS JOIN
		(
			T90 DT174
		LEFT OUTER JOIN
			T9 DT176
		ON
			DT174.C1091 = DT176.C126
		)
	)
WHERE
	(
		DT176.C132 = DT176.C126
	)
	OR
	(
		(
			DT174.C1081 < DT175.C193
		)
		OR
		(
			(
				DT176.C134 < DT174.C1079
			)
			AND
			(
				DT174.C1084 = DT175.C197
			)
		)
	)
ORDER BY
	DT175.C188
	, DT175.C192
	, DT175.C186
	, DT176.C126
	, DT174.C1089
	, DT175.C191
	, DT174.C1079
	, DT174.C1091
	, DT174.C1081
	, DT174.C1083
	, DT175.C193
	, DT176.C132
	, DT176.C136
	, DT176.C128
	, DT176.C134
	, DT174.C1084
	, DT174.C1086
	, DT174.C1087
	, DT175.C194
	, DT175.C187
	, DT174.C1090
	, DT175.C189
	, DT174.C1092
	, DT175.C196
	, DT175.C195
	, DT175.C199
LIMIT 288
''',
    "src/test/regress/sql/qp_derived_table.sql query #623 — class inner0-loj1-limit (18 members): single LEFT OUTER JOIN, no inner joins. Tables T9, T15, T90 carry the file's exact 10-row INSERT data as CTEs.",
    tags=("qpdt",),
    prelude=r'''
WITH t9(c126, c127, c128, c129, c130, c131, c132, c133, c134, c135, c136, c137) AS (
  VALUES (CAST(3 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(1 AS INT)), ( 4, 5, 5, 1, 1, 3, 1, 4, 3, 1, 5, 5 ), ( 4, 4, 4, 2, 2, 1, 1, 4, 2, 1, 2, 2 ), ( 1, 1, 3, 2, 4, 4, 3, 1, 4, 5, 3, 2 ), ( 5, 1, 2, 4, 4, 4, 3, 3, 5, 3, 3, 4 ), ( 3, 4, 3, 4, 2, 2, 3, 1, 3, 4, 3, 4 ), ( 5, 1, 2, 4, 4, 5, 3, 3, 2, 2, 4, 2 ), ( 4, 3, 1, 5, 1, 4, 2, 3, 1, 2, 5, 4 ), ( 5, 3, 2, 1, 4, 5, 5, 4, 1, 4, 3, 1 ), ( 3, 5, 5, 2, 3, 4, 5, 4, 1, 5, 5, 4 )
),
t15(c186, c187, c188, c189, c190, c191, c192, c193, c194, c195, c196, c197, c198, c199) AS (
  VALUES (CAST(1 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(2 AS INT)), ( 1, 2, 5, 5, 3, 1, 2, 1, 5, 1, 5, 4, 4, 1 ), ( 5, 4, 1, 3, 5, 3, 5, 2, 2, 2, 2, 1, 3, 1 ), ( 1, 3, 4, 4, 5, 4, 5, 1, 2, 4, 3, 2, 1, 5 ), ( 5, 5, 5, 3, 2, 3, 4, 1, 1, 4, 5, 1, 4, 1 ), ( 2, 4, 2, 3, 3, 3, 4, 2, 5, 1, 5, 3, 4, 2 ), ( 4, 3, 2, 4, 3, 5, 5, 4, 4, 1, 2, 1, 1, 4 ), ( 4, 3, 2, 1, 5, 1, 3, 1, 1, 4, 1, 1, 4, 2 ), ( 4, 4, 1, 4, 5, 4, 5, 3, 2, 2, 1, 3, 3, 2 ), ( 4, 1, 4, 4, 4, 2, 2, 3, 3, 4, 3, 1, 5, 1 )
),
t90(c1079, c1080, c1081, c1082, c1083, c1084, c1085, c1086, c1087, c1088, c1089, c1090, c1091, c1092) AS (
  VALUES (CAST(4 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(2 AS INT)), ( 4, 3, 2, 2, 4, 4, 4, 3, 1, 5, 1, 2, 4, 3 ), ( 1, 1, 1, 5, 3, 2, 3, 3, 1, 4, 1, 5, 4, 1 ), ( 1, 2, 1, 2, 1, 1, 5, 1, 5, 2, 5, 1, 2, 3 ), ( 4, 5, 2, 1, 3, 1, 4, 2, 2, 4, 2, 1, 3, 3 ), ( 3, 2, 2, 5, 4, 5, 4, 4, 2, 3, 1, 1, 5, 2 ), ( 5, 5, 5, 2, 3, 4, 4, 1, 3, 5, 2, 2, 4, 3 ), ( 5, 4, 2, 3, 3, 3, 1, 5, 3, 3, 3, 5, 4, 4 ), ( 2, 1, 4, 3, 2, 5, 4, 3, 5, 3, 4, 3, 1, 2 ), ( 4, 2, 3, 4, 3, 5, 1, 3, 2, 3, 5, 2, 1, 5 )
)
''',
)

register_regress(
    "regress_qpdt_c_roj_only",
    r'''
SELECT
 DT166.C1205 AS c1
 , DT165.C309 AS c2
 , DT165.C316 AS c3
 , DT165.C310 AS c4
 , DT165.C313 AS c5
 , DT166.C1208 AS c6
 , DT165.C298 AS c7
 , DT165.C300 AS c8
 , DT165.C301 AS c9
 , DT165.C314 AS c10
 , DT165.C303 AS c11
 , DT165.C306 AS c12
 , DT165.C315 AS c13
 , DT165.C297 AS c14
 , DT165.C305 AS c15
 , DT165.C304 AS c16
 , DT165.C308 AS c17
 , DT166.C1207 AS c18
 , DT165.C299 AS c19
 , DT165.C307 AS c20
 , DT166.C1206 AS c21
FROM
	(
		T26 DT165
	RIGHT OUTER JOIN
		T99 DT166
	ON
		DT165.C308 = DT166.C1208
	)
WHERE
	(
		DT166.C1205 <> DT165.C312
	)
	OR
	(
		DT166.C1206 <> DT165.C312
	)
ORDER BY
	DT166.C1205
	, DT165.C309
	, DT165.C316
	, DT165.C310
	, DT165.C313
	, DT166.C1208
	, DT165.C298
	, DT165.C300
	, DT165.C301
	, DT165.C314
	, DT165.C303
	, DT165.C306
	, DT165.C315
	, DT165.C297
	, DT165.C305
	, DT165.C304
	, DT165.C308
	, DT166.C1207
	, DT165.C299
	, DT165.C307
	, DT166.C1206
LIMIT 829
''',
    "src/test/regress/sql/qp_derived_table.sql query #620 — class inner0-roj1-limit (16 members): single RIGHT OUTER JOIN. Tables T26, T99 carry the file's exact 10-row INSERT data as CTEs.",
    tags=("qpdt",),
    prelude=r'''
WITH t26(c297, c298, c299, c300, c301, c302, c303, c304, c305, c306, c307, c308, c309, c310, c311, c312, c313, c314, c315, c316, c317, c318) AS (
  VALUES (CAST(2 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(5 AS INT)), ( 3, 4, 4, 2, 1, 2, 1, 4, 4, 4, 4, 2, 5, 1, 3, 3, 3, 5, 5, 5, 4, 2 ), ( 3, 1, 1, 1, 3, 2, 3, 1, 3, 3, 4, 1, 3, 5, 1, 5, 1, 1, 2, 2, 4, 4 ), ( 2, 4, 5, 4, 5, 5, 3, 4, 2, 3, 3, 4, 1, 5, 1, 5, 1, 1, 2, 2, 5, 2 ), ( 5, 1, 4, 1, 5, 5, 4, 2, 3, 2, 3, 5, 1, 3, 2, 5, 4, 3, 2, 3, 1, 4 ), ( 3, 4, 1, 5, 2, 5, 4, 2, 3, 5, 3, 2, 2, 1, 2, 4, 2, 2, 4, 3, 5, 4 ), ( 4, 4, 2, 5, 1, 1, 5, 5, 3, 1, 4, 5, 4, 3, 3, 5, 5, 5, 1, 1, 5, 4 ), ( 1, 1, 5, 5, 2, 2, 5, 5, 4, 4, 3, 3, 5, 1, 2, 4, 1, 2, 1, 5, 4, 2 ), ( 1, 3, 2, 4, 1, 3, 5, 5, 1, 2, 4, 4, 1, 1, 3, 1, 4, 1, 4, 2, 2, 1 ), ( 5, 1, 2, 5, 5, 2, 5, 2, 2, 4, 1, 2, 4, 5, 1, 2, 4, 5, 3, 5, 2, 2 )
),
t99(c1204, c1205, c1206, c1207, c1208) AS (
  VALUES (CAST(5 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(1 AS INT)), ( 1, 1, 1, 1, 1 ), ( 2, 2, 1, 4, 2 ), ( 4, 1, 5, 4, 5 ), ( 1, 1, 2, 2, 1 ), ( 3, 3, 5, 2, 2 ), ( 3, 1, 5, 1, 1 ), ( 4, 4, 2, 3, 1 ), ( 2, 1, 4, 2, 4 ), ( 4, 5, 5, 2, 3 )
)
''',
)

register_regress(
    "regress_qpdt_c_inner3_tochar",
    r'''
SELECT
 to_char(AVG( DT300.C973 ), '9999999.9999999') AS c1
 , DT301.C1057 AS c2
FROM
	(
		T78 DT300
	INNER JOIN
		(
			(
				T87 DT301
			INNER JOIN
				T37 DT299
			ON
				DT301.C1057 <> DT299.C439
			)
		INNER JOIN
			T71 DT302
		ON
			DT301.C1058 = DT302.C862
		)
	ON
		DT300.C970 > DT301.C1058
	)
WHERE
	(
		DT301.C1062 > DT300.C967
	)
	AND
	(
		DT302.C866 > DT302.C860
	)
GROUP BY
	DT300.C973
	, DT301.C1057
	, DT301.C1056
ORDER BY
	AVG( DT300.C973 )
	, DT301.C1057
LIMIT 686
''',
    "src/test/regress/sql/qp_derived_table.sql query #68 — class inner3-groupby-limit-tochar (14 members): to_char-rendered AVG with quoted expression alias. Tables T37, T71, T78, T87 carry the file's exact 10-row INSERT data as CTEs.",
    tags=("qpdt",),
    oracle=r'''
SELECT
 printf('%15.7f', AVG( DT300.C973 )) AS c1
 , DT301.C1057 AS c2
FROM
	(
		T78 DT300
	INNER JOIN
		(
			(
				T87 DT301
			INNER JOIN
				T37 DT299
			ON
				DT301.C1057 <> DT299.C439
			)
		INNER JOIN
			T71 DT302
		ON
			DT301.C1058 = DT302.C862
		)
	ON
		DT300.C970 > DT301.C1058
	)
WHERE
	(
		DT301.C1062 > DT300.C967
	)
	AND
	(
		DT302.C866 > DT302.C860
	)
GROUP BY
	DT300.C973
	, DT301.C1057
	, DT301.C1056
ORDER BY
	AVG( DT300.C973 )
	, DT301.C1057
LIMIT 686
''',
    prelude=r'''
WITH t37(c438, c439, c440) AS (
  VALUES (CAST(5 AS INT), CAST(4 AS INT), CAST(4 AS INT)), ( 2, 1, 1 ), ( 3, 2, 2 ), ( 4, 2, 4 ), ( 3, 3, 4 ), ( 1, 5, 5 ), ( 4, 1, 1 ), ( 4, 2, 3 ), ( 1, 3, 3 ), ( 3, 5, 5 )
),
t71(c860, c861, c862, c863, c864, c865, c866) AS (
  VALUES (CAST(4 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(5 AS INT)), ( 5, 3, 1, 4, 2, 3, 5 ), ( 4, 1, 5, 5, 2, 2, 2 ), ( 3, 3, 1, 5, 1, 3, 3 ), ( 4, 3, 5, 2, 3, 5, 1 ), ( 3, 5, 3, 4, 5, 2, 3 ), ( 1, 4, 5, 4, 4, 2, 4 ), ( 5, 5, 4, 5, 3, 4, 1 ), ( 1, 3, 2, 4, 4, 5, 1 ), ( 4, 2, 3, 2, 2, 1, 2 )
),
t78(c965, c966, c967, c968, c969, c970, c971, c972, c973, c974, c975, c976, c977, c978) AS (
  VALUES (CAST(5 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(3 AS INT)), ( 2, 4, 5, 4, 1, 5, 2, 5, 3, 1, 5, 3, 1, 4 ), ( 2, 4, 5, 5, 4, 1, 4, 4, 3, 5, 3, 5, 5, 3 ), ( 2, 4, 1, 4, 4, 2, 3, 3, 5, 2, 2, 1, 3, 4 ), ( 2, 2, 3, 1, 2, 1, 4, 2, 2, 3, 5, 3, 5, 1 ), ( 5, 4, 3, 5, 5, 5, 4, 5, 4, 4, 2, 1, 2, 2 ), ( 5, 2, 1, 2, 3, 3, 1, 5, 2, 3, 4, 5, 5, 5 ), ( 1, 1, 3, 3, 5, 5, 5, 3, 2, 3, 1, 3, 2, 2 ), ( 5, 4, 2, 1, 5, 3, 4, 2, 5, 2, 5, 1, 1, 4 ), ( 4, 3, 5, 2, 1, 5, 1, 2, 5, 3, 2, 2, 3, 4 )
),
t87(c1056, c1057, c1058, c1059, c1060, c1061, c1062, c1063) AS (
  VALUES (CAST(4 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(2 AS INT)), ( 4, 1, 3, 3, 5, 1, 1, 1 ), ( 5, 5, 1, 1, 2, 1, 5, 4 ), ( 3, 1, 3, 5, 1, 5, 2, 3 ), ( 4, 5, 2, 3, 2, 3, 2, 4 ), ( 2, 1, 5, 2, 5, 4, 5, 3 ), ( 4, 2, 4, 3, 5, 5, 1, 3 ), ( 2, 5, 2, 2, 2, 5, 5, 2 ), ( 2, 5, 2, 4, 2, 4, 3, 2 ), ( 2, 3, 1, 2, 1, 1, 4, 2 )
)
''',
)

register_regress(
    "regress_qpdt_c_roj_groupby",
    r'''
SELECT
 MAX( DT184.C1034 ) AS c1
FROM
	(
		(
			T59 DT183
		RIGHT OUTER JOIN
			T85 DT184
		ON
			DT183.C715 < DT184.C1038
		)
	INNER JOIN
		T39 DT182
	ON
		DT184.C1035 > DT182.C444
	)
WHERE
	(
		DT183.C715 < DT183.C714
	)
	OR
	(
		DT183.C716 = DT184.C1038
	)
GROUP BY
	DT184.C1034
	, DT182.C446
ORDER BY
	MAX( DT184.C1034 )
LIMIT 516
''',
    "src/test/regress/sql/qp_derived_table.sql query #28 — class inner1-roj1-groupby-limit (13 members). Tables T39, T59, T85 carry the file's exact 10-row INSERT data as CTEs.",
    tags=("qpdt",),
    prelude=r'''
WITH t39(c444, c445, c446) AS (
  VALUES (CAST(1 AS INT), CAST(3 AS INT), CAST(2 AS INT)), ( 2, 1, 2 ), ( 5, 5, 4 ), ( 3, 2, 3 ), ( 5, 3, 3 ), ( 5, 5, 3 ), ( 4, 4, 4 ), ( 4, 2, 3 ), ( 1, 1, 3 ), ( 1, 2, 3 )
),
t59(c713, c714, c715, c716) AS (
  VALUES (CAST(2 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(2 AS INT)), ( 1, 5, 1, 1 ), ( 1, 4, 1, 2 ), ( 2, 4, 1, 1 ), ( 1, 2, 5, 5 ), ( 3, 3, 4, 5 ), ( 5, 4, 4, 2 ), ( 5, 5, 4, 2 ), ( 2, 1, 3, 2 ), ( 4, 4, 4, 5 )
),
t85(c1029, c1030, c1031, c1032, c1033, c1034, c1035, c1036, c1037, c1038, c1039, c1040, c1041, c1042, c1043, c1044, c1045, c1046) AS (
  VALUES (CAST(2 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(3 AS INT)), ( 2, 4, 4, 2, 4, 4, 4, 1, 1, 2, 1, 3, 2, 4, 5, 3, 1, 5 ), ( 5, 2, 2, 1, 2, 1, 1, 1, 1, 5, 2, 3, 4, 4, 5, 1, 5, 2 ), ( 3, 5, 1, 2, 4, 5, 2, 1, 5, 5, 3, 1, 3, 3, 3, 2, 1, 5 ), ( 4, 4, 3, 1, 2, 2, 4, 5, 4, 1, 2, 1, 3, 3, 1, 1, 3, 2 ), ( 1, 5, 3, 2, 2, 4, 4, 1, 1, 5, 3, 5, 2, 5, 2, 3, 3, 2 ), ( 3, 1, 3, 1, 3, 5, 2, 1, 5, 3, 5, 5, 5, 3, 1, 5, 5, 4 ), ( 1, 2, 2, 1, 1, 5, 1, 3, 2, 2, 2, 5, 3, 5, 3, 1, 4, 1 ), ( 4, 1, 5, 2, 5, 2, 4, 1, 4, 4, 5, 2, 3, 3, 3, 3, 5, 2 ), ( 1, 1, 3, 5, 4, 4, 5, 3, 3, 3, 2, 1, 2, 3, 2, 2, 1, 1 )
)
''',
)

register_regress(
    "regress_qpdt_c_loj_inner",
    r'''
SELECT
 DT161.C868 AS c1
 , DT160.C320 AS c2
 , DT161.C870 AS c3
 , DT161.C882 AS c4
 , DT161.C869 AS c5
 , DT158.C449 AS c6
 , DT158.C447 AS c7
 , DT161.C888 AS c8
 , DT159.C835 AS c9
 , DT159.C830 AS c10
 , DT159.C837 AS c11
 , DT161.C883 AS c12
 , DT159.C828 AS c13
 , DT158.C450 AS c14
 , DT161.C881 AS c15
 , DT159.C833 AS c16
 , DT160.C321 AS c17
 , DT159.C836 AS c18
 , DT159.C834 AS c19
 , DT161.C880 AS c20
 , DT161.C875 AS c21
FROM
	(
		(
			T69 DT159
		LEFT OUTER JOIN
			(
				T27 DT160
			INNER JOIN
				T72 DT161
			ON
				DT160.C322 > DT161.C879
			)
		ON
			DT159.C835 <> DT160.C321
		)
	CROSS JOIN
		T40 DT158
	)
WHERE
	(
		DT161.C885 > DT160.C323
	)
	AND
	(
		DT159.C829 = DT161.C876
	)
ORDER BY
	DT161.C868
	, DT160.C320
	, DT161.C870
	, DT161.C882
	, DT161.C869
	, DT158.C449
	, DT158.C447
	, DT161.C888
	, DT159.C835
	, DT159.C830
	, DT159.C837
	, DT161.C883
	, DT159.C828
	, DT158.C450
	, DT161.C881
	, DT159.C833
	, DT160.C321
	, DT159.C836
	, DT159.C834
	, DT161.C880
	, DT161.C875
LIMIT 493
''',
    "src/test/regress/sql/qp_derived_table.sql query #618 — class inner1-loj1-limit (13 members): LOJ above one inner join. Tables T27, T40, T69, T72 carry the file's exact 10-row INSERT data as CTEs.",
    tags=("qpdt",),
    prelude=r'''
WITH t27(c319, c320, c321, c322, c323, c324, c325, c326, c327) AS (
  VALUES (CAST(2 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(4 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(4 AS INT)), ( 3, 1, 3, 3, 1, 2, 3, 1, 1 ), ( 5, 2, 1, 2, 4, 5, 3, 3, 5 ), ( 4, 3, 3, 3, 4, 5, 5, 1, 1 ), ( 3, 3, 2, 1, 2, 1, 3, 2, 3 ), ( 3, 3, 2, 4, 3, 2, 3, 5, 5 ), ( 5, 1, 3, 3, 5, 1, 2, 5, 3 ), ( 1, 4, 3, 4, 5, 5, 2, 4, 2 ), ( 5, 4, 1, 3, 5, 5, 3, 1, 4 ), ( 5, 3, 1, 5, 2, 3, 5, 1, 1 )
),
t40(c447, c448, c449, c450) AS (
  VALUES (CAST(2 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(2 AS INT)), ( 4, 5, 1, 2 ), ( 1, 4, 1, 4 ), ( 3, 2, 4, 2 ), ( 1, 5, 1, 5 ), ( 2, 5, 3, 5 ), ( 4, 4, 5, 4 ), ( 1, 3, 1, 3 ), ( 2, 5, 2, 4 ), ( 2, 4, 1, 4 )
),
t69(c824, c825, c826, c827, c828, c829, c830, c831, c832, c833, c834, c835, c836, c837, c838) AS (
  VALUES (CAST(5 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(3 AS INT)), ( 3, 1, 3, 4, 5, 1, 2, 5, 2, 1, 3, 1, 5, 4, 5 ), ( 2, 5, 4, 4, 1, 3, 1, 4, 2, 3, 5, 2, 4, 1, 3 ), ( 1, 1, 4, 3, 4, 2, 3, 5, 5, 2, 2, 1, 4, 5, 1 ), ( 1, 3, 5, 2, 5, 5, 3, 1, 3, 2, 5, 4, 4, 3, 5 ), ( 5, 4, 5, 5, 1, 5, 2, 2, 5, 1, 3, 5, 2, 2, 5 ), ( 3, 2, 5, 4, 1, 1, 1, 3, 3, 3, 1, 4, 1, 3, 2 ), ( 3, 5, 1, 5, 5, 1, 1, 3, 2, 1, 4, 4, 4, 2, 4 ), ( 4, 4, 2, 5, 5, 4, 4, 1, 1, 5, 2, 3, 5, 4, 5 ), ( 1, 4, 4, 1, 4, 1, 1, 5, 2, 2, 1, 5, 2, 5, 3 )
),
t72(c867, c868, c869, c870, c871, c872, c873, c874, c875, c876, c877, c878, c879, c880, c881, c882, c883, c884, c885, c886, c887, c888) AS (
  VALUES (CAST(2 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(3 AS INT)), ( 4, 1, 4, 2, 3, 4, 2, 2, 2, 2, 2, 5, 1, 3, 4, 3, 2, 3, 3, 2, 3, 5 ), ( 1, 4, 1, 2, 5, 5, 5, 1, 2, 5, 1, 3, 2, 1, 1, 2, 1, 5, 2, 4, 4, 4 ), ( 5, 3, 5, 3, 3, 1, 4, 3, 4, 4, 2, 2, 2, 4, 2, 5, 1, 5, 3, 1, 5, 1 ), ( 2, 5, 4, 4, 2, 3, 3, 4, 1, 1, 3, 2, 4, 1, 4, 3, 2, 2, 2, 1, 1, 2 ), ( 3, 4, 3, 5, 3, 1, 4, 3, 2, 4, 5, 4, 4, 4, 3, 4, 3, 2, 4, 4, 3, 5 ), ( 3, 5, 4, 5, 2, 5, 1, 2, 1, 1, 4, 1, 1, 1, 1, 3, 4, 2, 1, 2, 5, 4 ), ( 3, 3, 2, 2, 5, 4, 2, 3, 4, 5, 4, 1, 1, 2, 4, 5, 2, 2, 3, 4, 4, 2 ), ( 5, 2, 2, 5, 3, 4, 4, 3, 2, 4, 2, 1, 1, 5, 3, 5, 5, 1, 1, 3, 2, 4 ), ( 1, 1, 5, 3, 1, 1, 3, 1, 3, 4, 3, 3, 1, 1, 3, 1, 1, 2, 4, 4, 2, 3 )
)
''',
)

register_regress(
    "regress_qpdt_c_inner1_tochar",
    r'''
SELECT
 DT130.C184 AS c1
 , DT129.C488 AS c2
 , to_char(AVG( DT130.C184 ), '9999999.9999999') AS c3
 , MAX( DT129.C488 ) AS c4
FROM
	(
		T43 DT129
	INNER JOIN
		T14 DT130
	ON
		DT129.C500 > DT130.C183
	)
WHERE
	(
		DT130.C182 = DT129.C494
	)
	AND
	(
		DT129.C492 > DT129.C499
	)
GROUP BY
	DT130.C184
	, DT129.C488
ORDER BY
	DT130.C184
	, DT129.C488
	, AVG( DT130.C184 )
	, MAX( DT129.C488 )
LIMIT 626
''',
    "src/test/regress/sql/qp_derived_table.sql query #11 — class inner1-groupby-limit-tochar (12 members). Tables T14, T43 carry the file's exact 10-row INSERT data as CTEs.",
    tags=("qpdt",),
    oracle=r'''
SELECT
 DT130.C184 AS c1
 , DT129.C488 AS c2
 , printf('%15.7f', AVG( DT130.C184 )) AS c3
 , MAX( DT129.C488 ) AS c4
FROM
	(
		T43 DT129
	INNER JOIN
		T14 DT130
	ON
		DT129.C500 > DT130.C183
	)
WHERE
	(
		DT130.C182 = DT129.C494
	)
	AND
	(
		DT129.C492 > DT129.C499
	)
GROUP BY
	DT130.C184
	, DT129.C488
ORDER BY
	DT130.C184
	, DT129.C488
	, AVG( DT130.C184 )
	, MAX( DT129.C488 )
LIMIT 626
''',
    prelude=r'''
WITH t14(c180, c181, c182, c183, c184, c185) AS (
  VALUES (CAST(1 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(3 AS INT)), ( 3, 5, 4, 2, 3, 3 ), ( 2, 5, 3, 4, 3, 3 ), ( 5, 4, 3, 1, 3, 5 ), ( 1, 3, 1, 5, 4, 3 ), ( 2, 2, 5, 2, 3, 2 ), ( 5, 5, 5, 1, 3, 5 ), ( 4, 2, 3, 4, 1, 2 ), ( 2, 3, 1, 3, 2, 5 ), ( 5, 1, 1, 5, 2, 3 )
),
t43(c487, c488, c489, c490, c491, c492, c493, c494, c495, c496, c497, c498, c499, c500, c501) AS (
  VALUES (CAST(5 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(1 AS INT)), ( 4, 1, 2, 5, 4, 5, 3, 5, 4, 3, 4, 2, 5, 3, 1 ), ( 5, 3, 3, 1, 5, 3, 2, 1, 5, 5, 3, 5, 1, 4, 4 ), ( 3, 2, 1, 4, 3, 3, 5, 1, 1, 3, 3, 5, 4, 5, 4 ), ( 2, 3, 4, 4, 5, 3, 3, 3, 3, 4, 2, 1, 5, 3, 4 ), ( 3, 5, 5, 3, 4, 1, 4, 4, 4, 5, 2, 3, 1, 3, 1 ), ( 5, 5, 3, 4, 3, 1, 2, 2, 5, 2, 4, 2, 1, 5, 3 ), ( 2, 5, 2, 3, 1, 1, 2, 4, 5, 4, 2, 1, 3, 5, 1 ), ( 2, 4, 3, 3, 1, 1, 3, 1, 5, 4, 5, 1, 2, 5, 1 ), ( 3, 3, 3, 4, 1, 1, 2, 3, 2, 5, 4, 2, 5, 1, 3 )
)
''',
)

register_regress(
    "regress_qpdt_c_loj_roj",
    r'''
SELECT
 DT242.C167 AS c1
 , DT242.C178 AS c2
 , DT242.C172 AS c3
 , DT243.C449 AS c4
FROM
	(
		T13 DT242
	LEFT OUTER JOIN
		(
			T40 DT243
		RIGHT OUTER JOIN
			T0 DT241
		ON
			DT243.C450 < DT241.C1
		)
	ON
		DT242.C179 < DT241.C3
	)
WHERE
	(
		DT242.C177 <> DT242.C170
	)
	AND
	(
		(
			DT242.C175 > DT243.C450
		)
		OR
		(
			DT242.C171 > DT242.C178
		)
	)
ORDER BY
	DT242.C167
	, DT242.C178
	, DT242.C172
	, DT243.C449
LIMIT 117
''',
    "src/test/regress/sql/qp_derived_table.sql query #646 — class inner0-loj1-roj1-limit (12 members): LOJ + ROJ, no inner. Tables T0, T13, T40 carry the file's exact 10-row INSERT data as CTEs.",
    tags=("qpdt",),
    prelude=r'''
WITH t0(c0, c1, c2, c3) AS (
  VALUES (CAST(3 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(5 AS INT)),( 3, 4, 4, 4 ),( 5, 4, 5, 5 ),( 1, 1, 4, 3 ),( 2, 3, 2, 4 ),( 4, 4, 3, 1 ),( 2, 2, 5, 2 ),( 5, 2, 3, 2 ),( 4, 5, 4, 1 ),( 2, 3, 2, 5 )
),
t13(c164, c165, c166, c167, c168, c169, c170, c171, c172, c173, c174, c175, c176, c177, c178, c179) AS (
  VALUES (CAST(5 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(4 AS INT)), ( 3, 3, 4, 5, 1, 5, 4, 5, 3, 1, 2, 3, 1, 4, 1, 3 ), ( 2, 2, 1, 1, 2, 1, 1, 4, 2, 4, 4, 5, 4, 5, 2, 2 ), ( 5, 2, 5, 5, 1, 1, 4, 2, 4, 4, 2, 3, 5, 1, 4, 2 ), ( 4, 5, 4, 4, 1, 1, 2, 2, 4, 1, 1, 2, 1, 5, 1, 3 ), ( 4, 5, 4, 1, 3, 4, 3, 1, 3, 1, 3, 1, 5, 1, 1, 2 ), ( 1, 5, 3, 4, 2, 3, 3, 4, 2, 4, 1, 3, 1, 4, 4, 4 ), ( 3, 3, 3, 2, 1, 3, 3, 5, 4, 4, 2, 4, 5, 4, 1, 5 ), ( 1, 3, 5, 3, 4, 2, 1, 5, 1, 3, 5, 3, 5, 5, 5, 1 ), ( 3, 2, 2, 4, 2, 2, 3, 2, 4, 3, 1, 1, 4, 2, 2, 4 )
),
t40(c447, c448, c449, c450) AS (
  VALUES (CAST(2 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(2 AS INT)), ( 4, 5, 1, 2 ), ( 1, 4, 1, 4 ), ( 3, 2, 4, 2 ), ( 1, 5, 1, 5 ), ( 2, 5, 3, 5 ), ( 4, 4, 5, 4 ), ( 1, 3, 1, 3 ), ( 2, 5, 2, 4 ), ( 2, 4, 1, 4 )
)
''',
)

register_regress(
    "regress_qpdt_c_derived_scalarsub",
    r'''
SELECT
 MAX( DT244.C404 ) AS c1
 , DT245.C438 AS c2
 , DT244.C405 AS c3
 , (
	SELECT
		DT254.C1456
	FROM
		(
		SELECT
			DT251.C143
			, DT253.C285
			, DT251.C139
			, DT251.C142
			, DT253.C291
			, DT253.C295
			, DT252.C221
			, DT253.C292
			, DT253.C286
			, DT252.C222
			, DT253.C294
		FROM
			(
				(
					T25 DT253
				INNER JOIN
					T10 DT251
				ON
					DT253.C287 = DT251.C139
				)
			INNER JOIN
				(
					T18 DT252
				INNER JOIN
					(
					SELECT
						MAX( DT248.C466 )
					FROM
						(
							(
								(
									T69 DT249
								INNER JOIN
									T21 DT247
								ON
									DT249.C833 = DT247.C253
								)
							INNER JOIN
								T4 DT246
							ON
								DT247.C255 = DT246.C53
							)
						INNER JOIN
							T41 DT248
						ON
							DT249.C828 <> DT248.C470
						)
					WHERE
						(
							DT248.C468 > DT247.C248
						)
						AND
						(
							DT248.C463 > DT248.C470
						)
					GROUP BY
						DT248.C466
						, DT247.C248
					ORDER BY
						MAX( DT248.C466 )
					LIMIT 304
					)  DT250 ( C1445 ) 
				ON
					DT252.C224 = DT250.C1445
				)
			ON
				DT251.C138 = DT252.C223
			)
		WHERE
			(
				DT253.C287 <> DT253.C288
			)
			OR
			(
				DT252.C222 = DT252.C228
			)
		ORDER BY
			DT251.C143
			, DT253.C285
			, DT251.C139
			, DT251.C142
			, DT253.C291
			, DT253.C295
			, DT252.C221
			, DT253.C292
			, DT253.C286
			, DT252.C222
			, DT253.C294
		LIMIT 404
		) AS DT254 ( C1446, C1447, C1448, C1449, C1450, C1451, C1452, C1453, C1454, C1455, C1456 ) 
	
	ORDER BY
		DT254.C1456
	LIMIT 1
	) AS c1458
FROM
	(
		(
			T37 DT245
		INNER JOIN
			(
			SELECT
				DT241.C1166
				, DT242.C696
				, SUM( DT242.C696 )
				, MAX( DT241.C1166 )
			FROM
				(
					T94 DT241
				INNER JOIN
					T57 DT242
				ON
					DT241.C1156 <> DT242.C689
				)
			WHERE
				(
					DT241.C1146 = DT241.C1149
				)
				AND
				(
					DT242.C688 < DT242.C687
				)
			GROUP BY
				DT241.C1166
				, DT242.C696
			ORDER BY
				DT241.C1166
				, DT242.C696
				, SUM( DT242.C696 )
				, MAX( DT241.C1166 )
			LIMIT 759
			) AS DT243 ( C1438, C1439, C1440, C1441 ) 
		ON
			DT245.C439 <> DT243.C1438
		)
	INNER JOIN
		T34 DT244
	ON
		DT243.C1440 < DT244.C406
	)
WHERE
	(
		DT245.C440 = DT244.C402
	)
	OR
	(
		DT244.C410 > DT244.C405
	)
GROUP BY
	DT245.C438
	, DT244.C404
	, DT244.C405
ORDER BY
	MAX( DT244.C404 )
	, DT245.C438
	, DT244.C405
	, C1458
LIMIT 321
''',
    "src/test/regress/sql/qp_derived_table.sql query #816 — class inner4+-derived-aliaslist-scalarsub-groupby-limit (11 members). Tables T4, T10, T18, T21, T25, T34, T37, T41, T57, T69, T94 carry the file's exact 10-row INSERT data as CTEs.",
    tags=("qpdt",),
    prelude=r'''
WITH t4(c53, c54, c55, c56, c57, c58, c59, c60, c61, c62, c63, c64, c65) AS (
  VALUES (CAST(4 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(2 AS INT)),( 1, 5, 1, 2, 4, 3, 2, 1, 1, 4, 3, 3, 3 ), ( 3, 4, 1, 4, 1, 3, 1, 5, 4, 1, 4, 2, 3 ), ( 5, 1, 1, 2, 1, 1, 3, 1, 2, 2, 5, 5, 5 ), ( 4, 4, 2, 3, 2, 2, 4, 4, 1, 2, 2, 1, 3 ), ( 5, 4, 3, 1, 1, 4, 3, 4, 4, 5, 4, 3, 4 ), ( 4, 2, 4, 1, 2, 1, 2, 1, 2, 4, 4, 2, 3 ), ( 3, 4, 1, 2, 1, 4, 4, 4, 1, 2, 2, 1, 5 ), ( 3, 2, 5, 4, 4, 1, 1, 5, 5, 4, 3, 5, 5 ), ( 3, 4, 5, 4, 3, 2, 3, 4, 2, 3, 4, 2, 1 )
),
t10(c138, c139, c140, c141, c142, c143, c144, c145, c146, c147, c148, c149, c150, c151) AS (
  VALUES (CAST(5 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(2 AS INT)), ( 5, 1, 1, 1, 5, 2, 1, 4, 5, 5, 4, 1, 3, 3 ), ( 2, 4, 5, 2, 4, 3, 1, 1, 1, 1, 2, 4, 3, 1 ), ( 4, 4, 1, 1, 3, 4, 4, 5, 2, 4, 3, 1, 2, 1 ), ( 3, 3, 4, 4, 2, 1, 1, 3, 1, 5, 1, 3, 1, 1 ), ( 5, 1, 3, 3, 4, 4, 2, 4, 1, 4, 3, 2, 5, 3 ), ( 3, 2, 2, 1, 3, 4, 4, 4, 3, 3, 3, 2, 5, 3 ), ( 4, 2, 4, 4, 2, 3, 4, 2, 1, 1, 4, 3, 4, 4 ), ( 1, 2, 4, 2, 3, 4, 3, 1, 2, 3, 4, 5, 1, 5 ), ( 2, 3, 1, 4, 4, 3, 5, 3, 5, 1, 3, 1, 5, 3 )
),
t18(c219, c220, c221, c222, c223, c224, c225, c226, c227, c228, c229) AS (
  VALUES (CAST(3 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(1 AS INT)), ( 2, 2, 2, 4, 1, 2, 4, 2, 5, 2, 3 ), ( 2, 3, 2, 4, 3, 1, 5, 3, 1, 1, 1 ), ( 5, 5, 3, 1, 5, 5, 2, 5, 1, 4, 1 ), ( 2, 3, 4, 5, 1, 1, 2, 1, 4, 1, 5 ), ( 1, 4, 3, 5, 1, 1, 1, 2, 3, 1, 1 ), ( 4, 4, 4, 2, 1, 2, 4, 4, 4, 4, 5 ), ( 1, 1, 2, 2, 1, 5, 2, 3, 5, 2, 1 ), ( 5, 3, 3, 2, 1, 2, 2, 4, 4, 4, 4 ), ( 2, 1, 2, 1, 1, 4, 4, 5, 4, 4, 5 )
),
t21(c247, c248, c249, c250, c251, c252, c253, c254, c255, c256, c257, c258) AS (
  VALUES (CAST(2 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(4 AS INT)), ( 2, 5, 1, 4, 2, 4, 1, 5, 1, 1, 4, 5 ), ( 4, 1, 4, 1, 1, 3, 4, 2, 2, 1, 1, 1 ), ( 4, 2, 1, 2, 5, 1, 2, 1, 4, 5, 2, 5 ), ( 4, 4, 5, 1, 2, 4, 2, 3, 3, 5, 1, 4 ), ( 2, 4, 1, 5, 2, 2, 5, 1, 5, 5, 3, 4 ), ( 1, 1, 2, 1, 4, 5, 5, 2, 1, 3, 3, 4 ), ( 4, 4, 3, 1, 3, 5, 4, 5, 5, 3, 1, 3 ), ( 5, 5, 2, 5, 5, 4, 5, 4, 3, 4, 1, 5 ), ( 2, 2, 1, 1, 3, 2, 1, 2, 5, 1, 4, 5 )
),
t25(c283, c284, c285, c286, c287, c288, c289, c290, c291, c292, c293, c294, c295, c296) AS (
  VALUES (CAST(3 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(3 AS INT)), ( 1, 2, 2, 2, 5, 3, 3, 3, 4, 1, 4, 1, 3, 5 ), ( 4, 3, 4, 5, 5, 5, 4, 2, 5, 5, 2, 3, 1, 3 ), ( 4, 4, 4, 2, 1, 2, 3, 2, 4, 4, 3, 1, 1, 2 ), ( 4, 1, 5, 3, 5, 5, 5, 2, 4, 1, 5, 4, 1, 2 ), ( 2, 5, 2, 2, 4, 5, 5, 5, 5, 3, 1, 5, 4, 4 ), ( 2, 2, 2, 3, 5, 2, 3, 3, 3, 1, 4, 5, 5, 3 ), ( 3, 1, 4, 4, 1, 5, 4, 3, 4, 2, 1, 1, 1, 2 ), ( 2, 3, 5, 1, 4, 3, 4, 5, 5, 4, 1, 3, 1, 1 ), ( 3, 5, 2, 5, 3, 5, 3, 4, 1, 1, 4, 1, 5, 2 )
),
t34(c402, c403, c404, c405, c406, c407, c408, c409, c410) AS (
  VALUES (CAST(4 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(4 AS INT)), ( 2, 5, 4, 1, 3, 3, 3, 4, 3 ), ( 5, 3, 4, 1, 5, 4, 4, 1, 5 ), ( 5, 1, 3, 4, 3, 1, 3, 1, 1 ), ( 2, 5, 2, 4, 3, 1, 4, 1, 4 ), ( 5, 1, 4, 3, 4, 2, 2, 3, 3 ), ( 1, 4, 4, 4, 4, 3, 3, 4, 5 ), ( 3, 3, 2, 5, 5, 5, 3, 3, 2 ), ( 4, 4, 3, 5, 4, 1, 4, 5, 4 ), ( 2, 5, 1, 3, 3, 4, 2, 5, 4 )
),
t37(c438, c439, c440) AS (
  VALUES (CAST(5 AS INT), CAST(4 AS INT), CAST(4 AS INT)), ( 2, 1, 1 ), ( 3, 2, 2 ), ( 4, 2, 4 ), ( 3, 3, 4 ), ( 1, 5, 5 ), ( 4, 1, 1 ), ( 4, 2, 3 ), ( 1, 3, 3 ), ( 3, 5, 5 )
),
t41(c451, c452, c453, c454, c455, c456, c457, c458, c459, c460, c461, c462, c463, c464, c465, c466, c467, c468, c469, c470, c471, c472) AS (
  VALUES (CAST(4 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(2 AS INT)), ( 5, 4, 3, 3, 3, 4, 1, 5, 5, 4, 3, 2, 3, 4, 2, 5, 1, 1, 2, 5, 5, 2 ), ( 4, 4, 3, 2, 4, 2, 4, 2, 1, 1, 4, 1, 1, 1, 5, 2, 5, 3, 1, 2, 4, 4 ), ( 4, 1, 3, 3, 1, 5, 4, 3, 1, 4, 2, 3, 4, 5, 3, 4, 3, 3, 2, 3, 3, 2 ), ( 5, 1, 3, 5, 3, 5, 5, 3, 5, 5, 2, 3, 1, 5, 3, 4, 4, 5, 5, 1, 4, 3 ), ( 1, 5, 3, 4, 5, 5, 3, 2, 3, 5, 2, 3, 4, 3, 1, 2, 5, 3, 4, 4, 1, 2 ), ( 3, 1, 2, 1, 5, 5, 1, 3, 3, 5, 1, 3, 5, 4, 1, 4, 2, 3, 5, 5, 2, 1 ), ( 1, 2, 2, 5, 5, 2, 3, 3, 2, 1, 1, 5, 3, 4, 5, 4, 1, 5, 3, 1, 3, 1 ), ( 4, 3, 3, 3, 3, 5, 1, 5, 3, 4, 5, 4, 2, 1, 4, 3, 5, 5, 3, 3, 5, 3 ), ( 3, 1, 3, 2, 1, 1, 4, 3, 3, 5, 1, 2, 2, 5, 2, 3, 3, 5, 5, 1, 4, 5 )
),
t57(c682, c683, c684, c685, c686, c687, c688, c689, c690, c691, c692, c693, c694, c695, c696, c697) AS (
  VALUES (CAST(3 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(4 AS INT)), ( 1, 1, 5, 4, 2, 1, 1, 2, 5, 3, 3, 5, 2, 4, 5, 4 ), ( 2, 1, 3, 4, 1, 3, 3, 2, 5, 2, 3, 4, 5, 1, 4, 1 ), ( 5, 2, 2, 5, 1, 5, 1, 5, 5, 3, 5, 3, 3, 3, 1, 1 ), ( 5, 4, 5, 5, 4, 5, 5, 2, 1, 5, 1, 5, 2, 1, 1, 3 ), ( 2, 4, 2, 2, 2, 1, 5, 5, 4, 3, 3, 3, 3, 5, 4, 3 ), ( 4, 2, 2, 3, 4, 3, 5, 5, 4, 2, 2, 4, 1, 3, 2, 1 ), ( 3, 2, 2, 5, 4, 1, 3, 5, 5, 4, 4, 5, 2, 2, 5, 5 ), ( 3, 3, 2, 5, 1, 1, 3, 2, 3, 1, 5, 1, 4, 5, 2, 4 ), ( 4, 2, 2, 2, 5, 4, 4, 4, 4, 4, 1, 1, 1, 4, 1, 2 )
),
t69(c824, c825, c826, c827, c828, c829, c830, c831, c832, c833, c834, c835, c836, c837, c838) AS (
  VALUES (CAST(5 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(3 AS INT)), ( 3, 1, 3, 4, 5, 1, 2, 5, 2, 1, 3, 1, 5, 4, 5 ), ( 2, 5, 4, 4, 1, 3, 1, 4, 2, 3, 5, 2, 4, 1, 3 ), ( 1, 1, 4, 3, 4, 2, 3, 5, 5, 2, 2, 1, 4, 5, 1 ), ( 1, 3, 5, 2, 5, 5, 3, 1, 3, 2, 5, 4, 4, 3, 5 ), ( 5, 4, 5, 5, 1, 5, 2, 2, 5, 1, 3, 5, 2, 2, 5 ), ( 3, 2, 5, 4, 1, 1, 1, 3, 3, 3, 1, 4, 1, 3, 2 ), ( 3, 5, 1, 5, 5, 1, 1, 3, 2, 1, 4, 4, 4, 2, 4 ), ( 4, 4, 2, 5, 5, 4, 4, 1, 1, 5, 2, 3, 5, 4, 5 ), ( 1, 4, 4, 1, 4, 1, 1, 5, 2, 2, 1, 5, 2, 5, 3 )
),
t94(c1145, c1146, c1147, c1148, c1149, c1150, c1151, c1152, c1153, c1154, c1155, c1156, c1157, c1158, c1159, c1160, c1161, c1162, c1163, c1164, c1165, c1166) AS (
  VALUES (CAST(1 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(1 AS INT)), ( 4, 4, 4, 5, 3, 4, 3, 3, 4, 2, 5, 5, 3, 4, 4, 5, 4, 4, 5, 1, 1, 4 ), ( 2, 3, 4, 4, 1, 4, 2, 4, 2, 5, 2, 1, 2, 5, 3, 3, 2, 2, 5, 3, 1, 2 ), ( 1, 1, 5, 5, 2, 3, 4, 3, 3, 4, 2, 4, 3, 4, 2, 2, 2, 2, 3, 4, 3, 5 ), ( 1, 1, 3, 2, 4, 1, 3, 2, 4, 2, 2, 1, 4, 2, 1, 2, 2, 2, 1, 1, 4, 1 ), ( 2, 4, 3, 4, 1, 5, 4, 4, 5, 5, 4, 1, 4, 2, 4, 2, 4, 2, 5, 2, 3, 1 ), ( 4, 4, 4, 5, 3, 4, 4, 1, 2, 4, 4, 1, 3, 2, 1, 5, 4, 3, 1, 1, 2, 1 ), ( 2, 3, 5, 4, 3, 4, 4, 3, 1, 4, 5, 4, 3, 2, 5, 2, 4, 5, 5, 4, 5, 2 ), ( 2, 1, 3, 4, 4, 2, 3, 1, 1, 5, 1, 2, 2, 1, 1, 3, 3, 5, 5, 4, 5, 5 ), ( 2, 2, 4, 2, 5, 5, 2, 3, 3, 2, 4, 5, 1, 1, 2, 4, 5, 3, 5, 1, 4, 2 )
)
''',
)

register_regress(
    "regress_qpdt_c_single_table",
    r'''
SELECT
 DT137.C711 AS c1
 , DT137.C703 AS c2
 , DT137.C707 AS c3
 , DT137.C712 AS c4
 , DT137.C701 AS c5
 , DT136.C439 AS c6
 , DT137.C705 AS c7
 , DT137.C704 AS c8
 , DT137.C699 AS c9
 , DT136.C440 AS c10
 , DT137.C706 AS c11
 , DT137.C698 AS c12
 , DT137.C709 AS c13
 , DT137.C710 AS c14
 , DT137.C702 AS c15
 , DT137.C708 AS c16
 , DT137.C700 AS c17
FROM
	(
		T37 DT136
	CROSS JOIN
		T58 DT137
	)
WHERE
	(
		DT137.C707 > DT137.C706
	)
	AND
	(
		(
			(
				DT137.C706 > DT137.C709
			)
			OR
			(
				DT137.C710 <> DT137.C700
			)
		)
		AND
		(
			DT137.C705 = DT137.C706
		)
	)
ORDER BY
	DT137.C711
	, DT137.C703
	, DT137.C707
	, DT137.C712
	, DT137.C701
	, DT136.C439
	, DT137.C705
	, DT137.C704
	, DT137.C699
	, DT136.C440
	, DT137.C706
	, DT137.C698
	, DT137.C709
	, DT137.C710
	, DT137.C702
	, DT137.C708
	, DT137.C700
LIMIT 103
''',
    "src/test/regress/sql/qp_derived_table.sql query #610 — class inner0-limit (10 members): single-relation projection. Tables T37, T58 carry the file's exact 10-row INSERT data as CTEs.",
    tags=("qpdt",),
    prelude=r'''
WITH t37(c438, c439, c440) AS (
  VALUES (CAST(5 AS INT), CAST(4 AS INT), CAST(4 AS INT)), ( 2, 1, 1 ), ( 3, 2, 2 ), ( 4, 2, 4 ), ( 3, 3, 4 ), ( 1, 5, 5 ), ( 4, 1, 1 ), ( 4, 2, 3 ), ( 1, 3, 3 ), ( 3, 5, 5 )
),
t58(c698, c699, c700, c701, c702, c703, c704, c705, c706, c707, c708, c709, c710, c711, c712) AS (
  VALUES (CAST(1 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(1 AS INT)), ( 4, 2, 2, 5, 4, 5, 4, 3, 4, 4, 4, 3, 1, 3, 2 ), ( 1, 5, 3, 5, 4, 3, 5, 2, 3, 3, 5, 1, 3, 2, 5 ), ( 1, 2, 2, 5, 4, 2, 1, 1, 1, 1, 4, 3, 1, 3, 1 ), ( 1, 2, 5, 5, 3, 3, 1, 2, 4, 2, 5, 3, 1, 2, 4 ), ( 3, 4, 4, 4, 2, 5, 4, 3, 1, 2, 3, 2, 5, 2, 4 ), ( 4, 5, 3, 1, 4, 4, 2, 1, 1, 2, 1, 5, 1, 5, 4 ), ( 3, 4, 4, 1, 1, 5, 3, 5, 1, 2, 5, 5, 4, 3, 1 ), ( 3, 3, 3, 5, 2, 3, 1, 5, 5, 4, 4, 2, 2, 2, 4 ), ( 4, 4, 3, 5, 3, 3, 1, 1, 4, 2, 4, 4, 3, 2, 2 )
)
''',
)

register_regress(
    "regress_qpdt_c_loj2",
    r'''
SELECT
 DT173.C872 AS c1
 , DT171.C72 AS c2
 , DT173.C876 AS c3
 , DT173.C879 AS c4
 , DT173.C869 AS c5
 , DT173.C883 AS c6
 , DT173.C881 AS c7
 , DT173.C877 AS c8
 , DT171.C71 AS c9
 , DT173.C868 AS c10
 , DT173.C880 AS c11
 , DT172.C280 AS c12
 , DT172.C282 AS c13
 , DT173.C884 AS c14
 , DT171.C68 AS c15
 , DT171.C74 AS c16
 , DT171.C69 AS c17
 , DT173.C873 AS c18
 , DT172.C281 AS c19
 , DT173.C882 AS c20
 , DT173.C867 AS c21
 , DT172.C279 AS c22
 , DT173.C875 AS c23
 , DT171.C70 AS c24
 , DT171.C66 AS c25
 , DT173.C885 AS c26
 , DT173.C887 AS c27
 , DT171.C73 AS c28
 , DT173.C886 AS c29
 , DT171.C67 AS c30
FROM
	(
		T24 DT172
	LEFT OUTER JOIN
		(
			T5 DT171
		LEFT OUTER JOIN
			T72 DT173
		ON
			DT171.C68 < DT173.C880
		)
	ON
		DT172.C282 > DT173.C879
	)
WHERE
	(
		DT172.C281 = DT173.C886
	)
	OR
	(
		DT173.C884 > DT173.C868
	)
ORDER BY
	DT173.C872
	, DT171.C72
	, DT173.C876
	, DT173.C879
	, DT173.C869
	, DT173.C883
	, DT173.C881
	, DT173.C877
	, DT171.C71
	, DT173.C868
	, DT173.C880
	, DT172.C280
	, DT172.C282
	, DT173.C884
	, DT171.C68
	, DT171.C74
	, DT171.C69
	, DT173.C873
	, DT172.C281
	, DT173.C882
	, DT173.C867
	, DT172.C279
	, DT173.C875
	, DT171.C70
	, DT171.C66
	, DT173.C885
	, DT173.C887
	, DT171.C73
	, DT173.C886
	, DT171.C67
LIMIT 994
''',
    "src/test/regress/sql/qp_derived_table.sql query #622 — class inner0-loj2+-limit (8 members): stacked LEFT OUTER JOINs. Tables T5, T24, T72 carry the file's exact 10-row INSERT data as CTEs.",
    tags=("qpdt",),
    prelude=r'''
WITH t5(c66, c67, c68, c69, c70, c71, c72, c73, c74) AS (
  VALUES (CAST(1 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(2 AS INT)), ( 4, 2, 5, 2, 2, 3, 3, 2, 5 ), ( 4, 3, 5, 4, 3, 4, 5, 1, 2 ), ( 3, 4, 2, 3, 1, 5, 3, 4, 5 ), ( 1, 3, 2, 1, 5, 4, 2, 4, 5 ), ( 2, 1, 3, 2, 1, 3, 5, 5, 4 ), ( 5, 4, 4, 4, 2, 3, 4, 3, 1 ), ( 3, 5, 4, 5, 2, 2, 5, 2, 1 ), ( 5, 4, 5, 5, 2, 3, 1, 4, 4 ), ( 1, 3, 1, 4, 1, 5, 5, 5, 3 )
),
t24(c279, c280, c281, c282) AS (
  VALUES (CAST(3 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(3 AS INT)), ( 2, 1, 1, 4 ), ( 1, 4, 4, 3 ), ( 4, 3, 2, 3 ), ( 2, 2, 4, 4 ), ( 3, 4, 4, 2 ), ( 3, 1, 3, 2 ), ( 2, 5, 1, 1 ), ( 2, 5, 2, 3 ), ( 2, 5, 5, 5 )
),
t72(c867, c868, c869, c870, c871, c872, c873, c874, c875, c876, c877, c878, c879, c880, c881, c882, c883, c884, c885, c886, c887, c888) AS (
  VALUES (CAST(2 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(3 AS INT)), ( 4, 1, 4, 2, 3, 4, 2, 2, 2, 2, 2, 5, 1, 3, 4, 3, 2, 3, 3, 2, 3, 5 ), ( 1, 4, 1, 2, 5, 5, 5, 1, 2, 5, 1, 3, 2, 1, 1, 2, 1, 5, 2, 4, 4, 4 ), ( 5, 3, 5, 3, 3, 1, 4, 3, 4, 4, 2, 2, 2, 4, 2, 5, 1, 5, 3, 1, 5, 1 ), ( 2, 5, 4, 4, 2, 3, 3, 4, 1, 1, 3, 2, 4, 1, 4, 3, 2, 2, 2, 1, 1, 2 ), ( 3, 4, 3, 5, 3, 1, 4, 3, 2, 4, 5, 4, 4, 4, 3, 4, 3, 2, 4, 4, 3, 5 ), ( 3, 5, 4, 5, 2, 5, 1, 2, 1, 1, 4, 1, 1, 1, 1, 3, 4, 2, 1, 2, 5, 4 ), ( 3, 3, 2, 2, 5, 4, 2, 3, 4, 5, 4, 1, 1, 2, 4, 5, 2, 2, 3, 4, 4, 2 ), ( 5, 2, 2, 5, 3, 4, 4, 3, 2, 4, 2, 1, 1, 5, 3, 5, 5, 1, 1, 3, 2, 4 ), ( 1, 1, 5, 3, 1, 1, 3, 1, 3, 4, 3, 3, 1, 1, 3, 1, 1, 2, 4, 4, 2, 3 )
)
''',
)

register_regress(
    "regress_qpdt_c_inner_loj_roj",
    r'''
SELECT
 DT299.C910 AS c1
 , DT302.C867 AS c2
 , DT299.C919 AS c3
 , DT301.C67 AS c4
 , DT302.C871 AS c5
 , DT299.C913 AS c6
 , DT301.C71 AS c7
 , DT299.C911 AS c8
 , DT302.C886 AS c9
 , DT299.C916 AS c10
 , DT302.C875 AS c11
 , DT303.C251 AS c12
 , DT299.C928 AS c13
 , DT299.C923 AS c14
 , DT299.C918 AS c15
 , DT301.C69 AS c16
 , DT302.C880 AS c17
 , DT300.C997 AS c18
 , DT301.C66 AS c19
 , DT299.C917 AS c20
 , DT302.C870 AS c21
 , DT300.C995 AS c22
 , DT302.C879 AS c23
FROM
	(
		(
			(
				T72 DT302
			INNER JOIN
				T21 DT303
			ON
				DT302.C880 > DT303.C256
			)
		LEFT OUTER JOIN
			(
				T82 DT300
			RIGHT OUTER JOIN
				T5 DT301
			ON
				DT300.C996 = DT301.C67
			)
		ON
			DT302.C867 < DT301.C66
		)
	INNER JOIN
		T74 DT299
	ON
		DT301.C73 = DT299.C914
	)
WHERE
	(
		DT302.C867 = DT299.C926
	)
	AND
	(
		DT303.C250 = DT303.C250
	)
ORDER BY
	DT299.C910
	, DT302.C867
	, DT299.C919
	, DT301.C67
	, DT302.C871
	, DT299.C913
	, DT301.C71
	, DT299.C911
	, DT302.C886
	, DT299.C916
	, DT302.C875
	, DT303.C251
	, DT299.C928
	, DT299.C923
	, DT299.C918
	, DT301.C69
	, DT302.C880
	, DT300.C997
	, DT301.C66
	, DT299.C917
	, DT302.C870
	, DT300.C995
	, DT302.C879
LIMIT 520
''',
    "src/test/regress/sql/qp_derived_table.sql query #665 — class inner2-loj1-roj1-limit (8 members): all three join kinds. Tables T5, T21, T72, T74, T82 carry the file's exact 10-row INSERT data as CTEs.",
    tags=("qpdt",),
    prelude=r'''
WITH t5(c66, c67, c68, c69, c70, c71, c72, c73, c74) AS (
  VALUES (CAST(1 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(3 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(2 AS INT)), ( 4, 2, 5, 2, 2, 3, 3, 2, 5 ), ( 4, 3, 5, 4, 3, 4, 5, 1, 2 ), ( 3, 4, 2, 3, 1, 5, 3, 4, 5 ), ( 1, 3, 2, 1, 5, 4, 2, 4, 5 ), ( 2, 1, 3, 2, 1, 3, 5, 5, 4 ), ( 5, 4, 4, 4, 2, 3, 4, 3, 1 ), ( 3, 5, 4, 5, 2, 2, 5, 2, 1 ), ( 5, 4, 5, 5, 2, 3, 1, 4, 4 ), ( 1, 3, 1, 4, 1, 5, 5, 5, 3 )
),
t21(c247, c248, c249, c250, c251, c252, c253, c254, c255, c256, c257, c258) AS (
  VALUES (CAST(2 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(4 AS INT)), ( 2, 5, 1, 4, 2, 4, 1, 5, 1, 1, 4, 5 ), ( 4, 1, 4, 1, 1, 3, 4, 2, 2, 1, 1, 1 ), ( 4, 2, 1, 2, 5, 1, 2, 1, 4, 5, 2, 5 ), ( 4, 4, 5, 1, 2, 4, 2, 3, 3, 5, 1, 4 ), ( 2, 4, 1, 5, 2, 2, 5, 1, 5, 5, 3, 4 ), ( 1, 1, 2, 1, 4, 5, 5, 2, 1, 3, 3, 4 ), ( 4, 4, 3, 1, 3, 5, 4, 5, 5, 3, 1, 3 ), ( 5, 5, 2, 5, 5, 4, 5, 4, 3, 4, 1, 5 ), ( 2, 2, 1, 1, 3, 2, 1, 2, 5, 1, 4, 5 )
),
t72(c867, c868, c869, c870, c871, c872, c873, c874, c875, c876, c877, c878, c879, c880, c881, c882, c883, c884, c885, c886, c887, c888) AS (
  VALUES (CAST(2 AS INT), CAST(1 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(1 AS INT), CAST(2 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(3 AS INT)), ( 4, 1, 4, 2, 3, 4, 2, 2, 2, 2, 2, 5, 1, 3, 4, 3, 2, 3, 3, 2, 3, 5 ), ( 1, 4, 1, 2, 5, 5, 5, 1, 2, 5, 1, 3, 2, 1, 1, 2, 1, 5, 2, 4, 4, 4 ), ( 5, 3, 5, 3, 3, 1, 4, 3, 4, 4, 2, 2, 2, 4, 2, 5, 1, 5, 3, 1, 5, 1 ), ( 2, 5, 4, 4, 2, 3, 3, 4, 1, 1, 3, 2, 4, 1, 4, 3, 2, 2, 2, 1, 1, 2 ), ( 3, 4, 3, 5, 3, 1, 4, 3, 2, 4, 5, 4, 4, 4, 3, 4, 3, 2, 4, 4, 3, 5 ), ( 3, 5, 4, 5, 2, 5, 1, 2, 1, 1, 4, 1, 1, 1, 1, 3, 4, 2, 1, 2, 5, 4 ), ( 3, 3, 2, 2, 5, 4, 2, 3, 4, 5, 4, 1, 1, 2, 4, 5, 2, 2, 3, 4, 4, 2 ), ( 5, 2, 2, 5, 3, 4, 4, 3, 2, 4, 2, 1, 1, 5, 3, 5, 5, 1, 1, 3, 2, 4 ), ( 1, 1, 5, 3, 1, 1, 3, 1, 3, 4, 3, 3, 1, 1, 3, 1, 1, 2, 4, 4, 2, 3 )
),
t74(c910, c911, c912, c913, c914, c915, c916, c917, c918, c919, c920, c921, c922, c923, c924, c925, c926, c927, c928, c929) AS (
  VALUES (CAST(3 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(3 AS INT), CAST(3 AS INT), CAST(4 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(2 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(5 AS INT), CAST(4 AS INT), CAST(3 AS INT)), ( 2, 2, 2, 1, 4, 5, 1, 5, 4, 1, 4, 1, 4, 1, 5, 3, 1, 1, 5, 1 ), ( 5, 4, 3, 3, 5, 4, 2, 5, 5, 1, 4, 1, 2, 2, 3, 5, 4, 2, 3, 5 ), ( 2, 4, 2, 3, 1, 4, 2, 1, 5, 4, 4, 3, 3, 1, 4, 3, 2, 4, 5, 1 ), ( 4, 2, 2, 4, 3, 4, 4, 1, 5, 1, 1, 2, 4, 1, 3, 1, 3, 3, 2, 1 ), ( 3, 3, 1, 3, 1, 3, 4, 4, 1, 3, 5, 5, 1, 2, 2, 5, 1, 2, 4, 2 ), ( 1, 2, 4, 5, 4, 2, 3, 4, 5, 2, 2, 1, 1, 5, 4, 4, 2, 4, 4, 1 ), ( 3, 1, 3, 1, 2, 4, 1, 1, 2, 5, 4, 4, 3, 4, 4, 3, 3, 3, 1, 4 ), ( 5, 3, 3, 5, 1, 4, 5, 2, 4, 4, 5, 2, 5, 3, 3, 3, 2, 3, 1, 4 ), ( 1, 1, 1, 1, 1, 4, 4, 4, 3, 4, 1, 2, 5, 1, 3, 2, 4, 3, 1, 2 )
),
t82(c995, c996, c997, c998, c999, c1000) AS (
  VALUES (CAST(2 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(5 AS INT), CAST(1 AS INT), CAST(5 AS INT)), ( 1, 3, 3, 4, 2, 5 ), ( 3, 4, 5, 3, 1, 5 ), ( 5, 1, 5, 1, 2, 2 ), ( 5, 3, 3, 1, 5, 5 ), ( 1, 2, 5, 4, 4, 4 ), ( 4, 5, 5, 2, 4, 3 ), ( 3, 3, 3, 1, 2, 1 ), ( 3, 1, 1, 4, 5, 4 ), ( 3, 1, 2, 1, 4, 4 )
)
''',
)
