"""qp_misc.sql NIST-style self-checking battery ports.

Reference: src/test/regress/sql/qp_misc.sql (15,618 lines, 1120
self-checking tests; expected/qp_misc.out records pass_ind=1 for
every one). Each registered battery UNION ALLs the verbatim test
texts of one theme slice; every row must come back (name, 1) on
both engines. Tests over the locale-collation tables
(tlja/tlja_jp/tlth/tltr) and PG-specific char(n) blank-padding /
TIME-type behaviors self-exclude during generation (both target
engines are unpadded binary-UTF-8; see MIGRATION.md COLLATE).
Originally generated from the reference tree, which is no longer
available. The module is the source of record; edit it in place.
"""

from cloudberry_spark.sql.regress import register_regress

QPMISC_PRELUDE = '''
WITH tset1(rnum, c1, c2) AS (
  SELECT * FROM (VALUES
    (CAST(3 AS INT), CAST(20 AS INT), 'BBB'),
    (CAST(0 AS INT), CAST(10 AS INT), 'AAA'),
    (CAST(1 AS INT), CAST(10 AS INT), 'AAA'),
    (CAST(2 AS INT), CAST(10 AS INT), 'AAA'),
    (CAST(7 AS INT), CAST(60 AS INT), CAST(NULL AS STRING)),
    (CAST(4 AS INT), CAST(30 AS INT), 'CCC'),
    (CAST(5 AS INT), CAST(40 AS INT), 'DDD'),
    (CAST(6 AS INT), CAST(50 AS INT), CAST(NULL AS STRING)),
    (CAST(11 AS INT), CAST(NULL AS INT), CAST(NULL AS STRING)),
    (CAST(8 AS INT), CAST(NULL AS INT), 'AAA'),
    (CAST(9 AS INT), CAST(NULL AS INT), 'AAA'),
    (CAST(10 AS INT), CAST(NULL AS INT), CAST(NULL AS STRING))
  ) AS t(rnum, c1, c2)
),
vset1 AS (SELECT * FROM tset1),
tbint(rnum, cbint) AS (
  SELECT * FROM (VALUES
    (CAST(3 AS INT), CAST(1 AS BIGINT)),
    (CAST(0 AS INT), CAST(NULL AS BIGINT)),
    (CAST(1 AS INT), CAST(-1 AS BIGINT)),
    (CAST(2 AS INT), CAST(0 AS BIGINT)),
    (CAST(4 AS INT), CAST(10 AS BIGINT))
  ) AS t(rnum, cbint)
),
vbint AS (SELECT * FROM tbint),
tchar(rnum, cchar) AS (
  SELECT * FROM (VALUES
    (CAST(3 AS INT), 'BB'),
    (CAST(0 AS INT), CAST(NULL AS STRING)),
    (CAST(1 AS INT), ''),
    (CAST(2 AS INT), ''),
    (CAST(5 AS INT), 'FF'),
    (CAST(4 AS INT), 'EE')
  ) AS t(rnum, cchar)
),
vchar AS (SELECT * FROM tchar),
tclob(rnum, cclob) AS (
  SELECT * FROM (VALUES
    (CAST(3 AS INT), 'BB'),
    (CAST(0 AS INT), CAST(NULL AS STRING)),
    (CAST(1 AS INT), ''),
    (CAST(2 AS INT), ''),
    (CAST(5 AS INT), 'FF'),
    (CAST(4 AS INT), 'EE')
  ) AS t(rnum, cclob)
),
vclob AS (SELECT * FROM tclob),
tdbl(rnum, cdbl) AS (
  SELECT * FROM (VALUES
    (CAST(3 AS INT), CAST(1 AS DOUBLE)),
    (CAST(0 AS INT), CAST(NULL AS DOUBLE)),
    (CAST(1 AS INT), CAST(-1 AS DOUBLE)),
    (CAST(2 AS INT), CAST(0 AS DOUBLE)),
    (CAST(5 AS INT), CAST(10 AS DOUBLE)),
    (CAST(4 AS INT), CAST(-0.10000000000000001 AS DOUBLE))
  ) AS t(rnum, cdbl)
),
vdbl AS (SELECT * FROM tdbl),
tdec(rnum, cdec) AS (
  SELECT * FROM (VALUES
    (CAST(3 AS INT), CAST(1.00 AS DECIMAL(7,2))),
    (CAST(0 AS INT), CAST(NULL AS DECIMAL(7,2))),
    (CAST(1 AS INT), CAST(-1.00 AS DECIMAL(7,2))),
    (CAST(2 AS INT), CAST(0.00 AS DECIMAL(7,2))),
    (CAST(5 AS INT), CAST(10.00 AS DECIMAL(7,2))),
    (CAST(4 AS INT), CAST(0.10 AS DECIMAL(7,2)))
  ) AS t(rnum, cdec)
),
vdec AS (SELECT * FROM tdec),
tdt(rnum, cdt) AS (
  SELECT * FROM (VALUES
    (CAST(3 AS INT), DATE '2000-12-31'),
    (CAST(0 AS INT), CAST(NULL AS DATE)),
    (CAST(1 AS INT), DATE '1996-01-01'),
    (CAST(2 AS INT), DATE '2000-01-01')
  ) AS t(rnum, cdt)
),
vdt AS (SELECT * FROM tdt),
tflt(rnum, cflt) AS (
  SELECT * FROM (VALUES
    (CAST(3 AS INT), CAST(1 AS DOUBLE)),
    (CAST(0 AS INT), CAST(NULL AS DOUBLE)),
    (CAST(1 AS INT), CAST(-1 AS DOUBLE)),
    (CAST(2 AS INT), CAST(0 AS DOUBLE)),
    (CAST(5 AS INT), CAST(10 AS DOUBLE)),
    (CAST(4 AS INT), CAST(-0.10000000000000001 AS DOUBLE))
  ) AS t(rnum, cflt)
),
vflt AS (SELECT * FROM tflt),
tint(rnum, cint) AS (
  SELECT * FROM (VALUES
    (CAST(3 AS INT), CAST(1 AS INT)),
    (CAST(0 AS INT), CAST(NULL AS INT)),
    (CAST(1 AS INT), CAST(-1 AS INT)),
    (CAST(2 AS INT), CAST(0 AS INT)),
    (CAST(4 AS INT), CAST(10 AS INT))
  ) AS t(rnum, cint)
),
vint AS (SELECT * FROM tint),
tjoin1(rnum, c1, c2) AS (
  SELECT * FROM (VALUES
    (CAST(1 AS INT), CAST(20 AS INT), CAST(25 AS INT)),
    (CAST(0 AS INT), CAST(10 AS INT), CAST(15 AS INT)),
    (CAST(2 AS INT), CAST(NULL AS INT), CAST(50 AS INT))
  ) AS t(rnum, c1, c2)
),
vjoin1 AS (SELECT * FROM tjoin1),
tjoin2(rnum, c1, c2) AS (
  SELECT * FROM (VALUES
    (CAST(3 AS INT), CAST(10 AS INT), 'FF'),
    (CAST(0 AS INT), CAST(10 AS INT), 'BB'),
    (CAST(1 AS INT), CAST(15 AS INT), 'DD'),
    (CAST(2 AS INT), CAST(NULL AS INT), 'EE')
  ) AS t(rnum, c1, c2)
),
vjoin2 AS (SELECT * FROM tjoin2),
tjoin3(rnum, c1, c2) AS (
  SELECT * FROM (VALUES
    (CAST(1 AS INT), CAST(15 AS INT), 'YY'),
    (CAST(0 AS INT), CAST(10 AS INT), 'XX')
  ) AS t(rnum, c1, c2)
),
vjoin3 AS (SELECT * FROM tjoin3),
tjoin4(rnum, c1, c2) AS (
  SELECT * FROM (VALUES
    (CAST(0 AS INT), CAST(20 AS INT), 'ZZ')
  ) AS t(rnum, c1, c2)
),
vjoin4 AS (SELECT * FROM tjoin4),
tnum(rnum, cnum) AS (
  SELECT * FROM (VALUES
    (CAST(3 AS INT), CAST(1.00 AS DECIMAL(7,2))),
    (CAST(0 AS INT), CAST(NULL AS DECIMAL(7,2))),
    (CAST(1 AS INT), CAST(-1.00 AS DECIMAL(7,2))),
    (CAST(2 AS INT), CAST(0.00 AS DECIMAL(7,2))),
    (CAST(5 AS INT), CAST(10.00 AS DECIMAL(7,2))),
    (CAST(4 AS INT), CAST(0.10 AS DECIMAL(7,2)))
  ) AS t(rnum, cnum)
),
vnum AS (SELECT * FROM tnum),
tolap(rnum, c1, c2, c3, c4) AS (
  SELECT * FROM (VALUES
    (CAST(3 AS INT), 'BBB', 'BB', CAST(20 AS INT), CAST(5 AS INT)),
    (CAST(0 AS INT), 'AAA', 'AA', CAST(10 AS INT), CAST(3 AS INT)),
    (CAST(1 AS INT), 'AAA', 'AA', CAST(15 AS INT), CAST(2 AS INT)),
    (CAST(2 AS INT), 'AAA', 'AB', CAST(25 AS INT), CAST(1 AS INT)),
    (CAST(7 AS INT), CAST(NULL AS STRING), CAST(NULL AS STRING), CAST(NULL AS INT), CAST(NULL AS INT)),
    (CAST(4 AS INT), 'CCC', 'CC', CAST(30 AS INT), CAST(2 AS INT)),
    (CAST(5 AS INT), 'DDD', 'DD', CAST(40 AS INT), CAST(1 AS INT)),
    (CAST(6 AS INT), CAST(NULL AS STRING), CAST(NULL AS STRING), CAST(50 AS INT), CAST(6 AS INT))
  ) AS t(rnum, c1, c2, c3, c4)
),
volap AS (SELECT * FROM tolap),
trl(rnum, crl) AS (
  SELECT * FROM (VALUES
    (CAST(3 AS INT), CAST(1 AS DOUBLE)),
    (CAST(0 AS INT), CAST(NULL AS DOUBLE)),
    (CAST(1 AS INT), CAST(-1 AS DOUBLE)),
    (CAST(2 AS INT), CAST(0 AS DOUBLE)),
    (CAST(5 AS INT), CAST(10 AS DOUBLE)),
    (CAST(4 AS INT), CAST(-0.1 AS DOUBLE))
  ) AS t(rnum, crl)
),
vrl AS (SELECT * FROM trl),
tset2(rnum, c1, c2) AS (
  SELECT * FROM (VALUES
    (CAST(3 AS INT), CAST(50 AS INT), 'EEE'),
    (CAST(0 AS INT), CAST(10 AS INT), 'AAA'),
    (CAST(1 AS INT), CAST(10 AS INT), 'AAA'),
    (CAST(2 AS INT), CAST(40 AS INT), 'DDD'),
    (CAST(4 AS INT), CAST(60 AS INT), 'FFF')
  ) AS t(rnum, c1, c2)
),
vset2 AS (SELECT * FROM tset2),
tset3(rnum, c1, c2) AS (
  SELECT * FROM (VALUES
    (CAST(0 AS INT), CAST(10 AS INT), 'AAA')
  ) AS t(rnum, c1, c2)
),
vset3 AS (SELECT * FROM tset3),
tsint(rnum, csint) AS (
  SELECT * FROM (VALUES
    (CAST(3 AS INT), CAST(1 AS SMALLINT)),
    (CAST(0 AS INT), CAST(NULL AS SMALLINT)),
    (CAST(1 AS INT), CAST(-1 AS SMALLINT)),
    (CAST(2 AS INT), CAST(0 AS SMALLINT)),
    (CAST(4 AS INT), CAST(10 AS SMALLINT))
  ) AS t(rnum, csint)
),
vsint AS (SELECT * FROM tsint),
ttm(rnum, ctm) AS (
  SELECT * FROM (VALUES
    (CAST(3 AS INT), CAST('23:59:30.123' AS STRING)),
    (CAST(0 AS INT), CAST(NULL AS STRING)),
    (CAST(1 AS INT), CAST('00:00:00' AS STRING)),
    (CAST(2 AS INT), CAST('12:00:00' AS STRING))
  ) AS t(rnum, ctm)
),
vtm AS (SELECT * FROM ttm),
tts(rnum, cts) AS (
  SELECT * FROM (VALUES
    (CAST(3 AS INT), TIMESTAMP '1996-01-01 23:59:30.123'),
    (CAST(0 AS INT), CAST(NULL AS TIMESTAMP)),
    (CAST(1 AS INT), TIMESTAMP '1996-01-01 00:00:00'),
    (CAST(2 AS INT), TIMESTAMP '1996-01-01 12:00:00'),
    (CAST(7 AS INT), TIMESTAMP '2000-12-31 00:00:00'),
    (CAST(4 AS INT), TIMESTAMP '2000-01-01 00:00:00'),
    (CAST(5 AS INT), TIMESTAMP '2000-01-01 12:00:00'),
    (CAST(6 AS INT), TIMESTAMP '2000-01-01 23:59:30.123'),
    (CAST(9 AS INT), TIMESTAMP '2000-12-31 12:15:30.123'),
    (CAST(8 AS INT), TIMESTAMP '2000-12-31 12:00:00')
  ) AS t(rnum, cts)
),
vts AS (SELECT * FROM tts),
tvchar(rnum, cvchar) AS (
  SELECT * FROM (VALUES
    (CAST(3 AS INT), 'BB'),
    (CAST(0 AS INT), CAST(NULL AS STRING)),
    (CAST(1 AS INT), ''),
    (CAST(2 AS INT), ''),
    (CAST(5 AS INT), 'FF'),
    (CAST(4 AS INT), 'EE')
  ) AS t(rnum, cvchar)
),
vvchar AS (SELECT * FROM tvchar),
tversion(rnum, c1, cver, cnnull, ccnull) AS (
  SELECT * FROM (VALUES
    (CAST(0 AS INT), CAST(1 AS INT), '1.0', CAST(NULL AS INT), CAST(NULL AS STRING))
  ) AS t(rnum, c1, cver, cnnull, ccnull)
),
vversion AS (SELECT * FROM tversion)

'''

register_regress(
    "regress_qpmisc_b00_abs_aggregate_approximate",
    """
select test_name_part, pass_ind from (
(select 'AbsCoreApproximateNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1.000000000000000e+000 f2 from tversion union
select 2 f1, 0.000000000000000e+000 f2 from tversion union
select 3 f1, 1.000000000000000e+000 f2 from tversion union
select 4 f1, 1.000000000000000e-001 f2 from tversion union
select 5 f1, 1.000000000000000e+001 f2 from tversion union
select rnum, abs( vflt.cflt ) from vflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'AbsCoreExactNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1.000000000000000e+000 f2 from tversion union
select 2 f1, 0.000000000000000e+000 f2 from tversion union
select 3 f1, 1.000000000000000e+000 f2 from tversion union
select 4 f1, 1.000000000000000e-001 f2 from tversion union
select 5 f1, 1.000000000000000e+001 f2 from tversion union
select rnum, abs( tnum.cnum ) from tnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'AbsCoreInteger_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select vint.rnum, abs( vint.cint ) from vint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'AbsCoreInteger_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select tint.rnum, abs( tint.cint ) from tint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'AbsCoreInteger_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select vsint.rnum, abs( vsint.csint ) from vsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'AbsCoreInteger_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select tsint.rnum, abs( tsint.csint ) from tsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'AbsCoreInteger_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select vbint.rnum, abs( vbint.cbint ) from vbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'AbsCoreInteger_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select tbint.rnum, abs( tbint.cbint ) from tbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'AbsCoreApproximateNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1.000000000000000e+000 f2 from tversion union
select 2 f1, 0.000000000000000e+000 f2 from tversion union
select 3 f1, 1.000000000000000e+000 f2 from tversion union
select 4 f1, 1.000000000000000e-001 f2 from tversion union
select 5 f1, 1.000000000000000e+001 f2 from tversion union
select rnum, abs( tflt.cflt ) from tflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'AbsCoreApproximateNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1.000000000000000e+000 f2 from tversion union
select 2 f1, 0.000000000000000e+000 f2 from tversion union
select 3 f1, 1.000000000000000e+000 f2 from tversion union
select 4 f1, 1.000000000000000e-001 f2 from tversion union
select 5 f1, 1.000000000000000e+001 f2 from tversion union
select rnum, abs( vdbl.cdbl ) from vdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'AbsCoreApproximateNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1.000000000000000e+000 f2 from tversion union
select 2 f1, 0.000000000000000e+000 f2 from tversion union
select 3 f1, 1.000000000000000e+000 f2 from tversion union
select 4 f1, 1.000000000000000e-001 f2 from tversion union
select 5 f1, 1.000000000000000e+001 f2 from tversion union
select rnum, abs( tdbl.cdbl ) from tdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'AbsCoreApproximateNumeric_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1.000000000000000e+000 f2 from tversion union
select 2 f1, 0.000000000000000e+000 f2 from tversion union
select 3 f1, 1.000000000000000e+000 f2 from tversion union
select 4 f1, 1.000000000000000e-001 f2 from tversion union
select 5 f1, 1.000000000000000e+001 f2 from tversion union
select rnum, abs( vrl.crl ) from vrl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'AbsCoreApproximateNumeric_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1.000000000000000e+000 f2 from tversion union
select 2 f1, 0.000000000000000e+000 f2 from tversion union
select 3 f1, 1.000000000000000e+000 f2 from tversion union
select 4 f1, 1.000000000000000e-001 f2 from tversion union
select 5 f1, 1.000000000000000e+001 f2 from tversion union
select rnum, abs( trl.crl ) from trl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'AbsCoreExactNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1.000000000000000e+000 f2 from tversion union
select 2 f1, 0.000000000000000e+000 f2 from tversion union
select 3 f1, 1.000000000000000e+000 f2 from tversion union
select 4 f1, 1.000000000000000e-001 f2 from tversion union
select 5 f1, 1.000000000000000e+001 f2 from tversion union
select rnum, abs( vdec.cdec ) from vdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'AbsCoreExactNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1.000000000000000e+000 f2 from tversion union
select 2 f1, 0.000000000000000e+000 f2 from tversion union
select 3 f1, 1.000000000000000e+000 f2 from tversion union
select 4 f1, 1.000000000000000e-001 f2 from tversion union
select 5 f1, 1.000000000000000e+001 f2 from tversion union
select rnum, abs( tdec.cdec ) from tdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'AbsCoreExactNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1.000000000000000e+000 f2 from tversion union
select 2 f1, 0.000000000000000e+000 f2 from tversion union
select 3 f1, 1.000000000000000e+000 f2 from tversion union
select 4 f1, 1.000000000000000e-001 f2 from tversion union
select 5 f1, 1.000000000000000e+001 f2 from tversion union
select rnum, abs( vnum.cnum ) from vnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'AggregateInExpression_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 10 f1 from tversion union
select 10 * count( 1 ) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'ApproximateNumericOpAdd_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1.000000000000000e+000 f2 from tversion union
select 2 f1, 2.000000000000000e+000 f2 from tversion union
select 3 f1, 3.000000000000000e+000 f2 from tversion union
select 4 f1, 1.900000000000000e+000 f2 from tversion union
select 5 f1, 1.200000000000000e+001 f2 from tversion union
select vflt.rnum,vflt.cflt + 2 from vflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ApproximateNumericOpAdd_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1.000000000000000e+000 f2 from tversion union
select 2 f1, 2.000000000000000e+000 f2 from tversion union
select 3 f1, 3.000000000000000e+000 f2 from tversion union
select 4 f1, 1.900000000000000e+000 f2 from tversion union
select 5 f1, 1.200000000000000e+001 f2 from tversion union
select tflt.rnum,tflt.cflt + 2 from tflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ApproximateNumericOpAdd_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1.000000000000000e+000 f2 from tversion union
select 2 f1, 2.000000000000000e+000 f2 from tversion union
select 3 f1, 3.000000000000000e+000 f2 from tversion union
select 4 f1, 1.900000000000000e+000 f2 from tversion union
select 5 f1, 1.200000000000000e+001 f2 from tversion union
select vdbl.rnum,vdbl.cdbl + 2 from vdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ApproximateNumericOpAdd_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1.000000000000000e+000 f2 from tversion union
select 2 f1, 2.000000000000000e+000 f2 from tversion union
select 3 f1, 3.000000000000000e+000 f2 from tversion union
select 4 f1, 1.900000000000000e+000 f2 from tversion union
select 5 f1, 1.200000000000000e+001 f2 from tversion union
select tdbl.rnum,tdbl.cdbl + 2 from tdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ApproximateNumericOpAdd_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1.000000000000000e+000 f2 from tversion union
select 2 f1, 2.000000000000000e+000 f2 from tversion union
select 3 f1, 3.000000000000000e+000 f2 from tversion union
select 4 f1, 1.900000000000000e+000 f2 from tversion union
select 5 f1, 1.200000000000000e+001 f2 from tversion union
select vrl.rnum,vrl.crl + 2 from vrl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ApproximateNumericOpAdd_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1.000000000000000e+000 f2 from tversion union
select 2 f1, 2.000000000000000e+000 f2 from tversion union
select 3 f1, 3.000000000000000e+000 f2 from tversion union
select 4 f1, 1.900000000000000e+000 f2 from tversion union
select 5 f1, 1.200000000000000e+001 f2 from tversion union
select trl.rnum,trl.crl + 2 from trl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ApproximateNumericOpDiv_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -5.000000000000000e-001 f2 from tversion union
select 2 f1, 0.000000000000000e+000 f2 from tversion union
select 3 f1, 5.000000000000000e-001 f2 from tversion union
select 4 f1, -5.000000000000000e-002 f2 from tversion union
select 5 f1, 5.000000000000000e+000 f2 from tversion union
select vflt.rnum,vflt.cflt / 2 from vflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ApproximateNumericOpDiv_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -5.000000000000000e-001 f2 from tversion union
select 2 f1, 0.000000000000000e+000 f2 from tversion union
select 3 f1, 5.000000000000000e-001 f2 from tversion union
select 4 f1, -5.000000000000000e-002 f2 from tversion union
select 5 f1, 5.000000000000000e+000 f2 from tversion union
select tflt.rnum,tflt.cflt / 2 from tflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ApproximateNumericOpDiv_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -5.000000000000000e-001 f2 from tversion union
select 2 f1, 0.000000000000000e+000 f2 from tversion union
select 3 f1, 5.000000000000000e-001 f2 from tversion union
select 4 f1, -5.000000000000000e-002 f2 from tversion union
select 5 f1, 5.000000000000000e+000 f2 from tversion union
select vdbl.rnum,vdbl.cdbl / 2 from vdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ApproximateNumericOpDiv_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -5.000000000000000e-001 f2 from tversion union
select 2 f1, 0.000000000000000e+000 f2 from tversion union
select 3 f1, 5.000000000000000e-001 f2 from tversion union
select 4 f1, -5.000000000000000e-002 f2 from tversion union
select 5 f1, 5.000000000000000e+000 f2 from tversion union
select tdbl.rnum,tdbl.cdbl / 2 from tdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ApproximateNumericOpDiv_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -5.000000000000000e-001 f2 from tversion union
select 2 f1, 0.000000000000000e+000 f2 from tversion union
select 3 f1, 5.000000000000000e-001 f2 from tversion union
select 4 f1, -5.000000000000000e-002 f2 from tversion union
select 5 f1, 5.000000000000000e+000 f2 from tversion union
select vrl.rnum,vrl.crl / 2 from vrl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ApproximateNumericOpDiv_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -5.000000000000000e-001 f2 from tversion union
select 2 f1, 0.000000000000000e+000 f2 from tversion union
select 3 f1, 5.000000000000000e-001 f2 from tversion union
select 4 f1, -5.000000000000000e-002 f2 from tversion union
select 5 f1, 5.000000000000000e+000 f2 from tversion union
select trl.rnum,trl.crl / 2 from trl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ApproximateNumericOpMulNULL_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select null f1 from tversion union
select -1.0e+0 * cnnull from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'ApproximateNumericOpMulNULL_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select null f1 from tversion union
select 0.0e+0 * cnnull from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'ApproximateNumericOpMulNULL_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select null f1 from tversion union
select 1.0e+0 * cnnull from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'ApproximateNumericOpMulNULL_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select null f1 from tversion union
select -1.0e-1 * cnnull from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'ApproximateNumericOpMulNULL_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select null f1 from tversion union
select 10.0e+0 * cnnull from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'ApproximateNumericOpMul_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -2.000000000000000e+000 f2 from tversion union
select 2 f1, 0.000000000000000e+000 f2 from tversion union
select 3 f1, 2.000000000000000e+000 f2 from tversion union
select 4 f1, -2.000000000000000e-001 f2 from tversion union
select 5 f1, 2.000000000000000e+001 f2 from tversion union
select vflt.rnum,vflt.cflt * 2 from vflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ApproximateNumericOpMul_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -2.000000000000000e+000 f2 from tversion union
select 2 f1, 0.000000000000000e+000 f2 from tversion union
select 3 f1, 2.000000000000000e+000 f2 from tversion union
select 4 f1, -2.000000000000000e-001 f2 from tversion union
select 5 f1, 2.000000000000000e+001 f2 from tversion union
select tflt.rnum,tflt.cflt * 2 from tflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ApproximateNumericOpMul_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -2.000000000000000e+000 f2 from tversion union
select 2 f1, 0.000000000000000e+000 f2 from tversion union
select 3 f1, 2.000000000000000e+000 f2 from tversion union
select 4 f1, -2.000000000000000e-001 f2 from tversion union
select 5 f1, 2.000000000000000e+001 f2 from tversion union
select vdbl.rnum,vdbl.cdbl * 2 from vdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ApproximateNumericOpMul_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -2.000000000000000e+000 f2 from tversion union
select 2 f1, 0.000000000000000e+000 f2 from tversion union
select 3 f1, 2.000000000000000e+000 f2 from tversion union
select 4 f1, -2.000000000000000e-001 f2 from tversion union
select 5 f1, 2.000000000000000e+001 f2 from tversion union
select tdbl.rnum,tdbl.cdbl * 2 from tdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ApproximateNumericOpMul_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -2.000000000000000e+000 f2 from tversion union
select 2 f1, 0.000000000000000e+000 f2 from tversion union
select 3 f1, 2.000000000000000e+000 f2 from tversion union
select 4 f1, -2.000000000000000e-001 f2 from tversion union
select 5 f1, 2.000000000000000e+001 f2 from tversion union
select vrl.rnum,vrl.crl * 2 from vrl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ApproximateNumericOpMul_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -2.000000000000000e+000 f2 from tversion union
select 2 f1, 0.000000000000000e+000 f2 from tversion union
select 3 f1, 2.000000000000000e+000 f2 from tversion union
select 4 f1, -2.000000000000000e-001 f2 from tversion union
select 5 f1, 2.000000000000000e+001 f2 from tversion union
select trl.rnum,trl.crl * 2 from trl
) Q
group by
f1,f2
) Q ) P)
) b
order by test_name_part
""",
    doc="qp_misc.sql self-checking tests (40): AbsCoreApproximateNumeric_p1 AbsCoreExactNumeric_p4 AbsCoreInteger_p1 AbsCoreInteger_p2 AbsCoreInteger_p3 AbsCoreInteger_p4 AbsCoreInteger_p5 AbsCoreInteger_p6 AbsCoreApproximateNumeric_p2 AbsCoreApproximateNumeric_p3 AbsCoreApproximateNumeric_p4 AbsCoreApproximateNumeric_p5 AbsCoreApproximateNumeric_p6 AbsCoreExactNumeric_p1 AbsCoreExactNumeric_p2 AbsCoreExactNumeric_p3 AggregateInExpression_p1 A",
    tags=("qpmisc",),
    prelude=QPMISC_PRELUDE,
)

register_regress(
    "regress_qpmisc_b01_approximate_avg_boolean_case",
    """
select test_name_part, pass_ind from (
(select 'ApproximateNumericOpSub_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -3.000000000000000e+000 f2 from tversion union
select 2 f1, -2.000000000000000e+000 f2 from tversion union
select 3 f1, -1.000000000000000e+000 f2 from tversion union
select 4 f1, -2.100000000000000e+000 f2 from tversion union
select 5 f1, 8.000000000000000e+000 f2 from tversion union
select vflt.rnum,vflt.cflt - 2 from vflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ApproximateNumericOpSub_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -3.000000000000000e+000 f2 from tversion union
select 2 f1, -2.000000000000000e+000 f2 from tversion union
select 3 f1, -1.000000000000000e+000 f2 from tversion union
select 4 f1, -2.100000000000000e+000 f2 from tversion union
select 5 f1, 8.000000000000000e+000 f2 from tversion union
select tflt.rnum,tflt.cflt - 2 from tflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ApproximateNumericOpSub_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -3.000000000000000e+000 f2 from tversion union
select 2 f1, -2.000000000000000e+000 f2 from tversion union
select 3 f1, -1.000000000000000e+000 f2 from tversion union
select 4 f1, -2.100000000000000e+000 f2 from tversion union
select 5 f1, 8.000000000000000e+000 f2 from tversion union
select vdbl.rnum,vdbl.cdbl - 2 from vdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ApproximateNumericOpSub_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -3.000000000000000e+000 f2 from tversion union
select 2 f1, -2.000000000000000e+000 f2 from tversion union
select 3 f1, -1.000000000000000e+000 f2 from tversion union
select 4 f1, -2.100000000000000e+000 f2 from tversion union
select 5 f1, 8.000000000000000e+000 f2 from tversion union
select tdbl.rnum,tdbl.cdbl - 2 from tdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ApproximateNumericOpSub_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -3.000000000000000e+000 f2 from tversion union
select 2 f1, -2.000000000000000e+000 f2 from tversion union
select 3 f1, -1.000000000000000e+000 f2 from tversion union
select 4 f1, -2.100000000000000e+000 f2 from tversion union
select 5 f1, 8.000000000000000e+000 f2 from tversion union
select vrl.rnum,vrl.crl - 2 from vrl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ApproximateNumericOpSub_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -3.000000000000000e+000 f2 from tversion union
select 2 f1, -2.000000000000000e+000 f2 from tversion union
select 3 f1, -1.000000000000000e+000 f2 from tversion union
select 4 f1, -2.100000000000000e+000 f2 from tversion union
select 5 f1, 8.000000000000000e+000 f2 from tversion union
select trl.rnum,trl.crl - 2 from trl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'AvgApproxNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1.98 f1 from tversion union
select avg(vflt.cflt) from vflt
) Q
group by
f1
) Q ) P)
union all
(select 'AvgApproxNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1.98 f1 from tversion union
select avg(tflt.cflt) from tflt
) Q
group by
f1
) Q ) P)
union all
(select 'AvgApproxNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1.98 f1 from tversion union
select avg(vdbl.cdbl) from vdbl
) Q
group by
f1
) Q ) P)
union all
(select 'AvgApproxNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1.98 f1 from tversion union
select avg(tdbl.cdbl) from tdbl
) Q
group by
f1
) Q ) P)
union all
(select 'AvgApproxNumeric_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1.98 f1 from tversion union
select avg(vrl.crl) from vrl
) Q
group by
f1
) Q ) P)
union all
(select 'AvgApproxNumeric_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1.98 f1 from tversion union
select avg(trl.crl) from trl
) Q
group by
f1
) Q ) P)
union all
(select 'AvgExactNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 2.02 f1 from tversion union
select avg(vdec.cdec) from vdec
) Q
group by
f1
) Q ) P)
union all
(select 'AvgExactNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 2.02 f1 from tversion union
select avg(tdec.cdec) from tdec
) Q
group by
f1
) Q ) P)
union all
(select 'AvgExactNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 2.02 f1 from tversion union
select avg(vnum.cnum) from vnum
) Q
group by
f1
) Q ) P)
union all
(select 'AvgExactNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 2.02 f1 from tversion union
select avg(tnum.cnum) from tnum
) Q
group by
f1
) Q ) P)
union all
(select 'AvgIntTruncates_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 2 f1 from tversion union
select avg(vint.cint) from vint
) Q
group by
f1
) Q ) P)
union all
(select 'AvgIntTruncates_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 2 f1 from tversion union
select avg(tint.cint) from tint
) Q
group by
f1
) Q ) P)
union all
(select 'AvgIntTruncates_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 2 f1 from tversion union
select avg(vsint.csint) from vsint
) Q
group by
f1
) Q ) P)
union all
(select 'AvgIntTruncates_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 2 f1 from tversion union
select avg(tsint.csint) from tsint
) Q
group by
f1
) Q ) P)
union all
(select 'AvgIntTruncates_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 2 f1 from tversion union
select avg(vbint.cbint) from vbint
) Q
group by
f1
) Q ) P)
union all
(select 'AvgIntTruncates_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 2 f1 from tversion union
select avg(tbint.cbint) from tbint
) Q
group by
f1
) Q ) P)
union all
(select 'AvgInt_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 2.500000000000000e+000 f1 from tversion union
select avg(vint.cint) from vint
) Q
group by
f1
) Q ) P)
union all
(select 'AvgInt_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 2.500000000000000e+000 f1 from tversion union
select avg(tint.cint) from tint
) Q
group by
f1
) Q ) P)
union all
(select 'AvgInt_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 2.500000000000000e+000 f1 from tversion union
select avg(vsint.csint) from vsint
) Q
group by
f1
) Q ) P)
union all
(select 'AvgInt_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 2.500000000000000e+000 f1 from tversion union
select avg(tsint.csint) from tsint
) Q
group by
f1
) Q ) P)
union all
(select 'AvgInt_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 2.500000000000000e+000 f1 from tversion union
select avg(vbint.cbint) from vbint
) Q
group by
f1
) Q ) P)
union all
(select 'AvgInt_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 2.500000000000000e+000 f1 from tversion union
select avg(tbint.cbint) from tbint
) Q
group by
f1
) Q ) P)
union all
(select 'BooleanComparisonOperatorAnd_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where (1 < 2) and (3 < 4)
) Q
group by
f1
) Q ) P)
union all
(select 'BooleanComparisonOperatorNotOperatorAnd_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where not (2 < 1) and (3 < 4)
) Q
group by
f1
) Q ) P)
union all
(select 'BooleanComparisonOperatorNotOperatorOr_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where not (2 < 1) or (3 < 4)
) Q
group by
f1
) Q ) P)
union all
(select 'BooleanComparisonOperatorOr_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where (1 < 2) or (4 < 3)
) Q
group by
f1
) Q ) P)
union all
(select 'CaseComparisonsInteger_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'other' f2 from tversion union
select 1 f1, 'lt' f2 from tversion union
select 2 f1, 'in' f2 from tversion union
select 3 f1, '=' f2 from tversion union
select 4 f1, 'gt' f2 from tversion union
select tint.rnum,case  when tint.cint =  1  then '=' when tint.cint >  9  then 'gt' when tint.cint < 0 then 'lt' when tint.cint in  (0,11)  then 'in' when tint.cint between 6 and 8  then 'between'  else 'other' end from tint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseComparisonsInteger_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'other' f2 from tversion union
select 1 f1, 'lt' f2 from tversion union
select 2 f1, 'in' f2 from tversion union
select 3 f1, '=' f2 from tversion union
select 4 f1, 'gt' f2 from tversion union
select vsint.rnum,case  when vsint.csint =  1  then '=' when vsint.csint >  9  then 'gt' when vsint.csint < 0 then 'lt' when vsint.csint in  (0,11)  then 'in' when vsint.csint between 6 and 8  then 'between'  else 'other' end from vsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseComparisonsInteger_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'other' f2 from tversion union
select 1 f1, 'lt' f2 from tversion union
select 2 f1, 'in' f2 from tversion union
select 3 f1, '=' f2 from tversion union
select 4 f1, 'gt' f2 from tversion union
select tsint.rnum,case  when tsint.csint =  1  then '=' when tsint.csint >  9  then 'gt' when tsint.csint < 0 then 'lt' when tsint.csint in  (0,11)  then 'in' when tsint.csint between 6 and 8  then 'between'  else 'other' end from tsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseComparisonsInteger_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'other' f2 from tversion union
select 1 f1, 'lt' f2 from tversion union
select 2 f1, 'in' f2 from tversion union
select 3 f1, '=' f2 from tversion union
select 4 f1, 'gt' f2 from tversion union
select vbint.rnum,case  when vbint.cbint =  1  then '=' when vbint.cbint >  9  then 'gt' when vbint.cbint < 0 then 'lt' when vbint.cbint in  (0,11)  then 'in' when vbint.cbint between 6 and 8  then 'between'  else 'other' end from vbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseComparisonsInteger_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'other' f2 from tversion union
select 1 f1, 'lt' f2 from tversion union
select 2 f1, 'in' f2 from tversion union
select 3 f1, '=' f2 from tversion union
select 4 f1, 'gt' f2 from tversion union
select tbint.rnum,case  when tbint.cbint =  1  then '=' when tbint.cbint >  9  then 'gt' when tbint.cbint < 0 then 'lt' when tbint.cbint in  (0,11)  then 'in' when tbint.cbint between 6 and 8  then 'between'  else 'other' end from tbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseNestedApproximateNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'nested else' f2 from tversion union
select 3 f1, 'nested else' f2 from tversion union
select 4 f1, 'nested else' f2 from tversion union
select 5 f1, 'nested inner' f2 from tversion union
select vflt.rnum,case  when vflt.cflt > -1  then case  when vflt.cflt > 1 then  'nested inner' else 'nested else' end else 'else'  end from vflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseNestedApproximateNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'nested else' f2 from tversion union
select 3 f1, 'nested else' f2 from tversion union
select 4 f1, 'nested else' f2 from tversion union
select 5 f1, 'nested inner' f2 from tversion union
select tflt.rnum,case  when tflt.cflt > -1  then case  when tflt.cflt > 1 then  'nested inner' else 'nested else' end else 'else'  end from tflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseNestedApproximateNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'nested else' f2 from tversion union
select 3 f1, 'nested else' f2 from tversion union
select 4 f1, 'nested else' f2 from tversion union
select 5 f1, 'nested inner' f2 from tversion union
select vdbl.rnum,case  when vdbl.cdbl > -1  then case  when vdbl.cdbl > 1 then  'nested inner' else 'nested else' end else 'else'  end from vdbl
) Q
group by
f1,f2
) Q ) P)
) b
order by test_name_part
""",
    doc="qp_misc.sql self-checking tests (40): ApproximateNumericOpSub_p1 ApproximateNumericOpSub_p2 ApproximateNumericOpSub_p3 ApproximateNumericOpSub_p4 ApproximateNumericOpSub_p5 ApproximateNumericOpSub_p6 AvgApproxNumeric_p1 AvgApproxNumeric_p2 AvgApproxNumeric_p3 AvgApproxNumeric_p4 AvgApproxNumeric_p5 AvgApproxNumeric_p6 AvgExactNumeric_p1 AvgExactNumeric_p2 AvgExactNumeric_p3 AvgExactNumeric_p4 AvgIntTruncates_p1 AvgIntTruncates_p2 AvgI",
    tags=("qpmisc",),
    prelude=QPMISC_PRELUDE,
)

register_regress(
    "regress_qpmisc_b02_case",
    """
select test_name_part, pass_ind from (
(select 'CaseNestedApproximateNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'nested else' f2 from tversion union
select 3 f1, 'nested else' f2 from tversion union
select 4 f1, 'nested else' f2 from tversion union
select 5 f1, 'nested inner' f2 from tversion union
select tdbl.rnum,case  when tdbl.cdbl > -1  then case  when tdbl.cdbl > 1 then  'nested inner' else 'nested else' end else 'else'  end from tdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseNestedApproximateNumeric_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'nested else' f2 from tversion union
select 3 f1, 'nested else' f2 from tversion union
select 4 f1, 'nested else' f2 from tversion union
select 5 f1, 'nested inner' f2 from tversion union
select vrl.rnum,case  when vrl.crl > -1  then case  when vrl.crl > 1 then  'nested inner' else 'nested else' end else 'else'  end from vrl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseNestedApproximateNumeric_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'nested else' f2 from tversion union
select 3 f1, 'nested else' f2 from tversion union
select 4 f1, 'nested else' f2 from tversion union
select 5 f1, 'nested inner' f2 from tversion union
select trl.rnum,case  when trl.crl > -1  then case  when trl.crl > 1 then  'nested inner' else 'nested else' end else 'else'  end from trl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseNestedExactNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'nested else' f2 from tversion union
select 3 f1, 'nested else' f2 from tversion union
select 4 f1, 'nested else' f2 from tversion union
select 5 f1, 'nested inner' f2 from tversion union
select vdec.rnum,case  when vdec.cdec > -1  then case  when vdec.cdec > 1 then  'nested inner' else 'nested else' end else 'else'  end from vdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseNestedExactNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'nested else' f2 from tversion union
select 3 f1, 'nested else' f2 from tversion union
select 4 f1, 'nested else' f2 from tversion union
select 5 f1, 'nested inner' f2 from tversion union
select tdec.rnum,case  when tdec.cdec > -1  then case  when tdec.cdec > 1 then  'nested inner' else 'nested else' end else 'else'  end from tdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseNestedExactNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'nested else' f2 from tversion union
select 3 f1, 'nested else' f2 from tversion union
select 4 f1, 'nested else' f2 from tversion union
select 5 f1, 'nested inner' f2 from tversion union
select vnum.rnum,case  when vnum.cnum > -1  then case  when vnum.cnum > 1 then  'nested inner' else 'nested else' end else 'else'  end from vnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseNestedExactNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'nested else' f2 from tversion union
select 3 f1, 'nested else' f2 from tversion union
select 4 f1, 'nested else' f2 from tversion union
select 5 f1, 'nested inner' f2 from tversion union
select tnum.rnum,case  when tnum.cnum > -1  then case  when tnum.cnum > 1 then  'nested inner' else 'nested else' end else 'else'  end from tnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseNestedInteger_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'nested else' f2 from tversion union
select 3 f1, 'nested else' f2 from tversion union
select 4 f1, 'nested inner' f2 from tversion union
select vint.rnum,case  when vint.cint > -1  then case  when vint.cint > 1 then  'nested inner' else 'nested else' end else 'else'  end from vint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseNestedInteger_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'nested else' f2 from tversion union
select 3 f1, 'nested else' f2 from tversion union
select 4 f1, 'nested inner' f2 from tversion union
select tint.rnum,case  when tint.cint > -1  then case  when tint.cint > 1 then  'nested inner' else 'nested else' end else 'else'  end from tint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseNestedInteger_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'nested else' f2 from tversion union
select 3 f1, 'nested else' f2 from tversion union
select 4 f1, 'nested inner' f2 from tversion union
select vsint.rnum,case  when vsint.csint > -1  then case  when vsint.csint > 1 then  'nested inner' else 'nested else' end else 'else'  end from vsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseNestedInteger_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'nested else' f2 from tversion union
select 3 f1, 'nested else' f2 from tversion union
select 4 f1, 'nested inner' f2 from tversion union
select tsint.rnum,case  when tsint.csint > -1  then case  when tsint.csint > 1 then  'nested inner' else 'nested else' end else 'else'  end from tsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseNestedInteger_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'nested else' f2 from tversion union
select 3 f1, 'nested else' f2 from tversion union
select 4 f1, 'nested inner' f2 from tversion union
select vbint.rnum,case  when vbint.cbint > -1  then case  when vbint.cbint > 1 then  'nested inner' else 'nested else' end else 'else'  end from vbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseNestedInteger_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'nested else' f2 from tversion union
select 3 f1, 'nested else' f2 from tversion union
select 4 f1, 'nested inner' f2 from tversion union
select tbint.rnum,case  when tbint.cbint > -1  then case  when tbint.cbint > 1 then  'nested inner' else 'nested else' end else 'else'  end from tbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseSubqueryApproxmiateNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'else' f2 from tversion union
select 3 f1, 'else' f2 from tversion union
select 4 f1, 'else' f2 from tversion union
select 5 f1, 'true' f2 from tversion union
select vflt.rnum,case  when vflt.cflt= (select max( vflt.cflt) from vflt)    then 'true' else 'else' 	end from vflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseSubqueryApproxmiateNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'else' f2 from tversion union
select 3 f1, 'else' f2 from tversion union
select 4 f1, 'else' f2 from tversion union
select 5 f1, 'true' f2 from tversion union
select tflt.rnum,case  when tflt.cflt= (select max( tflt.cflt) from tflt)    then 'true' else 'else' 	end from tflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseSubqueryApproxmiateNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'else' f2 from tversion union
select 3 f1, 'else' f2 from tversion union
select 4 f1, 'else' f2 from tversion union
select 5 f1, 'true' f2 from tversion union
select vdbl.rnum,case  when vdbl.cdbl= (select max( vdbl.cdbl) from vdbl)    then 'true' else 'else' 	end from vdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseSubqueryApproxmiateNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'else' f2 from tversion union
select 3 f1, 'else' f2 from tversion union
select 4 f1, 'else' f2 from tversion union
select 5 f1, 'true' f2 from tversion union
select tdbl.rnum,case  when tdbl.cdbl= (select max( tdbl.cdbl) from tdbl)    then 'true' else 'else' 	end from tdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseSubqueryApproxmiateNumeric_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'else' f2 from tversion union
select 3 f1, 'else' f2 from tversion union
select 4 f1, 'else' f2 from tversion union
select 5 f1, 'true' f2 from tversion union
select vrl.rnum,case  when vrl.crl= (select max( vrl.crl) from vrl)    then 'true' else 'else' 	end from vrl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseSubqueryApproxmiateNumeric_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'else' f2 from tversion union
select 3 f1, 'else' f2 from tversion union
select 4 f1, 'else' f2 from tversion union
select 5 f1, 'true' f2 from tversion union
select trl.rnum,case  when trl.crl= (select max( trl.crl) from trl)    then 'true' else 'else' 	end from trl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseSubQueryExactNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'else' f2 from tversion union
select 3 f1, 'else' f2 from tversion union
select 4 f1, 'else' f2 from tversion union
select 5 f1, 'true' f2 from tversion union
select vdec.rnum,case  when vdec.cdec= (select max( vdec.cdec) from vdec)    then 'true' else 'else' 	end from vdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseSubQueryExactNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'else' f2 from tversion union
select 3 f1, 'else' f2 from tversion union
select 4 f1, 'else' f2 from tversion union
select 5 f1, 'true' f2 from tversion union
select tdec.rnum,case  when tdec.cdec= (select max( tdec.cdec) from tdec)    then 'true' else 'else' 	end from tdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseSubQueryExactNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'else' f2 from tversion union
select 3 f1, 'else' f2 from tversion union
select 4 f1, 'else' f2 from tversion union
select 5 f1, 'true' f2 from tversion union
select vnum.rnum,case  when vnum.cnum= (select max( vnum.cnum) from vnum)    then 'true' else 'else' 	end from vnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseSubQueryExactNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'else' f2 from tversion union
select 3 f1, 'else' f2 from tversion union
select 4 f1, 'else' f2 from tversion union
select 5 f1, 'true' f2 from tversion union
select tnum.rnum,case  when tnum.cnum= (select max( tnum.cnum) from tnum)    then 'true' else 'else' 	end from tnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseSubQueryInteger_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'else' f2 from tversion union
select 3 f1, 'else' f2 from tversion union
select 4 f1, 'true' f2 from tversion union
select vint.rnum,case  when vint.cint= (select max( vint.cint) from vint)    then 'true' else 'else' 	end from vint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseSubQueryInteger_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'else' f2 from tversion union
select 3 f1, 'else' f2 from tversion union
select 4 f1, 'true' f2 from tversion union
select tint.rnum,case  when tint.cint= (select max( tint.cint) from tint)    then 'true' else 'else' 	end from tint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseSubQueryInteger_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'else' f2 from tversion union
select 3 f1, 'else' f2 from tversion union
select 4 f1, 'true' f2 from tversion union
select vsint.rnum,case  when vsint.csint= (select max( vsint.csint) from vsint)    then 'true' else 'else' 	end from vsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseSubQueryInteger_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'else' f2 from tversion union
select 3 f1, 'else' f2 from tversion union
select 4 f1, 'true' f2 from tversion union
select tsint.rnum,case  when tsint.csint= (select max( tsint.csint) from tsint)    then 'true' else 'else' 	end from tsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseSubQueryInteger_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'else' f2 from tversion union
select 3 f1, 'else' f2 from tversion union
select 4 f1, 'true' f2 from tversion union
select vbint.rnum,case  when vbint.cbint= (select max( vbint.cbint) from vbint)    then 'true' else 'else' 	end from vbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseSubQueryInteger_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'else' f2 from tversion union
select 3 f1, 'else' f2 from tversion union
select 4 f1, 'true' f2 from tversion union
select tbint.rnum,case  when tbint.cbint= (select max( tbint.cbint) from tbint)    then 'true' else 'else' 	end from tbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseBasicSearchApproximateNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'other' f2 from tversion union
select 1 f1, 'test1' f2 from tversion union
select 2 f1, 'other' f2 from tversion union
select 3 f1, 'other' f2 from tversion union
select 4 f1, 'other' f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select vflt.rnum,case when vflt.cflt in ( -1,10,0.1 )  then 'test1' else 'other' end from vflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseBasicSearchApproximateNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'other' f2 from tversion union
select 1 f1, 'test1' f2 from tversion union
select 2 f1, 'other' f2 from tversion union
select 3 f1, 'other' f2 from tversion union
select 4 f1, 'other' f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select tflt.rnum,case when tflt.cflt in ( -1,10,0.1 )  then 'test1' else 'other' end from tflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseBasicSearchApproximateNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'other' f2 from tversion union
select 1 f1, 'test1' f2 from tversion union
select 2 f1, 'other' f2 from tversion union
select 3 f1, 'other' f2 from tversion union
select 4 f1, 'other' f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select vdbl.rnum,case when vdbl.cdbl in ( -1,10,0.1 )  then 'test1' else 'other' end from vdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseBasicSearchApproximateNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'other' f2 from tversion union
select 1 f1, 'test1' f2 from tversion union
select 2 f1, 'other' f2 from tversion union
select 3 f1, 'other' f2 from tversion union
select 4 f1, 'other' f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select tdbl.rnum,case when tdbl.cdbl in ( -1,10,0.1 )  then 'test1' else 'other' end from tdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseBasicSearchApproximateNumeric_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'other' f2 from tversion union
select 1 f1, 'test1' f2 from tversion union
select 2 f1, 'other' f2 from tversion union
select 3 f1, 'other' f2 from tversion union
select 4 f1, 'other' f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select vrl.rnum,case when vrl.crl in ( -1,10,0.1 )  then 'test1' else 'other' end from vrl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseBasicSearchApproximateNumeric_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'other' f2 from tversion union
select 1 f1, 'test1' f2 from tversion union
select 2 f1, 'other' f2 from tversion union
select 3 f1, 'other' f2 from tversion union
select 4 f1, 'other' f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select trl.rnum,case when trl.crl in ( -1,10,0.1 )  then 'test1' else 'other' end from trl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseBasicSearchExactNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'other' f2 from tversion union
select 1 f1, 'test1' f2 from tversion union
select 2 f1, 'other' f2 from tversion union
select 3 f1, 'other' f2 from tversion union
select 4 f1, 'test1' f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select vdec.rnum,case when vdec.cdec in ( -1,10,0.1 )  then 'test1' else 'other' end from vdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseBasicSearchExactNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'other' f2 from tversion union
select 1 f1, 'test1' f2 from tversion union
select 2 f1, 'other' f2 from tversion union
select 3 f1, 'other' f2 from tversion union
select 4 f1, 'test1' f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select tdec.rnum,case when tdec.cdec in ( -1,10,0.1 )  then 'test1' else 'other' end from tdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseBasicSearchExactNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'other' f2 from tversion union
select 1 f1, 'test1' f2 from tversion union
select 2 f1, 'other' f2 from tversion union
select 3 f1, 'other' f2 from tversion union
select 4 f1, 'test1' f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select vnum.rnum,case when vnum.cnum in ( -1,10,0.1 )  then 'test1' else 'other' end from vnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseBasicSearchExactNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'other' f2 from tversion union
select 1 f1, 'test1' f2 from tversion union
select 2 f1, 'other' f2 from tversion union
select 3 f1, 'other' f2 from tversion union
select 4 f1, 'test1' f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select tnum.rnum,case when tnum.cnum in ( -1,10,0.1 )  then 'test1' else 'other' end from tnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseBasicSearchInteger_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'other' f2 from tversion union
select 1 f1, 'test1' f2 from tversion union
select 2 f1, 'other' f2 from tversion union
select 3 f1, 'test1' f2 from tversion union
select 4 f1, 'test1' f2 from tversion union
select vint.rnum,case when vint.cint in ( -1,10,1 )  then 'test1' else 'other' end from vint
) Q
group by
f1,f2
) Q ) P)
) b
order by test_name_part
""",
    doc="qp_misc.sql self-checking tests (40): CaseNestedApproximateNumeric_p4 CaseNestedApproximateNumeric_p5 CaseNestedApproximateNumeric_p6 CaseNestedExactNumeric_p1 CaseNestedExactNumeric_p2 CaseNestedExactNumeric_p3 CaseNestedExactNumeric_p4 CaseNestedInteger_p1 CaseNestedInteger_p2 CaseNestedInteger_p3 CaseNestedInteger_p4 CaseNestedInteger_p5 CaseNestedInteger_p6 CaseSubqueryApproxmiateNumeric_p1 CaseSubqueryApproxmiateNumeric_p2 CaseSu",
    tags=("qpmisc",),
    prelude=QPMISC_PRELUDE,
)

register_regress(
    "regress_qpmisc_b03_case_cast",
    """
select test_name_part, pass_ind from (
(select 'CaseBasicSearchInteger_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'other' f2 from tversion union
select 1 f1, 'test1' f2 from tversion union
select 2 f1, 'other' f2 from tversion union
select 3 f1, 'test1' f2 from tversion union
select 4 f1, 'test1' f2 from tversion union
select tint.rnum,case when tint.cint in ( -1,10,1 )  then 'test1' else 'other' end from tint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseBasicSearchInteger_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'other' f2 from tversion union
select 1 f1, 'test1' f2 from tversion union
select 2 f1, 'other' f2 from tversion union
select 3 f1, 'test1' f2 from tversion union
select 4 f1, 'test1' f2 from tversion union
select vsint.rnum,case when vsint.csint in ( -1,10,1 )  then 'test1' else 'other' end from vsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseBasicSearchInteger_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'other' f2 from tversion union
select 1 f1, 'test1' f2 from tversion union
select 2 f1, 'other' f2 from tversion union
select 3 f1, 'test1' f2 from tversion union
select 4 f1, 'test1' f2 from tversion union
select tsint.rnum,case when tsint.csint in ( -1,10,1 )  then 'test1' else 'other' end from tsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseBasicSearchInteger_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'other' f2 from tversion union
select 1 f1, 'test1' f2 from tversion union
select 2 f1, 'other' f2 from tversion union
select 3 f1, 'test1' f2 from tversion union
select 4 f1, 'test1' f2 from tversion union
select vbint.rnum,case when vbint.cbint in ( -1,10,1 )  then 'test1' else 'other' end from vbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseBasicSearchInteger_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'other' f2 from tversion union
select 1 f1, 'test1' f2 from tversion union
select 2 f1, 'other' f2 from tversion union
select 3 f1, 'test1' f2 from tversion union
select 4 f1, 'test1' f2 from tversion union
select tbint.rnum,case when tbint.cbint in ( -1,10,1 )  then 'test1' else 'other' end from tbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseComparisonsApproximateNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'other' f2 from tversion union
select 1 f1, 'lt' f2 from tversion union
select 2 f1, 'in' f2 from tversion union
select 3 f1, '=' f2 from tversion union
select 4 f1, 'between' f2 from tversion union
select 5 f1, 'gt' f2 from tversion union
select vflt.rnum,case  when vflt.cflt =  1  then '=' when vflt.cflt >  9  then 'gt' when vflt.cflt < -0.2 then 'lt' when vflt.cflt in  (0,11)  then 'in' when vflt.cflt between -1 and 0  then 'between' else 'other' end from vflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseComparisonsApproximateNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'other' f2 from tversion union
select 1 f1, 'lt' f2 from tversion union
select 2 f1, 'in' f2 from tversion union
select 3 f1, '=' f2 from tversion union
select 4 f1, 'between' f2 from tversion union
select 5 f1, 'gt' f2 from tversion union
select tflt.rnum,case  when tflt.cflt =  1  then '=' when tflt.cflt >  9  then 'gt' when tflt.cflt < -0.2 then 'lt' when tflt.cflt in  (0,11)  then 'in' when tflt.cflt between -1 and 0  then 'between' else 'other' end from tflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseComparisonsApproximateNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'other' f2 from tversion union
select 1 f1, 'lt' f2 from tversion union
select 2 f1, 'in' f2 from tversion union
select 3 f1, '=' f2 from tversion union
select 4 f1, 'between' f2 from tversion union
select 5 f1, 'gt' f2 from tversion union
select vdbl.rnum,case  when vdbl.cdbl =  1  then '=' when vdbl.cdbl >  9  then 'gt' when vdbl.cdbl < -0.2 then 'lt' when vdbl.cdbl in  (0,11)  then 'in' when vdbl.cdbl between -1 and 0  then 'between' else 'other' end from vdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseComparisonsApproximateNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'other' f2 from tversion union
select 1 f1, 'lt' f2 from tversion union
select 2 f1, 'in' f2 from tversion union
select 3 f1, '=' f2 from tversion union
select 4 f1, 'between' f2 from tversion union
select 5 f1, 'gt' f2 from tversion union
select tdbl.rnum,case  when tdbl.cdbl =  1  then '=' when tdbl.cdbl >  9  then 'gt' when tdbl.cdbl < -0.2 then 'lt' when tdbl.cdbl in  (0,11)  then 'in' when tdbl.cdbl between -1 and 0  then 'between' else 'other' end from tdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseComparisonsApproximateNumeric_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'other' f2 from tversion union
select 1 f1, 'lt' f2 from tversion union
select 2 f1, 'in' f2 from tversion union
select 3 f1, '=' f2 from tversion union
select 4 f1, 'between' f2 from tversion union
select 5 f1, 'gt' f2 from tversion union
select vrl.rnum,case  when vrl.crl =  1  then '=' when vrl.crl >  9  then 'gt' when vrl.crl < -0.2 then 'lt' when vrl.crl in  (0,11)  then 'in' when vrl.crl between -1 and 0  then 'between' else 'other' end from vrl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseComparisonsApproximateNumeric_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'other' f2 from tversion union
select 1 f1, 'lt' f2 from tversion union
select 2 f1, 'in' f2 from tversion union
select 3 f1, '=' f2 from tversion union
select 4 f1, 'between' f2 from tversion union
select 5 f1, 'gt' f2 from tversion union
select trl.rnum,case  when trl.crl =  1  then '=' when trl.crl >  9  then 'gt' when trl.crl < -0.2 then 'lt' when trl.crl in  (0,11)  then 'in' when trl.crl between -1 and 0  then 'between' else 'other' end from trl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseComparisonsExactNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'other' f2 from tversion union
select 1 f1, 'lt' f2 from tversion union
select 2 f1, 'in' f2 from tversion union
select 3 f1, '=' f2 from tversion union
select 4 f1, 'between' f2 from tversion union
select 5 f1, 'gt' f2 from tversion union
select vdec.rnum,case  when vdec.cdec =  1  then '=' when vdec.cdec >  9  then 'gt' when vdec.cdec < -0.1 then 'lt' when vdec.cdec in  (0,11)  then 'in' when vdec.cdec between 0 and 1  then 'between' else 'other' end from vdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseComparisonsExactNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'other' f2 from tversion union
select 1 f1, 'lt' f2 from tversion union
select 2 f1, 'in' f2 from tversion union
select 3 f1, '=' f2 from tversion union
select 4 f1, 'between' f2 from tversion union
select 5 f1, 'gt' f2 from tversion union
select tdec.rnum,case  when tdec.cdec =  1  then '=' when tdec.cdec >  9  then 'gt' when tdec.cdec < -0.1 then 'lt' when tdec.cdec in  (0,11)  then 'in' when tdec.cdec between 0 and 1  then 'between' else 'other' end from tdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseComparisonsExactNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'other' f2 from tversion union
select 1 f1, 'lt' f2 from tversion union
select 2 f1, 'in' f2 from tversion union
select 3 f1, '=' f2 from tversion union
select 4 f1, 'between' f2 from tversion union
select 5 f1, 'gt' f2 from tversion union
select vnum.rnum,case  when vnum.cnum =  1  then '=' when vnum.cnum >  9  then 'gt' when vnum.cnum < -0.1 then 'lt' when vnum.cnum in  (0,11)  then 'in' when vnum.cnum between 0 and 1  then 'between' else 'other' end from vnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseComparisonsExactNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'other' f2 from tversion union
select 1 f1, 'lt' f2 from tversion union
select 2 f1, 'in' f2 from tversion union
select 3 f1, '=' f2 from tversion union
select 4 f1, 'between' f2 from tversion union
select 5 f1, 'gt' f2 from tversion union
select tnum.rnum,case  when tnum.cnum =  1  then '=' when tnum.cnum >  9  then 'gt' when tnum.cnum < -0.1 then 'lt' when tnum.cnum in  (0,11)  then 'in' when tnum.cnum between 0 and 1  then 'between' else 'other' end from tnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CaseComparisonsInteger_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'other' f2 from tversion union
select 1 f1, 'lt' f2 from tversion union
select 2 f1, 'in' f2 from tversion union
select 3 f1, '=' f2 from tversion union
select 4 f1, 'gt' f2 from tversion union
select vint.rnum,case  when vint.cint =  1  then '=' when vint.cint >  9  then 'gt' when vint.cint < 0 then 'lt' when vint.cint in  (0,11)  then 'in' when vint.cint between 6 and 8  then 'between'  else 'other' end from vint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastBigintToBigint_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, cast(vbint.cbint as bigint) from vbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastBigintToBigint_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, cast(tbint.cbint as bigint) from tbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastBigintToChar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '-1' f2 from tversion union
select 2 f1, '0 ' f2 from tversion union
select 3 f1, '1 ' f2 from tversion union
select 4 f1, '10' f2 from tversion union
select rnum, cast(vbint.cbint as char(2)) from vbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastBigintToChar_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '-1' f2 from tversion union
select 2 f1, '0 ' f2 from tversion union
select 3 f1, '1 ' f2 from tversion union
select 4 f1, '10' f2 from tversion union
select rnum, cast(tbint.cbint as char(2)) from tbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastBigintToDecimal_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, cast(vbint.cbint as decimal(10,0)) from vbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastBigintToDecimal_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, cast(tbint.cbint as decimal(10,0)) from tbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastBigintToDouble_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, cast(vbint.cbint as double precision) from vbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastBigintToDouble_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, cast(tbint.cbint as double precision) from tbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastBigintToFloat_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, cast(vbint.cbint as float) from vbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastBigintToFloat_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, cast(tbint.cbint as float) from tbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastBigintToInteger_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, cast(vbint.cbint as integer) from vbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastBigintToInteger_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, cast(tbint.cbint as integer) from tbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastBigintToSmallint_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, cast(vbint.cbint as smallint) from vbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastBigintToSmallint_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, cast(tbint.cbint as smallint) from tbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastBigintToVarchar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '-1' f2 from tversion union
select 2 f1, '0' f2 from tversion union
select 3 f1, '1' f2 from tversion union
select 4 f1, '10' f2 from tversion union
select rnum, cast(vbint.cbint as varchar(2)) from vbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastBigintToVarchar_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '-1' f2 from tversion union
select 2 f1, '0' f2 from tversion union
select 3 f1, '1' f2 from tversion union
select 4 f1, '10' f2 from tversion union
select rnum, cast(tbint.cbint as varchar(2)) from tbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastCharsToChar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '' f2 from tversion union
select 2 f1, '  ' f2 from tversion union
select 3 f1, 'BB' f2 from tversion union
select 4 f1, 'EE' f2 from tversion union
select 5 f1, 'FF' f2 from tversion union
select rnum, cast(vchar.cchar as char(34)) from vchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastCharsToChar_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '' f2 from tversion union
select 2 f1, '  ' f2 from tversion union
select 3 f1, 'BB' f2 from tversion union
select 4 f1, 'EE' f2 from tversion union
select 5 f1, 'FF' f2 from tversion union
select rnum, cast(tchar.cchar as char(34)) from tchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastCharsToChar_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '' f2 from tversion union
select 2 f1, '  ' f2 from tversion union
select 3 f1, 'BB' f2 from tversion union
select 4 f1, 'EE' f2 from tversion union
select 5 f1, 'FF' f2 from tversion union
select rnum, cast(vvchar.cvchar as char(34)) from vvchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastCharsToChar_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '' f2 from tversion union
select 2 f1, '  ' f2 from tversion union
select 3 f1, 'BB' f2 from tversion union
select 4 f1, 'EE' f2 from tversion union
select 5 f1, 'FF' f2 from tversion union
select rnum, cast(tvchar.cvchar as char(34)) from tvchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastCharsToDate_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select cast('2000-01-01' as date) f1 from tversion union
select cast('2000-01-01' as date) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CastCharsToDouble_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 10.3 f1 from tversion union
select cast('10.3' as double precision) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CastCharsToFloat_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 10.3 f1 from tversion union
select cast('10.3' as float) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CastCharsToInteger_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 10 f1 from tversion union
select cast('10' as integer) from tversion
) Q
group by
f1
) Q ) P)
) b
order by test_name_part
""",
    doc="qp_misc.sql self-checking tests (40): CaseBasicSearchInteger_p2 CaseBasicSearchInteger_p3 CaseBasicSearchInteger_p4 CaseBasicSearchInteger_p5 CaseBasicSearchInteger_p6 CaseComparisonsApproximateNumeric_p1 CaseComparisonsApproximateNumeric_p2 CaseComparisonsApproximateNumeric_p3 CaseComparisonsApproximateNumeric_p4 CaseComparisonsApproximateNumeric_p5 CaseComparisonsApproximateNumeric_p6 CaseComparisonsExactNumeric_p1 CaseComparisonsEx",
    tags=("qpmisc",),
    prelude=QPMISC_PRELUDE,
)

register_regress(
    "regress_qpmisc_b04_cast",
    """
select test_name_part, pass_ind from (
(select 'CastCharsToTimestamp_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select cast('2000-01-01 12:30:40' as timestamp) f1 from tversion union
select cast('2000-01-01 12:30:40' as timestamp) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CastCharsToVarchar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '     ' f2 from tversion union
select 2 f1, '     ' f2 from tversion union
select 3 f1, 'BB   ' f2 from tversion union
select 4 f1, 'EE   ' f2 from tversion union
select 5 f1, 'FF   ' f2 from tversion union
select vchar.rnum, cast(vchar.cchar as varchar(32)) from vchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastCharsToVarchar_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '     ' f2 from tversion union
select 2 f1, '     ' f2 from tversion union
select 3 f1, 'BB   ' f2 from tversion union
select 4 f1, 'EE   ' f2 from tversion union
select 5 f1, 'FF   ' f2 from tversion union
select tchar.rnum, cast(tchar.cchar as varchar(32)) from tchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastCharsToVarchar_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '     ' f2 from tversion union
select 2 f1, '     ' f2 from tversion union
select 3 f1, 'BB   ' f2 from tversion union
select 4 f1, 'EE   ' f2 from tversion union
select 5 f1, 'FF   ' f2 from tversion union
select vvchar.rnum, cast(vvchar.cvchar as varchar(32)) from vvchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastCharsToVarchar_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '     ' f2 from tversion union
select 2 f1, '     ' f2 from tversion union
select 3 f1, 'BB   ' f2 from tversion union
select 4 f1, 'EE   ' f2 from tversion union
select 5 f1, 'FF   ' f2 from tversion union
select tvchar.rnum, cast(tvchar.cvchar as varchar(32)) from tvchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastDateToChar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '1996-01-01' f2 from tversion union
select 2 f1, '2000-01-01' f2 from tversion union
select 3 f1, '2000-12-31' f2 from tversion union
select vdt.rnum, cast(vdt.cdt as char(10)) from vdt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastDateToChar_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '1996-01-01' f2 from tversion union
select 2 f1, '2000-01-01' f2 from tversion union
select 3 f1, '2000-12-31' f2 from tversion union
select tdt.rnum, cast(tdt.cdt as char(10)) from tdt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastDateToDate_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, cast('1996-01-01' as date) f2 from tversion union
select 2 f1, cast('2000-01-01' as date) f2 from tversion union
select 3 f1, cast('2000-12-31' as date) f2 from tversion union
select vdt.rnum, cast(vdt.cdt as date) from vdt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastDateToDate_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, cast('1996-01-01' as date) f2 from tversion union
select 2 f1, cast('2000-01-01' as date) f2 from tversion union
select 3 f1, cast('2000-12-31' as date) f2 from tversion union
select tdt.rnum, cast(tdt.cdt as date) from tdt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastDateToVarchar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '1996-01-01' f2 from tversion union
select 2 f1, '2000-01-01' f2 from tversion union
select 3 f1, '2000-12-31' f2 from tversion union
select vdt.rnum, cast(vdt.cdt as varchar(10)) from vdt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastDateToVarchar_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '1996-01-01' f2 from tversion union
select 2 f1, '2000-01-01' f2 from tversion union
select 3 f1, '2000-12-31' f2 from tversion union
select tdt.rnum, cast(tdt.cdt as varchar(10)) from tdt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastDecimalToBigint_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, cast(vdec.cdec as bigint) from vdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastDecimalToBigint_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, cast(tdec.cdec as bigint) from tdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastDecimalToChar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '-1.00' f2 from tversion union
select 2 f1, '0.00 ' f2 from tversion union
select 3 f1, '1.00 ' f2 from tversion union
select 4 f1, '0.10 ' f2 from tversion union
select 5 f1, '10.00' f2 from tversion union
select rnum, cast(vdec.cdec as char(5)) from vdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastDecimalToChar_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '-1.00' f2 from tversion union
select 2 f1, '0.00 ' f2 from tversion union
select 3 f1, '1.00 ' f2 from tversion union
select 4 f1, '0.10 ' f2 from tversion union
select 5 f1, '10.00' f2 from tversion union
select rnum, cast(tdec.cdec as char(5)) from tdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastDecimalToDouble_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1.0 f2 from tversion union
select 2 f1, 0.0 f2 from tversion union
select 3 f1, 1.0 f2 from tversion union
select 4 f1, 0.1 f2 from tversion union
select 5 f1, 10.0 f2 from tversion union
select rnum, cast(vdec.cdec as double precision) from vdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastDecimalToDouble_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1.0 f2 from tversion union
select 2 f1, 0.0 f2 from tversion union
select 3 f1, 1.0 f2 from tversion union
select 4 f1, 0.1 f2 from tversion union
select 5 f1, 10.0 f2 from tversion union
select rnum, cast(tdec.cdec as double precision) from tdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastDecimalToFloat_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1.0 f2 from tversion union
select 2 f1, 0.0 f2 from tversion union
select 3 f1, 1.0 f2 from tversion union
select 4 f1, 0.1 f2 from tversion union
select 5 f1, 10.0 f2 from tversion union
select rnum, cast(vdec.cdec as float) from vdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastDecimalToFloat_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1.0 f2 from tversion union
select 2 f1, 0.0 f2 from tversion union
select 3 f1, 1.0 f2 from tversion union
select 4 f1, 0.1 f2 from tversion union
select 5 f1, 10.0 f2 from tversion union
select rnum, cast(tdec.cdec as float) from tdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastDecimalToInteger_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, cast(vdec.cdec as integer) from vdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastDecimalToInteger_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, cast(tdec.cdec as integer) from tdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastDecimalToSmallint_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, cast(vdec.cdec as smallint) from vdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastDecimalToSmallint_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, cast(tdec.cdec as smallint) from tdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastDecimalToVarchar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '-1.00' f2 from tversion union
select 2 f1, '0.00' f2 from tversion union
select 3 f1, '1.00' f2 from tversion union
select 4 f1, '0.10' f2 from tversion union
select 5 f1, '10.00' f2 from tversion union
select rnum, cast(vdec.cdec as varchar(5)) from vdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastDecimalToVarchar_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '-1.00' f2 from tversion union
select 2 f1, '0.00' f2 from tversion union
select 3 f1, '1.00' f2 from tversion union
select 4 f1, '0.10' f2 from tversion union
select 5 f1, '10.00' f2 from tversion union
select rnum, cast(tdec.cdec as varchar(5)) from tdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastDoubleToBigint_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, cast(vdbl.cdbl as bigint) from vdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastDoubleToBigint_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, cast(tdbl.cdbl as bigint) from tdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastDoubleToChar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '-1E+0               ' f2 from tversion union
select 2 f1, '0E0                 ' f2 from tversion union
select 3 f1, '1E0                 ' f2 from tversion union
select 4 f1, '-1E-1               ' f2 from tversion union
select 5 f1, '1E1                 ' f2 from tversion union
select rnum, cast(vdbl.cdbl as char(20)) from vdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastDoubleToChar_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '-1E+0               ' f2 from tversion union
select 2 f1, '0E0                 ' f2 from tversion union
select 3 f1, '1E0                 ' f2 from tversion union
select 4 f1, '-1E-1               ' f2 from tversion union
select 5 f1, '1E1                 ' f2 from tversion union
select rnum, cast(tdbl.cdbl as char(20)) from tdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastDoubleToDouble_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1.0 f2 from tversion union
select 2 f1, 0.0 f2 from tversion union
select 3 f1, 1.0 f2 from tversion union
select 4 f1, -0.1 f2 from tversion union
select 5 f1, 10.0 f2 from tversion union
select rnum, cast(vdbl.cdbl as double precision) from vdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastDoubleToDouble_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1.0 f2 from tversion union
select 2 f1, 0.0 f2 from tversion union
select 3 f1, 1.0 f2 from tversion union
select 4 f1, -0.1 f2 from tversion union
select 5 f1, 10.0 f2 from tversion union
select rnum, cast(tdbl.cdbl as double precision) from tdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastDoubleToFloat_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1.0 f2 from tversion union
select 2 f1, 0.0 f2 from tversion union
select 3 f1, 1.0 f2 from tversion union
select 4 f1, -0.1 f2 from tversion union
select 5 f1, 10.0 f2 from tversion union
select rnum, cast(vdbl.cdbl as float) from vdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastDoubleToFloat_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1.0 f2 from tversion union
select 2 f1, 0.0 f2 from tversion union
select 3 f1, 1.0 f2 from tversion union
select 4 f1, -0.1 f2 from tversion union
select 5 f1, 10.0 f2 from tversion union
select rnum, cast(tdbl.cdbl as float) from tdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastDoubleToSmallint_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, cast(vdbl.cdbl as smallint) from vdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastDoubleToSmallint_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, cast(tdbl.cdbl as smallint) from tdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastDoubleToVarchar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '-1E+0' f2 from tversion union
select 2 f1, '0E0' f2 from tversion union
select 3 f1, '1E0' f2 from tversion union
select 4 f1, '-1E-1' f2 from tversion union
select 5 f1, '1E1' f2 from tversion union
select rnum, cast(vdbl.cdbl as varchar(20)) from vdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastDoubleToVarchar_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '-1E+0' f2 from tversion union
select 2 f1, '0E0' f2 from tversion union
select 3 f1, '1E0' f2 from tversion union
select 4 f1, '-1E-1' f2 from tversion union
select 5 f1, '1E1' f2 from tversion union
select rnum, cast(tdbl.cdbl as varchar(20)) from tdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastFloatToBigint_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, cast(vflt.cflt as bigint) from vflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastFloatToBigint_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, cast(tflt.cflt as bigint) from tflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastFloatToChar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '-1E+0               ' f2 from tversion union
select 2 f1, '0E0                 ' f2 from tversion union
select 3 f1, '1E0                 ' f2 from tversion union
select 4 f1, '-1E-1               ' f2 from tversion union
select 5 f1, '1E1                 ' f2 from tversion union
select rnum, cast(vflt.cflt as char(20)) from vflt
) Q
group by
f1,f2
) Q ) P)
) b
order by test_name_part
""",
    doc="qp_misc.sql self-checking tests (40): CastCharsToTimestamp_p1 CastCharsToVarchar_p1 CastCharsToVarchar_p2 CastCharsToVarchar_p3 CastCharsToVarchar_p4 CastDateToChar_p1 CastDateToChar_p2 CastDateToDate_p1 CastDateToDate_p2 CastDateToVarchar_p1 CastDateToVarchar_p2 CastDecimalToBigint_p1 CastDecimalToBigint_p2 CastDecimalToChar_p1 CastDecimalToChar_p2 CastDecimalToDouble_p1 CastDecimalToDouble_p2 CastDecimalToFloat_p1 CastDecimalToFloat",
    tags=("qpmisc",),
    prelude=QPMISC_PRELUDE,
)

register_regress(
    "regress_qpmisc_b05_cast",
    """
select test_name_part, pass_ind from (
(select 'CastFloatToChar_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '-1E+0               ' f2 from tversion union
select 2 f1, '0E0                 ' f2 from tversion union
select 3 f1, '1E0                 ' f2 from tversion union
select 4 f1, '-1E-1               ' f2 from tversion union
select 5 f1, '1E1                 ' f2 from tversion union
select rnum, cast(tflt.cflt as char(20)) from tflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastFloatToDouble_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1.0 f2 from tversion union
select 2 f1, 0.0 f2 from tversion union
select 3 f1, 1.0 f2 from tversion union
select 4 f1, -0.1 f2 from tversion union
select 5 f1, 10.0 f2 from tversion union
select rnum, cast(vflt.cflt as double precision) from vflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastFloatToDouble_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1.0 f2 from tversion union
select 2 f1, 0.0 f2 from tversion union
select 3 f1, 1.0 f2 from tversion union
select 4 f1, -0.1 f2 from tversion union
select 5 f1, 10.0 f2 from tversion union
select rnum, cast(tflt.cflt as double precision) from tflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastFloatToFloat_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1.0 f2 from tversion union
select 2 f1, 0.0 f2 from tversion union
select 3 f1, 1.0 f2 from tversion union
select 4 f1, -0.1 f2 from tversion union
select 5 f1, 10.0 f2 from tversion union
select rnum, cast(vflt.cflt as float) from vflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastFloatToFloat_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1.0 f2 from tversion union
select 2 f1, 0.0 f2 from tversion union
select 3 f1, 1.0 f2 from tversion union
select 4 f1, -0.1 f2 from tversion union
select 5 f1, 10.0 f2 from tversion union
select rnum, cast(tflt.cflt as float) from tflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastFloatToSmallint_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, cast(vflt.cflt as smallint) from vflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastFloatToSmallint_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, cast(tflt.cflt as smallint) from tflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastFloatToVarchar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '-1E+0' f2 from tversion union
select 2 f1, '0E0' f2 from tversion union
select 3 f1, '1E0' f2 from tversion union
select 4 f1, '-1E-1' f2 from tversion union
select 5 f1, '1E1' f2 from tversion union
select rnum, cast(vflt.cflt as varchar(10)) from vflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastFloatToVarchar_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '-1E+0' f2 from tversion union
select 2 f1, '0E0' f2 from tversion union
select 3 f1, '1E0' f2 from tversion union
select 4 f1, '-1E-1' f2 from tversion union
select 5 f1, '1E1' f2 from tversion union
select rnum, cast(tflt.cflt as varchar(10)) from tflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastIntegerToBigint_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, cast(vint.cint as bigint) from vint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastIntegerToBigint_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, cast(tint.cint as bigint) from tint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastIntegerToChar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '-1   ' f2 from tversion union
select 2 f1, '0    ' f2 from tversion union
select 3 f1, '1    ' f2 from tversion union
select 4 f1, '10   ' f2 from tversion union
select rnum, cast(vint.cint as char(5)) from vint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastIntegerToChar_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '-1   ' f2 from tversion union
select 2 f1, '0    ' f2 from tversion union
select 3 f1, '1    ' f2 from tversion union
select 4 f1, '10   ' f2 from tversion union
select rnum, cast(tint.cint as char(5)) from tint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastIntegerToDouble_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, cast(vint.cint as double precision) from vint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastIntegerToDouble_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, cast(tint.cint as double precision) from tint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastIntegerToFloat_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, cast(vint.cint as float) from vint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastIntegerToFloat_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, cast(tint.cint as float) from tint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastIntegerToInteger_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, cast(vint.cint as integer) from vint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastIntegerToInteger_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, cast(tint.cint as integer) from tint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastIntegerToSmallint_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, cast(vint.cint as smallint) from vint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastIntegerToSmallint_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, cast(tint.cint as smallint) from tint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastIntegerToVarchar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '-1' f2 from tversion union
select 2 f1, '0' f2 from tversion union
select 3 f1, '1' f2 from tversion union
select 4 f1, '10' f2 from tversion union
select rnum, cast(vint.cint as varchar(5)) from vint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastIntegerToVarchar_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '-1' f2 from tversion union
select 2 f1, '0' f2 from tversion union
select 3 f1, '1' f2 from tversion union
select 4 f1, '10' f2 from tversion union
select rnum, cast(tint.cint as varchar(5)) from tint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastNumericToBigint_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, cast(vnum.cnum as bigint) from vnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastNumericToBigint_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, cast(tnum.cnum as bigint) from tnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastNumericToChar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '-1.00' f2 from tversion union
select 2 f1, '0.00 ' f2 from tversion union
select 3 f1, '1.00 ' f2 from tversion union
select 4 f1, '0.10 ' f2 from tversion union
select 5 f1, '10.00' f2 from tversion union
select rnum, cast(vnum.cnum as char(5)) from vnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastNumericToChar_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '-1.00' f2 from tversion union
select 2 f1, '0.00 ' f2 from tversion union
select 3 f1, '1.00 ' f2 from tversion union
select 4 f1, '0.10 ' f2 from tversion union
select 5 f1, '10.00' f2 from tversion union
select rnum, cast(tnum.cnum as char(5)) from tnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastNumericToDouble_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1.0 f2 from tversion union
select 2 f1, 0.0 f2 from tversion union
select 3 f1, 1.0 f2 from tversion union
select 4 f1, 0.1 f2 from tversion union
select 5 f1, 10.0 f2 from tversion union
select rnum, cast(vnum.cnum as double precision) from vnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastNumericToDouble_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1.0 f2 from tversion union
select 2 f1, 0.0 f2 from tversion union
select 3 f1, 1.0 f2 from tversion union
select 4 f1, 0.1 f2 from tversion union
select 5 f1, 10.0 f2 from tversion union
select rnum, cast(tnum.cnum as double precision) from tnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastNumericToFloat_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1.0 f2 from tversion union
select 2 f1, 0.0 f2 from tversion union
select 3 f1, 1.0 f2 from tversion union
select 4 f1, 0.1 f2 from tversion union
select 5 f1, 10.0 f2 from tversion union
select rnum, cast(vnum.cnum as float) from vnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastNumericToFloat_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1.0 f2 from tversion union
select 2 f1, 0.0 f2 from tversion union
select 3 f1, 1.0 f2 from tversion union
select 4 f1, 0.1 f2 from tversion union
select 5 f1, 10.0 f2 from tversion union
select rnum, cast(tnum.cnum as float) from tnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastNumericToInteger_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, cast(vnum.cnum as integer) from vnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastNumericToInteger_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, cast(tnum.cnum as integer) from tnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastNumericToSmallint_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, cast(vnum.cnum as smallint) from vnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastNumericToSmallint_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, cast(tnum.cnum as smallint) from tnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastNumericToVarchar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '-1.00' f2 from tversion union
select 2 f1, '0.00' f2 from tversion union
select 3 f1, '1.00' f2 from tversion union
select 4 f1, '0.10' f2 from tversion union
select 5 f1, '10.00' f2 from tversion union
select rnum, cast(vnum.cnum as varchar(5)) from vnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastNumericToVarchar_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '-1.00' f2 from tversion union
select 2 f1, '0.00' f2 from tversion union
select 3 f1, '1.00' f2 from tversion union
select 4 f1, '0.10' f2 from tversion union
select 5 f1, '10.00' f2 from tversion union
select rnum, cast(tnum.cnum as varchar(5)) from tnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastRealToBigint_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, cast(vrl.crl as bigint) from vrl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastRealToBigint_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, cast(trl.crl as bigint) from trl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastRealToChar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '-1        ' f2 from tversion union
select 2 f1, '0         ' f2 from tversion union
select 3 f1, '1         ' f2 from tversion union
select 4 f1, '-0.1      ' f2 from tversion union
select 5 f1, '10        ' f2 from tversion union
select rnum, cast(vrl.crl as char(10)) from vrl
) Q
group by
f1,f2
) Q ) P)
) b
order by test_name_part
""",
    doc="qp_misc.sql self-checking tests (40): CastFloatToChar_p2 CastFloatToDouble_p1 CastFloatToDouble_p2 CastFloatToFloat_p1 CastFloatToFloat_p2 CastFloatToSmallint_p1 CastFloatToSmallint_p2 CastFloatToVarchar_p1 CastFloatToVarchar_p2 CastIntegerToBigint_p1 CastIntegerToBigint_p2 CastIntegerToChar_p1 CastIntegerToChar_p2 CastIntegerToDouble_p1 CastIntegerToDouble_p2 CastIntegerToFloat_p1 CastIntegerToFloat_p2 CastIntegerToInteger_p1 CastInt",
    tags=("qpmisc",),
    prelude=QPMISC_PRELUDE,
)

register_regress(
    "regress_qpmisc_b06_cast",
    """
select test_name_part, pass_ind from (
(select 'CastRealToChar_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '-1        ' f2 from tversion union
select 2 f1, '0         ' f2 from tversion union
select 3 f1, '1         ' f2 from tversion union
select 4 f1, '-0.1      ' f2 from tversion union
select 5 f1, '10        ' f2 from tversion union
select rnum, cast(trl.crl as char(10)) from trl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastRealToDouble_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1.0 f2 from tversion union
select 2 f1, 0.0 f2 from tversion union
select 3 f1, 1.0 f2 from tversion union
select 4 f1, -0.1 f2 from tversion union
select 5 f1, 10.0 f2 from tversion union
select rnum, cast(vrl.crl as double precision) from vrl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastRealToDouble_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1.0 f2 from tversion union
select 2 f1, 0.0 f2 from tversion union
select 3 f1, 1.0 f2 from tversion union
select 4 f1, -0.1 f2 from tversion union
select 5 f1, 10.0 f2 from tversion union
select rnum, cast(trl.crl as double precision) from trl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastRealToSmallint_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, cast(vrl.crl as smallint) from vrl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastRealToSmallint_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, cast(trl.crl as smallint) from trl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastRealToVarchar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '-1' f2 from tversion union
select 2 f1, '0' f2 from tversion union
select 3 f1, '1' f2 from tversion union
select 4 f1, '-0.1' f2 from tversion union
select 5 f1, '10' f2 from tversion union
select rnum, cast(vrl.crl as varchar(10)) from vrl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastRealToVarchar_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '-1' f2 from tversion union
select 2 f1, '0' f2 from tversion union
select 3 f1, '1' f2 from tversion union
select 4 f1, '-0.1' f2 from tversion union
select 5 f1, '10' f2 from tversion union
select rnum, cast(trl.crl as varchar(10)) from trl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastSmallintToBigint_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, cast(vsint.csint as bigint) from vsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastSmallintToBigint_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, cast(tsint.csint as bigint) from tsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastSmallintToChar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '-1' f2 from tversion union
select 2 f1, '0 ' f2 from tversion union
select 3 f1, '1 ' f2 from tversion union
select 4 f1, '10' f2 from tversion union
select rnum, cast(vsint.csint as char(2)) from vsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastSmallintToChar_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '-1' f2 from tversion union
select 2 f1, '0 ' f2 from tversion union
select 3 f1, '1 ' f2 from tversion union
select 4 f1, '10' f2 from tversion union
select rnum, cast(tsint.csint as char(2)) from tsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastSmallintToDouble_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, cast(vsint.csint as double precision) from vsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastSmallintToDouble_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, cast(tsint.csint as double precision) from tsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastSmallintToFloat_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, cast(vsint.csint as float) from vsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastSmallintToFloat_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, cast(tsint.csint as float) from tsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastSmallintToSmallint_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, cast(vsint.csint as smallint) from vsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastSmallintToSmallint_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, cast(tsint.csint as smallint) from tsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastSmallintToVarchar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '-1' f2 from tversion union
select 2 f1, '0' f2 from tversion union
select 3 f1, '1' f2 from tversion union
select 4 f1, '10' f2 from tversion union
select rnum, cast(vsint.csint as varchar(10)) from vsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastSmallintToVarchar_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '-1' f2 from tversion union
select 2 f1, '0' f2 from tversion union
select 3 f1, '1' f2 from tversion union
select 4 f1, '10' f2 from tversion union
select rnum, cast(tsint.csint as varchar(10)) from tsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastTimestampToChar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '1996-01-01 00:00:00.000       ' f2 from tversion union
select 2 f1, '1996-01-01 12:00:00.000       ' f2 from tversion union
select 3 f1, '1996-01-01 23:59:30.123       ' f2 from tversion union
select 4 f1, '2000-01-01 00:00:00.000       ' f2 from tversion union
select 5 f1, '2000-01-01 12:00:00.000       ' f2 from tversion union
select 6 f1, '2000-01-01 23:59:30.123       ' f2 from tversion union
select 7 f1, '2000-12-31 00:00:00.000       ' f2 from tversion union
select 8 f1, '2000-12-31 12:00:00.000       ' f2 from tversion union
select 9 f1, '2000-12-31 12:15:30.123       ' f2 from tversion union
select vts.rnum, cast(vts.cts as char(30)) from vts
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastTimestampToChar_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '1996-01-01 00:00:00.000       ' f2 from tversion union
select 2 f1, '1996-01-01 12:00:00.000       ' f2 from tversion union
select 3 f1, '1996-01-01 23:59:30.123       ' f2 from tversion union
select 4 f1, '2000-01-01 00:00:00.000       ' f2 from tversion union
select 5 f1, '2000-01-01 12:00:00.000       ' f2 from tversion union
select 6 f1, '2000-01-01 23:59:30.123       ' f2 from tversion union
select 7 f1, '2000-12-31 00:00:00.000       ' f2 from tversion union
select 8 f1, '2000-12-31 12:00:00.000       ' f2 from tversion union
select 9 f1, '2000-12-31 12:15:30.123       ' f2 from tversion union
select tts.rnum, cast(tts.cts as char(30)) from tts
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastTimestampToDate_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, cast('1996-01-01' as date) f2 from tversion union
select 2 f1, cast('1996-01-01' as date) f2 from tversion union
select 3 f1, cast('1996-01-01' as date) f2 from tversion union
select 4 f1, cast('2000-01-01' as date) f2 from tversion union
select 5 f1, cast('2000-01-01' as date) f2 from tversion union
select 6 f1, cast('2000-01-01' as date) f2 from tversion union
select 7 f1, cast('2000-12-31' as date) f2 from tversion union
select 8 f1, cast('2000-12-31' as date) f2 from tversion union
select 9 f1, cast('2000-12-31' as date) f2 from tversion union
select vts.rnum, cast(vts.cts as date) from vts
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastTimestampToDate_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, cast('1996-01-01' as date) f2 from tversion union
select 2 f1, cast('1996-01-01' as date) f2 from tversion union
select 3 f1, cast('1996-01-01' as date) f2 from tversion union
select 4 f1, cast('2000-01-01' as date) f2 from tversion union
select 5 f1, cast('2000-01-01' as date) f2 from tversion union
select 6 f1, cast('2000-01-01' as date) f2 from tversion union
select 7 f1, cast('2000-12-31' as date) f2 from tversion union
select 8 f1, cast('2000-12-31' as date) f2 from tversion union
select 9 f1, cast('2000-12-31' as date) f2 from tversion union
select tts.rnum, cast(tts.cts as date) from tts
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastTimestampToVarchar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '1996-01-01 00:00:00.000' f2 from tversion union
select 2 f1, '1996-01-01 12:00:00.000' f2 from tversion union
select 3 f1, '1996-01-01 23:59:30.123' f2 from tversion union
select 4 f1, '2000-01-01 00:00:00.000' f2 from tversion union
select 5 f1, '2000-01-01 12:00:00.000' f2 from tversion union
select 6 f1, '2000-01-01 23:59:30.123' f2 from tversion union
select 7 f1, '2000-12-31 00:00:00.000' f2 from tversion union
select 8 f1, '2000-12-31 12:00:00.000000000' f2 from tversion union
select 9 f1, '2000-12-31 12:15:30.123000000' f2 from tversion union
select vts.rnum,cast(vts.cts as varchar(100)) from vts
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastTimestampToVarchar_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '1996-01-01 00:00:00.000' f2 from tversion union
select 2 f1, '1996-01-01 12:00:00.000' f2 from tversion union
select 3 f1, '1996-01-01 23:59:30.123' f2 from tversion union
select 4 f1, '2000-01-01 00:00:00.000' f2 from tversion union
select 5 f1, '2000-01-01 12:00:00.000' f2 from tversion union
select 6 f1, '2000-01-01 23:59:30.123' f2 from tversion union
select 7 f1, '2000-12-31 00:00:00.000' f2 from tversion union
select 8 f1, '2000-12-31 12:00:00.000000000' f2 from tversion union
select 9 f1, '2000-12-31 12:15:30.123000000' f2 from tversion union
select tts.rnum,cast(tts.cts as varchar(100)) from tts
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastTimeToChar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '00:00:00.000        ' f2 from tversion union
select 2 f1, '12:00:00.000        ' f2 from tversion union
select 3 f1, '23:59:30.123        ' f2 from tversion union
select vtm.rnum, cast(vtm.ctm as char(20)) from vtm
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastTimeToChar_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '00:00:00.000        ' f2 from tversion union
select 2 f1, '12:00:00.000        ' f2 from tversion union
select 3 f1, '23:59:30.123        ' f2 from tversion union
select ttm.rnum, cast(ttm.ctm as char(20)) from ttm
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastTimeToVarchar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '00:00:00.000' f2 from tversion union
select 2 f1, '12:00:00.000' f2 from tversion union
select 3 f1, '23:59:30.123' f2 from tversion union
select vtm.rnum,cast(vtm.ctm as varchar(100)) from vtm
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastTimeToVarchar_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '00:00:00.000' f2 from tversion union
select 2 f1, '12:00:00.000' f2 from tversion union
select 3 f1, '23:59:30.123' f2 from tversion union
select ttm.rnum,cast(ttm.ctm as varchar(100)) from ttm
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastVarcharToBigint_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select cast('1' as bigint) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CastVarcharToChar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '' f2 from tversion union
select 2 f1, ' ' f2 from tversion union
select 3 f1, 'BB' f2 from tversion union
select 4 f1, 'EE' f2 from tversion union
select 5 f1, 'FF' f2 from tversion union
select rnum, cast(vvchar.cvchar as char(2)) from vvchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastVarcharToChar_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '' f2 from tversion union
select 2 f1, ' ' f2 from tversion union
select 3 f1, 'BB' f2 from tversion union
select 4 f1, 'EE' f2 from tversion union
select 5 f1, 'FF' f2 from tversion union
select rnum, cast(tvchar.cvchar as char(2)) from tvchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastVarcharToDate_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select cast('2000-01-01' as date) f1 from tversion union
select cast('2000-01-01' as date) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CastVarcharToDate_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select cast('2000-01-01' as date) f1 from tversion union
select cast('2000-01-01' as date) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CastVarcharToDate_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select cast('2000-01-01' as date) f1 from tversion union
select cast('2000-01-01' as date) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CastVarcharToDate_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select cast('2000-01-01' as date) f1 from tversion union
select cast('2000-01-01' as date) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CastVarcharToDate_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select cast('2000-01-01' as date) f1 from tversion union
select cast('2000-01-01' as date) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CastVarcharToDouble_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1.000000000000000e+000 f1 from tversion union
select cast('1.0' as double precision) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CastVarcharToFloat_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1.000000000000000e+000 f1 from tversion union
select cast('1.0' as float) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CastVarcharToFloat_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1.000000000000000e+000 f1 from tversion union
select cast('1.0' as float) from tversion
) Q
group by
f1
) Q ) P)
) b
order by test_name_part
""",
    doc="qp_misc.sql self-checking tests (40): CastRealToChar_p2 CastRealToDouble_p1 CastRealToDouble_p2 CastRealToSmallint_p1 CastRealToSmallint_p2 CastRealToVarchar_p1 CastRealToVarchar_p2 CastSmallintToBigint_p1 CastSmallintToBigint_p2 CastSmallintToChar_p1 CastSmallintToChar_p2 CastSmallintToDouble_p1 CastSmallintToDouble_p2 CastSmallintToFloat_p1 CastSmallintToFloat_p2 CastSmallintToSmallint_p1 CastSmallintToSmallint_p2 CastSmallintToVarc",
    tags=("qpmisc",),
    prelude=QPMISC_PRELUDE,
)

register_regress(
    "regress_qpmisc_b07_cast_ceil_character_coalesce_comme",
    """
select test_name_part, pass_ind from (
(select 'CastVarcharToInteger_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select cast('1' as integer) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CastVarcharToSmallint_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select cast('1' as smallint) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CastVarcharToTimestamp_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select cast('2000-01-01 12:00:00.000000000' as timestamp) f1 from tversion union
select cast('2000-01-01 12:00:00' as timestamp) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CastVarcharToVarchar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '' f2 from tversion union
select 2 f1, ' ' f2 from tversion union
select 3 f1, 'BB' f2 from tversion union
select 4 f1, 'EE' f2 from tversion union
select 5 f1, 'FF' f2 from tversion union
select rnum, cast(vvchar.cvchar as varchar(10)) from vvchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CastVarcharToVarchar_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '' f2 from tversion union
select 2 f1, ' ' f2 from tversion union
select 3 f1, 'BB' f2 from tversion union
select 4 f1, 'EE' f2 from tversion union
select 5 f1, 'FF' f2 from tversion union
select rnum, cast(tvchar.cvchar as varchar(10)) from tvchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CeilCoreApproximateNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, ceil( vflt.cflt ) from vflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CeilCoreApproximateNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, ceil( tflt.cflt ) from tflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CeilCoreApproximateNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, ceil( vdbl.cdbl ) from vdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CeilCoreApproximateNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, ceil( tdbl.cdbl ) from tdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CeilCoreApproximateNumeric_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, ceil( vrl.crl ) from vrl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CeilCoreApproximateNumeric_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, ceil( trl.crl ) from trl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CeilCoreExactNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 1 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, ceil( vdec.cdec ) from vdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CeilCoreExactNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 1 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, ceil( tdec.cdec ) from tdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CeilCoreExactNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 1 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, ceil( vnum.cnum ) from vnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CeilCoreExactNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 1 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, ceil( tnum.cnum ) from tnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CeilCoreIntegers_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select vint.rnum, ceil( vint.cint ) from vint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CeilCoreIntegers_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select tint.rnum, ceil( tint.cint ) from tint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CeilCoreIntegers_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select vsint.rnum, ceil( vsint.csint ) from vsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CeilCoreIntegers_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select tsint.rnum, ceil( tsint.csint ) from tsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CeilCoreIntegers_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select vbint.rnum, ceil( vbint.cbint ) from vbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CeilCoreIntegers_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select tbint.rnum, ceil( tbint.cbint ) from tbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CharacterLiteral_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 'BB' f1 from tversion union
select 'BB' from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CharacterLiteral_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 'BB' f1 from tversion union
select 'BB' from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CoalesceCoreNullParameters_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select null f1 from tversion union
select coalesce( ccnull, ccnull, ccnull ) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CoalesceCore_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 'A' f1 from tversion union
select coalesce( ccnull, 'A', 'B' ) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'Comments1_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select /* hello */ 1 from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'ConcatCoreFixedLength_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '1234567890                                ' f2 from tversion union
select 2 f1, '1234567890                                ' f2 from tversion union
select 3 f1, '1234567890BB                              ' f2 from tversion union
select 4 f1, '1234567890EE                              ' f2 from tversion union
select 5 f1, '1234567890FF                              ' f2 from tversion union
select vchar.rnum, '1234567890' || vchar.cchar  from vchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ConcatCoreFixedLength_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '1234567890                                ' f2 from tversion union
select 2 f1, '1234567890                                ' f2 from tversion union
select 3 f1, '1234567890BB                              ' f2 from tversion union
select 4 f1, '1234567890EE                              ' f2 from tversion union
select 5 f1, '1234567890FF                              ' f2 from tversion union
select tchar.rnum, '1234567890' || tchar.cchar  from tchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ConcatCoreMaxLengthStringPlusBlankString_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 'UDA_VARIABLE_LENGTH_MAX_STRING                                ' f1 from tversion union
select 'UDA_VARIABLE_LENGTH_MAX_STRING' || vchar.cchar  from vchar where vchar.rnum = 2
) Q
group by
f1
) Q ) P)
union all
(select 'ConcatCoreMaxLengthStringPlusBlankString_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 'UDA_VARIABLE_LENGTH_MAX_STRING                                ' f1 from tversion union
select 'UDA_VARIABLE_LENGTH_MAX_STRING' || tchar.cchar  from tchar where tchar.rnum = 2
) Q
group by
f1
) Q ) P)
union all
(select 'ConcatCoreMaxLengthStringPlusBlankString_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 'UDA_VARIABLE_LENGTH_MAX_STRING                                ' f1 from tversion union
select 'UDA_VARIABLE_LENGTH_MAX_STRING' || vvchar.cvchar  from vvchar where vvchar.rnum = 2
) Q
group by
f1
) Q ) P)
union all
(select 'ConcatCoreMaxLengthStringPlusBlankString_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 'UDA_VARIABLE_LENGTH_MAX_STRING                                ' f1 from tversion union
select 'UDA_VARIABLE_LENGTH_MAX_STRING' || tvchar.cvchar  from tvchar where tvchar.rnum = 2
) Q
group by
f1
) Q ) P)
union all
(select 'ConcatCoreVariableLength_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '1234567890' f2 from tversion union
select 2 f1, '1234567890 ' f2 from tversion union
select 3 f1, '1234567890BB' f2 from tversion union
select 4 f1, '1234567890EE' f2 from tversion union
select 5 f1, '1234567890FF' f2 from tversion union
select rnum, '1234567890' || vvchar.cvchar  from vvchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ConcatCoreVariableLength_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '1234567890' f2 from tversion union
select 2 f1, '1234567890 ' f2 from tversion union
select 3 f1, '1234567890BB' f2 from tversion union
select 4 f1, '1234567890EE' f2 from tversion union
select 5 f1, '1234567890FF' f2 from tversion union
select rnum, '1234567890' || tvchar.cvchar  from tvchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ConcatException_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 2 f1, 'should throw error' f2 from tversion union
select vchar.rnum,'AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA' || vchar.cchar  from vchar where vchar.rnum > 2
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ConcatException_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 2 f1, 'should throw error' f2 from tversion union
select vchar.rnum, 'AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA' || vchar.cchar  from vchar where vchar.rnum > 2
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ConcatException_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 2 f1, 'should throw error' f2 from tversion union
select tchar.rnum,'AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA' || tchar.cchar  from tchar where tchar.rnum > 2
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ConcatException_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 2 f1, 'should throw error' f2 from tversion union
select tchar.rnum, 'AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA' || tchar.cchar  from tchar where tchar.rnum > 2
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ConcatException_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 2 f1, 'should throw error' f2 from tversion union
select vvchar.rnum,'AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA' || vvchar.cvchar  from vvchar where vvchar.rnum > 2
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ConcatException_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 2 f1, 'should throw error' f2 from tversion union
select vvchar.rnum, 'AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA' || vvchar.cvchar  from vvchar where vvchar.rnum > 2
) Q
group by
f1,f2
) Q ) P)
) b
order by test_name_part
""",
    doc="qp_misc.sql self-checking tests (40): CastVarcharToInteger_p1 CastVarcharToSmallint_p1 CastVarcharToTimestamp_p1 CastVarcharToVarchar_p1 CastVarcharToVarchar_p2 CeilCoreApproximateNumeric_p1 CeilCoreApproximateNumeric_p2 CeilCoreApproximateNumeric_p3 CeilCoreApproximateNumeric_p4 CeilCoreApproximateNumeric_p5 CeilCoreApproximateNumeric_p6 CeilCoreExactNumeric_p1 CeilCoreExactNumeric_p2 CeilCoreExactNumeric_p3 CeilCoreExactNumeric_p4 C",
    tags=("qpmisc",),
    prelude=QPMISC_PRELUDE,
)

register_regress(
    "regress_qpmisc_b08_concat_count",
    """
select test_name_part, pass_ind from (
(select 'ConcatException_p7' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 2 f1, 'should throw error' f2 from tversion union
select tvchar.rnum,'AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA' || tvchar.cvchar  from tvchar where tvchar.rnum > 2
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ConcatException_p8' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 2 f1, 'should throw error' f2 from tversion union
select tvchar.rnum, 'AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA' || tvchar.cvchar  from tvchar where tvchar.rnum > 2
) Q
group by
f1,f2
) Q ) P)
union all
(select 'CountCharLiteral_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count('') from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountCharLiteral_p10' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count('FF') from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountCharLiteral_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(' ') from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountCharLiteral_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count('BB') from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountCharLiteral_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count('EE') from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountCharLiteral_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count('FF') from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountCharLiteral_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count('') from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountCharLiteral_p7' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(' ') from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountCharLiteral_p8' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count('BB') from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountCharLiteral_p9' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count('EE') from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountClob_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 5 f1 from tversion union
select count(vclob.cclob) from vclob
) Q
group by
f1
) Q ) P)
union all
(select 'CountClob_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 5 f1 from tversion union
select count(tclob.cclob) from tclob
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(-1.0e+0) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p10' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(10.0e+0) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p11' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(-1.0e+0) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p12' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(0.0e+0) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p13' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(1.0e+0) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p14' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(-1.0e-1) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p15' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(10.0e+0) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p16' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(-1.0) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p17' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(0.0) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p18' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(1.0) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p19' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(0.1) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(0.0e+0) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p20' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(10.0) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p21' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(-1.0) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p22' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(0.0) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p23' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(1.0) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p24' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(0.1) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p25' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(10.0) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p26' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(-1) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p27' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(0) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p28' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(1) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p29' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(10) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(1.0e+0) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p30' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(-1) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p31' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(0) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p32' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(1) from tversion
) Q
group by
f1
) Q ) P)
) b
order by test_name_part
""",
    doc="qp_misc.sql self-checking tests (40): ConcatException_p7 ConcatException_p8 CountCharLiteral_p1 CountCharLiteral_p10 CountCharLiteral_p2 CountCharLiteral_p3 CountCharLiteral_p4 CountCharLiteral_p5 CountCharLiteral_p6 CountCharLiteral_p7 CountCharLiteral_p8 CountCharLiteral_p9 CountClob_p1 CountClob_p2 CountNumericLiteral_p1 CountNumericLiteral_p10 CountNumericLiteral_p11 CountNumericLiteral_p12 CountNumericLiteral_p13 CountNumericLite",
    tags=("qpmisc",),
    prelude=QPMISC_PRELUDE,
)

register_regress(
    "regress_qpmisc_b09_count_date_distinct",
    """
select test_name_part, pass_ind from (
(select 'CountNumericLiteral_p33' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(10) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p34' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(-1) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p35' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(0) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p36' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(1) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p37' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(10) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(-1.0e-1) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(10.0e+0) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(-1.0e+0) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p7' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(0.0e+0) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p8' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(1.0e+0) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountNumericLiteral_p9' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(-1.0e-1) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountTemporalLiteral_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(date '1996-01-01') from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountTemporalLiteral_p10' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(timestamp '2000-12-31 00:00:00') from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountTemporalLiteral_p11' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(timestamp '2000-12-31 12:00:00') from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountTemporalLiteral_p12' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(timestamp '2000-12-31 23:59:30.123') from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountTemporalLiteral_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(date '2000-01-01') from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountTemporalLiteral_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(date '2000-12-31') from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountTemporalLiteral_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(time '00:00:00.000') from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountTemporalLiteral_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(time '12:00:00.000') from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountTemporalLiteral_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(time '23:59:30.123') from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountTemporalLiteral_p7' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(timestamp '2000-01-01 00:00:00.0') from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountTemporalLiteral_p8' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(timestamp '2000-01-01 12:00:00') from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountTemporalLiteral_p9' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(timestamp '2000-01-01 23:59:30.123') from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'CountValueExpression_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count( 1 * 10 ) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'DateLiteral_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select '1996-01-01' f1 from tversion union
select date '1996-01-01' from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'DistinctAggregateInCase_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 'test1' f1 from tversion union
select case when min(distinct(vflt.cflt))=-1 then 'test1' else 'else' end from vflt
) Q
group by
f1
) Q ) P)
union all
(select 'DistinctAggregateInCase_p10' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 'test1' f1 from tversion union
select case when min(distinct(tnum.cnum))=-1 then 'test1' else 'else' end from tnum
) Q
group by
f1
) Q ) P)
union all
(select 'DistinctAggregateInCase_p11' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 'test1' f1 from tversion union
select case when min(distinct(vint.cint))=-1 then 'test1' else 'else' end from vint
) Q
group by
f1
) Q ) P)
union all
(select 'DistinctAggregateInCase_p12' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 'test1' f1 from tversion union
select case when min(distinct(tint.cint))=-1 then 'test1' else 'else' end from tint
) Q
group by
f1
) Q ) P)
union all
(select 'DistinctAggregateInCase_p13' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 'test1' f1 from tversion union
select case when min(distinct(vsint.csint))=-1 then 'test1' else 'else' end from vsint
) Q
group by
f1
) Q ) P)
union all
(select 'DistinctAggregateInCase_p14' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 'test1' f1 from tversion union
select case when min(distinct(tsint.csint))=-1 then 'test1' else 'else' end from tsint
) Q
group by
f1
) Q ) P)
union all
(select 'DistinctAggregateInCase_p15' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 'test1' f1 from tversion union
select case when min(distinct(vbint.cbint))=-1 then 'test1' else 'else' end from vbint
) Q
group by
f1
) Q ) P)
union all
(select 'DistinctAggregateInCase_p16' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 'test1' f1 from tversion union
select case when min(distinct(tbint.cbint))=-1 then 'test1' else 'else' end from tbint
) Q
group by
f1
) Q ) P)
union all
(select 'DistinctAggregateInCase_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 'test1' f1 from tversion union
select case when min(distinct(tflt.cflt))=-1 then 'test1' else 'else' end from tflt
) Q
group by
f1
) Q ) P)
union all
(select 'DistinctAggregateInCase_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 'test1' f1 from tversion union
select case when min(distinct(vdbl.cdbl))=-1 then 'test1' else 'else' end from vdbl
) Q
group by
f1
) Q ) P)
union all
(select 'DistinctAggregateInCase_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 'test1' f1 from tversion union
select case when min(distinct(tdbl.cdbl))=-1 then 'test1' else 'else' end from tdbl
) Q
group by
f1
) Q ) P)
union all
(select 'DistinctAggregateInCase_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 'test1' f1 from tversion union
select case when min(distinct(vrl.crl))=-1 then 'test1' else 'else' end from vrl
) Q
group by
f1
) Q ) P)
union all
(select 'DistinctAggregateInCase_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 'test1' f1 from tversion union
select case when min(distinct(trl.crl))=-1 then 'test1' else 'else' end from trl
) Q
group by
f1
) Q ) P)
union all
(select 'DistinctAggregateInCase_p7' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 'test1' f1 from tversion union
select case when min(distinct(vdec.cdec))=-1 then 'test1' else 'else' end from vdec
) Q
group by
f1
) Q ) P)
union all
(select 'DistinctAggregateInCase_p8' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 'test1' f1 from tversion union
select case when min(distinct(tdec.cdec))=-1 then 'test1' else 'else' end from tdec
) Q
group by
f1
) Q ) P)
) b
order by test_name_part
""",
    doc="qp_misc.sql self-checking tests (40): CountNumericLiteral_p33 CountNumericLiteral_p34 CountNumericLiteral_p35 CountNumericLiteral_p36 CountNumericLiteral_p37 CountNumericLiteral_p4 CountNumericLiteral_p5 CountNumericLiteral_p6 CountNumericLiteral_p7 CountNumericLiteral_p8 CountNumericLiteral_p9 CountTemporalLiteral_p1 CountTemporalLiteral_p10 CountTemporalLiteral_p11 CountTemporalLiteral_p12 CountTemporalLiteral_p2 CountTemporalLitera",
    tags=("qpmisc",),
    prelude=QPMISC_PRELUDE,
)

register_regress(
    "regress_qpmisc_b10_distinct_empty_exact_except_exp",
    """
select test_name_part, pass_ind from (
(select 'DistinctAggregateInCase_p9' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 'test1' f1 from tversion union
select case when min(distinct(vnum.cnum))=-1 then 'test1' else 'else' end from vnum
) Q
group by
f1
) Q ) P)
union all
(select 'DistinctCore_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 10 f1, 'AAA' f2 from tversion union
select 20 f1, 'BBB' f2 from tversion union
select 30 f1, 'CCC' f2 from tversion union
select 40 f1, 'DDD' f2 from tversion union
select 50 f1, null f2 from tversion union
select 60 f1, null f2 from tversion union
select null f1, 'AAA' f2 from tversion union
select null f1, null f2 from tversion union
select distinct c1, c2 from tset1
) Q
group by
f1,f2
) Q ) P)
union all
(select 'EmptyStringIsNull_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select vvchar.rnum, vvchar.cvchar  from vvchar where vvchar.cvchar is null
) Q
group by
f1,f2
) Q ) P)
union all
(select 'EmptyStringIsNull_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select tvchar.rnum, tvchar.cvchar  from tvchar where tvchar.cvchar is null
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExactNumericOpAdd_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1,  000001.00 f2 from tversion union
select 2 f1,  000002.00 f2 from tversion union
select 3 f1,  000003.00 f2 from tversion union
select 4 f1,  000002.10 f2 from tversion union
select 5 f1,  000012.00 f2 from tversion union
select vdec.rnum,vdec.cdec + 2 from vdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExactNumericOpAdd_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1,  000001.00 f2 from tversion union
select 2 f1,  000002.00 f2 from tversion union
select 3 f1,  000003.00 f2 from tversion union
select 4 f1,  000002.10 f2 from tversion union
select 5 f1,  000012.00 f2 from tversion union
select tdec.rnum,tdec.cdec + 2 from tdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExactNumericOpAdd_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1,  000001.00 f2 from tversion union
select 2 f1,  000002.00 f2 from tversion union
select 3 f1,  000003.00 f2 from tversion union
select 4 f1,  000002.10 f2 from tversion union
select 5 f1,  000012.00 f2 from tversion union
select vnum.rnum,vnum.cnum + 2 from vnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExactNumericOpAdd_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1,  000001.00 f2 from tversion union
select 2 f1,  000002.00 f2 from tversion union
select 3 f1,  000003.00 f2 from tversion union
select 4 f1,  000002.10 f2 from tversion union
select 5 f1,  000012.00 f2 from tversion union
select tnum.rnum,tnum.cnum + 2 from tnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExactNumericOpDiv_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -00000.500000 f2 from tversion union
select 2 f1,  00000.000000 f2 from tversion union
select 3 f1,  00000.500000 f2 from tversion union
select 4 f1,  00000.050000 f2 from tversion union
select 5 f1,  00005.000000 f2 from tversion union
select vdec.rnum,vdec.cdec / 2 from vdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExactNumericOpDiv_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -00000.500000 f2 from tversion union
select 2 f1,  00000.000000 f2 from tversion union
select 3 f1,  00000.500000 f2 from tversion union
select 4 f1,  00000.050000 f2 from tversion union
select 5 f1,  00005.000000 f2 from tversion union
select tdec.rnum,tdec.cdec / 2 from tdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExactNumericOpDiv_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -00000.500000 f2 from tversion union
select 2 f1,  00000.000000 f2 from tversion union
select 3 f1,  00000.500000 f2 from tversion union
select 4 f1,  00000.050000 f2 from tversion union
select 5 f1,  00005.000000 f2 from tversion union
select vnum.rnum,vnum.cnum / 2 from vnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExactNumericOpDiv_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -00000.500000 f2 from tversion union
select 2 f1,  00000.000000 f2 from tversion union
select 3 f1,  00000.500000 f2 from tversion union
select 4 f1,  00000.050000 f2 from tversion union
select 5 f1,  00005.000000 f2 from tversion union
select tnum.rnum,tnum.cnum / 2 from tnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExactNumericOpMulNULL_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select null f1 from tversion union
select -1.0 * cnnull from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'ExactNumericOpMulNULL_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select null f1 from tversion union
select 0.0 * cnnull from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'ExactNumericOpMulNULL_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select null f1 from tversion union
select 1.0 * cnnull from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'ExactNumericOpMulNULL_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select null f1 from tversion union
select 0.1 * cnnull from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'ExactNumericOpMulNULL_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select null f1 from tversion union
select 10.0 * cnnull from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'ExactNumericOpMul_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -0000002.00 f2 from tversion union
select 2 f1,  0000000.00 f2 from tversion union
select 3 f1,  0000002.00 f2 from tversion union
select 4 f1,  0000000.20 f2 from tversion union
select 5 f1,  0000020.00 f2 from tversion union
select vdec.rnum,vdec.cdec * 2 from vdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExactNumericOpMul_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -0000002.00 f2 from tversion union
select 2 f1,  0000000.00 f2 from tversion union
select 3 f1,  0000002.00 f2 from tversion union
select 4 f1,  0000000.20 f2 from tversion union
select 5 f1,  0000020.00 f2 from tversion union
select tdec.rnum,tdec.cdec * 2 from tdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExactNumericOpMul_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -0000002.00 f2 from tversion union
select 2 f1,  0000000.00 f2 from tversion union
select 3 f1,  0000002.00 f2 from tversion union
select 4 f1,  0000000.20 f2 from tversion union
select 5 f1,  0000020.00 f2 from tversion union
select vnum.rnum,vnum.cnum * 2 from vnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExactNumericOpMul_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -0000002.00 f2 from tversion union
select 2 f1,  0000000.00 f2 from tversion union
select 3 f1,  0000002.00 f2 from tversion union
select 4 f1,  0000000.20 f2 from tversion union
select 5 f1,  0000020.00 f2 from tversion union
select tnum.rnum,tnum.cnum * 2 from tnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExactNumericOpSub_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -000003.00 f2 from tversion union
select 2 f1, -000002.00 f2 from tversion union
select 3 f1, -000001.00 f2 from tversion union
select 4 f1, -000001.90 f2 from tversion union
select 5 f1,  000008.00 f2 from tversion union
select vdec.rnum,vdec.cdec - 2 from vdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExactNumericOpSub_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -000003.00 f2 from tversion union
select 2 f1, -000002.00 f2 from tversion union
select 3 f1, -000001.00 f2 from tversion union
select 4 f1, -000001.90 f2 from tversion union
select 5 f1,  000008.00 f2 from tversion union
select tdec.rnum,tdec.cdec - 2 from tdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExactNumericOpSub_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -000003.00 f2 from tversion union
select 2 f1, -000002.00 f2 from tversion union
select 3 f1, -000001.00 f2 from tversion union
select 4 f1, -000001.90 f2 from tversion union
select 5 f1,  000008.00 f2 from tversion union
select vnum.rnum,vnum.cnum - 2 from vnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExactNumericOpSub_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -000003.00 f2 from tversion union
select 2 f1, -000002.00 f2 from tversion union
select 3 f1, -000001.00 f2 from tversion union
select 4 f1, -000001.90 f2 from tversion union
select 5 f1,  000008.00 f2 from tversion union
select tnum.rnum,tnum.cnum - 2 from tnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExceptAll_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 10 f1, 'AAA' f2 from tversion union
select 20 f1, 'BBB' f2 from tversion union
select 30 f1, 'CCC' f2 from tversion union
select 50 f1, null f2 from tversion union
select 60 f1, null f2 from tversion union
select null f1, 'AAA' f2 from tversion union
select null f1, 'AAA' f2 from tversion union
select null f1, null f2 from tversion union
select null f1, null f2 from tversion union
select c1, c2 from tset1 except all select c1, c2 from tset2
) Q
group by
f1,f2
) Q ) P)
union all
(select 'Except_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 20 f1, 'BBB' f2 from tversion union
select 30 f1, 'CCC' f2 from tversion union
select 50 f1, null f2 from tversion union
select 60 f1, null f2 from tversion union
select null f1, 'AAA' f2 from tversion union
select null f1, null f2 from tversion union
select c1, c2 from tset1 except select c1, c2 from tset2
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExpCoreApproximateNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, .367879441 f2 from tversion union
select 2 f1, 1 f2 from tversion union
select 3 f1, 2.71828183 f2 from tversion union
select 4 f1, .904837418 f2 from tversion union
select 5 f1, 22026.4658 f2 from tversion union
select vflt.rnum, exp( vflt.cflt ) from vflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExpCoreApproximateNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, .367879441 f2 from tversion union
select 2 f1, 1 f2 from tversion union
select 3 f1, 2.71828183 f2 from tversion union
select 4 f1, .904837418 f2 from tversion union
select 5 f1, 22026.4658 f2 from tversion union
select tflt.rnum, exp( tflt.cflt ) from tflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExpCoreApproximateNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, .367879441 f2 from tversion union
select 2 f1, 1 f2 from tversion union
select 3 f1, 2.71828183 f2 from tversion union
select 4 f1, .904837418 f2 from tversion union
select 5 f1, 22026.4658 f2 from tversion union
select vdbl.rnum, exp( vdbl.cdbl ) from vdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExpCoreApproximateNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, .367879441 f2 from tversion union
select 2 f1, 1 f2 from tversion union
select 3 f1, 2.71828183 f2 from tversion union
select 4 f1, .904837418 f2 from tversion union
select 5 f1, 22026.4658 f2 from tversion union
select tdbl.rnum, exp( tdbl.cdbl ) from tdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExpCoreApproximateNumeric_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, .367879441 f2 from tversion union
select 2 f1, 1 f2 from tversion union
select 3 f1, 2.71828183 f2 from tversion union
select 4 f1, .904837418 f2 from tversion union
select 5 f1, 22026.4658 f2 from tversion union
select vrl.rnum, exp( vrl.crl ) from vrl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExpCoreApproximateNumeric_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, .367879441 f2 from tversion union
select 2 f1, 1 f2 from tversion union
select 3 f1, 2.71828183 f2 from tversion union
select 4 f1, .904837418 f2 from tversion union
select 5 f1, 22026.4658 f2 from tversion union
select trl.rnum, exp( trl.crl ) from trl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExpCoreExactNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, .367879441 f2 from tversion union
select 2 f1, 1 f2 from tversion union
select 3 f1, 2.71828183 f2 from tversion union
select 4 f1, 1.10517092 f2 from tversion union
select 5 f1, 22026.4658 f2 from tversion union
select rnum, exp( vdec.cdec ) from vdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExpCoreExactNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, .367879441 f2 from tversion union
select 2 f1, 1 f2 from tversion union
select 3 f1, 2.71828183 f2 from tversion union
select 4 f1, 1.10517092 f2 from tversion union
select 5 f1, 22026.4658 f2 from tversion union
select rnum, exp( tdec.cdec ) from tdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExpCoreExactNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, .367879441 f2 from tversion union
select 2 f1, 1 f2 from tversion union
select 3 f1, 2.71828183 f2 from tversion union
select 4 f1, 1.10517092 f2 from tversion union
select 5 f1, 22026.4658 f2 from tversion union
select rnum, exp( vnum.cnum ) from vnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExpCoreExactNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, .367879441 f2 from tversion union
select 2 f1, 1 f2 from tversion union
select 3 f1, 2.71828183 f2 from tversion union
select 4 f1, 1.10517092 f2 from tversion union
select 5 f1, 22026.4658 f2 from tversion union
select rnum, exp( tnum.cnum ) from tnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExpCoreIntegers_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, .367879441 f2 from tversion union
select 2 f1, 1 f2 from tversion union
select 3 f1, 2.71828183 f2 from tversion union
select 4 f1, 22026.4658 f2 from tversion union
select vint.rnum, exp( vint.cint ) from vint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExpCoreIntegers_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, .367879441 f2 from tversion union
select 2 f1, 1 f2 from tversion union
select 3 f1, 2.71828183 f2 from tversion union
select 4 f1, 22026.4658 f2 from tversion union
select tint.rnum, exp( tint.cint ) from tint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExpCoreIntegers_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, .367879441 f2 from tversion union
select 2 f1, 1 f2 from tversion union
select 3 f1, 2.71828183 f2 from tversion union
select 4 f1, 22026.4658 f2 from tversion union
select vsint.rnum, exp( vsint.csint ) from vsint
) Q
group by
f1,f2
) Q ) P)
) b
order by test_name_part
""",
    doc="qp_misc.sql self-checking tests (40): DistinctAggregateInCase_p9 DistinctCore_p1 EmptyStringIsNull_p1 EmptyStringIsNull_p2 ExactNumericOpAdd_p1 ExactNumericOpAdd_p2 ExactNumericOpAdd_p3 ExactNumericOpAdd_p4 ExactNumericOpDiv_p1 ExactNumericOpDiv_p2 ExactNumericOpDiv_p3 ExactNumericOpDiv_p4 ExactNumericOpMulNULL_p1 ExactNumericOpMulNULL_p2 ExactNumericOpMulNULL_p3 ExactNumericOpMulNULL_p4 ExactNumericOpMulNULL_p5 ExactNumericOpMul_p1 E",
    tags=("qpmisc",),
    prelude=QPMISC_PRELUDE,
)

register_regress(
    "regress_qpmisc_b11_exp_expression_extract_floor_group",
    """
select test_name_part, pass_ind from (
(select 'ExpCoreIntegers_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, .367879441 f2 from tversion union
select 2 f1, 1 f2 from tversion union
select 3 f1, 2.71828183 f2 from tversion union
select 4 f1, 22026.4658 f2 from tversion union
select tsint.rnum, exp( tsint.csint ) from tsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExpCoreIntegers_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, .367879441 f2 from tversion union
select 2 f1, 1 f2 from tversion union
select 3 f1, 2.71828183 f2 from tversion union
select 4 f1, 22026.4658 f2 from tversion union
select vbint.rnum, exp( vbint.cbint ) from vbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExpCoreIntegers_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, .367879441 f2 from tversion union
select 2 f1, 1 f2 from tversion union
select 3 f1, 2.71828183 f2 from tversion union
select 4 f1, 22026.4658 f2 from tversion union
select tbint.rnum, exp( tbint.cbint ) from tbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExpressionInIn_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 10 f1, 'BB' f2 from tversion union
select tjoin2.c1, tjoin2.c2 from tjoin2 where tjoin2.rnum in (1 - 1)
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExpressionUsingAggregate_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 51 f1 from tversion union
select (1 + max(c1) - min(c1) ) from tset1
) Q
group by
f1
) Q ) P)
union all
(select 'ExtractCoreDayFromDate_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 01 f2 from tversion union
select 2 f1, 01 f2 from tversion union
select 3 f1, 31 f2 from tversion union
select vdt.rnum, extract( day from vdt.cdt ) from vdt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExtractCoreDayFromDate_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 01 f2 from tversion union
select 2 f1, 01 f2 from tversion union
select 3 f1, 31 f2 from tversion union
select tdt.rnum, extract( day from tdt.cdt ) from tdt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExtractCoreDayFromTimestamp_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 01 f2 from tversion union
select 2 f1, 01 f2 from tversion union
select 3 f1, 01 f2 from tversion union
select 4 f1, 01 f2 from tversion union
select 5 f1, 01 f2 from tversion union
select 6 f1, 01 f2 from tversion union
select 7 f1, 31 f2 from tversion union
select 8 f1, 31 f2 from tversion union
select 9 f1, 31 f2 from tversion union
select vts.rnum, extract( day from vts.cts ) from vts
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExtractCoreDayFromTimestamp_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 01 f2 from tversion union
select 2 f1, 01 f2 from tversion union
select 3 f1, 01 f2 from tversion union
select 4 f1, 01 f2 from tversion union
select 5 f1, 01 f2 from tversion union
select 6 f1, 01 f2 from tversion union
select 7 f1, 31 f2 from tversion union
select 8 f1, 31 f2 from tversion union
select 9 f1, 31 f2 from tversion union
select tts.rnum, extract( day from tts.cts ) from tts
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExtractCoreHourFromTimestamp_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 0 f2 from tversion union
select 2 f1, 12 f2 from tversion union
select 3 f1, 23 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 12 f2 from tversion union
select 6 f1, 23 f2 from tversion union
select 7 f1, 0 f2 from tversion union
select 8 f1, 12 f2 from tversion union
select 9 f1, 12 f2 from tversion union
select vts.rnum, extract( hour from vts.cts ) from vts
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExtractCoreHourFromTimestamp_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 0 f2 from tversion union
select 2 f1, 12 f2 from tversion union
select 3 f1, 23 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 12 f2 from tversion union
select 6 f1, 23 f2 from tversion union
select 7 f1, 0 f2 from tversion union
select 8 f1, 12 f2 from tversion union
select 9 f1, 12 f2 from tversion union
select tts.rnum, extract( hour from tts.cts ) from tts
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExtractCoreMinuteFromTimestamp_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 0 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 59 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 0 f2 from tversion union
select 6 f1, 59 f2 from tversion union
select 7 f1, 0 f2 from tversion union
select 8 f1, 0 f2 from tversion union
select 9 f1, 15 f2 from tversion union
select vts.rnum, extract( minute from vts.cts ) from vts
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExtractCoreMinuteFromTimestamp_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 0 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 59 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 0 f2 from tversion union
select 6 f1, 59 f2 from tversion union
select 7 f1, 0 f2 from tversion union
select 8 f1, 0 f2 from tversion union
select 9 f1, 15 f2 from tversion union
select tts.rnum, extract( minute from tts.cts ) from tts
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExtractCoreMonthFromDate_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 01 f2 from tversion union
select 2 f1, 01 f2 from tversion union
select 3 f1, 12 f2 from tversion union
select vdt.rnum, extract( month from vdt.cdt ) from vdt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExtractCoreMonthFromDate_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 01 f2 from tversion union
select 2 f1, 01 f2 from tversion union
select 3 f1, 12 f2 from tversion union
select tdt.rnum, extract( month from tdt.cdt ) from tdt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExtractCoreMonthFromTimestamp_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 01 f2 from tversion union
select 2 f1, 01 f2 from tversion union
select 3 f1, 01 f2 from tversion union
select 4 f1, 01 f2 from tversion union
select 5 f1, 01 f2 from tversion union
select 6 f1, 01 f2 from tversion union
select 7 f1, 12 f2 from tversion union
select 8 f1, 12 f2 from tversion union
select 9 f1, 12 f2 from tversion union
select vts.rnum, extract( month from vts.cts ) from vts
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExtractCoreMonthFromTimestamp_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 01 f2 from tversion union
select 2 f1, 01 f2 from tversion union
select 3 f1, 01 f2 from tversion union
select 4 f1, 01 f2 from tversion union
select 5 f1, 01 f2 from tversion union
select 6 f1, 01 f2 from tversion union
select 7 f1, 12 f2 from tversion union
select 8 f1, 12 f2 from tversion union
select 9 f1, 12 f2 from tversion union
select tts.rnum, extract( month from tts.cts ) from tts
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExtractCoreSecondFromTimestamp_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1,  0000.000000 f2 from tversion union
select 2 f1,  0000.000000 f2 from tversion union
select 3 f1,  0030.123000 f2 from tversion union
select 4 f1,  0000.000000 f2 from tversion union
select 5 f1,  0000.000000 f2 from tversion union
select 6 f1,  0030.123000 f2 from tversion union
select 7 f1,  0000.000000 f2 from tversion union
select 8 f1,  0000.000000 f2 from tversion union
select 9 f1,  0030.123000 f2 from tversion union
select vts.rnum, extract( second from vts.cts ) from vts
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExtractCoreSecondFromTimestamp_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1,  0000.000000 f2 from tversion union
select 2 f1,  0000.000000 f2 from tversion union
select 3 f1,  0030.123000 f2 from tversion union
select 4 f1,  0000.000000 f2 from tversion union
select 5 f1,  0000.000000 f2 from tversion union
select 6 f1,  0030.123000 f2 from tversion union
select 7 f1,  0000.000000 f2 from tversion union
select 8 f1,  0000.000000 f2 from tversion union
select 9 f1,  0030.123000 f2 from tversion union
select tts.rnum, extract( second from tts.cts ) from tts
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExtractCoreYearFromDate_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1996 f2 from tversion union
select 2 f1, 2000 f2 from tversion union
select 3 f1, 2000 f2 from tversion union
select vdt.rnum, extract( year from vdt.cdt ) from vdt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExtractCoreYearFromDate_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1996 f2 from tversion union
select 2 f1, 2000 f2 from tversion union
select 3 f1, 2000 f2 from tversion union
select tdt.rnum, extract( year from tdt.cdt ) from tdt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExtractCoreYearFromTimestamp_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1996 f2 from tversion union
select 2 f1, 1996 f2 from tversion union
select 3 f1, 1996 f2 from tversion union
select 4 f1, 2000 f2 from tversion union
select 5 f1, 2000 f2 from tversion union
select 6 f1, 2000 f2 from tversion union
select 7 f1, 2000 f2 from tversion union
select 8 f1, 2000 f2 from tversion union
select 9 f1, 2000 f2 from tversion union
select vts.rnum, extract( year from vts.cts ) from vts
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ExtractCoreYearFromTimestamp_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1996 f2 from tversion union
select 2 f1, 1996 f2 from tversion union
select 3 f1, 1996 f2 from tversion union
select 4 f1, 2000 f2 from tversion union
select 5 f1, 2000 f2 from tversion union
select 6 f1, 2000 f2 from tversion union
select 7 f1, 2000 f2 from tversion union
select 8 f1, 2000 f2 from tversion union
select 9 f1, 2000 f2 from tversion union
select tts.rnum, extract( year from tts.cts ) from tts
) Q
group by
f1,f2
) Q ) P)
union all
(select 'FloorCoreApproximateNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, -1 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, floor( vflt.cflt ) from vflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'FloorCoreApproximateNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, -1 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, floor( tflt.cflt ) from tflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'FloorCoreApproximateNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, -1 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, floor( vdbl.cdbl ) from vdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'FloorCoreApproximateNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, -1 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, floor( tdbl.cdbl ) from tdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'FloorCoreApproximateNumeric_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, -1 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, floor( vrl.crl ) from vrl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'FloorCoreApproximateNumeric_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, -1 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, floor( trl.crl ) from trl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'FloorCoreExactNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, floor( vdec.cdec ) from vdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'FloorCoreExactNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, floor( tdec.cdec ) from tdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'FloorCoreExactNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, floor( vnum.cnum ) from vnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'FloorCoreExactNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 10 f2 from tversion union
select rnum, floor( tnum.cnum ) from tnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'FloorCoreIntegers_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, floor( vint.cint ) from vint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'FloorCoreIntegers_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, floor( tint.cint ) from tint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'FloorCoreIntegers_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, floor( vsint.csint ) from vsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'FloorCoreIntegers_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, floor( tsint.csint ) from tsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'FloorCoreIntegers_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, floor( vbint.cbint ) from vbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'FloorCoreIntegers_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 10 f2 from tversion union
select rnum, floor( tbint.cbint ) from tbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'GroupByAlias_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 50 f1, 'AAA' f2 from tversion union
select 100 f1, 'BBB' f2 from tversion union
select 150 f1, 'CCC' f2 from tversion union
select 200 f1, 'DDD' f2 from tversion union
select 250 f1, null f2 from tversion union
select 300 f1, null f2 from tversion union
select null f1, 'AAA' f2 from tversion union
select null f1, null f2 from tversion union
select c1*5 as calc, c2 from tset1 group by calc, c2
) Q
group by
f1,f2
) Q ) P)
) b
order by test_name_part
""",
    doc="qp_misc.sql self-checking tests (40): ExpCoreIntegers_p4 ExpCoreIntegers_p5 ExpCoreIntegers_p6 ExpressionInIn_p1 ExpressionUsingAggregate_p1 ExtractCoreDayFromDate_p1 ExtractCoreDayFromDate_p2 ExtractCoreDayFromTimestamp_p1 ExtractCoreDayFromTimestamp_p2 ExtractCoreHourFromTimestamp_p1 ExtractCoreHourFromTimestamp_p2 ExtractCoreMinuteFromTimestamp_p1 ExtractCoreMinuteFromTimestamp_p2 ExtractCoreMonthFromDate_p1 ExtractCoreMonthFromDat",
    tags=("qpmisc",),
    prelude=QPMISC_PRELUDE,
)

register_regress(
    "regress_qpmisc_b12_group_having_integer_intersect_is",
    """
select test_name_part, pass_ind from (
(select 'GroupByExpr_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 50 f1, 'AAA' f2 from tversion union
select 100 f1, 'BBB' f2 from tversion union
select 150 f1, 'CCC' f2 from tversion union
select 200 f1, 'DDD' f2 from tversion union
select 250 f1, null f2 from tversion union
select 300 f1, null f2 from tversion union
select null f1, 'AAA' f2 from tversion union
select null f1, null f2 from tversion union
select c1*5, c2 from tset1 group by c1*5, c2
) Q
group by
f1,f2
) Q ) P)
union all
(select 'GroupByHaving_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 10 f1, 3 f2 from tversion union
select null f1, 4 f2 from tversion union
select c1, count(*) from tset1 group by c1 having count(*) > 2
) Q
group by
f1,f2
) Q ) P)
union all
(select 'GroupByLiteral_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 10 f1 from tversion union
select 10 f1 from tversion union
select 10 f1 from tversion union
select 10 f1 from tversion union
select 10 f1 from tversion union
select 10 f1 from tversion union
select 10 f1 from tversion union
select 10 from tset1 group by tset1.c1
) Q
group by
f1
) Q ) P)
union all
(select 'GroupByMany_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 10 f1, 'AAA' f2 from tversion union
select 20 f1, 'BBB' f2 from tversion union
select 30 f1, 'CCC' f2 from tversion union
select 40 f1, 'DDD' f2 from tversion union
select 50 f1, null f2 from tversion union
select 60 f1, null f2 from tversion union
select null f1, 'AAA' f2 from tversion union
select null f1, null f2 from tversion union
select c1, c2 from tset1 group by c1, c2
) Q
group by
f1,f2
) Q ) P)
union all
(select 'GroupByMultiply_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 50 f1 from tversion union
select 100 f1 from tversion union
select 150 f1 from tversion union
select 200 f1 from tversion union
select 250 f1 from tversion union
select 300 f1 from tversion union
select null f1 from tversion union
select c1 * 5 from tset1 group by c1
) Q
group by
f1
) Q ) P)
union all
(select 'GroupByOrdinal_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 50 f1, 'AAA' f2 from tversion union
select 100 f1, 'BBB' f2 from tversion union
select 150 f1, 'CCC' f2 from tversion union
select 200 f1, 'DDD' f2 from tversion union
select 250 f1, null f2 from tversion union
select 300 f1, null f2 from tversion union
select null f1, 'AAA' f2 from tversion union
select null f1, null f2 from tversion union
select c1*5, c2 from tset1 group by 1,2
) Q
group by
f1,f2
) Q ) P)
union all
(select 'GroupBy_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 'AAA' f1 from tversion union
select 'BBB' f1 from tversion union
select 'CCC' f1 from tversion union
select 'DDD' f1 from tversion union
select null f1 from tversion union
select c2 from tset1 group by c2
) Q
group by
f1
) Q ) P)
union all
(select 'Having_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 8 f1 from tversion union
select count(c1) from tset1 having count(*) > 2
) Q
group by
f1
) Q ) P)
union all
(select 'IntegerOpAdd_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1 f2 from tversion union
select 2 f1, 2 f2 from tversion union
select 3 f1, 3 f2 from tversion union
select 4 f1, 12 f2 from tversion union
select vint.rnum,vint.cint + 2 from vint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'IntegerOpAdd_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1 f2 from tversion union
select 2 f1, 2 f2 from tversion union
select 3 f1, 3 f2 from tversion union
select 4 f1, 12 f2 from tversion union
select tint.rnum,tint.cint + 2 from tint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'IntegerOpAdd_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1 f2 from tversion union
select 2 f1, 2 f2 from tversion union
select 3 f1, 3 f2 from tversion union
select 4 f1, 12 f2 from tversion union
select vsint.rnum,vsint.csint + 2 from vsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'IntegerOpAdd_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1 f2 from tversion union
select 2 f1, 2 f2 from tversion union
select 3 f1, 3 f2 from tversion union
select 4 f1, 12 f2 from tversion union
select tsint.rnum,tsint.csint + 2 from tsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'IntegerOpAdd_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1 f2 from tversion union
select 2 f1, 2 f2 from tversion union
select 3 f1, 3 f2 from tversion union
select 4 f1, 12 f2 from tversion union
select vbint.rnum,vbint.cbint + 2 from vbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'IntegerOpAdd_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1 f2 from tversion union
select 2 f1, 2 f2 from tversion union
select 3 f1, 3 f2 from tversion union
select 4 f1, 12 f2 from tversion union
select tbint.rnum,tbint.cbint + 2 from tbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'IntegerOpDiv_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 0 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 0 f2 from tversion union
select 4 f1, 5 f2 from tversion union
select vint.rnum,vint.cint / 2 from vint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'IntegerOpDiv_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 0 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 0 f2 from tversion union
select 4 f1, 5 f2 from tversion union
select tint.rnum,tint.cint / 2 from tint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'IntegerOpDiv_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 0 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 0 f2 from tversion union
select 4 f1, 5 f2 from tversion union
select vsint.rnum,vsint.csint / 2 from vsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'IntegerOpDiv_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 0 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 0 f2 from tversion union
select 4 f1, 5 f2 from tversion union
select tsint.rnum,tsint.csint / 2 from tsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'IntegerOpDiv_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 0 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 0 f2 from tversion union
select 4 f1, 5 f2 from tversion union
select vbint.rnum,vbint.cbint / 2 from vbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'IntegerOpDiv_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 0 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 0 f2 from tversion union
select 4 f1, 5 f2 from tversion union
select tbint.rnum,tbint.cbint / 2 from tbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'IntegerOpMulNULL_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select null f1 from tversion union
select -1.0e+0 * cnnull from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'IntegerOpMulNULL_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select null f1 from tversion union
select 0.0e+0 * cnnull from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'IntegerOpMulNULL_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select null f1 from tversion union
select 1.0e+0 * cnnull from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'IntegerOpMulNULL_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select null f1 from tversion union
select -1.0e-1 * cnnull from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'IntegerOpMulNULL_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select null f1 from tversion union
select 10.0e+0 * cnnull from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'IntegerOpMul_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -2 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 2 f2 from tversion union
select 4 f1, 20 f2 from tversion union
select vint.rnum,vint.cint * 2 from vint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'IntegerOpMul_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -2 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 2 f2 from tversion union
select 4 f1, 20 f2 from tversion union
select tint.rnum,tint.cint * 2 from tint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'IntegerOpMul_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -2 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 2 f2 from tversion union
select 4 f1, 20 f2 from tversion union
select vsint.rnum,vsint.csint * 2 from vsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'IntegerOpMul_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -2 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 2 f2 from tversion union
select 4 f1, 20 f2 from tversion union
select tsint.rnum,tsint.csint * 2 from tsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'IntegerOpMul_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -2 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 2 f2 from tversion union
select 4 f1, 20 f2 from tversion union
select vbint.rnum,vbint.cbint * 2 from vbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'IntegerOpMul_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -2 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 2 f2 from tversion union
select 4 f1, 20 f2 from tversion union
select tbint.rnum,tbint.cbint * 2 from tbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'IntegerOpSub_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -3 f2 from tversion union
select 2 f1, -2 f2 from tversion union
select 3 f1, -1 f2 from tversion union
select 4 f1, 8 f2 from tversion union
select vint.rnum,vint.cint - 2 from vint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'IntegerOpSub_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -3 f2 from tversion union
select 2 f1, -2 f2 from tversion union
select 3 f1, -1 f2 from tversion union
select 4 f1, 8 f2 from tversion union
select tint.rnum,tint.cint - 2 from tint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'IntegerOpSub_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -3 f2 from tversion union
select 2 f1, -2 f2 from tversion union
select 3 f1, -1 f2 from tversion union
select 4 f1, 8 f2 from tversion union
select vsint.rnum,vsint.csint - 2 from vsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'IntegerOpSub_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -3 f2 from tversion union
select 2 f1, -2 f2 from tversion union
select 3 f1, -1 f2 from tversion union
select 4 f1, 8 f2 from tversion union
select tsint.rnum,tsint.csint - 2 from tsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'IntegerOpSub_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -3 f2 from tversion union
select 2 f1, -2 f2 from tversion union
select 3 f1, -1 f2 from tversion union
select 4 f1, 8 f2 from tversion union
select vbint.rnum,vbint.cbint - 2 from vbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'IntegerOpSub_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -3 f2 from tversion union
select 2 f1, -2 f2 from tversion union
select 3 f1, -1 f2 from tversion union
select 4 f1, 8 f2 from tversion union
select tbint.rnum,tbint.cbint - 2 from tbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'IntersectAll_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 10 f1, 'AAA' f2 from tversion union
select 10 f1, 'AAA' f2 from tversion union
select 40 f1, 'DDD' f2 from tversion union
select c1, c2 from tset1 intersect all select c1, c2 from tset2
) Q
group by
f1,f2
) Q ) P)
union all
(select 'Intersect_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 10 f1, 'AAA' f2 from tversion union
select 40 f1, 'DDD' f2 from tversion union
select c1, c2 from tset1 intersect select c1, c2 from tset2
) Q
group by
f1,f2
) Q ) P)
union all
(select 'IsNullPredicate_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select null f1, 'EE' f2 from tversion union
select c1, c2 from tjoin2 where c1 is null
) Q
group by
f1,f2
) Q ) P)
) b
order by test_name_part
""",
    doc="qp_misc.sql self-checking tests (40): GroupByExpr_p1 GroupByHaving_p1 GroupByLiteral_p1 GroupByMany_p1 GroupByMultiply_p1 GroupByOrdinal_p1 GroupBy_p1 Having_p1 IntegerOpAdd_p1 IntegerOpAdd_p2 IntegerOpAdd_p3 IntegerOpAdd_p4 IntegerOpAdd_p5 IntegerOpAdd_p6 IntegerOpDiv_p1 IntegerOpDiv_p2 IntegerOpDiv_p3 IntegerOpDiv_p4 IntegerOpDiv_p5 IntegerOpDiv_p6 IntegerOpMulNULL_p1 IntegerOpMulNULL_p2 IntegerOpMulNULL_p3 IntegerOpMulNULL_p4 Integ",
    tags=("qpmisc",),
    prelude=QPMISC_PRELUDE,
)

register_regress(
    "regress_qpmisc_b13_is_join_like_ln",
    """
select test_name_part, pass_ind from (
(select 'IsNullValueExpr_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select c1 from tversion where 1 * cnnull is null
) Q
group by
f1
) Q ) P)
union all
(select 'JoinCoreLikePredicate_gp_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where not exists (select tjoin1.rnum, tjoin1.c1, tjoin1.c2, tjoin2.c2 as c2j2 from tjoin1 inner join tjoin2 on ( tjoin1.c1 = tjoin2.c1 and tjoin2.c2 like 'A%' ))
) Q
group by
f1
) Q ) P)
union all
(select 'JoinCoreNestedInner_gp_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where not exists (select tjoin1.c1, tjoin2.c2, tjoin3.c2 as c2j3 from (( tjoin1 inner join tjoin2 on tjoin1.c1=tjoin2.c1 ) inner join tjoin3 on tjoin3.c1=tjoin1.c1) inner join tjoin4 on tjoin4.c1=tjoin3.c1)
) Q
group by
f1
) Q ) P)
union all
(select 'JoinCoreCrossProduct_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5, count(*) c  from (
select 0 f1, 0 f2, 10 f3, 10 f4, 'BB' f5 from tversion union
select 0 f1, 1 f2, 10 f3, 15 f4, 'DD' f5 from tversion union
select 0 f1, 2 f2, 10 f3, null f4, 'EE' f5 from tversion union
select 0 f1, 3 f2, 10 f3, 10 f4, 'FF' f5 from tversion union
select 1 f1, 0 f2, 20 f3, 10 f4, 'BB' f5 from tversion union
select 1 f1, 1 f2, 20 f3, 15 f4, 'DD' f5 from tversion union
select 1 f1, 2 f2, 20 f3, null f4, 'EE' f5 from tversion union
select 1 f1, 3 f2, 20 f3, 10 f4, 'FF' f5 from tversion union
select 2 f1, 0 f2, null f3, 10 f4, 'BB' f5 from tversion union
select 2 f1, 1 f2, null f3, 15 f4, 'DD' f5 from tversion union
select 2 f1, 2 f2, null f3, null f4, 'EE' f5 from tversion union
select 2 f1, 3 f2, null f3, 10 f4, 'FF' f5 from tversion union
select tjoin1.rnum, tjoin2.rnum, tjoin1.c1, tjoin2.c1 as c1j2, tjoin2.c2 from tjoin1, tjoin2
) Q
group by
f1,f2,f3,f4,f5
) Q ) P)
union all
(select 'JoinCoreCross_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 0 f1, 10 f2, 10 f3 from tversion union
select 3 f1, 10 f2, 10 f3 from tversion union
select tjoin2.rnum, tjoin1.c1, tjoin2.c1 as c1j2 from tjoin1 cross join tjoin2 where tjoin1.c1=tjoin2.c1
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'JoinCoreEqualWithAnd_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 10 f1, 'BB' f2 from tversion union
select tjoin1.c1, tjoin2.c2 from tjoin1 inner join tjoin2 on ( tjoin1.c1 = tjoin2.c1 and tjoin2.c2='BB' )
) Q
group by
f1,f2
) Q ) P)
union all
(select 'JoinCoreImplicit_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4, count(*) c  from (
select 0 f1, 10 f2, 10 f3, 'BB' f4 from tversion union
select 3 f1, 10 f2, 10 f3, 'FF' f4 from tversion union
select tjoin2.rnum, tjoin1.c1, tjoin2.c1 as c1j2, tjoin2.c2 from tjoin1, tjoin2 where tjoin1.c1=tjoin2.c1
) Q
group by
f1,f2,f3,f4
) Q ) P)
union all
(select 'JoinCoreIsNullPredicate_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4, count(*) c  from (
select 0 f1, 10 f2, 15 f3, null f4 from tversion union
select 1 f1, 20 f2, 25 f3, null f4 from tversion union
select 2 f1, null f2, 50 f3, null f4 from tversion union
select tjoin1.rnum, tjoin1.c1, tjoin1.c2, tjoin2.c2  as c2j2 from tjoin1 left outer join tjoin2 on ( tjoin1.c1 = tjoin2.c1 and tjoin1.c2 is null )
) Q
group by
f1,f2,f3,f4
) Q ) P)
union all
(select 'JoinCoreLeftNestedInnerTableRestrict_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 0 f1, 0 f2, 0 f3 from tversion union
select 0 f1, 3 f2, 0 f3 from tversion union
select 1 f1, null f2, null f3 from tversion union
select 2 f1, null f2, null f3 from tversion union
select tjoin1.rnum, tjoin2.rnum as rnumt2, tjoin3.rnum as rnumt3 from  (tjoin1 left outer join tjoin2 on tjoin1.c1=tjoin2.c1) left outer join tjoin3 on tjoin2.c1=tjoin3.c1
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'JoinCoreLeftNestedOptionalTableRestrict_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4, count(*) c  from (
select 10 f1, 15 f2, 'BB' f3, 'XX' f4 from tversion union
select 10 f1, 15 f2, 'FF' f3, 'XX' f4 from tversion union
select 20 f1, 25 f2, null f3, null f4 from tversion union
select null f1, 50 f2, null f3, null f4 from tversion union
select tjoin1.c1, tjoin1.c2, tjoin2.c2 as c2j2, tjoin3.c2 as c2j3 from  tjoin1 left outer join (tjoin2 left outer join tjoin3 on tjoin2.c1=tjoin3.c1) on tjoin1.c1=tjoin3.c1
) Q
group by
f1,f2,f3,f4
) Q ) P)
union all
(select 'JoinCoreNatural_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 0 f2 from tversion union
select 1 f1, 1 f2 from tversion union
select tset1.rnum, tset2.rnum as rnumt2 from tset1 natural join tset2
) Q
group by
f1,f2
) Q ) P)
union all
(select 'JoinCoreNestedInnerOuter_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5,f6, count(*) c  from (
select 0 f1, 10 f2, 15 f3, 'BB' f4, 'XX' f5, null f6 from tversion union
select 3 f1, 10 f2, 15 f3, 'FF' f4, 'XX' f5, null f6 from tversion union
select tjoin2.rnum, tjoin1.c1, tjoin1.c2, tjoin2.c2 as c2j2, tjoin3.c2 as c2j3,tjoin4.c2 as c2j4 from (tjoin1 inner join (tjoin2 left outer join tjoin3 on tjoin2.c1=tjoin3.c1) on (tjoin1.c1=tjoin2.c1)) left outer join tjoin4 on (tjoin1.c1=tjoin4.c1)
) Q
group by
f1,f2,f3,f4,f5,f6
) Q ) P)
union all
(select 'JoinCoreNestedOuterInnerTableRestrict_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 0 f1, 0 f2, 0 f3 from tversion union
select 0 f1, 3 f2, 0 f3 from tversion union
select null f1, 1 f2, null f3 from tversion union
select null f1, 2 f2, null f3 from tversion union
select tjoin1.rnum, tjoin2.rnum as rnumt2, tjoin3.rnum as rnumt3 from  (tjoin1 right outer join tjoin2 on tjoin1.c1=tjoin2.c1) left outer join tjoin3 on tjoin1.c1=tjoin3.c1
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'JoinCoreNestedOuterOptionalTableRestrict_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4, count(*) c  from (
select 10 f1, 15 f2, 'BB' f3, 'XX' f4 from tversion union
select 10 f1, 15 f2, 'FF' f3, 'XX' f4 from tversion union
select null f1, null f2, null f3, 'YY' f4 from tversion union
select tjoin1.c1, tjoin1.c2, tjoin2.c2 as c2j2, tjoin3.c2 as c2j3 from  (tjoin1 left outer join tjoin2 on tjoin1.c1=tjoin2.c1) right outer join tjoin3 on tjoin2.c1=tjoin3.c1
) Q
group by
f1,f2,f3,f4
) Q ) P)
union all
(select 'JoinCoreNestedOuter_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5,f6, count(*) c  from (
select 0 f1, 10 f2, 15 f3, 'BB' f4, 'XX' f5, null f6 from tversion union
select 1 f1, null f2, null f3, 'DD' f4, 'YY' f5, null f6 from tversion union
select 2 f1, null f2, null f3, 'EE' f4, null f5, null f6 from tversion union
select 3 f1, 10 f2, 15 f3, 'FF' f4, 'XX' f5, null f6 from tversion union
select tjoin2.rnum, tjoin1.c1, tjoin1.c2, tjoin2.c2 as c2j2, tjoin3.c2 as c2j3,tjoin4.c2 as c2j4 from  (tjoin1 right outer join (tjoin2 left outer join tjoin3 on tjoin2.c1=tjoin3.c1) on (tjoin1.c1=tjoin2.c1)) left outer join tjoin4 on (tjoin1.c1=tjoin4.c1)
) Q
group by
f1,f2,f3,f4,f5,f6
) Q ) P)
union all
(select 'JoinCoreNoExpressionInOnCondition_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5, count(*) c  from (
select 0 f1, 10 f2, 15 f3, 10 f4, 'XX' f5 from tversion union
select 0 f1, 10 f2, 15 f3, 15 f4, 'YY' f5 from tversion union
select tjoin1.rnum, tjoin1.c1,tjoin1.c2,tjoin3.c1, tjoin3.c2 from tjoin1 inner join tjoin3 on tjoin1.c1 = 9 + 1
) Q
group by
f1,f2,f3,f4,f5
) Q ) P)
union all
(select 'JoinCoreNonEquiJoin_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 0 f1, 0 f2, 0 f3 from tversion union
select 1 f1, 1 f2, 1 f3 from tversion union
select 2 f1, 2 f2, null f3 from tversion union
select 3 f1, 3 f2, 0 f3 from tversion union
select tjoin2.rnum, tjoin2.rnum as rnumt2, tjoin3.rnum as rnumt3  from tjoin2 left outer join tjoin3 on tjoin2.c2 <> tjoin3.c2 and tjoin2.c1=tjoin3.c1
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'JoinCoreNonEquiJoin_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 0 f1, 0 f2, 0 f3 from tversion union
select 1 f1, 1 f2, 1 f3 from tversion union
select 2 f1, 2 f2, null f3 from tversion union
select 3 f1, 3 f2, 0 f3 from tversion union
select tjoin2.rnum, tjoin2.rnum as rnumt2, tjoin3.rnum as rnumt3  from tjoin2 left outer join tjoin3 on tjoin2.c2 <> tjoin3.c2 and tjoin2.c1=tjoin3.c1
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'JoinCoreNotPredicate_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4, count(*) c  from (
select 0 f1, 10 f2, 15 f3, 'BB' f4 from tversion union
select 3 f1, 10 f2, 15 f3, 'FF' f4 from tversion union
select tjoin2.rnum, tjoin1.c1, tjoin1.c2, tjoin2.c2 as c2j2 from tjoin1 inner join tjoin2 on ( tjoin1.c1 = tjoin2.c1 and not tjoin2.c2 = 'AA' )
) Q
group by
f1,f2,f3,f4
) Q ) P)
union all
(select 'JoinCoreNwayJoinedTable_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4, count(*) c  from (
select 0 f1, 10 f2, 'BB' f3, 'XX' f4 from tversion union
select 1 f1, null f2, 'DD' f3, null f4 from tversion union
select 2 f1, null f2, 'EE' f3, null f4 from tversion union
select 3 f1, 10 f2, 'FF' f3, 'XX' f4 from tversion union
select tjoin2.rnum, tjoin1.c1, tjoin2.c2 as c2j2, tjoin3.c2 as c2j3 from tjoin1 right outer join  tjoin2 on tjoin1.c1 = tjoin2.c1 left outer join tjoin3 on tjoin1.c1 = tjoin3.c1
) Q
group by
f1,f2,f3,f4
) Q ) P)
union all
(select 'JoinCoreOnConditionAbsFunction_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 0 f1, 10 f2, 'BB' f3 from tversion union
select 0 f1, 10 f2, 'FF' f3 from tversion union
select 1 f1, 20 f2, null f3 from tversion union
select 2 f1, null f2, null f3 from tversion union
select tjoin1.rnum, tjoin1.c1,tjoin2.c2 from tjoin1 left outer join tjoin2 on abs(tjoin1.c1)=tjoin2.c1
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'JoinCoreOnConditionSubstringFunction_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 0 f1, 10 f2, 'BB' f3 from tversion union
select 1 f1, 20 f2, null f3 from tversion union
select 2 f1, null f2, null f3 from tversion union
select tjoin1.rnum, tjoin1.c1,tjoin2.c2 from tjoin1 left outer join tjoin2 on tjoin1.c1=tjoin2.c1 and substring(tjoin2.c2 from 1 for 2)='BB'
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'JoinCoreOnConditionTrimFunction_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 0 f1, 10 f2, 'BB' f3 from tversion union
select 1 f1, 20 f2, null f3 from tversion union
select 2 f1, null f2, null f3 from tversion union
select tjoin1.rnum, tjoin1.c1,tjoin2.c2 from tjoin1 left outer join tjoin2 on tjoin1.c1=tjoin2.c1 and trim(tjoin2.c2)='BB'
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'JoinCoreOnConditionUpperFunction_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 0 f1, 10 f2, 'BB' f3 from tversion union
select 1 f1, 20 f2, null f3 from tversion union
select 2 f1, null f2, null f3 from tversion union
select tjoin1.rnum, tjoin1.c1,tjoin2.c2 from tjoin1 left outer join tjoin2 on tjoin1.c1=tjoin2.c1 and upper(tjoin2.c2)='BB'
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'JoinCoreOptionalTableFilter_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 10 f1, 'FF' f2 from tversion union
select tjoin1.c1, tjoin2.c2 from tjoin1 left outer join tjoin2 on tjoin1.c1 = tjoin2.c1 where tjoin2.c2 > 'C'
) Q
group by
f1,f2
) Q ) P)
union all
(select 'JoinCoreOptionalTableJoinFilter_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 0 f1, 10 f2, 'FF' f3 from tversion union
select 1 f1, 20 f2, null f3 from tversion union
select 2 f1, null f2, null f3 from tversion union
select tjoin1.rnum, tjoin1.c1, tjoin2.c2 from tjoin1 left outer join tjoin2 on ( tjoin1.c1 = tjoin2.c1 and tjoin2.c2 > 'C' )
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'JoinCoreOptionalTableJoinRestrict_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5,f6,f7,f8,f9, count(*) c  from (
select 0 f1, 10 f2, 15 f3, 0 f4, 10 f5, 'BB' f6, 0 f7, 10 f8, 'XX' f9 from tversion union
select 0 f1, 10 f2, 15 f3, 3 f4, 10 f5, 'FF' f6, 0 f7, 10 f8, 'XX' f9 from tversion union
select tjoin1.rnum as tj1rnum, tjoin1.c1 as tj1c1, tjoin1.c2 as tj1c2, tjoin2.rnum as tj2rnum, tjoin2.c1 as tj2c1, tjoin2.c2 as tj2c2, tjoin3.rnum as tj3rnum, tjoin3.c1 as tj3c1, tjoin3.c2 as tj3c2 from  (tjoin1 left outer join tjoin2 on tjoin1.c1=tjoin2.c1)  , tjoin3 where tjoin2.c1=tjoin3.c1
) Q
group by
f1,f2,f3,f4,f5,f6,f7,f8,f9
) Q ) P)
union all
(select 'JoinCoreOrPredicate_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 10 f1, 15 f2, 'BB' f3 from tversion union
select 10 f1, 15 f2, 'DD' f3 from tversion union
select 10 f1, 15 f2, 'EE' f3 from tversion union
select 10 f1, 15 f2, 'FF' f3 from tversion union
select 20 f1, 25 f2, 'BB' f3 from tversion union
select 20 f1, 25 f2, 'DD' f3 from tversion union
select 20 f1, 25 f2, 'EE' f3 from tversion union
select 20 f1, 25 f2, 'FF' f3 from tversion union
select tjoin1.c1, tjoin1.c2, tjoin2.c2 as c2j2 from tjoin1 inner join tjoin2 on ( tjoin1.c1 = 10 or tjoin1.c1=20 )
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'JoinCoreOrPredicate_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 10 f1, 15 f2, 'BB' f3 from tversion union
select 10 f1, 15 f2, 'DD' f3 from tversion union
select 10 f1, 15 f2, 'EE' f3 from tversion union
select 10 f1, 15 f2, 'FF' f3 from tversion union
select 20 f1, 25 f2, 'BB' f3 from tversion union
select 20 f1, 25 f2, 'DD' f3 from tversion union
select 20 f1, 25 f2, 'EE' f3 from tversion union
select 20 f1, 25 f2, 'FF' f3 from tversion union
select tjoin1.c1, tjoin1.c2, tjoin2.c2 as c2j2 from tjoin1 inner join tjoin2 on ( tjoin1.c1 = 10 or tjoin1.c1=20 )
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'JoinCorePreservedTableFilter_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4, count(*) c  from (
select 1 f1, 20 f2, 25 f3, null f4 from tversion union
select 2 f1, null f2, 50 f3, null f4 from tversion union
select tjoin1.rnum, tjoin1.c1, tjoin1.c2, tjoin2.c2 as c2j2 from tjoin1 left outer join tjoin2 on tjoin1.c1 = tjoin2.c1 where tjoin1.c2 > 15
) Q
group by
f1,f2,f3,f4
) Q ) P)
union all
(select 'JoinCorePreservedTableJoinFilter_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4, count(*) c  from (
select 0 f1, 10 f2, 15 f3, null f4 from tversion union
select 1 f1, 20 f2, 25 f3, null f4 from tversion union
select 2 f1, null f2, 50 f3, null f4 from tversion union
select tjoin1.rnum, tjoin1.c1, tjoin1.c2, tjoin2.c2 as c2j2 from tjoin1 left outer join tjoin2 on ( tjoin1.c1 = tjoin2.c1 and tjoin1.c2 > 15 )
) Q
group by
f1,f2,f3,f4
) Q ) P)
union all
(select 'JoinCoreRightNestedInnerTableRestrict_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 0 f1, 0 f2, 0 f3 from tversion union
select 0 f1, 3 f2, 0 f3 from tversion union
select null f1, 1 f2, 1 f3 from tversion union
select tjoin1.rnum, tjoin2.rnum as rnumt2, tjoin3.rnum as rnumt3 from  (tjoin1 right outer join tjoin2 on tjoin1.c1=tjoin2.c1) right outer join tjoin3 on tjoin2.c1=tjoin3.c1
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'JoinCoreRightNestedOptionalTableRestrict_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4, count(*) c  from (
select 10 f1, 15 f2, 'BB' f3, 'XX' f4 from tversion union
select 10 f1, 15 f2, 'FF' f3, 'XX' f4 from tversion union
select null f1, null f2, null f3, 'YY' f4 from tversion union
select tjoin1.c1, tjoin1.c2, tjoin2.c2 as c2j2, tjoin3.c2 as c2j3 from  (tjoin1 right outer join tjoin2 on tjoin1.c1=tjoin2.c1) right outer join tjoin3 on tjoin1.c1=tjoin3.c1
) Q
group by
f1,f2,f3,f4
) Q ) P)
union all
(select 'JoinCoreSelf_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 0 f1, 10 f2, 10 f3 from tversion union
select 1 f1, 20 f2, 20 f3 from tversion union
select tjoin1.rnum, tjoin1.c1, tjoin1a.c1 from tjoin1, tjoin1 tjoin1a where tjoin1.c1=tjoin1a.c1
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'JoinCoreSimpleAndJoinedTable_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4, count(*) c  from (
select 0 f1, 10 f2, 15 f3, 'BB' f4 from tversion union
select 3 f1, 10 f2, 15 f3, 'FF' f4 from tversion union
select tjoin2.rnum, tjoin1.c1, tjoin1.c2, tjoin2.c2 as c2j2 from tjoin1 left outer join tjoin2 on ( tjoin1.c1 = tjoin2.c1 ), tjoin3 where tjoin3.c1 = tjoin1.c1
) Q
group by
f1,f2,f3,f4
) Q ) P)
union all
(select 'JoinCoreTwoSidedJoinRestrictionFilter_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 0 f1, 0 f2, 0 f3 from tversion union
select 0 f1, 3 f2, 0 f3 from tversion union
select tjoin1.rnum, tjoin2.rnum as rnumt2, tjoin3.rnum as rnumt3 from  (tjoin1 left outer join tjoin2 on tjoin1.c1=tjoin2.c1) left outer join tjoin3 on tjoin1.c1=tjoin3.c1 where tjoin2.c1=tjoin3.c1
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'JoinCoreTwoSidedJoinRestrict_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5,f6,f7,f8,f9, count(*) c  from (
select 0 f1, 10 f2, 15 f3, 0 f4, 10 f5, 'BB' f6, 0 f7, 10 f8, 'XX' f9 from tversion union
select 0 f1, 10 f2, 15 f3, 3 f4, 10 f5, 'FF' f6, 0 f7, 10 f8, 'XX' f9 from tversion union
select 1 f1, 20 f2, 25 f3, null f4, null f5, null f6, null f7, null f8, null f9 from tversion union
select 2 f1, null f2, 50 f3, null f4, null f5, null f6, null f7, null f8, null f9 from tversion union
select tjoin1.rnum as tj1rnum, tjoin1.c1 as tj1c1, tjoin1.c2 as tj1c2, tjoin2.rnum as tj2rnum, tjoin2.c1 as tj2c1, tjoin2.c2 as tj2c2, tjoin3.rnum as tj3rnum, tjoin3.c1 as tj3c1, tjoin3.c2 as tj3c2 from (tjoin1 left outer join tjoin2 on tjoin1.c1=tjoin2.c1) left outer join tjoin3 on tjoin2.c1=tjoin3.c1
) Q
group by
f1,f2,f3,f4,f5,f6,f7,f8,f9
) Q ) P)
union all
(select 'JoinCoreUsing_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 0 f1, 10 f2, 10 f3 from tversion union
select 3 f1, 10 f2, 10 f3 from tversion union
select tjoin2.rnum, tjoin1.c1, tjoin2.c1 as c1j2 from tjoin1 join tjoin2 using ( c1 )
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'LikeValueExpr_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 10 f1, 'BB' f2 from tversion union
select tjoin2.c1, tjoin2.c2 from tjoin2 where tjoin2.c2 like upper('BB')
) Q
group by
f1,f2
) Q ) P)
union all
(select 'LnCoreNull_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select null f1 from tversion union
select ln( null ) from tversion
) Q
group by
f1
) Q ) P)
) b
order by test_name_part
""",
    doc="qp_misc.sql self-checking tests (40): IsNullValueExpr_p1 JoinCoreLikePredicate_gp_p1 JoinCoreNestedInner_gp_p1 JoinCoreCrossProduct_p1 JoinCoreCross_p1 JoinCoreEqualWithAnd_p1 JoinCoreImplicit_p1 JoinCoreIsNullPredicate_p1 JoinCoreLeftNestedInnerTableRestrict_p1 JoinCoreLeftNestedOptionalTableRestrict_p1 JoinCoreNatural_p1 JoinCoreNestedInnerOuter_p1 JoinCoreNestedOuterInnerTableRestrict_p1 JoinCoreNestedOuterOptionalTableRestrict_p1 ",
    tags=("qpmisc",),
    prelude=QPMISC_PRELUDE,
)

register_regress(
    "regress_qpmisc_b14_ln_lower_max_min_mod_multiple_nega",
    """
select test_name_part, pass_ind from (
(select 'LnCore_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 2.302585092994050e+000 f1 from tversion union
select ln( 10 ) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'LnCore_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 2.302585092994050e+000 f1 from tversion union
select ln( 10.0e+0 ) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'LnCore_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 2.302585092994050e+000 f1 from tversion union
select ln( 10.0 ) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'LowerCoreFixedLength_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '                                ' f2 from tversion union
select 2 f1, '                                ' f2 from tversion union
select 3 f1, 'bb                              ' f2 from tversion union
select 4 f1, 'ee                              ' f2 from tversion union
select 5 f1, 'ff                              ' f2 from tversion union
select rnum, lower( vchar.cchar ) from vchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'LowerCoreFixedLength_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '                                ' f2 from tversion union
select 2 f1, '                                ' f2 from tversion union
select 3 f1, 'bb                              ' f2 from tversion union
select 4 f1, 'ee                              ' f2 from tversion union
select 5 f1, 'ff                              ' f2 from tversion union
select rnum, lower( tchar.cchar ) from tchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'LowerCoreSpecial_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 'ß' f1 from tversion union
select lower( 'ß' ) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'LowerCoreVariableLength_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '' f2 from tversion union
select 2 f1, ' ' f2 from tversion union
select 3 f1, 'bb' f2 from tversion union
select 4 f1, 'ee' f2 from tversion union
select 5 f1, 'ff' f2 from tversion union
select rnum, lower( vvchar.cvchar ) from vvchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'LowerCoreVariableLength_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '' f2 from tversion union
select 2 f1, ' ' f2 from tversion union
select 3 f1, 'bb' f2 from tversion union
select 4 f1, 'ee' f2 from tversion union
select 5 f1, 'ff' f2 from tversion union
select rnum, lower( tvchar.cvchar ) from tvchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'MaxLiteralTemp_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select '2000-01-01' f1 from tversion union
select max( '2000-01-01' ) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'MinLiteralTemp_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select '2000-01-01' f1 from tversion union
select min( '2000-01-01' ) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'ModBoundaryTinyNumber_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 0 f1 from tversion union
select mod( 35, 0.000000000001 ) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'ModCore2ExactNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 0 f2 from tversion union
select 3 f1, 0 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 3 f2 from tversion union
select vdec.rnum, mod( 3,vdec.cdec ) from vdec where vdec.rnum <> 2
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ModCore2ExactNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 0 f2 from tversion union
select 3 f1, 0 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 3 f2 from tversion union
select tdec.rnum, mod( 3,tdec.cdec ) from tdec where tdec.rnum <> 2
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ModCore2ExactNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 0 f2 from tversion union
select 3 f1, 0 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 3 f2 from tversion union
select vnum.rnum, mod( 3,vnum.cnum ) from vnum where vnum.rnum <> 2
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ModCore2ExactNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 0 f2 from tversion union
select 3 f1, 0 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 3 f2 from tversion union
select tnum.rnum, mod( 3,tnum.cnum ) from tnum where tnum.rnum <> 2
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ModCore2Integers_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 0 f2 from tversion union
select 3 f1, 0 f2 from tversion union
select 4 f1, 3 f2 from tversion union
select vint.rnum, mod( 3,vint.cint ) from vint where vint.rnum <> 2
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ModCore2Integers_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 0 f2 from tversion union
select 3 f1, 0 f2 from tversion union
select 4 f1, 3 f2 from tversion union
select tint.rnum, mod( 3,tint.cint ) from tint where tint.rnum <> 2
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ModCore2Integers_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 0 f2 from tversion union
select 3 f1, 0 f2 from tversion union
select 4 f1, 3 f2 from tversion union
select vsint.rnum, mod( 3,vsint.csint ) from vsint where vsint.rnum <> 2
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ModCore2Integers_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 0 f2 from tversion union
select 3 f1, 0 f2 from tversion union
select 4 f1, 3 f2 from tversion union
select tsint.rnum, mod( 3,tsint.csint ) from tsint where tsint.rnum <> 2
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ModCore2Integers_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 0 f2 from tversion union
select 3 f1, 0 f2 from tversion union
select 4 f1, 3 f2 from tversion union
select vbint.rnum, mod( 3,vbint.cbint ) from vbint where vbint.rnum <> 2
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ModCore2Integers_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 0 f2 from tversion union
select 3 f1, 0 f2 from tversion union
select 4 f1, 3 f2 from tversion union
select tbint.rnum, mod( 3,tbint.cbint ) from tbint where tbint.rnum <> 2
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ModCoreExactNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, .1 f2 from tversion union
select 5 f1, 1 f2 from tversion union
select rnum, mod( vdec.cdec, 3 ) from vdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ModCoreExactNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, .1 f2 from tversion union
select 5 f1, 1 f2 from tversion union
select rnum, mod( tdec.cdec, 3 ) from tdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ModCoreExactNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, .1 f2 from tversion union
select 5 f1, 1 f2 from tversion union
select rnum, mod( vnum.cnum, 3 ) from vnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ModCoreExactNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, .1 f2 from tversion union
select 5 f1, 1 f2 from tversion union
select rnum, mod( tnum.cnum, 3 ) from tnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ModCoreIntegers_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 1 f2 from tversion union
select rnum, mod( vint.cint, 3 ) from vint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ModCoreIntegers_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 1 f2 from tversion union
select rnum, mod( tint.cint, 3 ) from tint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ModCoreIntegers_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 1 f2 from tversion union
select rnum, mod( vsint.csint, 3 ) from vsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ModCoreIntegers_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 1 f2 from tversion union
select rnum, mod( tsint.csint, 3 ) from tsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ModCoreIntegers_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 1 f2 from tversion union
select rnum, mod( vbint.cbint, 3 ) from vbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'ModCoreIntegers_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, -1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 1 f2 from tversion union
select rnum, mod( tbint.cbint, 3 ) from tbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'MultipleSumDistinct_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 210 f1, 4 f2 from tversion union
select sum( distinct c1 ), count( distinct c2 ) from tset1
) Q
group by
f1,f2
) Q ) P)
union all
(select 'Negate_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select -4 f1 from tversion union
select -(2 * 2) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'NullifCoreReturnsNull_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select null f1 from tversion union
select nullif(cnnull, cnnull) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'NullifCoreReturnsNull_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select null f1 from tversion union
select nullif(1,1) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'NullifCoreReturnsNull_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select null f1 from tversion union
select nullif(cnnull, 1) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'NullifCoreReturnsOne_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select nullif(1,2) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'NumericComparisonEqual_gp_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where not exists (select 1 from tversion where 7 = 210.3 union select 1 from tversion where 7 = cnnull)
) Q
group by
f1
) Q ) P)
union all
(select 'NumericComparisonGreaterThanOrEqual_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where 210.3 >= 7
) Q
group by
f1
) Q ) P)
union all
(select 'NumericComparisonGreaterThan_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where 210.3 > 7
) Q
group by
f1
) Q ) P)
) b
order by test_name_part
""",
    doc="qp_misc.sql self-checking tests (40): LnCore_p1 LnCore_p2 LnCore_p3 LowerCoreFixedLength_p1 LowerCoreFixedLength_p2 LowerCoreSpecial_p1 LowerCoreVariableLength_p1 LowerCoreVariableLength_p2 MaxLiteralTemp_p1 MinLiteralTemp_p1 ModBoundaryTinyNumber_p1 ModCore2ExactNumeric_p1 ModCore2ExactNumeric_p2 ModCore2ExactNumeric_p3 ModCore2ExactNumeric_p4 ModCore2Integers_p1 ModCore2Integers_p2 ModCore2Integers_p3 ModCore2Integers_p4 ModCore2Int",
    tags=("qpmisc",),
    prelude=QPMISC_PRELUDE,
)

register_regress(
    "regress_qpmisc_b15_numeric_olap",
    """
select test_name_part, pass_ind from (
(select 'NumericComparisonLessThanOrEqual_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where 7 <= 210.3
) Q
group by
f1
) Q ) P)
union all
(select 'NumericComparisonLessThan_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where 7 < 210.3
) Q
group by
f1
) Q ) P)
union all
(select 'NumericComparisonNotEqual_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where 7 <> 210.3
) Q
group by
f1
) Q ) P)
union all
(select 'NumericLiteral_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select +1.000000000000000e+000 f1 from tversion union
select 1.0 from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'OlapCoreAvgMultiplePartitions_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5,f6,f7, count(*) c  from (
select 0 f1, 'AAA' f2, 'AA' f3, 10 f4,  00000000000000000000000000000027.142857 f5,  00000000000000000000000000000016.666667 f6,  00000000000000000000000000000012.500000 f7 from tversion union
select 1 f1, 'AAA' f2, 'AA' f3, 15 f4,  00000000000000000000000000000027.142857 f5,  00000000000000000000000000000016.666667 f6,  00000000000000000000000000000012.500000 f7 from tversion union
select 2 f1, 'AAA' f2, 'AB' f3, 25 f4,  00000000000000000000000000000027.142857 f5,  00000000000000000000000000000016.666667 f6,  00000000000000000000000000000025.000000 f7 from tversion union
select 3 f1, 'BBB' f2, 'BB' f3, 20 f4,  00000000000000000000000000000027.142857 f5,  00000000000000000000000000000020.000000 f6,  00000000000000000000000000000020.000000 f7 from tversion union
select 4 f1, 'CCC' f2, 'CC' f3, 30 f4,  00000000000000000000000000000027.142857 f5,  00000000000000000000000000000030.000000 f6,  00000000000000000000000000000030.000000 f7 from tversion union
select 5 f1, 'DDD' f2, 'DD' f3, 40 f4,  00000000000000000000000000000027.142857 f5,  00000000000000000000000000000040.000000 f6,  00000000000000000000000000000040.000000 f7 from tversion union
select 6 f1, null f2, null f3, 50 f4,  00000000000000000000000000000027.142857 f5,  00000000000000000000000000000050.000000 f6,  00000000000000000000000000000050.000000 f7 from tversion union
select 7 f1, null f2, null f3, null f4,  00000000000000000000000000000027.142857 f5,  00000000000000000000000000000050.000000 f6,  00000000000000000000000000000050.000000 f7 from tversion union
select rnum, c1, c2, c3, avg(c3) over (), avg( c3 ) over(partition by c1), avg( c3 ) over(partition by c1,c2) from tolap
) Q
group by
f1,f2,f3,f4,f5,f6,f7
) Q ) P)
union all
(select 'OlapCoreAvgNoWindowFrame_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5, count(*) c  from (
select 0 f1, 'AAA' f2, 'AA' f3, 10 f4, 1.666666666666667e+001 f5 from tversion union
select 1 f1, 'AAA' f2, 'AA' f3, 15 f4, 1.666666666666667e+001 f5 from tversion union
select 2 f1, 'AAA' f2, 'AB' f3, 25 f4, 1.666666666666667e+001 f5 from tversion union
select 3 f1, 'BBB' f2, 'BB' f3, 20 f4, 2.000000000000000e+001 f5 from tversion union
select 4 f1, 'CCC' f2, 'CC' f3, 30 f4, 3.000000000000000e+001 f5 from tversion union
select 5 f1, 'DDD' f2, 'DD' f3, 40 f4, 4.000000000000000e+001 f5 from tversion union
select 6 f1, null f2, null f3, 50 f4, 5.000000000000000e+001 f5 from tversion union
select 7 f1, null f2, null f3, null f4, 5.000000000000000e+001 f5 from tversion union
select rnum, c1, c2, c3, avg( c3 ) over(partition by c1) from tolap
) Q
group by
f1,f2,f3,f4,f5
) Q ) P)
union all
(select 'OlapCoreCountMultiplePartitions_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5,f6,f7, count(*) c  from (
select 0 f1, 'AAA' f2, 'AA' f3, 10 f4, 7 f5, 3 f6, 2 f7 from tversion union
select 1 f1, 'AAA' f2, 'AA' f3, 15 f4, 7 f5, 3 f6, 2 f7 from tversion union
select 2 f1, 'AAA' f2, 'AB' f3, 25 f4, 7 f5, 3 f6, 1 f7 from tversion union
select 3 f1, 'BBB' f2, 'BB' f3, 20 f4, 7 f5, 1 f6, 1 f7 from tversion union
select 4 f1, 'CCC' f2, 'CC' f3, 30 f4, 7 f5, 1 f6, 1 f7 from tversion union
select 5 f1, 'DDD' f2, 'DD' f3, 40 f4, 7 f5, 1 f6, 1 f7 from tversion union
select 6 f1, null f2, null f3, 50 f4, 7 f5, 1 f6, 1 f7 from tversion union
select 7 f1, null f2, null f3, null f4, 7 f5, 1 f6, 1 f7 from tversion union
select rnum, c1, c2, c3, count(c3) over (), count( c3 ) over(partition by c1), count( c3 ) over(partition by c1,c2) from tolap
) Q
group by
f1,f2,f3,f4,f5,f6,f7
) Q ) P)
union all
(select 'OlapCoreCountNoWindowFrame_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5, count(*) c  from (
select 0 f1, 'AAA' f2, 'AA' f3, 10 f4, 3 f5 from tversion union
select 1 f1, 'AAA' f2, 'AA' f3, 15 f4, 3 f5 from tversion union
select 2 f1, 'AAA' f2, 'AB' f3, 25 f4, 3 f5 from tversion union
select 3 f1, 'BBB' f2, 'BB' f3, 20 f4, 1 f5 from tversion union
select 4 f1, 'CCC' f2, 'CC' f3, 30 f4, 1 f5 from tversion union
select 5 f1, 'DDD' f2, 'DD' f3, 40 f4, 1 f5 from tversion union
select 6 f1, null f2, null f3, 50 f4, 1 f5 from tversion union
select 7 f1, null f2, null f3, null f4, 1 f5 from tversion union
select rnum, c1, c2, c3, count( c3 ) over(partition by c1) from tolap
) Q
group by
f1,f2,f3,f4,f5
) Q ) P)
union all
(select 'OlapCoreCountRowsBetween_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5, count(*) c  from (
select 0 f1, 'AAA' f2, 'AA' f3, 10 f4, 3 f5 from tversion union
select 1 f1, 'AAA' f2, 'AA' f3, 15 f4, 3 f5 from tversion union
select 2 f1, 'AAA' f2, 'AB' f3, 25 f4, 3 f5 from tversion union
select 3 f1, 'BBB' f2, 'BB' f3, 20 f4, 1 f5 from tversion union
select 4 f1, 'CCC' f2, 'CC' f3, 30 f4, 1 f5 from tversion union
select 5 f1, 'DDD' f2, 'DD' f3, 40 f4, 1 f5 from tversion union
select 6 f1, null f2, null f3, 50 f4, 1 f5 from tversion union
select 7 f1, null f2, null f3, null f4, 1 f5 from tversion union
select rnum, c1, c2, c3, count( c3 ) over(partition by c1 rows between unbounded preceding and unbounded following) from tolap
) Q
group by
f1,f2,f3,f4,f5
) Q ) P)
union all
(select 'OlapCoreCountStar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5, count(*) c  from (
select 0 f1, 'AAA' f2, 'AA' f3, 10 f4, 3 f5 from tversion union
select 1 f1, 'AAA' f2, 'AA' f3, 15 f4, 3 f5 from tversion union
select 2 f1, 'AAA' f2, 'AB' f3, 25 f4, 3 f5 from tversion union
select 3 f1, 'BBB' f2, 'BB' f3, 20 f4, 1 f5 from tversion union
select 4 f1, 'CCC' f2, 'CC' f3, 30 f4, 1 f5 from tversion union
select 5 f1, 'DDD' f2, 'DD' f3, 40 f4, 1 f5 from tversion union
select 6 f1, null f2, null f3, 50 f4, 2 f5 from tversion union
select 7 f1, null f2, null f3, null f4, 2 f5 from tversion union
select rnum, c1, c2, c3, count(*) over(partition by c1) from tolap
) Q
group by
f1,f2,f3,f4,f5
) Q ) P)
union all
(select 'OlapCoreCumedist_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5, count(*) c  from (
select 0 f1, 'AAA' f2, 'AA' f3, 10 f4, 1.000000000000000e+000 f5 from tversion union
select 1 f1, 'AAA' f2, 'AA' f3, 15 f4, 6.666666666666670e-001 f5 from tversion union
select 2 f1, 'AAA' f2, 'AB' f3, 25 f4, 3.333333333333330e-001 f5 from tversion union
select 3 f1, 'BBB' f2, 'BB' f3, 20 f4, 1.000000000000000e+000 f5 from tversion union
select 4 f1, 'CCC' f2, 'CC' f3, 30 f4, 1.000000000000000e+000 f5 from tversion union
select 5 f1, 'DDD' f2, 'DD' f3, 40 f4, 1.000000000000000e+000 f5 from tversion union
select 6 f1, null f2, null f3, 50 f4, 5.000000000000000e-001 f5 from tversion union
select 7 f1, null f2, null f3, null f4, 1.000000000000000e+000 f5 from tversion union
select rnum, c1, c2, c3, cume_dist() over(partition by c1 order by c3 desc) from tolap
) Q
group by
f1,f2,f3,f4,f5
) Q ) P)
union all
(select 'OlapCoreDenseRank_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5, count(*) c  from (
select 0 f1, 'AAA' f2, 'AA' f3, 10 f4, 3 f5 from tversion union
select 1 f1, 'AAA' f2, 'AA' f3, 15 f4, 2 f5 from tversion union
select 2 f1, 'AAA' f2, 'AB' f3, 25 f4, 1 f5 from tversion union
select 3 f1, 'BBB' f2, 'BB' f3, 20 f4, 1 f5 from tversion union
select 4 f1, 'CCC' f2, 'CC' f3, 30 f4, 1 f5 from tversion union
select 5 f1, 'DDD' f2, 'DD' f3, 40 f4, 1 f5 from tversion union
select 6 f1, null f2, null f3, 50 f4, 2 f5 from tversion union
select 7 f1, null f2, null f3, null f4, 1 f5 from tversion union
select rnum, c1, c2, c3, dense_rank() over(partition by c1 order by c3 desc ) from tolap
) Q
group by
f1,f2,f3,f4,f5
) Q ) P)
union all
(select 'OlapCoreFirstValueRowsBetween_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5, count(*) c  from (
select 0 f1, 'AAA' f2, 'AA' f3, 10 f4, 10 f5 from tversion union
select 1 f1, 'AAA' f2, 'AA' f3, 15 f4, 10 f5 from tversion union
select 2 f1, 'AAA' f2, 'AB' f3, 25 f4, 10 f5 from tversion union
select 3 f1, 'BBB' f2, 'BB' f3, 20 f4, 20 f5 from tversion union
select 4 f1, 'CCC' f2, 'CC' f3, 30 f4, 30 f5 from tversion union
select 5 f1, 'DDD' f2, 'DD' f3, 40 f4, 40 f5 from tversion union
select 6 f1, null f2, null f3, 50 f4, 50 f5 from tversion union
select 7 f1, null f2, null f3, null f4, 50 f5 from tversion union
select rnum, c1, c2, c3, first_value( c3 ) over(partition by c1 order by c3 rows between unbounded preceding and unbounded following) from tolap
) Q
group by
f1,f2,f3,f4,f5
) Q ) P)
union all
(select 'OlapCoreLastValueNoWindowFrame_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5, count(*) c  from (
select 0 f1, 'AAA' f2, 'AA' f3, 10 f4, 25 f5 from tversion union
select 1 f1, 'AAA' f2, 'AA' f3, 15 f4, 25 f5 from tversion union
select 2 f1, 'AAA' f2, 'AB' f3, 25 f4, 25 f5 from tversion union
select 3 f1, 'BBB' f2, 'BB' f3, 20 f4, 20 f5 from tversion union
select 4 f1, 'CCC' f2, 'CC' f3, 30 f4, 30 f5 from tversion union
select 5 f1, 'DDD' f2, 'DD' f3, 40 f4, 40 f5 from tversion union
select 6 f1, null f2, null f3, 50 f4, null f5 from tversion union
select 7 f1, null f2, null f3, null f4, null f5 from tversion union
select rnum, c1, c2, c3, last_value( c3 ) over( partition by c1 order by c3 ) from tolap
) Q
group by
f1,f2,f3,f4,f5
) Q ) P)
union all
(select 'OlapCoreLastValueRowsBetween_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5, count(*) c  from (
select 0 f1, 'AAA' f2, 'AA' f3, 10 f4, 25 f5 from tversion union
select 1 f1, 'AAA' f2, 'AA' f3, 15 f4, 25 f5 from tversion union
select 2 f1, 'AAA' f2, 'AB' f3, 25 f4, 25 f5 from tversion union
select 3 f1, 'BBB' f2, 'BB' f3, 20 f4, 20 f5 from tversion union
select 4 f1, 'CCC' f2, 'CC' f3, 30 f4, 30 f5 from tversion union
select 5 f1, 'DDD' f2, 'DD' f3, 40 f4, 40 f5 from tversion union
select 6 f1, null f2, null f3, 50 f4, null f5 from tversion union
select 7 f1, null f2, null f3, null f4, null f5 from tversion union
select rnum, c1, c2, c3, last_value( c3 ) over(partition by c1 order by c3 rows between unbounded preceding and unbounded following) from tolap
) Q
group by
f1,f2,f3,f4,f5
) Q ) P)
union all
(select 'OlapCoreMax_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5, count(*) c  from (
select 0 f1, 'AAA' f2, 'AA' f3, 10 f4, 25 f5 from tversion union
select 1 f1, 'AAA' f2, 'AA' f3, 15 f4, 25 f5 from tversion union
select 2 f1, 'AAA' f2, 'AB' f3, 25 f4, 25 f5 from tversion union
select 3 f1, 'BBB' f2, 'BB' f3, 20 f4, 20 f5 from tversion union
select 4 f1, 'CCC' f2, 'CC' f3, 30 f4, 30 f5 from tversion union
select 5 f1, 'DDD' f2, 'DD' f3, 40 f4, 40 f5 from tversion union
select 6 f1, null f2, null f3, 50 f4, 50 f5 from tversion union
select 7 f1, null f2, null f3, null f4, 50 f5 from tversion union
select rnum, c1, c2, c3, max( c3 ) over(partition by c1) from tolap
) Q
group by
f1,f2,f3,f4,f5
) Q ) P)
union all
(select 'OlapCoreMin_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5, count(*) c  from (
select 0 f1, 'AAA' f2, 'AA' f3, 10 f4, 10 f5 from tversion union
select 1 f1, 'AAA' f2, 'AA' f3, 15 f4, 10 f5 from tversion union
select 2 f1, 'AAA' f2, 'AB' f3, 25 f4, 10 f5 from tversion union
select 3 f1, 'BBB' f2, 'BB' f3, 20 f4, 20 f5 from tversion union
select 4 f1, 'CCC' f2, 'CC' f3, 30 f4, 30 f5 from tversion union
select 5 f1, 'DDD' f2, 'DD' f3, 40 f4, 40 f5 from tversion union
select 6 f1, null f2, null f3, 50 f4, 50 f5 from tversion union
select 7 f1, null f2, null f3, null f4, 50 f5 from tversion union
select rnum, c1, c2, c3, min( c3 ) over(partition by c1) from tolap
) Q
group by
f1,f2,f3,f4,f5
) Q ) P)
union all
(select 'OlapCoreNtile_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5, count(*) c  from (
select  00000000000000000000000000000000000000 f1, 'AAA' f2, 'AA' f3,  00000000000000000000000000000000000010 f4, 1.000000000000000e+000 f5 from tversion union
select  00000000000000000000000000000000000001 f1, 'AAA' f2, 'AA' f3,  00000000000000000000000000000000000015 f4, 1.000000000000000e+000 f5 from tversion union
select  00000000000000000000000000000000000002 f1, 'AAA' f2, 'AB' f3,  00000000000000000000000000000000000025 f4, 2.000000000000000e+000 f5 from tversion union
select  00000000000000000000000000000000000003 f1, 'BBB' f2, 'BB' f3,  00000000000000000000000000000000000020 f4, 2.000000000000000e+000 f5 from tversion union
select  00000000000000000000000000000000000004 f1, 'CCC' f2, 'CC' f3,  00000000000000000000000000000000000030 f4, 3.000000000000000e+000 f5 from tversion union
select  00000000000000000000000000000000000005 f1, 'DDD' f2, 'DD' f3,  00000000000000000000000000000000000040 f4, 3.000000000000000e+000 f5 from tversion union
select  00000000000000000000000000000000000006 f1, null f2, null f3,  00000000000000000000000000000000000050 f4, 4.000000000000000e+000 f5 from tversion union
select  00000000000000000000000000000000000007 f1, null f2, null f3, null f4, 4.000000000000000e+000 f5 from tversion union
select rnum, c1, c2, c3, ntile(4) over(order by c3) from tolap
) Q
group by
f1,f2,f3,f4,f5
) Q ) P)
union all
(select 'OlapCorePercentRank_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5, count(*) c  from (
select 0 f1, 'AAA' f2, 'AA' f3, 10 f4, 1.000000000000000e+000 f5 from tversion union
select 1 f1, 'AAA' f2, 'AA' f3, 15 f4, 5.000000000000000e-001 f5 from tversion union
select 2 f1, 'AAA' f2, 'AB' f3, 25 f4, 0.000000000000000e+000 f5 from tversion union
select 3 f1, 'BBB' f2, 'BB' f3, 20 f4, 0.000000000000000e+000 f5 from tversion union
select 4 f1, 'CCC' f2, 'CC' f3, 30 f4, 0.000000000000000e+000 f5 from tversion union
select 5 f1, 'DDD' f2, 'DD' f3, 40 f4, 0.000000000000000e+000 f5 from tversion union
select 6 f1, null f2, null f3, 50 f4, 0.000000000000000e+000 f5 from tversion union
select 7 f1, null f2, null f3, null f4, 1.000000000000000e+000 f5 from tversion union
select rnum, c1, c2, c3, percent_rank() over(partition by c1 order by c3 desc) from tolap
) Q
group by
f1,f2,f3,f4,f5
) Q ) P)
union all
(select 'OlapCoreRankMultiplePartitions_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5,f6,f7, count(*) c  from (
select 0 f1, 'AAA' f2, 'AA' f3, 10 f4, 8 f5, 3 f6, 2 f7 from tversion union
select 1 f1, 'AAA' f2, 'AA' f3, 15 f4, 7 f5, 2 f6, 1 f7 from tversion union
select 2 f1, 'AAA' f2, 'AB' f3, 25 f4, 5 f5, 1 f6, 1 f7 from tversion union
select 3 f1, 'BBB' f2, 'BB' f3, 20 f4, 6 f5, 1 f6, 1 f7 from tversion union
select 4 f1, 'CCC' f2, 'CC' f3, 30 f4, 4 f5, 1 f6, 1 f7 from tversion union
select 5 f1, 'DDD' f2, 'DD' f3, 40 f4, 3 f5, 1 f6, 1 f7 from tversion union
select 6 f1, null f2, null f3, 50 f4, 2 f5, 2 f6, 2 f7 from tversion union
select 7 f1, null f2, null f3, null f4, 1 f5, 1 f6, 1 f7 from tversion union
select rnum, c1, c2, c3, rank() over(order by c3 desc),rank() over(partition by c1 order by c3 desc),rank() over(partition by c1,c2 order by c3 desc) from tolap
) Q
group by
f1,f2,f3,f4,f5,f6,f7
) Q ) P)
union all
(select 'OlapCoreRankNoWindowFrame_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5, count(*) c  from (
select 0 f1, 'AAA' f2, 'AA' f3, 10 f4, 2 f5 from tversion union
select 1 f1, 'AAA' f2, 'AA' f3, 15 f4, 1 f5 from tversion union
select 2 f1, 'AAA' f2, 'AB' f3, 25 f4, 1 f5 from tversion union
select 3 f1, 'BBB' f2, 'BB' f3, 20 f4, 1 f5 from tversion union
select 4 f1, 'CCC' f2, 'CC' f3, 30 f4, 1 f5 from tversion union
select 5 f1, 'DDD' f2, 'DD' f3, 40 f4, 1 f5 from tversion union
select 6 f1, null f2, null f3, 50 f4, 2 f5 from tversion union
select 7 f1, null f2, null f3, null f4, 1 f5 from tversion union
select rnum, c1, c2, c3, rank() over(partition by c1,c2 order by c3 desc) from tolap
) Q
group by
f1,f2,f3,f4,f5
) Q ) P)
union all
(select 'OlapCoreRankOrderby100_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5, count(*) c  from (
select 0 f1, 'AAA' f2, 'AA' f3, 10 f4, 1 f5 from tversion union
select 1 f1, 'AAA' f2, 'AA' f3, 15 f4, 1 f5 from tversion union
select 2 f1, 'AAA' f2, 'AB' f3, 25 f4, 1 f5 from tversion union
select 3 f1, 'BBB' f2, 'BB' f3, 20 f4, 1 f5 from tversion union
select 4 f1, 'CCC' f2, 'CC' f3, 30 f4, 1 f5 from tversion union
select 5 f1, 'DDD' f2, 'DD' f3, 40 f4, 1 f5 from tversion union
select 6 f1, null f2, null f3, 50 f4, 1 f5 from tversion union
select 7 f1, null f2, null f3, null f4, 1 f5 from tversion union
select rnum, c1, c2, c3, rank( ) over(partition by c1 order by 100) from tolap
) Q
group by
f1,f2,f3,f4,f5
) Q ) P)
union all
(select 'OlapCoreRowNumber_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5, count(*) c  from (
select 0 f1, 'AAA' f2, 'AA' f3, 10 f4, 2 f5 from tversion union
select 1 f1, 'AAA' f2, 'AA' f3, 15 f4, 1 f5 from tversion union
select 2 f1, 'AAA' f2, 'AB' f3, 25 f4, 1 f5 from tversion union
select 3 f1, 'BBB' f2, 'BB' f3, 20 f4, 1 f5 from tversion union
select 4 f1, 'CCC' f2, 'CC' f3, 30 f4, 1 f5 from tversion union
select 5 f1, 'DDD' f2, 'DD' f3, 40 f4, 1 f5 from tversion union
select 6 f1, null f2, null f3, 50 f4, 2 f5 from tversion union
select 7 f1, null f2, null f3, null f4, 1 f5 from tversion union
select rnum, c1, c2, c3, row_number() over(partition by c1,c2 order by c3 desc) from tolap
) Q
group by
f1,f2,f3,f4,f5
) Q ) P)
union all
(select 'OlapCoreRunningSum_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4, count(*) c  from (
select 'AAA' f1, 'AA' f2,  00000000000000000000000000000000000025 f3,  00000000000000000000000000000000000025 f4 from tversion union
select 'AAA' f1, 'AB' f2,  00000000000000000000000000000000000025 f3,  00000000000000000000000000000000000050 f4 from tversion union
select 'BBB' f1, 'BB' f2,  00000000000000000000000000000000000020 f3,  00000000000000000000000000000000000020 f4 from tversion union
select 'CCC' f1, 'CC' f2,  00000000000000000000000000000000000030 f3,  00000000000000000000000000000000000030 f4 from tversion union
select 'DDD' f1, 'DD' f2,  00000000000000000000000000000000000040 f3,  00000000000000000000000000000000000040 f4 from tversion union
select null f1, null f2,  00000000000000000000000000000000000050 f3,  00000000000000000000000000000000000050 f4 from tversion union
select c1, c2, sum (c3), sum(sum(c3)) over(partition by c1 order by c1,c2 rows unbounded preceding) from tolap group by c1,c2
) Q
group by
f1,f2,f3,f4
) Q ) P)
union all
(select 'OlapCoreStddevPop_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5, count(*) c  from (
select 0 f1, 'AAA' f2, 'AA' f3, 10 f4, 6.236095644623235e+000 f5 from tversion union
select 1 f1, 'AAA' f2, 'AA' f3, 15 f4, 6.236095644623235e+000 f5 from tversion union
select 2 f1, 'AAA' f2, 'AB' f3, 25 f4, 6.236095644623235e+000 f5 from tversion union
select 3 f1, 'BBB' f2, 'BB' f3, 20 f4, 0.000000000000000e+000 f5 from tversion union
select 4 f1, 'CCC' f2, 'CC' f3, 30 f4, 0.000000000000000e+000 f5 from tversion union
select 5 f1, 'DDD' f2, 'DD' f3, 40 f4, 0.000000000000000e+000 f5 from tversion union
select 6 f1, null f2, null f3, 50 f4, 0.000000000000000e+000 f5 from tversion union
select 7 f1, null f2, null f3, null f4, 0.000000000000000e+000 f5 from tversion union
select rnum, c1, c2, c3, stddev_pop( c3 ) over(partition by c1) from tolap
) Q
group by
f1,f2,f3,f4,f5
) Q ) P)
union all
(select 'OlapCoreStddevSamp_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5, count(*) c  from (
select 0 f1, 'AAA' f2, 'AA' f3, 10 f4, 7.637626158259730e+000 f5 from tversion union
select 1 f1, 'AAA' f2, 'AA' f3, 15 f4, 7.637626158259730e+000 f5 from tversion union
select 2 f1, 'AAA' f2, 'AB' f3, 25 f4, 7.637626158259730e+000 f5 from tversion union
select 3 f1, 'BBB' f2, 'BB' f3, 20 f4, null f5 from tversion union
select 4 f1, 'CCC' f2, 'CC' f3, 30 f4, null f5 from tversion union
select 5 f1, 'DDD' f2, 'DD' f3, 40 f4, null f5 from tversion union
select 6 f1, null f2, null f3, 50 f4, null f5 from tversion union
select 7 f1, null f2, null f3, null f4, null f5 from tversion union
select rnum, c1, c2, c3, stddev_samp( c3 ) over(partition by c1) from tolap
) Q
group by
f1,f2,f3,f4,f5
) Q ) P)
union all
(select 'OlapCoreStddev_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5, count(*) c  from (
select 0 f1, 'AAA' f2, 'AA' f3, 10 f4, 7.637626158259730e+000 f5 from tversion union
select 1 f1, 'AAA' f2, 'AA' f3, 15 f4, 7.637626158259730e+000 f5 from tversion union
select 2 f1, 'AAA' f2, 'AB' f3, 25 f4, 7.637626158259730e+000 f5 from tversion union
select 3 f1, 'BBB' f2, 'BB' f3, 20 f4, null f5 from tversion union
select 4 f1, 'CCC' f2, 'CC' f3, 30 f4, null f5 from tversion union
select 5 f1, 'DDD' f2, 'DD' f3, 40 f4, null f5 from tversion union
select 6 f1, null f2, null f3, 50 f4, null f5 from tversion union
select 7 f1, null f2, null f3, null f4, null f5 from tversion union
select rnum, c1, c2, c3, stddev( c3 ) over(partition by c1) from tolap
) Q
group by
f1,f2,f3,f4,f5
) Q ) P)
union all
(select 'OlapCoreSumMultiplePartitions_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5,f6,f7, count(*) c  from (
select 0 f1, 'AAA' f2, 'AA' f3, 10 f4,  00000000000000000000000000000000000190 f5,  00000000000000000000000000000000000050 f6,  00000000000000000000000000000000000025 f7 from tversion union
select 1 f1, 'AAA' f2, 'AA' f3, 15 f4,  00000000000000000000000000000000000190 f5,  00000000000000000000000000000000000050 f6,  00000000000000000000000000000000000025 f7 from tversion union
select 2 f1, 'AAA' f2, 'AB' f3, 25 f4,  00000000000000000000000000000000000190 f5,  00000000000000000000000000000000000050 f6,  00000000000000000000000000000000000025 f7 from tversion union
select 3 f1, 'BBB' f2, 'BB' f3, 20 f4,  00000000000000000000000000000000000190 f5,  00000000000000000000000000000000000020 f6,  00000000000000000000000000000000000020 f7 from tversion union
select 4 f1, 'CCC' f2, 'CC' f3, 30 f4,  00000000000000000000000000000000000190 f5,  00000000000000000000000000000000000030 f6,  00000000000000000000000000000000000030 f7 from tversion union
select 5 f1, 'DDD' f2, 'DD' f3, 40 f4,  00000000000000000000000000000000000190 f5,  00000000000000000000000000000000000040 f6,  00000000000000000000000000000000000040 f7 from tversion union
select 6 f1, null f2, null f3, 50 f4,  00000000000000000000000000000000000190 f5,  00000000000000000000000000000000000050 f6,  00000000000000000000000000000000000050 f7 from tversion union
select 7 f1, null f2, null f3, null f4,  00000000000000000000000000000000000190 f5,  00000000000000000000000000000000000050 f6,  00000000000000000000000000000000000050 f7 from tversion union
select rnum, c1, c2, c3, sum(c3) over (), sum( c3 ) over(partition by c1), sum( c3 ) over(partition by c1,c2) from tolap
) Q
group by
f1,f2,f3,f4,f5,f6,f7
) Q ) P)
union all
(select 'OlapCoreSumOfGroupedSums_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4, count(*) c  from (
select 'AAA' f1, 'AA' f2,  00000000000000000000000000000000000025 f3,  00000000000000000000000000000000000050 f4 from tversion union
select 'AAA' f1, 'AB' f2,  00000000000000000000000000000000000025 f3,  00000000000000000000000000000000000050 f4 from tversion union
select 'BBB' f1, 'BB' f2,  00000000000000000000000000000000000020 f3,  00000000000000000000000000000000000020 f4 from tversion union
select 'CCC' f1, 'CC' f2,  00000000000000000000000000000000000030 f3,  00000000000000000000000000000000000030 f4 from tversion union
select 'DDD' f1, 'DD' f2,  00000000000000000000000000000000000040 f3,  00000000000000000000000000000000000040 f4 from tversion union
select null f1, null f2,  00000000000000000000000000000000000050 f3,  00000000000000000000000000000000000050 f4 from tversion union
select c1, c2, sum ( c3 ), sum(sum(c3)) over(partition by c1) from tolap group by c1,c2
) Q
group by
f1,f2,f3,f4
) Q ) P)
union all
(select 'OlapCoreSumOrderby100_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5, count(*) c  from (
select 0 f1, 'AAA' f2, 'AA' f3, 10 f4, 50 f5 from tversion union
select 1 f1, 'AAA' f2, 'AA' f3, 15 f4, 50 f5 from tversion union
select 2 f1, 'AAA' f2, 'AB' f3, 25 f4, 50 f5 from tversion union
select 3 f1, 'BBB' f2, 'BB' f3, 20 f4, 20 f5 from tversion union
select 4 f1, 'CCC' f2, 'CC' f3, 30 f4, 30 f5 from tversion union
select 5 f1, 'DDD' f2, 'DD' f3, 40 f4, 40 f5 from tversion union
select 6 f1, null f2, null f3, 50 f4, 50 f5 from tversion union
select 7 f1, null f2, null f3, null f4, 50 f5 from tversion union
select rnum, c1, c2, c3, sum( c3 ) over(partition by c1 order by 100) from tolap
) Q
group by
f1,f2,f3,f4,f5
) Q ) P)
union all
(select 'OlapCoreSum_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5, count(*) c  from (
select 0 f1, 'AAA' f2, 'AA' f3, 10 f4, 50 f5 from tversion union
select 1 f1, 'AAA' f2, 'AA' f3, 15 f4, 50 f5 from tversion union
select 2 f1, 'AAA' f2, 'AB' f3, 25 f4, 50 f5 from tversion union
select 3 f1, 'BBB' f2, 'BB' f3, 20 f4, 20 f5 from tversion union
select 4 f1, 'CCC' f2, 'CC' f3, 30 f4, 30 f5 from tversion union
select 5 f1, 'DDD' f2, 'DD' f3, 40 f4, 40 f5 from tversion union
select 6 f1, null f2, null f3, 50 f4, 50 f5 from tversion union
select 7 f1, null f2, null f3, null f4, 50 f5 from tversion union
select rnum, c1, c2, c3, sum( c3 ) over(partition by c1) from tolap
) Q
group by
f1,f2,f3,f4,f5
) Q ) P)
union all
(select 'OlapCoreVariance_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5, count(*) c  from (
select 0 f1, 'AAA' f2, 'AA' f3, 10 f4, 5.833333333333331e+001 f5 from tversion union
select 1 f1, 'AAA' f2, 'AA' f3, 15 f4, 5.833333333333331e+001 f5 from tversion union
select 2 f1, 'AAA' f2, 'AB' f3, 25 f4, 5.833333333333331e+001 f5 from tversion union
select 3 f1, 'BBB' f2, 'BB' f3, 20 f4, null f5 from tversion union
select 4 f1, 'CCC' f2, 'CC' f3, 30 f4, null f5 from tversion union
select 5 f1, 'DDD' f2, 'DD' f3, 40 f4, null f5 from tversion union
select 6 f1, null f2, null f3, 50 f4, null f5 from tversion union
select 7 f1, null f2, null f3, null f4, null f5 from tversion union
select rnum, c1, c2, c3, variance( c3 ) over(partition by c1) from tolap
) Q
group by
f1,f2,f3,f4,f5
) Q ) P)
union all
(select 'OlapCoreVarPop_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5, count(*) c  from (
select 0 f1, 'AAA' f2, 'AA' f3, 10 f4, 3.888888888888889e+001 f5 from tversion union
select 1 f1, 'AAA' f2, 'AA' f3, 15 f4, 3.888888888888889e+001 f5 from tversion union
select 2 f1, 'AAA' f2, 'AB' f3, 25 f4, 3.888888888888889e+001 f5 from tversion union
select 3 f1, 'BBB' f2, 'BB' f3, 20 f4, 0.000000000000000e+000 f5 from tversion union
select 4 f1, 'CCC' f2, 'CC' f3, 30 f4, 0.000000000000000e+000 f5 from tversion union
select 5 f1, 'DDD' f2, 'DD' f3, 40 f4, 0.000000000000000e+000 f5 from tversion union
select 6 f1, null f2, null f3, 50 f4, 0.000000000000000e+000 f5 from tversion union
select 7 f1, null f2, null f3, null f4, 0.000000000000000e+000 f5 from tversion union
select rnum, c1, c2, c3, var_pop( c3 ) over(partition by c1) from tolap
) Q
group by
f1,f2,f3,f4,f5
) Q ) P)
union all
(select 'OlapCoreVarSamp_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5, count(*) c  from (
select 0 f1, 'AAA' f2, 'AA' f3, 10 f4, 5.833333333333331e+001 f5 from tversion union
select 1 f1, 'AAA' f2, 'AA' f3, 15 f4, 5.833333333333331e+001 f5 from tversion union
select 2 f1, 'AAA' f2, 'AB' f3, 25 f4, 5.833333333333331e+001 f5 from tversion union
select 3 f1, 'BBB' f2, 'BB' f3, 20 f4, null f5 from tversion union
select 4 f1, 'CCC' f2, 'CC' f3, 30 f4, null f5 from tversion union
select 5 f1, 'DDD' f2, 'DD' f3, 40 f4, null f5 from tversion union
select 6 f1, null f2, null f3, 50 f4, null f5 from tversion union
select 7 f1, null f2, null f3, null f4, null f5 from tversion union
select rnum, c1, c2, c3, var_samp( c3 ) over(partition by c1) from tolap
) Q
group by
f1,f2,f3,f4,f5
) Q ) P)
union all
(select 'OlapCoreWindowFrameMultiplePartitions_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5,f6, count(*) c  from (
select 0 f1, 'AAA' f2, 'AA' f3, 50 f4, 25 f5, 190 f6 from tversion union
select 1 f1, 'AAA' f2, 'AA' f3, 50 f4, 25 f5, 190 f6 from tversion union
select 2 f1, 'AAA' f2, 'AB' f3, 50 f4, 25 f5, 190 f6 from tversion union
select 3 f1, 'BBB' f2, 'BB' f3, 20 f4, 20 f5, 190 f6 from tversion union
select 4 f1, 'CCC' f2, 'CC' f3, 30 f4, 30 f5, 190 f6 from tversion union
select 5 f1, 'DDD' f2, 'DD' f3, 40 f4, 40 f5, 190 f6 from tversion union
select 6 f1, null f2, null f3, 50 f4, 50 f5, 190 f6 from tversion union
select 7 f1, null f2, null f3, 50 f4, 50 f5, 190 f6 from tversion union
select rnum, c1, c2, sum(c3) over (partition by c1), sum(c3) over (partition by c2), sum(c3) over () from tolap
) Q
group by
f1,f2,f3,f4,f5,f6
) Q ) P)
union all
(select 'OlapCoreWindowFrameRowsBetweenPrecedingFollowing_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5, count(*) c  from (
select 0 f1, 'AAA' f2, 'AA' f3, 10 f4, 25 f5 from tversion union
select 1 f1, 'AAA' f2, 'AA' f3, 15 f4, 45 f5 from tversion union
select 2 f1, 'AAA' f2, 'AB' f3, 25 f4, 75 f5 from tversion union
select 3 f1, 'BBB' f2, 'BB' f3, 20 f4, 60 f5 from tversion union
select 4 f1, 'CCC' f2, 'CC' f3, 30 f4, 95 f5 from tversion union
select 5 f1, 'DDD' f2, 'DD' f3, 40 f4, 120 f5 from tversion union
select 6 f1, null f2, null f3, 50 f4, 90 f5 from tversion union
select 7 f1, null f2, null f3, null f4, 50 f5 from tversion union
select rnum, c1, c2, c3, sum(c3) over ( order by c3 rows between 1 preceding and 1 following ) from tolap
) Q
group by
f1,f2,f3,f4,f5
) Q ) P)
union all
(select 'OlapCoreWindowFrameRowsBetweenPrecedingPreceding_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5, count(*) c  from (
select 0 f1, 'AAA' f2, 'AA' f3, 10 f4, null f5 from tversion union
select 1 f1, 'AAA' f2, 'AA' f3, 15 f4, 10 f5 from tversion union
select 2 f1, 'AAA' f2, 'AB' f3, 25 f4, 20 f5 from tversion union
select 3 f1, 'BBB' f2, 'BB' f3, 20 f4, 15 f5 from tversion union
select 4 f1, 'CCC' f2, 'CC' f3, 30 f4, 25 f5 from tversion union
select 5 f1, 'DDD' f2, 'DD' f3, 40 f4, 30 f5 from tversion union
select 6 f1, null f2, null f3, 50 f4, 40 f5 from tversion union
select 7 f1, null f2, null f3, null f4, 50 f5 from tversion union
select rnum, c1, c2, c3, sum(c3) over ( order by c3 rows between 1 preceding and 1 preceding ) from tolap
) Q
group by
f1,f2,f3,f4,f5
) Q ) P)
union all
(select 'OlapCoreWindowFrameRowsBetweenUnboundedFollowing_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5, count(*) c  from (
select 0 f1, 'AAA' f2, 'AA' f3, 10 f4, 190 f5 from tversion union
select 1 f1, 'AAA' f2, 'AA' f3, 15 f4, 180 f5 from tversion union
select 2 f1, 'AAA' f2, 'AB' f3, 25 f4, 145 f5 from tversion union
select 3 f1, 'BBB' f2, 'BB' f3, 20 f4, 165 f5 from tversion union
select 4 f1, 'CCC' f2, 'CC' f3, 30 f4, 120 f5 from tversion union
select 5 f1, 'DDD' f2, 'DD' f3, 40 f4, 90 f5 from tversion union
select 6 f1, null f2, null f3, 50 f4, 50 f5 from tversion union
select 7 f1, null f2, null f3, null f4, null f5 from tversion union
select rnum, c1, c2, c3, sum(c3) over ( order by c3 rows between current row and unbounded following ) from tolap
) Q
group by
f1,f2,f3,f4,f5
) Q ) P)
union all
(select 'OlapCoreWindowFrameRowsBetweenUnboundedPreceding_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5, count(*) c  from (
select 0 f1, 'AAA' f2, 'AA' f3, 10 f4, 10 f5 from tversion union
select 1 f1, 'AAA' f2, 'AA' f3, 15 f4, 25 f5 from tversion union
select 2 f1, 'AAA' f2, 'AB' f3, 25 f4, 70 f5 from tversion union
select 3 f1, 'BBB' f2, 'BB' f3, 20 f4, 45 f5 from tversion union
select 3 f1, 'CCC' f2, 'CC' f3, 30 f4, 100 f5 from tversion union
select 4 f1, 'DDD' f2, 'DD' f3, 40 f4, 140 f5 from tversion union
select 5 f1, null f2, null f3, 50 f4, 190 f5 from tversion union
select 6 f1, null f2, null f3, null f4, 190 f5 from tversion union
select rnum, c1, c2, c3, sum(c3) over ( order by c3 rows between unbounded preceding and current row ) from tolap
) Q
group by
f1,f2,f3,f4,f5
) Q ) P)
union all
(select 'OlapCoreWindowFrameRowsPreceding_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5, count(*) c  from (
select 0 f1, 'AAA' f2, 'AA' f3, 10 f4, 10 f5 from tversion union
select 1 f1, 'AAA' f2, 'AA' f3, 15 f4, 25 f5 from tversion union
select 2 f1, 'AAA' f2, 'AB' f3, 25 f4, 60 f5 from tversion union
select 3 f1, 'BBB' f2, 'BB' f3, 20 f4, 45 f5 from tversion union
select 4 f1, 'CCC' f2, 'CC' f3, 30 f4, 75 f5 from tversion union
select 5 f1, 'DDD' f2, 'DD' f3, 40 f4, 95 f5 from tversion union
select 6 f1, null f2, null f3, 50 f4, 120 f5 from tversion union
select 7 f1, null f2, null f3, null f4, 90 f5 from tversion union
select rnum, c1, c2, c3, sum(c3) over ( order by c3 rows 2 preceding ) from tolap
) Q
group by
f1,f2,f3,f4,f5
) Q ) P)
) b
order by test_name_part
""",
    doc="qp_misc.sql self-checking tests (40): NumericComparisonLessThanOrEqual_p1 NumericComparisonLessThan_p1 NumericComparisonNotEqual_p1 NumericLiteral_p1 OlapCoreAvgMultiplePartitions_p1 OlapCoreAvgNoWindowFrame_p1 OlapCoreCountMultiplePartitions_p1 OlapCoreCountNoWindowFrame_p1 OlapCoreCountRowsBetween_p2 OlapCoreCountStar_p1 OlapCoreCumedist_p1 OlapCoreDenseRank_p1 OlapCoreFirstValueRowsBetween_p1 OlapCoreLastValueNoWindowFrame_p1 OlapC",
    tags=("qpmisc",),
    prelude=QPMISC_PRELUDE,
)

register_regress(
    "regress_qpmisc_b16_operator_order_position_power_scal",
    """
select test_name_part, pass_ind from (
(select 'OperatorAnd_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 10 f1, 'AAA' f2 from tversion union
select 10 f1, 'AAA' f2 from tversion union
select 10 f1, 'AAA' f2 from tversion union
select tset1.c1, tset1.c2  from tset1 where c1=10 and c2='AAA'
) Q
group by
f1,f2
) Q ) P)
union all
(select 'OperatorOr_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 30 f1, 'CCC' f2 from tversion union
select 40 f1, 'DDD' f2 from tversion union
select tset1.c1, tset1.c2  from tset1 where c1=30 or c2='DDD'
) Q
group by
f1,f2
) Q ) P)
union all
(select 'OrderByOrdinal_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 0 f1, 10 f2, 'AAA' f3 from tversion union
select 1 f1, 10 f2, 'AAA' f3 from tversion union
select 2 f1, 10 f2, 'AAA' f3 from tversion union
select 3 f1, 20 f2, 'BBB' f3 from tversion union
select 4 f1, 30 f2, 'CCC' f3 from tversion union
select 5 f1, 40 f2, 'DDD' f3 from tversion union
select 6 f1, 50 f2, null f3 from tversion union
select 7 f1, 60 f2, null f3 from tversion union
select 8 f1, null f2, 'AAA' f3 from tversion union
select 9 f1, null f2, 'AAA' f3 from tversion union
select 10 f1, null f2, null f3 from tversion union
select 11 f1, null f2, null f3 from tversion union
select rnum, c1, c2 from tset1 order by 1,2
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'PositionCoreString1Empty_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1 f2 from tversion union
select 2 f1, 1 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 1 f2 from tversion union
select 5 f1, 1 f2 from tversion union
select rnum, position( '' in vchar.cchar ) from vchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'PositionCoreString1Empty_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1 f2 from tversion union
select 2 f1, 1 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 1 f2 from tversion union
select 5 f1, 1 f2 from tversion union
select rnum, position( '' in tchar.cchar ) from tchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'PositionCoreString1Empty_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1 f2 from tversion union
select 2 f1, 1 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 1 f2 from tversion union
select 5 f1, 1 f2 from tversion union
select rnum, position( '' in vvchar.cvchar ) from vvchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'PositionCoreString1Empty_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1 f2 from tversion union
select 2 f1, 1 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 1 f2 from tversion union
select 5 f1, 1 f2 from tversion union
select rnum, position( '' in tvchar.cvchar ) from tvchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'PositionCore_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 0 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 0 f2 from tversion union
select rnum, position( 'B' in vchar.cchar ) from vchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'PositionCore_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 0 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 0 f2 from tversion union
select rnum, position( 'B' in tchar.cchar ) from tchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'PositionCore_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 0 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 0 f2 from tversion union
select rnum, position( 'B' in vvchar.cvchar ) from vvchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'PositionCore_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 0 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 0 f2 from tversion union
select 5 f1, 0 f2 from tversion union
select rnum, position( 'B' in tvchar.cvchar ) from tvchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'PowerBoundary_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select power( 0,0 ) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'PowerCoreApproxNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, .01 f2 from tversion union
select 5 f1, 100 f2 from tversion union
select vflt.rnum, power( vflt.cflt,2 ) from vflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'PowerCoreApproxNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, .01 f2 from tversion union
select 5 f1, 100 f2 from tversion union
select tflt.rnum, power( tflt.cflt,2 ) from tflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'PowerCoreApproxNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, .01 f2 from tversion union
select 5 f1, 100 f2 from tversion union
select vdbl.rnum, power( vdbl.cdbl,2 ) from vdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'PowerCoreApproxNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, .01 f2 from tversion union
select 5 f1, 100 f2 from tversion union
select tdbl.rnum, power( tdbl.cdbl,2 ) from tdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'PowerCoreApproxNumeric_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, .01 f2 from tversion union
select 5 f1, 100 f2 from tversion union
select vrl.rnum, power( vrl.crl,2 ) from vrl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'PowerCoreApproxNumeric_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, .01 f2 from tversion union
select 5 f1, 100 f2 from tversion union
select trl.rnum, power( trl.crl,2 ) from trl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'PowerCoreExactNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, .01 f2 from tversion union
select 5 f1, 100 f2 from tversion union
select vdec.rnum, power( vdec.cdec,2 ) from vdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'PowerCoreExactNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, .01 f2 from tversion union
select 5 f1, 100 f2 from tversion union
select tdec.rnum, power( tdec.cdec,2 ) from tdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'PowerCoreExactNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, .01 f2 from tversion union
select 5 f1, 100 f2 from tversion union
select vnum.rnum, power( vnum.cnum,2 ) from vnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'PowerCoreExactNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, .01 f2 from tversion union
select 5 f1, 100 f2 from tversion union
select tnum.rnum, power( tnum.cnum,2 ) from tnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'PowerCoreIntegers_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 100 f2 from tversion union
select vint.rnum, power( vint.cint,2 ) from vint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'PowerCoreIntegers_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 100 f2 from tversion union
select tint.rnum, power( tint.cint,2 ) from tint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'PowerCoreIntegers_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 100 f2 from tversion union
select vsint.rnum, power( vsint.csint,2 ) from vsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'PowerCoreIntegers_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 100 f2 from tversion union
select tsint.rnum, power( tsint.csint,2 ) from tsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'PowerCoreIntegers_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 100 f2 from tversion union
select vbint.rnum, power( vbint.cbint,2 ) from vbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'PowerCoreIntegers_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 1 f2 from tversion union
select 2 f1, 0 f2 from tversion union
select 3 f1, 1 f2 from tversion union
select 4 f1, 100 f2 from tversion union
select tbint.rnum, power( tbint.cbint,2 ) from tbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'PowerCoreNegativeBaseOddExp_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select -64 f1 from tversion union
select power( -4,3 ) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'ScalarSubqueryInProjList_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4, count(*) c  from (
select 0 f1, 10 f2, 15 f3, 15 f4 from tversion union
select 1 f1, 20 f2, 25 f3, 15 f4 from tversion union
select 2 f1, null f2, 50 f3, 15 f4 from tversion union
select tjoin1.rnum, tjoin1.c1, tjoin1.c2, (select max(tjoin2.c1) from tjoin2) csub from tjoin1
) Q
group by
f1,f2,f3,f4
) Q ) P)
union all
(select 'ScalarSubquery_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 0 f1, 10 f2, 15 f3 from tversion union
select rnum, c1, c2 from tjoin1 where c1 = ( select min(c1) from tjoin1)
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'SelectWhere_gp_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 0, 1 f1 from tversion union
select rnum, c1  from tversion where rnum=0
) Q
group by
f1
) Q ) P)
union all
(select 'SelectCountApproxNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 5 f1 from tversion union
select count(vflt.cflt) from vflt
) Q
group by
f1
) Q ) P)
union all
(select 'SelectCountApproxNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 5 f1 from tversion union
select count(tflt.cflt) from tflt
) Q
group by
f1
) Q ) P)
union all
(select 'SelectCountApproxNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 5 f1 from tversion union
select count(vdbl.cdbl) from vdbl
) Q
group by
f1
) Q ) P)
union all
(select 'SelectCountApproxNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 5 f1 from tversion union
select count(tdbl.cdbl) from tdbl
) Q
group by
f1
) Q ) P)
union all
(select 'SelectCountApproxNumeric_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 5 f1 from tversion union
select count(vrl.crl) from vrl
) Q
group by
f1
) Q ) P)
union all
(select 'SelectCountApproxNumeric_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 5 f1 from tversion union
select count(trl.crl) from trl
) Q
group by
f1
) Q ) P)
union all
(select 'SelectCountChar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 5 f1 from tversion union
select count(vchar.cchar) from vchar
) Q
group by
f1
) Q ) P)
union all
(select 'SelectCountChar_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 5 f1 from tversion union
select count(tchar.cchar) from tchar
) Q
group by
f1
) Q ) P)
) b
order by test_name_part
""",
    doc="qp_misc.sql self-checking tests (40): OperatorAnd_p1 OperatorOr_p1 OrderByOrdinal_p1 PositionCoreString1Empty_p1 PositionCoreString1Empty_p2 PositionCoreString1Empty_p3 PositionCoreString1Empty_p4 PositionCore_p1 PositionCore_p2 PositionCore_p3 PositionCore_p4 PowerBoundary_p1 PowerCoreApproxNumeric_p1 PowerCoreApproxNumeric_p2 PowerCoreApproxNumeric_p3 PowerCoreApproxNumeric_p4 PowerCoreApproxNumeric_p5 PowerCoreApproxNumeric_p6 Powe",
    tags=("qpmisc",),
    prelude=QPMISC_PRELUDE,
)

register_regress(
    "regress_qpmisc_b17_select",
    """
select test_name_part, pass_ind from (
(select 'SelectCountChar_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 5 f1 from tversion union
select count(vchar.cchar) from vchar
) Q
group by
f1
) Q ) P)
union all
(select 'SelectCountChar_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 5 f1 from tversion union
select count(tchar.cchar) from tchar
) Q
group by
f1
) Q ) P)
union all
(select 'SelectCountChar_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 5 f1 from tversion union
select count(vvchar.cvchar) from vvchar
) Q
group by
f1
) Q ) P)
union all
(select 'SelectCountChar_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 5 f1 from tversion union
select count(tvchar.cvchar) from tvchar
) Q
group by
f1
) Q ) P)
union all
(select 'SelectCountDate_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 3 f1 from tversion union
select count(vdt.cdt) from vdt
) Q
group by
f1
) Q ) P)
union all
(select 'SelectCountDate_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 3 f1 from tversion union
select count(tdt.cdt) from tdt
) Q
group by
f1
) Q ) P)
union all
(select 'SelectCountExactNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 5 f1 from tversion union
select count(vdec.cdec) from vdec
) Q
group by
f1
) Q ) P)
union all
(select 'SelectCountExactNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 5 f1 from tversion union
select count(tdec.cdec) from tdec
) Q
group by
f1
) Q ) P)
union all
(select 'SelectCountExactNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 5 f1 from tversion union
select count(vnum.cnum) from vnum
) Q
group by
f1
) Q ) P)
union all
(select 'SelectCountExactNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 5 f1 from tversion union
select count(tnum.cnum) from tnum
) Q
group by
f1
) Q ) P)
union all
(select 'SelectCountInt_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4 f1 from tversion union
select count(vint.cint) from vint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectCountInt_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4 f1 from tversion union
select count(tint.cint) from tint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectCountInt_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4 f1 from tversion union
select count(vsint.csint) from vsint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectCountInt_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4 f1 from tversion union
select count(tsint.csint) from tsint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectCountInt_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4 f1 from tversion union
select count(vbint.cbint) from vbint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectCountInt_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4 f1 from tversion union
select count(tbint.cbint) from tbint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectCountNullNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 0 f1 from tversion union
select count(cnnull) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'SelectCountNullNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 0 f1 from tversion union
select count(cnnull) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'SelectCountNull_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 0 f1 from tversion union
select count(ccnull) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'SelectCountStar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select count(*) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'SelectCountTimestamp_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 9 f1 from tversion union
select count(vts.cts) from vts
) Q
group by
f1
) Q ) P)
union all
(select 'SelectCountTimestamp_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 9 f1 from tversion union
select count(tts.cts) from tts
) Q
group by
f1
) Q ) P)
union all
(select 'SelectCountTime_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 3 f1 from tversion union
select count(vtm.ctm) from vtm
) Q
group by
f1
) Q ) P)
union all
(select 'SelectCountTime_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 3 f1 from tversion union
select count(ttm.ctm) from ttm
) Q
group by
f1
) Q ) P)
union all
(select 'SelectCountVarChar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 5 f1 from tversion union
select count(vvchar.cvchar) from vvchar
) Q
group by
f1
) Q ) P)
union all
(select 'SelectCountVarChar_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 5 f1 from tversion union
select count(tvchar.cvchar) from tvchar
) Q
group by
f1
) Q ) P)
union all
(select 'SelectDateComparisonEqualTo_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where date '2001-01-01' = date '2001-01-01'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectDateComparisonGreaterThanOrEqualTo_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where date '2001-01-01' >= date '2000-01-01'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectDateComparisonGreaterThan_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where date '2001-01-01' > date '2000-01-01'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectDateComparisonLessThanOrEqualTo_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where date '2000-01-01' <= date '2001-01-01'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectDateComparisonLessThan_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where date '2000-01-01' < date '2001-01-01'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectDateComparisonNotEqualTo_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where date '2001-01-01' <> date '2000-01-01'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMaxApproxNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 10 f1 from tversion union
select max( vflt.cflt ) from vflt
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMaxApproxNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 10 f1 from tversion union
select max( tflt.cflt ) from tflt
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMaxApproxNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 10 f1 from tversion union
select max( vdbl.cdbl ) from vdbl
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMaxApproxNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 10 f1 from tversion union
select max( tdbl.cdbl ) from tdbl
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMaxApproxNumeric_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 10 f1 from tversion union
select max( vrl.crl ) from vrl
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMaxApproxNumeric_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 10 f1 from tversion union
select max( trl.crl ) from trl
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMaxChar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 'FF                              ' f1 from tversion union
select max( vchar.cchar ) from vchar
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMaxChar_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 'FF                              ' f1 from tversion union
select max( tchar.cchar ) from tchar
) Q
group by
f1
) Q ) P)
) b
order by test_name_part
""",
    doc="qp_misc.sql self-checking tests (40): SelectCountChar_p3 SelectCountChar_p4 SelectCountChar_p5 SelectCountChar_p6 SelectCountDate_p1 SelectCountDate_p2 SelectCountExactNumeric_p1 SelectCountExactNumeric_p2 SelectCountExactNumeric_p3 SelectCountExactNumeric_p4 SelectCountInt_p1 SelectCountInt_p2 SelectCountInt_p3 SelectCountInt_p4 SelectCountInt_p5 SelectCountInt_p6 SelectCountNullNumeric_p1 SelectCountNullNumeric_p2 SelectCountNull_p1",
    tags=("qpmisc",),
    prelude=QPMISC_PRELUDE,
)

register_regress(
    "regress_qpmisc_b18_select",
    """
select test_name_part, pass_ind from (
(select 'SelectMaxExactNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 10 f1 from tversion union
select max( vdec.cdec ) from vdec
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMaxExactNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 10 f1 from tversion union
select max( tdec.cdec ) from tdec
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMaxExactNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 10 f1 from tversion union
select max( vnum.cnum ) from vnum
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMaxExactNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 10 f1 from tversion union
select max( tnum.cnum ) from tnum
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMaxInt_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 10 f1 from tversion union
select max( vint.cint ) from vint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMaxInt_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 10 f1 from tversion union
select max( tint.cint ) from tint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMaxInt_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 10 f1 from tversion union
select max( vsint.csint ) from vsint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMaxInt_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 10 f1 from tversion union
select max( tsint.csint ) from tsint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMaxInt_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 10 f1 from tversion union
select max( vbint.cbint ) from vbint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMaxInt_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 10 f1 from tversion union
select max( tbint.cbint ) from tbint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMaxLit_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 'A' f1 from tversion union
select max( 'A' ) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMaxNullNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select null f1 from tversion union
select max( cnnull ) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMaxNull_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select null f1 from tversion union
select max( ccnull ) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMaxVarChar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 'FF' f1 from tversion union
select max( vvchar.cvchar ) from vvchar
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMaxVarChar_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 'FF' f1 from tversion union
select max( tvchar.cvchar ) from tvchar
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMinApproxNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select -1 f1 from tversion union
select min( vflt.cflt ) from vflt
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMinApproxNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select -1 f1 from tversion union
select min( tflt.cflt ) from tflt
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMinApproxNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select -1 f1 from tversion union
select min( vdbl.cdbl ) from vdbl
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMinApproxNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select -1 f1 from tversion union
select min( tdbl.cdbl ) from tdbl
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMinApproxNumeric_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select -1 f1 from tversion union
select min( vrl.crl ) from vrl
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMinApproxNumeric_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select -1 f1 from tversion union
select min( trl.crl ) from trl
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMinChar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select '                                ' f1 from tversion union
select min( vchar.cchar ) from vchar
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMinChar_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select '                                ' f1 from tversion union
select min( tchar.cchar ) from tchar
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMinExactNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select -1 f1 from tversion union
select min( vdec.cdec ) from vdec
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMinExactNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select -1 f1 from tversion union
select min( tdec.cdec ) from tdec
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMinExactNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select -1 f1 from tversion union
select min( vnum.cnum ) from vnum
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMinExactNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select -1 f1 from tversion union
select min( tnum.cnum ) from tnum
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMinInt_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select -1 f1 from tversion union
select min( vint.cint ) from vint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMinInt_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select -1 f1 from tversion union
select min( tint.cint ) from tint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMinInt_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select -1 f1 from tversion union
select min( vsint.csint ) from vsint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMinInt_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select -1 f1 from tversion union
select min( tsint.csint ) from tsint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMinInt_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select -1 f1 from tversion union
select min( vbint.cbint ) from vbint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMinInt_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select -1 f1 from tversion union
select min( tbint.cbint ) from tbint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMinLit_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 'A' f1 from tversion union
select min( 'A' ) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMinNullNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select null f1 from tversion union
select min( cnnull ) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMinNull_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select null f1 from tversion union
select min( ccnull ) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMinVarChar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select ' ' f1 from tversion union
select min( vvchar.cvchar ) from vvchar
) Q
group by
f1
) Q ) P)
union all
(select 'SelectMinVarChar_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select ' ' f1 from tversion union
select min( tvchar.cvchar ) from tvchar
) Q
group by
f1
) Q ) P)
union all
(select 'SelectStanDevPopApproxNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.05975 f1 from tversion union
select stddev_pop( vflt.cflt ) from vflt
) Q
group by
f1
) Q ) P)
union all
(select 'SelectStanDevPopApproxNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.05975 f1 from tversion union
select stddev_pop( tflt.cflt ) from tflt
) Q
group by
f1
) Q ) P)
) b
order by test_name_part
""",
    doc="qp_misc.sql self-checking tests (40): SelectMaxExactNumeric_p1 SelectMaxExactNumeric_p2 SelectMaxExactNumeric_p3 SelectMaxExactNumeric_p4 SelectMaxInt_p1 SelectMaxInt_p2 SelectMaxInt_p3 SelectMaxInt_p4 SelectMaxInt_p5 SelectMaxInt_p6 SelectMaxLit_p1 SelectMaxNullNumeric_p1 SelectMaxNull_p1 SelectMaxVarChar_p1 SelectMaxVarChar_p2 SelectMinApproxNumeric_p1 SelectMinApproxNumeric_p2 SelectMinApproxNumeric_p3 SelectMinApproxNumeric_p4 Sel",
    tags=("qpmisc",),
    prelude=QPMISC_PRELUDE,
)

register_regress(
    "regress_qpmisc_b19_select",
    """
select test_name_part, pass_ind from (
(select 'SelectStanDevPopApproxNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.05975 f1 from tversion union
select stddev_pop( vdbl.cdbl ) from vdbl
) Q
group by
f1
) Q ) P)
union all
(select 'SelectStanDevPopApproxNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.05975 f1 from tversion union
select stddev_pop( tdbl.cdbl ) from tdbl
) Q
group by
f1
) Q ) P)
union all
(select 'SelectStanDevPopApproxNumeric_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.05975 f1 from tversion union
select stddev_pop( vrl.crl ) from vrl
) Q
group by
f1
) Q ) P)
union all
(select 'SelectStanDevPopApproxNumeric_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.05975 f1 from tversion union
select stddev_pop( trl.crl ) from trl
) Q
group by
f1
) Q ) P)
union all
(select 'SelectStanDevPopExactNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.04 f1 from tversion union
select stddev_pop( vdec.cdec ) from vdec
) Q
group by
f1
) Q ) P)
union all
(select 'SelectStanDevPopExactNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.04 f1 from tversion union
select stddev_pop( tdec.cdec ) from tdec
) Q
group by
f1
) Q ) P)
union all
(select 'SelectStanDevPopExactNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.04 f1 from tversion union
select stddev_pop( vnum.cnum ) from vnum
) Q
group by
f1
) Q ) P)
union all
(select 'SelectStanDevPopExactNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.04 f1 from tversion union
select stddev_pop( tnum.cnum ) from tnum
) Q
group by
f1
) Q ) P)
union all
(select 'SelectStanDevPopInt_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.38748 f1 from tversion union
select stddev_pop( vint.cint ) from vint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectStanDevPopInt_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.38748 f1 from tversion union
select stddev_pop( tint.cint ) from tint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectStanDevPopInt_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.38748 f1 from tversion union
select stddev_pop( vsint.csint ) from vsint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectStanDevPopInt_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.38748 f1 from tversion union
select stddev_pop( tsint.csint ) from tsint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectStanDevPopInt_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.38748 f1 from tversion union
select stddev_pop( vbint.cbint ) from vbint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectStanDevPopInt_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.38748 f1 from tversion union
select stddev_pop( tbint.cbint ) from tbint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectStar_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4,f5, count(*) c  from (
select 0 f1, 1 f2, '1.0   ' f3, null f4, null f5 from tversion union
select * from tversion
) Q
group by
f1,f2,f3,f4,f5
) Q ) P)
union all
(select 'SelectSumApproxNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 9.9 f1 from tversion union
select sum( vflt.cflt ) from vflt
) Q
group by
f1
) Q ) P)
union all
(select 'SelectSumApproxNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 9.9 f1 from tversion union
select sum( tflt.cflt ) from tflt
) Q
group by
f1
) Q ) P)
union all
(select 'SelectSumApproxNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 9.9 f1 from tversion union
select sum( vdbl.cdbl ) from vdbl
) Q
group by
f1
) Q ) P)
union all
(select 'SelectSumApproxNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 9.9 f1 from tversion union
select sum( tdbl.cdbl ) from tdbl
) Q
group by
f1
) Q ) P)
union all
(select 'SelectSumApproxNumeric_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 9.9 f1 from tversion union
select sum( vrl.crl ) from vrl
) Q
group by
f1
) Q ) P)
union all
(select 'SelectSumApproxNumeric_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 9.9 f1 from tversion union
select sum( trl.crl ) from trl
) Q
group by
f1
) Q ) P)
union all
(select 'SelectSumExactNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 10.1 f1 from tversion union
select sum( vdec.cdec ) from vdec
) Q
group by
f1
) Q ) P)
union all
(select 'SelectSumExactNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 10.1 f1 from tversion union
select sum( tdec.cdec ) from tdec
) Q
group by
f1
) Q ) P)
union all
(select 'SelectSumExactNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 10.1 f1 from tversion union
select sum( vnum.cnum ) from vnum
) Q
group by
f1
) Q ) P)
union all
(select 'SelectSumExactNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 10.1 f1 from tversion union
select sum( tnum.cnum ) from tnum
) Q
group by
f1
) Q ) P)
union all
(select 'SelectSumInt_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 10 f1 from tversion union
select sum( vint.cint ) from vint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectSumInt_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 10 f1 from tversion union
select sum( tint.cint ) from tint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectSumInt_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 10 f1 from tversion union
select sum( vsint.csint ) from vsint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectSumInt_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 10 f1 from tversion union
select sum( tsint.csint ) from tsint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectSumInt_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 10 f1 from tversion union
select sum( vbint.cbint ) from vbint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectSumInt_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 10 f1 from tversion union
select sum( tbint.cbint ) from tbint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimeComparisonEqualTo_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where time '10:20:30' = time '10:20:30'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimeComparisonGreaterThanOrEqualTo_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where time '23:59:40' >= time '00:00:00.000'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimeComparisonGreaterThanOrEqualTo_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where time '23:59:40' >= time '12:00:00.000'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimeComparisonGreaterThanOrEqualTo_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where time '23:59:40' >= time '23:59:30.123'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimeComparisonGreaterThan_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where time '23:59:40' > time '00:00:00.000'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimeComparisonGreaterThan_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where time '23:59:40' > time '12:00:00.000'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimeComparisonGreaterThan_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where time '23:59:40' > time '23:59:30.123'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimeComparisonLessThanOrEqualTo_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where time '00:00:00' <= time '00:00:00.000'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimeComparisonLessThanOrEqualTo_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where time '00:00:00' <= time '12:00:00.000'
) Q
group by
f1
) Q ) P)
) b
order by test_name_part
""",
    doc="qp_misc.sql self-checking tests (40): SelectStanDevPopApproxNumeric_p3 SelectStanDevPopApproxNumeric_p4 SelectStanDevPopApproxNumeric_p5 SelectStanDevPopApproxNumeric_p6 SelectStanDevPopExactNumeric_p1 SelectStanDevPopExactNumeric_p2 SelectStanDevPopExactNumeric_p3 SelectStanDevPopExactNumeric_p4 SelectStanDevPopInt_p1 SelectStanDevPopInt_p2 SelectStanDevPopInt_p3 SelectStanDevPopInt_p4 SelectStanDevPopInt_p5 SelectStanDevPopInt_p6 Se",
    tags=("qpmisc",),
    prelude=QPMISC_PRELUDE,
)

register_regress(
    "regress_qpmisc_b20_select",
    """
select test_name_part, pass_ind from (
(select 'SelectTimeComparisonLessThanOrEqualTo_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where time '00:00:00' <= time '23:59:30.123'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimeComparisonLessThan_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where time '00:00:00.000' < time '23:59:40'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimeComparisonLessThan_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where time '12:00:00.000' < time '23:59:40'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimeComparisonLessThan_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where time '23:59:30.123' < time '23:59:40'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimeComparisonNotEqualTo_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where time '22:20:30' <> time '00:00:00.000'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimeComparisonNotEqualTo_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where time '22:20:30' <> time '12:00:00.000'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimeComparisonNotEqualTo_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where time '22:20:30' <> time '23:59:30.123'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonEqualTo_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '2000-01-01 00:00:00.0' = timestamp '2000-01-01 00:00:00.0'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonEqualTo_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '2000-01-01 12:00:00' = timestamp '2000-01-01 12:00:00'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonEqualTo_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '2000-01-01 23:59:30.123' = timestamp '2000-01-01 23:59:30.123'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonEqualTo_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '2000-12-31 00:00:00' = timestamp '2000-12-31 00:00:00'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonEqualTo_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '2000-12-31 12:00:00' = timestamp '2000-12-31 12:00:00'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonEqualTo_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '2000-12-31 23:59:30.123' = timestamp '2000-12-31 23:59:30.123'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonGreaterThanOrEqualTo_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '2010-01-01 10:20:30' >= timestamp '2000-01-01 00:00:00.0'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonGreaterThanOrEqualTo_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '2010-01-01 10:20:30' >= timestamp '2000-01-01 12:00:00'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonGreaterThanOrEqualTo_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '2010-01-01 10:20:30' >= timestamp '2000-01-01 23:59:30.123'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonGreaterThanOrEqualTo_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '2010-01-01 10:20:30' >= timestamp '2000-12-31 00:00:00'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonGreaterThanOrEqualTo_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '2010-01-01 10:20:30' >= timestamp '2000-12-31 12:00:00'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonGreaterThanOrEqualTo_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '2010-01-01 10:20:30' >= timestamp '2000-12-31 23:59:30.123'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonGreaterThan_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '2010-01-01 10:20:30' > timestamp '2000-01-01 00:00:00.0'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonGreaterThan_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '2010-01-01 10:20:30' > timestamp '2000-01-01 12:00:00'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonGreaterThan_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '2010-01-01 10:20:30' > timestamp '2000-01-01 23:59:30.123'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonGreaterThan_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '2010-01-01 10:20:30' > timestamp '2000-12-31 00:00:00'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonGreaterThan_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '2010-01-01 10:20:30' > timestamp '2000-12-31 12:00:00'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonGreaterThan_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '2010-01-01 10:20:30' > timestamp '2000-12-31 23:59:30.123'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonLessThanOrEqualTo_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '1989-01-01 10:20:30' <= timestamp '2000-01-01 00:00:00.0'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonLessThanOrEqualTo_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '1989-01-01 10:20:30' <= timestamp '2000-01-01 12:00:00'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonLessThanOrEqualTo_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '1989-01-01 10:20:30' <= timestamp '2000-01-01 23:59:30.123'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonLessThanOrEqualTo_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '1989-01-01 10:20:30' <= timestamp '2000-12-31 00:00:00'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonLessThanOrEqualTo_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '1989-01-01 10:20:30' <= timestamp '2000-12-31 12:00:00'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonLessThanOrEqualTo_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '1989-01-01 10:20:30' <= timestamp '2000-12-31 23:59:30.123'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonLessThan_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '1989-01-01 10:20:30' < timestamp '2000-01-01 00:00:00.0'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonLessThan_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '1989-01-01 10:20:30' < timestamp '2000-01-01 12:00:00'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonLessThan_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '1989-01-01 10:20:30' < timestamp '2000-01-01 23:59:30.123'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonLessThan_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '1989-01-01 10:20:30' < timestamp '2000-12-31 00:00:00'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonLessThan_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '1989-01-01 10:20:30' < timestamp '2000-12-31 12:00:00'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonLessThan_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '1989-01-01 10:20:30' < timestamp '2000-12-31 23:59:30.123'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonNotEqualTo_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '1989-01-01 10:20:30' <> timestamp '2000-01-01 00:00:00.0'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonNotEqualTo_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '1989-01-01 10:20:30' <> timestamp '2000-01-01 12:00:00'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonNotEqualTo_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '1989-01-01 10:20:30' <> timestamp '2000-01-01 23:59:30.123'
) Q
group by
f1
) Q ) P)
) b
order by test_name_part
""",
    doc="qp_misc.sql self-checking tests (40): SelectTimeComparisonLessThanOrEqualTo_p3 SelectTimeComparisonLessThan_p1 SelectTimeComparisonLessThan_p2 SelectTimeComparisonLessThan_p3 SelectTimeComparisonNotEqualTo_p1 SelectTimeComparisonNotEqualTo_p2 SelectTimeComparisonNotEqualTo_p3 SelectTimestampComparisonEqualTo_p1 SelectTimestampComparisonEqualTo_p2 SelectTimestampComparisonEqualTo_p3 SelectTimestampComparisonEqualTo_p4 SelectTimestampCo",
    tags=("qpmisc",),
    prelude=QPMISC_PRELUDE,
)

register_regress(
    "regress_qpmisc_b21_select_simple",
    """
select test_name_part, pass_ind from (
(select 'SelectTimestampComparisonNotEqualTo_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '1989-01-01 10:20:30' <> timestamp '2000-12-31 00:00:00'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonNotEqualTo_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '1989-01-01 10:20:30' <> timestamp '2000-12-31 12:00:00'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectTimestampComparisonNotEqualTo_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where timestamp '1989-01-01 10:20:30' <> timestamp '2000-12-31 23:59:30.123'
) Q
group by
f1
) Q ) P)
union all
(select 'SelectVarPopApproxNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 16.4816 f1 from tversion union
select var_pop( vflt.cflt ) from vflt
) Q
group by
f1
) Q ) P)
union all
(select 'SelectVarPopApproxNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 16.4816 f1 from tversion union
select var_pop( tflt.cflt ) from tflt
) Q
group by
f1
) Q ) P)
union all
(select 'SelectVarPopApproxNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 16.4816 f1 from tversion union
select var_pop( vdbl.cdbl ) from vdbl
) Q
group by
f1
) Q ) P)
union all
(select 'SelectVarPopApproxNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 16.4816 f1 from tversion union
select var_pop( tdbl.cdbl ) from tdbl
) Q
group by
f1
) Q ) P)
union all
(select 'SelectVarPopApproxNumeric_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 16.4816 f1 from tversion union
select var_pop( vrl.crl ) from vrl
) Q
group by
f1
) Q ) P)
union all
(select 'SelectVarPopApproxNumeric_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 16.4816 f1 from tversion union
select var_pop( trl.crl ) from trl
) Q
group by
f1
) Q ) P)
union all
(select 'SelectVarPopExactNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 16.3216 f1 from tversion union
select var_pop( vdec.cdec ) from vdec
) Q
group by
f1
) Q ) P)
union all
(select 'SelectVarPopExactNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 16.3216 f1 from tversion union
select var_pop( tdec.cdec ) from tdec
) Q
group by
f1
) Q ) P)
union all
(select 'SelectVarPopExactNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 16.3216 f1 from tversion union
select var_pop( vnum.cnum ) from vnum
) Q
group by
f1
) Q ) P)
union all
(select 'SelectVarPopExactNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 16.3216 f1 from tversion union
select var_pop( tnum.cnum ) from tnum
) Q
group by
f1
) Q ) P)
union all
(select 'SelectVarPopInt_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 19.25 f1 from tversion union
select var_pop( vint.cint ) from vint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectVarPopInt_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 19.25 f1 from tversion union
select var_pop( tint.cint ) from tint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectVarPopInt_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 19.25 f1 from tversion union
select var_pop( vsint.csint ) from vsint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectVarPopInt_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 19.25 f1 from tversion union
select var_pop( tsint.csint ) from tsint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectVarPopInt_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 19.25 f1 from tversion union
select var_pop( vbint.cbint ) from vbint
) Q
group by
f1
) Q ) P)
union all
(select 'SelectVarPopInt_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 19.25 f1 from tversion union
select var_pop( tbint.cbint ) from tbint
) Q
group by
f1
) Q ) P)
union all
(select 'SimpleSelect_gp_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select c1  from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'SimpleCaseApproximateNumericElseDefaultsNULL_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, null f2 from tversion union
select 3 f1, null f2 from tversion union
select 4 f1, 'test2' f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select vflt.rnum,case when vflt.cflt > 1 then 'test1' when vflt.cflt < 0 then 'test2' end from vflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseApproximateNumericElseDefaultsNULL_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, null f2 from tversion union
select 3 f1, null f2 from tversion union
select 4 f1, 'test2' f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select tflt.rnum,case when tflt.cflt > 1 then 'test1' when tflt.cflt < 0 then 'test2' end from tflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseApproximateNumericElseDefaultsNULL_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, null f2 from tversion union
select 3 f1, null f2 from tversion union
select 4 f1, 'test2' f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select vdbl.rnum,case when vdbl.cdbl > 1 then 'test1' when vdbl.cdbl < 0 then 'test2' end from vdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseApproximateNumericElseDefaultsNULL_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, null f2 from tversion union
select 3 f1, null f2 from tversion union
select 4 f1, 'test2' f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select tdbl.rnum,case when tdbl.cdbl > 1 then 'test1' when tdbl.cdbl < 0 then 'test2' end from tdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseApproximateNumericElseDefaultsNULL_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, null f2 from tversion union
select 3 f1, null f2 from tversion union
select 4 f1, 'test2' f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select vrl.rnum,case when vrl.crl > 1 then 'test1' when vrl.crl < 0 then 'test2' end from vrl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseApproximateNumericElseDefaultsNULL_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, null f2 from tversion union
select 3 f1, null f2 from tversion union
select 4 f1, 'test2' f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select trl.rnum,case when trl.crl > 1 then 'test1' when trl.crl < 0 then 'test2' end from trl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseApproximateNumericElseExplicitNULL_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, null f2 from tversion union
select 3 f1, null f2 from tversion union
select 4 f1, 'test2' f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select vflt.rnum,case when vflt.cflt > 1 then 'test1' when vflt.cflt < 0 then 'test2' else null end from vflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseApproximateNumericElseExplicitNULL_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, null f2 from tversion union
select 3 f1, null f2 from tversion union
select 4 f1, 'test2' f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select tflt.rnum,case when tflt.cflt > 1 then 'test1' when tflt.cflt < 0 then 'test2' else null end from tflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseApproximateNumericElseExplicitNULL_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, null f2 from tversion union
select 3 f1, null f2 from tversion union
select 4 f1, 'test2' f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select vdbl.rnum,case when vdbl.cdbl > 1 then 'test1' when vdbl.cdbl < 0 then 'test2' else null end from vdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseApproximateNumericElseExplicitNULL_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, null f2 from tversion union
select 3 f1, null f2 from tversion union
select 4 f1, 'test2' f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select tdbl.rnum,case when tdbl.cdbl > 1 then 'test1' when tdbl.cdbl < 0 then 'test2' else null end from tdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseApproximateNumericElseExplicitNULL_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, null f2 from tversion union
select 3 f1, null f2 from tversion union
select 4 f1, 'test2' f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select vrl.rnum,case when vrl.crl > 1 then 'test1' when vrl.crl < 0 then 'test2' else null end from vrl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseApproximateNumericElseExplicitNULL_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, null f2 from tversion union
select 3 f1, null f2 from tversion union
select 4 f1, 'test2' f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select trl.rnum,case when trl.crl > 1 then 'test1' when trl.crl < 0 then 'test2' else null end from trl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseApproximateNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, 'else' f2 from tversion union
select 3 f1, 'else' f2 from tversion union
select 4 f1, 'test2' f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select vflt.rnum,case when vflt.cflt > 1 then 'test1' when vflt.cflt < 0 then 'test2' else 'else' end from vflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseApproximateNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, 'else' f2 from tversion union
select 3 f1, 'else' f2 from tversion union
select 4 f1, 'test2' f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select tflt.rnum,case when tflt.cflt > 1 then 'test1' when tflt.cflt < 0 then 'test2' else 'else' end from tflt
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseApproximateNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, 'else' f2 from tversion union
select 3 f1, 'else' f2 from tversion union
select 4 f1, 'test2' f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select vdbl.rnum,case when vdbl.cdbl > 1 then 'test1' when vdbl.cdbl < 0 then 'test2' else 'else' end from vdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseApproximateNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, 'else' f2 from tversion union
select 3 f1, 'else' f2 from tversion union
select 4 f1, 'test2' f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select tdbl.rnum,case when tdbl.cdbl > 1 then 'test1' when tdbl.cdbl < 0 then 'test2' else 'else' end from tdbl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseApproximateNumeric_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, 'else' f2 from tversion union
select 3 f1, 'else' f2 from tversion union
select 4 f1, 'test2' f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select vrl.rnum,case when vrl.crl > 1 then 'test1' when vrl.crl < 0 then 'test2' else 'else' end from vrl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseApproximateNumeric_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, 'else' f2 from tversion union
select 3 f1, 'else' f2 from tversion union
select 4 f1, 'test2' f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select trl.rnum,case when trl.crl > 1 then 'test1' when trl.crl < 0 then 'test2' else 'else' end from trl
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseExactNumericElseDefaultsNULL_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, null f2 from tversion union
select 2 f1, null f2 from tversion union
select 3 f1, null f2 from tversion union
select 4 f1, null f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select vdec.rnum,case when vdec.cdec=10 then 'test1' when vdec.cdec=-0.1 then 'test2'  end from vdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseExactNumericElseDefaultsNULL_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, null f2 from tversion union
select 2 f1, null f2 from tversion union
select 3 f1, null f2 from tversion union
select 4 f1, null f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select tdec.rnum,case when tdec.cdec=10 then 'test1' when tdec.cdec=-0.1 then 'test2'  end from tdec
) Q
group by
f1,f2
) Q ) P)
) b
order by test_name_part
""",
    doc="qp_misc.sql self-checking tests (40): SelectTimestampComparisonNotEqualTo_p4 SelectTimestampComparisonNotEqualTo_p5 SelectTimestampComparisonNotEqualTo_p6 SelectVarPopApproxNumeric_p1 SelectVarPopApproxNumeric_p2 SelectVarPopApproxNumeric_p3 SelectVarPopApproxNumeric_p4 SelectVarPopApproxNumeric_p5 SelectVarPopApproxNumeric_p6 SelectVarPopExactNumeric_p1 SelectVarPopExactNumeric_p2 SelectVarPopExactNumeric_p3 SelectVarPopExactNumeric_",
    tags=("qpmisc",),
    prelude=QPMISC_PRELUDE,
)

register_regress(
    "regress_qpmisc_b22_simple_sqrt_stan",
    """
select test_name_part, pass_ind from (
(select 'SimpleCaseExactNumericElseDefaultsNULL_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, null f2 from tversion union
select 2 f1, null f2 from tversion union
select 3 f1, null f2 from tversion union
select 4 f1, null f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select vnum.rnum,case when vnum.cnum=10 then 'test1' when vnum.cnum=-0.1 then 'test2'  end from vnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseExactNumericElseDefaultsNULL_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, null f2 from tversion union
select 2 f1, null f2 from tversion union
select 3 f1, null f2 from tversion union
select 4 f1, null f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select tnum.rnum,case when tnum.cnum=10 then 'test1' when tnum.cnum=-0.1 then 'test2'  end from tnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseExactNumericElseExplicitNULL_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, null f2 from tversion union
select 2 f1, null f2 from tversion union
select 3 f1, null f2 from tversion union
select 4 f1, null f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select vdec.rnum,case when vdec.cdec=10 then 'test1' when vdec.cdec=-0.1 then 'test2'  else null end from vdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseExactNumericElseExplicitNULL_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, null f2 from tversion union
select 2 f1, null f2 from tversion union
select 3 f1, null f2 from tversion union
select 4 f1, null f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select tdec.rnum,case when tdec.cdec=10 then 'test1' when tdec.cdec=-0.1 then 'test2'  else null end from tdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseExactNumericElseExplicitNULL_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, null f2 from tversion union
select 2 f1, null f2 from tversion union
select 3 f1, null f2 from tversion union
select 4 f1, null f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select vnum.rnum,case when vnum.cnum=10 then 'test1' when vnum.cnum=-0.1 then 'test2'  else null end from vnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseExactNumericElseExplicitNULL_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, null f2 from tversion union
select 2 f1, null f2 from tversion union
select 3 f1, null f2 from tversion union
select 4 f1, null f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select tnum.rnum,case when tnum.cnum=10 then 'test1' when tnum.cnum=-0.1 then 'test2'  else null end from tnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseExactNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'else' f2 from tversion union
select 3 f1, 'else' f2 from tversion union
select 4 f1, 'else' f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select vdec.rnum,case when vdec.cdec=10 then 'test1' when vdec.cdec=-0.1 then 'test2' else 'else' end from vdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseExactNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'else' f2 from tversion union
select 3 f1, 'else' f2 from tversion union
select 4 f1, 'else' f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select tdec.rnum,case when tdec.cdec=10 then 'test1' when tdec.cdec=-0.1 then 'test2' else 'else' end from tdec
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseExactNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'else' f2 from tversion union
select 3 f1, 'else' f2 from tversion union
select 4 f1, 'else' f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select vnum.rnum,case when vnum.cnum=10 then 'test1' when vnum.cnum=-0.1 then 'test2' else 'else' end from vnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseExactNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'else' f2 from tversion union
select 2 f1, 'else' f2 from tversion union
select 3 f1, 'else' f2 from tversion union
select 4 f1, 'else' f2 from tversion union
select 5 f1, 'test1' f2 from tversion union
select tnum.rnum,case when tnum.cnum=10 then 'test1' when tnum.cnum=-0.1 then 'test2' else 'else' end from tnum
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseIntegerElseDefaultsNULL_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, null f2 from tversion union
select 3 f1, null f2 from tversion union
select 4 f1, 'test1' f2 from tversion union
select vint.rnum,case when vint.cint=10 then 'test1' when vint.cint=-1 then 'test2' end from vint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseIntegerElseDefaultsNULL_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, null f2 from tversion union
select 3 f1, null f2 from tversion union
select 4 f1, 'test1' f2 from tversion union
select tint.rnum,case when tint.cint=10 then 'test1' when tint.cint=-1 then 'test2' end from tint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseIntegerElseDefaultsNULL_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, null f2 from tversion union
select 3 f1, null f2 from tversion union
select 4 f1, 'test1' f2 from tversion union
select vsint.rnum,case when vsint.csint=10 then 'test1' when vsint.csint=-1 then 'test2' end from vsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseIntegerElseDefaultsNULL_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, null f2 from tversion union
select 3 f1, null f2 from tversion union
select 4 f1, 'test1' f2 from tversion union
select tsint.rnum,case when tsint.csint=10 then 'test1' when tsint.csint=-1 then 'test2' end from tsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseIntegerElseDefaultsNULL_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, null f2 from tversion union
select 3 f1, null f2 from tversion union
select 4 f1, 'test1' f2 from tversion union
select vbint.rnum,case when vbint.cbint=10 then 'test1' when vbint.cbint=-1 then 'test2' end from vbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseIntegerElseDefaultsNULL_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, null f2 from tversion union
select 3 f1, null f2 from tversion union
select 4 f1, 'test1' f2 from tversion union
select tbint.rnum,case when tbint.cbint=10 then 'test1' when tbint.cbint=-1 then 'test2' end from tbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseIntegerElseExplicitNULL_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, null f2 from tversion union
select 3 f1, null f2 from tversion union
select 4 f1, 'test1' f2 from tversion union
select vint.rnum,case when vint.cint=10 then 'test1' when vint.cint=-1 then 'test2' else null end from vint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseIntegerElseExplicitNULL_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, null f2 from tversion union
select 3 f1, null f2 from tversion union
select 4 f1, 'test1' f2 from tversion union
select tint.rnum,case when tint.cint=10 then 'test1' when tint.cint=-1 then 'test2' else null end from tint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseIntegerElseExplicitNULL_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, null f2 from tversion union
select 3 f1, null f2 from tversion union
select 4 f1, 'test1' f2 from tversion union
select vsint.rnum,case when vsint.csint=10 then 'test1' when vsint.csint=-1 then 'test2' else null end from vsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseIntegerElseExplicitNULL_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, null f2 from tversion union
select 3 f1, null f2 from tversion union
select 4 f1, 'test1' f2 from tversion union
select tsint.rnum,case when tsint.csint=10 then 'test1' when tsint.csint=-1 then 'test2' else null end from tsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseIntegerElseExplicitNULL_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, null f2 from tversion union
select 3 f1, null f2 from tversion union
select 4 f1, 'test1' f2 from tversion union
select vbint.rnum,case when vbint.cbint=10 then 'test1' when vbint.cbint=-1 then 'test2' else null end from vbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseIntegerElseExplicitNULL_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, null f2 from tversion union
select 3 f1, null f2 from tversion union
select 4 f1, 'test1' f2 from tversion union
select tbint.rnum,case when tbint.cbint=10 then 'test1' when tbint.cbint=-1 then 'test2' else null end from tbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseInteger_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, 'else' f2 from tversion union
select 3 f1, 'else' f2 from tversion union
select 4 f1, 'test1' f2 from tversion union
select vint.rnum,case when vint.cint=10 then 'test1' when vint.cint=-1 then 'test2' else 'else' end from vint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseInteger_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, 'else' f2 from tversion union
select 3 f1, 'else' f2 from tversion union
select 4 f1, 'test1' f2 from tversion union
select tint.rnum,case when tint.cint=10 then 'test1' when tint.cint=-1 then 'test2' else 'else' end from tint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseInteger_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, 'else' f2 from tversion union
select 3 f1, 'else' f2 from tversion union
select 4 f1, 'test1' f2 from tversion union
select vsint.rnum,case when vsint.csint=10 then 'test1' when vsint.csint=-1 then 'test2' else 'else' end from vsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseInteger_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, 'else' f2 from tversion union
select 3 f1, 'else' f2 from tversion union
select 4 f1, 'test1' f2 from tversion union
select tsint.rnum,case when tsint.csint=10 then 'test1' when tsint.csint=-1 then 'test2' else 'else' end from tsint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseInteger_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, 'else' f2 from tversion union
select 3 f1, 'else' f2 from tversion union
select 4 f1, 'test1' f2 from tversion union
select vbint.rnum,case when vbint.cbint=10 then 'test1' when vbint.cbint=-1 then 'test2' else 'else' end from vbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SimpleCaseInteger_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, 'else' f2 from tversion union
select 1 f1, 'test2' f2 from tversion union
select 2 f1, 'else' f2 from tversion union
select 3 f1, 'else' f2 from tversion union
select 4 f1, 'test1' f2 from tversion union
select tbint.rnum,case when tbint.cbint=10 then 'test1' when tbint.cbint=-1 then 'test2' else 'else' end from tbint
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SqrtCoreNull_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select null f1 from tversion union
select sqrt( null ) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'SqrtCore_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 2 f1 from tversion union
select sqrt( 4 ) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'SqrtCore_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 2 f1 from tversion union
select sqrt( 4.0e+0 ) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'SqrtCore_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 2 f1 from tversion union
select sqrt( 4.0 ) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'StanDevApproxNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.53894 f1 from tversion union
select stddev( vflt.cflt ) from vflt
) Q
group by
f1
) Q ) P)
union all
(select 'StanDevApproxNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.53894 f1 from tversion union
select stddev( tflt.cflt ) from tflt
) Q
group by
f1
) Q ) P)
union all
(select 'StanDevApproxNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.53894 f1 from tversion union
select stddev( vdbl.cdbl ) from vdbl
) Q
group by
f1
) Q ) P)
union all
(select 'StanDevApproxNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.53894 f1 from tversion union
select stddev( tdbl.cdbl ) from tdbl
) Q
group by
f1
) Q ) P)
union all
(select 'StanDevApproxNumeric_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.53894 f1 from tversion union
select stddev( vrl.crl ) from vrl
) Q
group by
f1
) Q ) P)
union all
(select 'StanDevApproxNumeric_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.53894 f1 from tversion union
select stddev( trl.crl ) from trl
) Q
group by
f1
) Q ) P)
union all
(select 'StanDevExactNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.516857 f1 from tversion union
select stddev( vdec.cdec ) from vdec
) Q
group by
f1
) Q ) P)
union all
(select 'StanDevExactNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.516857 f1 from tversion union
select stddev( tdec.cdec ) from tdec
) Q
group by
f1
) Q ) P)
) b
order by test_name_part
""",
    doc="qp_misc.sql self-checking tests (40): SimpleCaseExactNumericElseDefaultsNULL_p3 SimpleCaseExactNumericElseDefaultsNULL_p4 SimpleCaseExactNumericElseExplicitNULL_p1 SimpleCaseExactNumericElseExplicitNULL_p2 SimpleCaseExactNumericElseExplicitNULL_p3 SimpleCaseExactNumericElseExplicitNULL_p4 SimpleCaseExactNumeric_p1 SimpleCaseExactNumeric_p2 SimpleCaseExactNumeric_p3 SimpleCaseExactNumeric_p4 SimpleCaseIntegerElseDefaultsNULL_p1 SimpleC",
    tags=("qpmisc",),
    prelude=QPMISC_PRELUDE,
)

register_regress(
    "regress_qpmisc_b23_stan_string",
    """
select test_name_part, pass_ind from (
(select 'StanDevExactNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.516857 f1 from tversion union
select stddev( vnum.cnum ) from vnum
) Q
group by
f1
) Q ) P)
union all
(select 'StanDevExactNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.516857 f1 from tversion union
select stddev( tnum.cnum ) from tnum
) Q
group by
f1
) Q ) P)
union all
(select 'StanDevInt_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 5.066228 f1 from tversion union
select stddev( vint.cint ) from vint
) Q
group by
f1
) Q ) P)
union all
(select 'StanDevInt_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 5.066228 f1 from tversion union
select stddev( tint.cint ) from tint
) Q
group by
f1
) Q ) P)
union all
(select 'StanDevInt_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 5.066228 f1 from tversion union
select stddev( vsint.csint ) from vsint
) Q
group by
f1
) Q ) P)
union all
(select 'StanDevInt_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 5.066228 f1 from tversion union
select stddev( tsint.csint ) from tsint
) Q
group by
f1
) Q ) P)
union all
(select 'StanDevInt_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 5.066228 f1 from tversion union
select stddev( vbint.cbint ) from vbint
) Q
group by
f1
) Q ) P)
union all
(select 'StanDevInt_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 5.066228 f1 from tversion union
select stddev( tbint.cbint ) from tbint
) Q
group by
f1
) Q ) P)
union all
(select 'StanDevSampApproxNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.53894 f1 from tversion union
select stddev_samp( vflt.cflt ) from vflt
) Q
group by
f1
) Q ) P)
union all
(select 'StanDevSampApproxNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.53894 f1 from tversion union
select stddev_samp( tflt.cflt ) from tflt
) Q
group by
f1
) Q ) P)
union all
(select 'StanDevSampApproxNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.53894 f1 from tversion union
select stddev_samp( vdbl.cdbl ) from vdbl
) Q
group by
f1
) Q ) P)
union all
(select 'StanDevSampApproxNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.53894 f1 from tversion union
select stddev_samp( tdbl.cdbl ) from tdbl
) Q
group by
f1
) Q ) P)
union all
(select 'StanDevSampApproxNumeric_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.53894 f1 from tversion union
select stddev_samp( vrl.crl ) from vrl
) Q
group by
f1
) Q ) P)
union all
(select 'StanDevSampApproxNumeric_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.53894 f1 from tversion union
select stddev_samp( trl.crl ) from trl
) Q
group by
f1
) Q ) P)
union all
(select 'StanDevSampExactNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.516857 f1 from tversion union
select stddev_samp( vdec.cdec ) from vdec
) Q
group by
f1
) Q ) P)
union all
(select 'StanDevSampExactNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.516857 f1 from tversion union
select stddev_samp( tdec.cdec ) from tdec
) Q
group by
f1
) Q ) P)
union all
(select 'StanDevSampExactNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.516857 f1 from tversion union
select stddev_samp( vnum.cnum ) from vnum
) Q
group by
f1
) Q ) P)
union all
(select 'StanDevSampExactNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 4.516857 f1 from tversion union
select stddev_samp( tnum.cnum ) from tnum
) Q
group by
f1
) Q ) P)
union all
(select 'StanDevSampInt_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 5.066228 f1 from tversion union
select stddev_samp( vint.cint ) from vint
) Q
group by
f1
) Q ) P)
union all
(select 'StanDevSampInt_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 5.066228 f1 from tversion union
select stddev_samp( tint.cint ) from tint
) Q
group by
f1
) Q ) P)
union all
(select 'StanDevSampInt_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 5.066228 f1 from tversion union
select stddev_samp( vsint.csint ) from vsint
) Q
group by
f1
) Q ) P)
union all
(select 'StanDevSampInt_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 5.066228 f1 from tversion union
select stddev_samp( tsint.csint ) from tsint
) Q
group by
f1
) Q ) P)
union all
(select 'StanDevSampInt_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 5.066228 f1 from tversion union
select stddev_samp( vbint.cbint ) from vbint
) Q
group by
f1
) Q ) P)
union all
(select 'StanDevSampInt_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 5.066228 f1 from tversion union
select stddev_samp( tbint.cbint ) from tbint
) Q
group by
f1
) Q ) P)
union all
(select 'StringPredicateLike_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 10 f1, 'BB' f2 from tversion union
select tjoin2.c1, tjoin2.c2 from tjoin2 where tjoin2.c2 like '%B%'
) Q
group by
f1,f2
) Q ) P)
union all
(select 'StringPredicateLike_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 10 f1, 'BB' f2 from tversion union
select tjoin2.c1, tjoin2.c2 from tjoin2 where tjoin2.c2 like '_B'
) Q
group by
f1,f2
) Q ) P)
union all
(select 'StringPredicateLike_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 10 f1, 'BB' f2 from tversion union
select tjoin2.c1, tjoin2.c2 from tjoin2 where tjoin2.c2 like 'BB%'
) Q
group by
f1,f2
) Q ) P)
union all
(select 'StringPredicateNotBetween_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 1 f1, 15 f2, 'DD' f3 from tversion union
select 2 f1, null f2, 'EE' f3 from tversion union
select 3 f1, 10 f2, 'FF' f3 from tversion union
select rnum,tjoin2.c1, tjoin2.c2 from tjoin2 where not tjoin2.c2 between 'AA' and 'CC'
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'StringPredicateNotIn_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 1 f1, 15 f2, 'DD' f3 from tversion union
select 3 f1, 10 f2, 'FF' f3 from tversion union
select rnum,tjoin2.c1, tjoin2.c2 from tjoin2 where not tjoin2.c2 in ('ZZ','BB','EE')
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'StringPredicateNotLike_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 1 f1, 15 f2, 'DD' f3 from tversion union
select 2 f1, null f2, 'EE' f3 from tversion union
select 3 f1, 10 f2, 'FF' f3 from tversion union
select rnum,tjoin2.c1, tjoin2.c2 from tjoin2 where tjoin2.c2 not like 'B%'
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'StringPredicateLikeEscape_gp_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 10 f1, 'BB' f2 from tversion union
select tjoin2.c1, tjoin2.c2 from tjoin2 where ('%%' || tjoin2.c2) like '!%%B' escape '!'
) Q
group by
f1,f2
) Q ) P)
union all
(select 'StringPredicateLikeUnderscore_gp_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 10 f1, 'BB' f2 from tversion union
select tjoin2.c1, tjoin2.c2 from tjoin2 where ('__' || tjoin2.c2) like '!__BB' escape '!'
) Q
group by
f1,f2
) Q ) P)
union all
(select 'StringComparisonEq_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 10 f1, 'BB' f2 from tversion union
select tjoin2.c1, tjoin2.c2 from tjoin2 where tjoin2.c2='BB'
) Q
group by
f1,f2
) Q ) P)
union all
(select 'StringComparisonGtEq_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 1 f1, 15 f2, 'DD' f3 from tversion union
select 2 f1, null f2, 'EE' f3 from tversion union
select 3 f1, 10 f2, 'FF' f3 from tversion union
select rnum,tjoin2.c1, tjoin2.c2 from tjoin2 where tjoin2.c2 >= 'DD'
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'StringComparisonGt_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 2 f1, null f2, 'EE' f3 from tversion union
select 3 f1, 10 f2, 'FF' f3 from tversion union
select rnum,tjoin2.c1, tjoin2.c2 from tjoin2 where tjoin2.c2 > 'DD'
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'StringComparisonLtEq_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 0 f1, 10 f2, 'BB' f3 from tversion union
select 1 f1, 15 f2, 'DD' f3 from tversion union
select 2 f1, null f2, 'EE' f3 from tversion union
select rnum,tjoin2.c1, tjoin2.c2 from tjoin2 where tjoin2.c2 <= 'EE'
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'StringComparisonLt_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 0 f1, 10 f2, 'BB' f3 from tversion union
select 1 f1, 15 f2, 'DD' f3 from tversion union
select rnum,tjoin2.c1, tjoin2.c2 from tjoin2 where tjoin2.c2 < 'EE'
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'StringComparisonNtEq_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 1 f1, 15 f2, 'DD' f3 from tversion union
select 2 f1, null f2, 'EE' f3 from tversion union
select 3 f1, 10 f2, 'FF' f3 from tversion union
select rnum,tjoin2.c1, tjoin2.c2 from tjoin2 where tjoin2.c2 <> 'BB'
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'StringComparisonNtEq_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 1 f1, 15 f2, 'DD' f3 from tversion union
select 2 f1, null f2, 'EE' f3 from tversion union
select 3 f1, 10 f2, 'FF' f3 from tversion union
select rnum,tjoin2.c1, tjoin2.c2 from tjoin2 where tjoin2.c2 <> 'BB'
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'StringPredicateBetween_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 10 f1, 'BB' f2 from tversion union
select tjoin2.c1, tjoin2.c2 from tjoin2 where tjoin2.c2 between 'AA' and 'CC'
) Q
group by
f1,f2
) Q ) P)
) b
order by test_name_part
""",
    doc="qp_misc.sql self-checking tests (40): StanDevExactNumeric_p3 StanDevExactNumeric_p4 StanDevInt_p1 StanDevInt_p2 StanDevInt_p3 StanDevInt_p4 StanDevInt_p5 StanDevInt_p6 StanDevSampApproxNumeric_p1 StanDevSampApproxNumeric_p2 StanDevSampApproxNumeric_p3 StanDevSampApproxNumeric_p4 StanDevSampApproxNumeric_p5 StanDevSampApproxNumeric_p6 StanDevSampExactNumeric_p1 StanDevSampExactNumeric_p2 StanDevSampExactNumeric_p3 StanDevSampExactNumer",
    tags=("qpmisc",),
    prelude=QPMISC_PRELUDE,
)

register_regress(
    "regress_qpmisc_b24_string_subquery_substring",
    """
select test_name_part, pass_ind from (
(select 'StringPredicateIn_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 0 f1, 10 f2, 'BB' f3 from tversion union
select 2 f1, null f2, 'EE' f3 from tversion union
select rnum,tjoin2.c1, tjoin2.c2 from tjoin2 where tjoin2.c2 in ('ZZ','BB','EE')
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'StringPredicateLike_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 10 f1, 'BB' f2 from tversion union
select tjoin2.c1, tjoin2.c2 from tjoin2 where tjoin2.c2 like 'B%'
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SubqueryColumnAlias_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 0 f1, 10 f2, 'AAA' f3 from tversion union
select 1 f1, 10 f2, 'AAA' f3 from tversion union
select 2 f1, 10 f2, 'AAA' f3 from tversion union
select 5 f1, 40 f2, 'DDD' f3 from tversion union
select 6 f1, 50 f2, null f3 from tversion union
select 7 f1, 60 f2, null f3 from tversion union
select rnum, c1, c2 from tset1 as t1 where exists ( select * from tset2 where c1=t1.c1 )
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'SubqueryCorrelated_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 10 f1, 15 f2 from tversion union
select tjoin1.c1, tjoin1.c2 from tjoin1 where tjoin1.c1 = any (select tjoin2.c1 from tjoin2 where tjoin2.c1 = tjoin1.c1)
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SubqueryDerivedAliasOrderBy_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 0 f1, 10 f2, 15 f3 from tversion union
select 1 f1, 20 f2, 25 f3 from tversion union
select 2 f1, null f2, 50 f3 from tversion union
select tx.rnum, tx.c1, tx.c2 from (select rnum, c1, c2 from tjoin1 order by c1) tx
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'SubqueryDerivedAssignNames_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 0 f1, 10 f2, 15 f3 from tversion union
select 1 f1, 20 f2, 25 f3 from tversion union
select 2 f1, null f2, 50 f3 from tversion union
select tx.rnumx, tx.c1x, tx.c2x from (select rnum, c1, c2 from tjoin1) tx (rnumx, c1x, c2x)
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'SubqueryDerivedMany_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3,f4, count(*) c  from (
select 0 f1, 10 f2, 15 f3, 'BB' f4 from tversion union
select 0 f1, 10 f2, 15 f3, 'DD' f4 from tversion union
select 0 f1, 10 f2, 15 f3, 'EE' f4 from tversion union
select 0 f1, 10 f2, 15 f3, 'FF' f4 from tversion union
select 1 f1, 20 f2, 25 f3, 'BB' f4 from tversion union
select 1 f1, 20 f2, 25 f3, 'DD' f4 from tversion union
select 1 f1, 20 f2, 25 f3, 'EE' f4 from tversion union
select 1 f1, 20 f2, 25 f3, 'FF' f4 from tversion union
select 2 f1, null f2, 50 f3, 'BB' f4 from tversion union
select 2 f1, null f2, 50 f3, 'DD' f4 from tversion union
select 2 f1, null f2, 50 f3, 'EE' f4 from tversion union
select 2 f1, null f2, 50 f3, 'FF' f4 from tversion union
select tx.rnum, tx.c1, tx.c2, ty.c2 from (select tjoin1.rnum, tjoin1.c1, tjoin1.c2 from tjoin1) tx, (select tjoin2.c2 from tjoin2) ty
) Q
group by
f1,f2,f3,f4
) Q ) P)
union all
(select 'SubqueryDerived_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 0 f1, 10 f2, 15 f3 from tversion union
select 1 f1, 20 f2, 25 f3 from tversion union
select 2 f1, null f2, 50 f3 from tversion union
select tx.rnum, tx.c1, tx.c2 from (select rnum, c1, c2 from tjoin1) tx
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'SubqueryInAggregate_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 0 f1, 10 f2, 1 f3 from tversion union
select 1 f1, 20 f2, 1 f3 from tversion union
select 2 f1, null f2, 1 f3 from tversion union
select rnum, c1, sum( (select 1 from tversion) ) from tjoin1 group by rnum, c1
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'SubqueryInGroupBy_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 3 f1, 4 f2 from tversion union
select (select count(*) from tjoin1),count(*) from tjoin2 group by ( select count(*) from tjoin1 )
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SubqueryInHaving_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 3 f1 from tversion union
select count(*) from tjoin1 having count(*) > ( select count(*) from tversion )
) Q
group by
f1
) Q ) P)
union all
(select 'SubqueryPredicateExists_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 0 f1, 10 f2, 'BB' f3 from tversion union
select 1 f1, 15 f2, 'DD' f3 from tversion union
select 2 f1, null f2, 'EE' f3 from tversion union
select 3 f1, 10 f2, 'FF' f3 from tversion union
select rnum, c1, c2 from tjoin2 where exists ( select c1 from tjoin1)
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'SubqueryPredicateIn_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 0 f1, 10 f2, 'BB' f3 from tversion union
select 1 f1, 15 f2, 'DD' f3 from tversion union
select 2 f1, null f2, 'EE' f3 from tversion union
select 3 f1, 10 f2, 'FF' f3 from tversion union
select rnum, c1, c2 from tjoin2 where 50 in ( select c2 from tjoin1 where c2=50)
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'SubqueryPredicateNotExists_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 0 f1, 10 f2, 'BB' f3 from tversion union
select 1 f1, 15 f2, 'DD' f3 from tversion union
select 2 f1, null f2, 'EE' f3 from tversion union
select 3 f1, 10 f2, 'FF' f3 from tversion union
select rnum, c1, c2 from tjoin2 where not exists ( select c1 from tjoin1 where c2=500)
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'SubqueryNotIn_gp_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where not exists (select tjoin1.rnum, tjoin1.c1 from tjoin1 where tjoin1.c1 not in (select tjoin2.c1 from tjoin2))
) Q
group by
f1
) Q ) P)
union all
(select 'SubqueryOnCondition_gp_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where not exists (select tjoin1.c1, tjoin2.c2 from tjoin1 inner join tjoin2 on ( tjoin1.c1 = tjoin2.c1 and tjoin1.c2 < ( select count(*) from tversion)))
) Q
group by
f1
) Q ) P)
union all
(select 'SubqueryPredicateWhereIn_gp_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 1 f1 from tversion union
select 1 from tversion where not exists (select rnum, c1, c2 from tjoin2 where 50 in ( select c1 from tjoin1))
) Q
group by
f1
) Q ) P)
union all
(select 'SubstringBoundary_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '' f2 from tversion union
select 2 f1, '' f2 from tversion union
select 3 f1, '' f2 from tversion union
select 4 f1, '' f2 from tversion union
select 5 f1, '' f2 from tversion union
select rnum, substring( vchar.cchar from 0 for 0)  from vchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SubstringBoundary_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '' f2 from tversion union
select 2 f1, '' f2 from tversion union
select 3 f1, '' f2 from tversion union
select 4 f1, '' f2 from tversion union
select 5 f1, '' f2 from tversion union
select rnum, substring( vchar.cchar from 100 for 1)  from vchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SubstringBoundary_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '' f2 from tversion union
select 2 f1, '' f2 from tversion union
select 3 f1, '' f2 from tversion union
select 4 f1, '' f2 from tversion union
select 5 f1, '' f2 from tversion union
select rnum, substring( tchar.cchar from 0 for 0)  from tchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SubstringBoundary_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '' f2 from tversion union
select 2 f1, '' f2 from tversion union
select 3 f1, '' f2 from tversion union
select 4 f1, '' f2 from tversion union
select 5 f1, '' f2 from tversion union
select rnum, substring( tchar.cchar from 100 for 1)  from tchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SubstringBoundary_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '' f2 from tversion union
select 2 f1, '' f2 from tversion union
select 3 f1, '' f2 from tversion union
select 4 f1, '' f2 from tversion union
select 5 f1, '' f2 from tversion union
select rnum, substring( vvchar.cvchar from 0 for 0)  from vvchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SubstringBoundary_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '' f2 from tversion union
select 2 f1, '' f2 from tversion union
select 3 f1, '' f2 from tversion union
select 4 f1, '' f2 from tversion union
select 5 f1, '' f2 from tversion union
select rnum, substring( vvchar.cvchar from 100 for 1)  from vvchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SubstringBoundary_p7' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '' f2 from tversion union
select 2 f1, '' f2 from tversion union
select 3 f1, '' f2 from tversion union
select 4 f1, '' f2 from tversion union
select 5 f1, '' f2 from tversion union
select rnum, substring( tvchar.cvchar from 0 for 0)  from tvchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SubstringBoundary_p8' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '' f2 from tversion union
select 2 f1, '' f2 from tversion union
select 3 f1, '' f2 from tversion union
select 4 f1, '' f2 from tversion union
select 5 f1, '' f2 from tversion union
select rnum, substring( tvchar.cvchar from 100 for 1)  from tvchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SubstringCoreBlob_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '' f2 from tversion union
select 2 f1, '' f2 from tversion union
select 3 f1, 'B' f2 from tversion union
select 4 f1, 'E' f2 from tversion union
select 5 f1, 'F' f2 from tversion union
select rnum, substring( tclob.cclob from 2 for 1)  from tclob
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SubstringCoreFixedLength_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, ' ' f2 from tversion union
select 2 f1, ' ' f2 from tversion union
select 3 f1, 'B' f2 from tversion union
select 4 f1, 'E' f2 from tversion union
select 5 f1, 'F' f2 from tversion union
select rnum, substring( vchar.cchar from 2 for 1)  from vchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SubstringCoreFixedLength_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, ' ' f2 from tversion union
select 2 f1, ' ' f2 from tversion union
select 3 f1, 'B' f2 from tversion union
select 4 f1, 'E' f2 from tversion union
select 5 f1, 'F' f2 from tversion union
select rnum, substring( tchar.cchar from 2 for 1)  from tchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SubstringCoreNegativeStart_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select '12' f1 from tversion union
select substring( '1234567890' from -2 for 5)  from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'SubstringCoreNestedFixedLength_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, ' ' f2 from tversion union
select 2 f1, ' ' f2 from tversion union
select 3 f1, 'B' f2 from tversion union
select 4 f1, 'E' f2 from tversion union
select 5 f1, 'F' f2 from tversion union
select vchar.rnum, substring( substring(vchar.cchar from 1 for 2) from 1 for 1) from vchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SubstringCoreNestedFixedLength_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, ' ' f2 from tversion union
select 2 f1, ' ' f2 from tversion union
select 3 f1, 'B' f2 from tversion union
select 4 f1, 'E' f2 from tversion union
select 5 f1, 'F' f2 from tversion union
select tchar.rnum, substring( substring(tchar.cchar from 1 for 2) from 1 for 1) from tchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SubstringCoreNestedVariableLength_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '' f2 from tversion union
select 2 f1, ' ' f2 from tversion union
select 3 f1, 'B' f2 from tversion union
select 4 f1, 'E' f2 from tversion union
select 5 f1, 'F' f2 from tversion union
select vvchar.rnum, substring( substring(vvchar.cvchar from 1 for 2) from 1 for 1) from vvchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SubstringCoreNestedVariableLength_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '' f2 from tversion union
select 2 f1, ' ' f2 from tversion union
select 3 f1, 'B' f2 from tversion union
select 4 f1, 'E' f2 from tversion union
select 5 f1, 'F' f2 from tversion union
select tvchar.rnum, substring( substring(tvchar.cvchar from 1 for 2) from 1 for 1) from tvchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SubstringCoreNoLength_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '' f2 from tversion union
select 2 f1, '' f2 from tversion union
select 3 f1, 'B' f2 from tversion union
select 4 f1, 'E' f2 from tversion union
select 5 f1, 'F' f2 from tversion union
select rnum, substring( vchar.cchar from 2)  from vchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SubstringCoreNoLength_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '' f2 from tversion union
select 2 f1, '' f2 from tversion union
select 3 f1, 'B' f2 from tversion union
select 4 f1, 'E' f2 from tversion union
select 5 f1, 'F' f2 from tversion union
select rnum, substring( tchar.cchar from 2)  from tchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SubstringCoreNoLength_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '' f2 from tversion union
select 2 f1, '' f2 from tversion union
select 3 f1, 'B' f2 from tversion union
select 4 f1, 'E' f2 from tversion union
select 5 f1, 'F' f2 from tversion union
select rnum, substring( vvchar.cvchar from 2)  from vvchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SubstringCoreNoLength_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '' f2 from tversion union
select 2 f1, '' f2 from tversion union
select 3 f1, 'B' f2 from tversion union
select 4 f1, 'E' f2 from tversion union
select 5 f1, 'F' f2 from tversion union
select rnum, substring( tvchar.cvchar from 2)  from tvchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SubstringCoreNullParameters_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select null f1 from tversion union
select substring( '1234567890' from cnnull for 1)  from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'SubstringCoreNullParameters_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select null f1 from tversion union
select substring( '1234567890' from 1 for cnnull)  from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'SubstringCoreVariableLength_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '' f2 from tversion union
select 2 f1, '' f2 from tversion union
select 3 f1, 'B' f2 from tversion union
select 4 f1, 'E' f2 from tversion union
select 5 f1, 'F' f2 from tversion union
select rnum, substring( vvchar.cvchar from 2 for 1)  from vvchar
) Q
group by
f1,f2
) Q ) P)
) b
order by test_name_part
""",
    doc="qp_misc.sql self-checking tests (40): StringPredicateIn_p1 StringPredicateLike_p1 SubqueryColumnAlias_p1 SubqueryCorrelated_p1 SubqueryDerivedAliasOrderBy_p1 SubqueryDerivedAssignNames_p1 SubqueryDerivedMany_p1 SubqueryDerived_p1 SubqueryInAggregate_p1 SubqueryInGroupBy_p1 SubqueryInHaving_p1 SubqueryPredicateExists_p1 SubqueryPredicateIn_p1 SubqueryPredicateNotExists_p1 SubqueryNotIn_gp_p1 SubqueryOnCondition_gp_p1 SubqueryPredicateW",
    tags=("qpmisc",),
    prelude=QPMISC_PRELUDE,
)

register_regress(
    "regress_qpmisc_b25_substring_sum_table_trim_upper_var",
    """
select test_name_part, pass_ind from (
(select 'SubstringCoreVariableLength_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '' f2 from tversion union
select 2 f1, '' f2 from tversion union
select 3 f1, 'B' f2 from tversion union
select 4 f1, 'E' f2 from tversion union
select 5 f1, 'F' f2 from tversion union
select rnum, substring( tvchar.cvchar from 2 for 1)  from tvchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SubstringValueExpr_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 10 f1, 'BB' f2 from tversion union
select tjoin2.c1, tjoin2.c2 from tjoin2 where substring(tjoin2.c2 from 1 for 1) = 'B'
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SubstringCoreLiteral_gp_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, NULL f2 from tversion union
select 0 f1, 'B' f2 from tversion union
select rnum, substring( '' from 2 for 1)  from tversion
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SubstringCoreLiteral_gp_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, NULL f2 from tversion union
select 0 f1, 'B' f2 from tversion union
select rnum, substring( ' ' from 2 for 1)  from tversion
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SubstringCoreLiteral_gp_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, NULL f2 from tversion union
select 0 f1, 'B' f2 from tversion union
select rnum, substring( 'BB' from 2 for 1)  from tversion
) Q
group by
f1,f2
) Q ) P)
union all
(select 'SumDistinct_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 210 f1 from tversion union
select sum( distinct c1 ) from tset1
) Q
group by
f1
) Q ) P)
union all
(select 'TableConstructor_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 10 f1, 'BB' f2 from tversion union
select t1.c1, t1.c2 from (values (10,'BB')) t1(c1,c2)
) Q
group by
f1,f2
) Q ) P)
union all
(select 'TrimBothCoreFixedLength_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '                                ' f2 from tversion union
select 2 f1, '                                ' f2 from tversion union
select 3 f1, '                              ' f2 from tversion union
select 4 f1, 'EE                              ' f2 from tversion union
select 5 f1, 'FF                              ' f2 from tversion union
select vchar.rnum, trim(both 'B' from vchar.cchar )  from vchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'TrimBothCoreFixedLength_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '                                ' f2 from tversion union
select 2 f1, '                                ' f2 from tversion union
select 3 f1, '                              ' f2 from tversion union
select 4 f1, 'EE                              ' f2 from tversion union
select 5 f1, 'FF                              ' f2 from tversion union
select tchar.rnum, trim(both 'B' from tchar.cchar )  from tchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'TrimBothCoreNullParameters_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select null f1 from tversion union
select trim(both ccnull from '++1234567890++' )  from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'TrimBothCoreNullParameters_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select null f1 from tversion union
select trim(both '+' from ccnull )  from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'TrimBothCoreVariableLength_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '' f2 from tversion union
select 2 f1, ' ' f2 from tversion union
select 3 f1, '' f2 from tversion union
select 4 f1, 'EE' f2 from tversion union
select 5 f1, 'FF' f2 from tversion union
select vvchar.rnum, trim(both 'B' from vvchar.cvchar )  from vvchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'TrimBothCoreVariableLength_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '' f2 from tversion union
select 2 f1, ' ' f2 from tversion union
select 3 f1, '' f2 from tversion union
select 4 f1, 'EE' f2 from tversion union
select 5 f1, 'FF' f2 from tversion union
select tvchar.rnum, trim(both 'B' from tvchar.cvchar )  from tvchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'TrimBothException_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 'error' f1 from tversion union
select trim(both '++' from '++1234567890++' )  from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'TrimBothSpacesCore_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select '1234567890' f1 from tversion union
select trim(both from '  1234567890  ' )  from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'TrimCore_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '' f2 from tversion union
select 2 f1, '' f2 from tversion union
select 3 f1, 'BB' f2 from tversion union
select 4 f1, 'EE' f2 from tversion union
select 5 f1, 'FF' f2 from tversion union
select rnum, trim( vchar.cchar )  from vchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'TrimCore_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '' f2 from tversion union
select 2 f1, '' f2 from tversion union
select 3 f1, 'BB' f2 from tversion union
select 4 f1, 'EE' f2 from tversion union
select 5 f1, 'FF' f2 from tversion union
select rnum, trim( tchar.cchar )  from tchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'TrimCore_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '' f2 from tversion union
select 2 f1, '' f2 from tversion union
select 3 f1, 'BB' f2 from tversion union
select 4 f1, 'EE' f2 from tversion union
select 5 f1, 'FF' f2 from tversion union
select rnum, trim( vvchar.cvchar )  from vvchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'TrimCore_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2, count(*) c  from (
select 0 f1, null f2 from tversion union
select 1 f1, '' f2 from tversion union
select 2 f1, '' f2 from tversion union
select 3 f1, 'BB' f2 from tversion union
select 4 f1, 'EE' f2 from tversion union
select 5 f1, 'FF' f2 from tversion union
select rnum, trim( tvchar.cvchar )  from tvchar
) Q
group by
f1,f2
) Q ) P)
union all
(select 'TrimLeadingSpacesCore_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select '1234567890  ' f1 from tversion union
select trim(leading from '  1234567890  ' )  from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'TrimTrailingSpacesCore_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select '  1234567890' f1 from tversion union
select trim(trailing from '  1234567890  ' )  from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'TrimCoreLiteral_gp_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 2 f1 from tversion union
select  length(trim( 'BB ' ))  from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'TrimCoreLiteral_gp_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 2 f1 from tversion union
select  length(trim( 'EE  ' ))  from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'TrimCoreLiteral_gp_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 2 f1 from tversion union
select  length(trim( '  FF      ' ))  from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'UpperCoreFixedLength_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 0 f1, null f2, 'BB' f3 from tversion union
select 1 f1, '                                ' f2, 'BB' f3 from tversion union
select 2 f1, '                                ' f2, 'BB' f3 from tversion union
select 3 f1, 'BB                              ' f2, 'BB' f3 from tversion union
select 4 f1, 'EE                              ' f2, 'BB' f3 from tversion union
select 5 f1, 'FF                              ' f2, 'BB' f3 from tversion union
select vchar.rnum, upper( vchar.cchar ),upper('bb') from vchar
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'UpperCoreFixedLength_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 0 f1, null f2, 'BB' f3 from tversion union
select 1 f1, '                                ' f2, 'BB' f3 from tversion union
select 2 f1, '                                ' f2, 'BB' f3 from tversion union
select 3 f1, 'BB                              ' f2, 'BB' f3 from tversion union
select 4 f1, 'EE                              ' f2, 'BB' f3 from tversion union
select 5 f1, 'FF                              ' f2, 'BB' f3 from tversion union
select tchar.rnum, upper( tchar.cchar ),upper('bb') from tchar
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'UpperCoreSpecial_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 'ß' f1 from tversion union
select upper( 'ß' ) from tversion
) Q
group by
f1
) Q ) P)
union all
(select 'UpperCoreVariableLength_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 0 f1, null f2, 'BB' f3 from tversion union
select 1 f1, '' f2, 'BB' f3 from tversion union
select 2 f1, ' ' f2, 'BB' f3 from tversion union
select 3 f1, 'BB' f2, 'BB' f3 from tversion union
select 4 f1, 'EE' f2, 'BB' f3 from tversion union
select 5 f1, 'FF' f2, 'BB' f3 from tversion union
select vvchar.rnum, upper( vvchar.cvchar ), upper('bb') from vvchar
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'UpperCoreVariableLength_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1,f2,f3, count(*) c  from (
select 0 f1, null f2, 'BB' f3 from tversion union
select 1 f1, '' f2, 'BB' f3 from tversion union
select 2 f1, ' ' f2, 'BB' f3 from tversion union
select 3 f1, 'BB' f2, 'BB' f3 from tversion union
select 4 f1, 'EE' f2, 'BB' f3 from tversion union
select 5 f1, 'FF' f2, 'BB' f3 from tversion union
select tvchar.rnum, upper( tvchar.cvchar ), upper('bb') from tvchar
) Q
group by
f1,f2,f3
) Q ) P)
union all
(select 'VarApproxNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 20.602 f1 from tversion union
select variance( vflt.cflt ) from vflt
) Q
group by
f1
) Q ) P)
union all
(select 'VarApproxNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 20.602 f1 from tversion union
select variance( tflt.cflt ) from tflt
) Q
group by
f1
) Q ) P)
union all
(select 'VarApproxNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 20.602 f1 from tversion union
select variance( vdbl.cdbl ) from vdbl
) Q
group by
f1
) Q ) P)
union all
(select 'VarApproxNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 20.602 f1 from tversion union
select variance( tdbl.cdbl ) from tdbl
) Q
group by
f1
) Q ) P)
union all
(select 'VarApproxNumeric_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 20.602 f1 from tversion union
select variance( vrl.crl ) from vrl
) Q
group by
f1
) Q ) P)
union all
(select 'VarApproxNumeric_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 20.602 f1 from tversion union
select variance( trl.crl ) from trl
) Q
group by
f1
) Q ) P)
union all
(select 'VarExactNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 20.402 f1 from tversion union
select variance( vdec.cdec ) from vdec
) Q
group by
f1
) Q ) P)
union all
(select 'VarExactNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 20.402 f1 from tversion union
select variance( tdec.cdec ) from tdec
) Q
group by
f1
) Q ) P)
union all
(select 'VarExactNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 20.402 f1 from tversion union
select variance( vnum.cnum ) from vnum
) Q
group by
f1
) Q ) P)
union all
(select 'VarExactNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 20.402 f1 from tversion union
select variance( tnum.cnum ) from tnum
) Q
group by
f1
) Q ) P)
union all
(select 'VarInt_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 25.66667 f1 from tversion union
select variance( vint.cint ) from vint
) Q
group by
f1
) Q ) P)
) b
order by test_name_part
""",
    doc="qp_misc.sql self-checking tests (40): SubstringCoreVariableLength_p2 SubstringValueExpr_p1 SubstringCoreLiteral_gp_p1 SubstringCoreLiteral_gp_p2 SubstringCoreLiteral_gp_p3 SumDistinct_p1 TableConstructor_p1 TrimBothCoreFixedLength_p1 TrimBothCoreFixedLength_p2 TrimBothCoreNullParameters_p1 TrimBothCoreNullParameters_p2 TrimBothCoreVariableLength_p1 TrimBothCoreVariableLength_p2 TrimBothException_p1 TrimBothSpacesCore_p1 TrimCore_p1 Tr",
    tags=("qpmisc",),
    prelude=QPMISC_PRELUDE,
)

register_regress(
    "regress_qpmisc_b26_var",
    """
select test_name_part, pass_ind from (
(select 'VarInt_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 25.66667 f1 from tversion union
select variance( tint.cint ) from tint
) Q
group by
f1
) Q ) P)
union all
(select 'VarInt_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 25.66667 f1 from tversion union
select variance( vsint.csint ) from vsint
) Q
group by
f1
) Q ) P)
union all
(select 'VarInt_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 25.66667 f1 from tversion union
select variance( tsint.csint ) from tsint
) Q
group by
f1
) Q ) P)
union all
(select 'VarInt_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 25.66667 f1 from tversion union
select variance( vbint.cbint ) from vbint
) Q
group by
f1
) Q ) P)
union all
(select 'VarInt_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 25.66667 f1 from tversion union
select variance( tbint.cbint ) from tbint
) Q
group by
f1
) Q ) P)
union all
(select 'VarSampApproxNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 20.602 f1 from tversion union
select var_samp( vflt.cflt ) from vflt
) Q
group by
f1
) Q ) P)
union all
(select 'VarSampApproxNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 20.602 f1 from tversion union
select var_samp( tflt.cflt ) from tflt
) Q
group by
f1
) Q ) P)
union all
(select 'VarSampApproxNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 20.602 f1 from tversion union
select var_samp( vdbl.cdbl ) from vdbl
) Q
group by
f1
) Q ) P)
union all
(select 'VarSampApproxNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 20.602 f1 from tversion union
select var_samp( tdbl.cdbl ) from tdbl
) Q
group by
f1
) Q ) P)
union all
(select 'VarSampApproxNumeric_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 20.602 f1 from tversion union
select var_samp( vrl.crl ) from vrl
) Q
group by
f1
) Q ) P)
union all
(select 'VarSampApproxNumeric_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 20.602 f1 from tversion union
select var_samp( trl.crl ) from trl
) Q
group by
f1
) Q ) P)
union all
(select 'VarSampExactNumeric_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 20.402 f1 from tversion union
select var_samp( vdec.cdec ) from vdec
) Q
group by
f1
) Q ) P)
union all
(select 'VarSampExactNumeric_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 20.402 f1 from tversion union
select var_samp( tdec.cdec ) from tdec
) Q
group by
f1
) Q ) P)
union all
(select 'VarSampExactNumeric_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 20.402 f1 from tversion union
select var_samp( vnum.cnum ) from vnum
) Q
group by
f1
) Q ) P)
union all
(select 'VarSampExactNumeric_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 20.402 f1 from tversion union
select var_samp( tnum.cnum ) from tnum
) Q
group by
f1
) Q ) P)
union all
(select 'VarSampInt_p1' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 25.66667 f1 from tversion union
select var_samp( vint.cint ) from vint
) Q
group by
f1
) Q ) P)
union all
(select 'VarSampInt_p2' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 25.66667 f1 from tversion union
select var_samp( tint.cint ) from tint
) Q
group by
f1
) Q ) P)
union all
(select 'VarSampInt_p3' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 25.66667 f1 from tversion union
select var_samp( vsint.csint ) from vsint
) Q
group by
f1
) Q ) P)
union all
(select 'VarSampInt_p4' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 25.66667 f1 from tversion union
select var_samp( tsint.csint ) from tsint
) Q
group by
f1
) Q ) P)
union all
(select 'VarSampInt_p5' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 25.66667 f1 from tversion union
select var_samp( vbint.cbint ) from vbint
) Q
group by
f1
) Q ) P)
union all
(select 'VarSampInt_p6' test_name_part, case when c = 1 then 1 else 0 end pass_ind from (
select count(distinct c) c from (
select f1, count(*) c  from (
select 25.66667 f1 from tversion union
select var_samp( tbint.cbint ) from tbint
) Q
group by
f1
) Q ) P)
) b
order by test_name_part
""",
    doc="qp_misc.sql self-checking tests (21): VarInt_p2 VarInt_p3 VarInt_p4 VarInt_p5 VarInt_p6 VarSampApproxNumeric_p1 VarSampApproxNumeric_p2 VarSampApproxNumeric_p3 VarSampApproxNumeric_p4 VarSampApproxNumeric_p5 VarSampApproxNumeric_p6 VarSampExactNumeric_p1 VarSampExactNumeric_p2 VarSampExactNumeric_p3 VarSampExactNumeric_p4 VarSampInt_p1 VarSampInt_p2 VarSampInt_p3 VarSampInt_p4 VarSampInt_p5 VarSampInt_p6",
    tags=("qpmisc",),
    prelude=QPMISC_PRELUDE,
)
