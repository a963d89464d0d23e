"""qp_olap_windowerr.sql negative sweep: rejected syntax must fail
LOUDLY, never return silently-wrong rows.

The reference's error corpus (src/test/regress/sql/qp_olap_windowerr.sql,
3,766 lines / 391 statements; expected/qp_olap_windowerr.out records 292
ERRORs: variable frame offsets, negative frame bounds, runtime division
by zero) is parsed from the EXPECTED OUTPUT file, which echoes each
statement followed by either an ERROR line or result rows. Every query
the reference errors on must raise on this engine too — either the
frontend's NotImplementedError (e.g. expression frame bounds, which
Spark's grammar cannot express) or Spark's analysis/ANSI runtime error
(negative frame bound, DIVIDE_BY_ZERO under ANSI mode). A deterministic
40-query slice keeps the sweep fast; the full-corpus classification count is asserted once.
"""

from __future__ import annotations

import functools
import os
import re

import pytest

OUT = "/root/reference/src/test/regress/expected/qp_olap_windowerr.out"

#: only the corpus tests need the reference checkout; the module must
#: still collect (and run its other tests) without it
needs_corpus = pytest.mark.skipif(
    not os.path.exists(OUT), reason="reference corpus not mounted"
)

_FIXTURE = """
CREATE OR REPLACE TEMPORARY VIEW cf_olap_windowerr_customer AS
SELECT * FROM VALUES
  (1, 'Macbeth', 'Inverness'), (2, 'Duncan', 'Forres'),
  (3, 'Lady Macbeth', 'Inverness'), (4, 'Witches, Inc', 'Lonely Heath')
  AS t(cn, cname, cloc);
CREATE OR REPLACE TEMPORARY VIEW cf_olap_windowerr_vendor AS
SELECT * FROM VALUES
  (10, 'Witches, Inc', 'Lonely Heath'), (20, 'Lady Macbeth', 'Inverness'),
  (30, 'Duncan', 'Forres'), (40, 'Macbeth', 'Inverness'),
  (50, 'Macduff', 'Fife') AS t(vn, vname, vloc);
CREATE OR REPLACE TEMPORARY VIEW cf_olap_windowerr_product AS
SELECT * FROM VALUES
  (100, 'Sword', 'Black'), (200, 'Dream', 'Black'), (300, 'Castle', 'Grey'),
  (400, 'Justice', 'Clear'), (500, 'Donuts', 'Plain'),
  (600, 'Donuts', 'Chocolate'), (700, 'Hamburger', 'Grey'),
  (800, 'Fries', 'Grey') AS t(pn, pname, pcolor);
CREATE OR REPLACE TEMPORARY VIEW cf_olap_windowerr_sale_ord AS
SELECT * FROM VALUES
  (1, 2, 40, 100, DATE '1401-01-01', 1100, 2400.0),
  (2, 1, 10, 200, DATE '1401-03-01', 1, 0.0),
  (3, 3, 40, 200, DATE '1401-04-01', 1, 0.0),
  (4, 1, 20, 100, DATE '1401-05-01', 1, 0.0),
  (5, 1, 30, 300, DATE '1401-05-02', 1, 0.0),
  (6, 1, 50, 400, DATE '1401-06-01', 1, 0.0),
  (7, 2, 50, 400, DATE '1401-06-01', 1, 0.0),
  (8, 1, 30, 500, DATE '1401-06-01', 12, 5.0),
  (9, 3, 30, 500, DATE '1401-06-01', 12, 5.0),
  (10, 3, 30, 600, DATE '1401-06-01', 12, 5.0),
  (11, 4, 40, 700, DATE '1401-06-01', 1, 1.0),
  (12, 4, 40, 800, DATE '1401-06-01', 1, 1.0)
  AS t(ord, cn, vn, pn, dt, qty, prc);
CREATE OR REPLACE TEMPORARY VIEW cf_olap_windowerr_sale AS
SELECT cn, vn, pn, dt, qty, prc FROM cf_olap_windowerr_sale_ord;
"""


@functools.cache
def _parse_corpus() -> list[tuple[str, bool]]:
    """(statement, expects_error) pairs from the expected .out file:
    each echoed SELECT runs until a line that is an ERROR (-> True) or
    a result header / next statement (-> False)."""
    out: list[tuple[str, bool]] = []
    cur: list[str] = []
    in_stmt = False
    for line in open(OUT, encoding="utf-8", errors="replace"):
        if in_stmt:
            cur.append(line)
            if line.rstrip().endswith(";"):
                in_stmt = False
                out.append(["".join(cur), None])  # error flag fixed below
                cur = []
            continue
        if re.match(r"(?i)^SELECT\b", line):
            if line.rstrip().endswith(";"):
                out.append([line, None])
            else:
                cur = [line]
                in_stmt = True
            continue
        if out and out[-1][1] is None:
            if line.startswith("ERROR"):
                out[-1][1] = True
            elif line.strip() and not line.startswith("--"):
                out[-1][1] = False
    return [(s, bool(e)) for s, e in out if e is not None]


def _errors() -> list[str]:
    return [s for s, e in _parse_corpus() if e]


#: size of the deterministic spread over the error corpus
_SLICE_LEN = 40


def _slice() -> list[str]:
    errors = _errors()
    return errors[:: max(1, len(errors) // _SLICE_LEN)][:_SLICE_LEN]


@needs_corpus
def test_corpus_classification_counts():
    """The .out parse must recover the corpus's published shape: 292
    ERROR statements (the count greps straight from the file)."""
    n_err_lines = sum(
        1 for ln in open(OUT, errors="replace") if ln.startswith("ERROR")
    )
    assert n_err_lines == 292
    assert len(_errors()) >= 250, (
        f"parser recovered only {len(_errors())} error statements"
    )


@needs_corpus
@pytest.mark.parametrize(
    "i", range(_SLICE_LEN), ids=[f"err{i:03d}" for i in range(_SLICE_LEN)]
)
def test_windowerr_is_loud_on_spark(spark, i):
    """Every statement the reference ERRORs on must raise here too:
    NotImplementedError from translate_pg_sql (construct excluded by
    design, e.g. expression frame bounds), Spark's AnalysisException
    (negative/invalid frame), or an ANSI runtime error (division by
    zero) when the query executes. Silently returning rows would be a
    wrong answer on rejected syntax."""
    from cloudberry_spark.session import configure_session
    from cloudberry_spark.sql.pgcompat import translate_pg_sql

    stmt = _slice()[i]
    configure_session(spark)
    for ddl in _FIXTURE.strip().split(";"):
        if ddl.strip():
            spark.sql(ddl)
    with pytest.raises(Exception):
        spark.sql(translate_pg_sql(stmt.rstrip().rstrip(";"))).collect()
    # Observed failure classes across the slice (all loud): ANSI
    # DIVIDE_BY_ZERO SparkArithmeticException, ParseException on
    # expression frame bounds, AnalysisException NON_FOLDABLE_INPUT on
    # variable-offset lead/lag. (The corpus's ~114 NON-error statements
    # also use variable-offset lead/lag — PG-only, a documented
    # MIGRATION.md gap that fails loudly too, so they stay out of this
    # sweep's scope.)


def test_jiras_5246_mixed_range_offsets_loud(spark):
    """qp_misc_jiras.sql:696 (tbl5246): RANGE BETWEEN interval
    PRECEDING AND integer PRECEDING over a date key — the reference
    ERRORs (qp_misc_jiras.out:1157 'not supported for column type
    date and offset type integer'); here the same statement must
    raise, never silently pick one offset type."""
    from cloudberry_spark.session import configure_session
    from cloudberry_spark.sql.pgcompat import translate_pg_sql

    configure_session(spark)
    spark.sql(
        "SELECT CAST(2 AS INT) AS cn, DATE '1401-01-01' AS dt"
    ).createOrReplaceTempView("tbl5246_sale")
    with pytest.raises(Exception):
        spark.sql(translate_pg_sql(
            "select cn, count(*) over (order by dt range between "
            "'2 day'::interval preceding and 2 preceding) from tbl5246_sale"
        )).collect()
