"""Shared fixtures: one SparkSession + one DuckDB connection per test run.

Mirrors the driver's correctness harness (and the reference's pg_regress +
atmsort comparison, /root/reference/src/test/regress/atmsort.pl): rows are
compared order-insensitively after normalizing floats and timestamps.
"""

from __future__ import annotations

import json
import math
import os
from datetime import date, datetime
from decimal import Decimal

import duckdb
import pytest

from cloudberry_spark.catalog import TABLES
from cloudberry_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def budget_queries(queries: dict) -> dict:
    """Deterministic default subset for the all-registry replay tests.

    The registry has outgrown the external driver's pytest budget
    (r12 verdict: the run truncated unfinished at ~2,700 dots) — a
    green-but-incomplete run breaks the verification contract. By
    default the heavy tests now replay the first SPARK_GRAFT_TEST_MAXQ
    names of ``interleaved_queries()`` — the family-round-robin order
    that leads with never-driver-sampled and recently-changed queries,
    i.e. exactly the slice most likely to catch a new defect — and the
    FULL registry remains covered by (a) the driver's own rotating
    correctness sample and (b) the full-suite runs recorded per round
    via SPARK_GRAFT_TEST_FULL=1 / tools/driver_sim.py sharding.

    The keys of the latest committed CORRECTNESS round ride along.

    SPARK_GRAFT_TEST_FULL=1 (or SPARK_GRAFT_TEST_MAXQ=0) disables the
    cap; the subset is deterministic for a given tree.
    """
    if os.environ.get("SPARK_GRAFT_TEST_FULL"):
        return dict(queries)
    maxq = int(os.environ.get("SPARK_GRAFT_TEST_MAXQ", "300"))
    if maxq <= 0 or maxq >= len(queries):
        return dict(queries)
    from __spark_entry__ import _REPO, _rounds, interleaved_queries

    take = [n for n in interleaved_queries() if n in queries][:maxq]
    # The driver drew its latest sample from the head of this order;
    # once that round is committed those queries sort behind every
    # never-sampled one. Keep replaying them until the next round, so
    # the rotation does not drop what the suite checked a round ago.
    rounds = _rounds(_REPO)
    last = json.loads(rounds[-1].read_text()) if rounds else {}
    take += [n for n in queries if n in last and n not in take]
    return {n: queries[n] for n in take}


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_session("cloudberry-spark-tests")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    yield s


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _norm_value(v):
    """Normalize one cell for cross-engine comparison."""
    if v is None:
        return None
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        if v == 0:
            return 0.0
        # 8 significant digits: tolerant of summation-order noise while
        # still catching real errors.
        return round(v, 8 - 1 - int(math.floor(math.log10(abs(v)))))
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm_value(x) for x in v)
    return v


def normalize_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Sort columns by name, normalize cells, totally order the rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_value(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda r: tuple((x is None, str(x)) for x in r))


def assert_matches_oracle(spark_df, ddb, oracle_sql: str, name: str = "?") -> int:
    """Compare a Spark frame to its DuckDB oracle; returns the row count
    (so callers can fold in the non-vacuousness check without a second
    full execution of the query)."""
    srows = spark_df.collect()
    scols = spark_df.columns
    res = ddb.execute(oracle_sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert len(srows) == len(drows), (
        f"{name}: row count spark={len(srows)} duckdb={len(drows)}"
    )
    assert sorted(c.lower() for c in scols) == sorted(c.lower() for c in dcols), (
        f"{name}: columns spark={sorted(scols)} duckdb={sorted(dcols)}"
    )
    sn = normalize_rows([c.lower() for c in scols], [tuple(r) for r in srows])
    dn = normalize_rows([c.lower() for c in dcols], drows)
    mism = [(a, b) for a, b in zip(sn, dn) if a != b]
    assert not mism, f"{name}: {len(mism)} mismatched rows; first: {mism[:3]}"
    return len(srows)
