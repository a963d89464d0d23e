"""Differential test: registered queries vs their DuckDB oracles.

This is the check the driver runs at sf0.01 (CORRECTNESS_r{N}.json), with
its comparator (``tests.conftest.assert_matches_oracle``); running it at
sf0.001 keeps the pytest loop fast. Queries without an oracle get a
weaker runs-and-returns-rows check, read through ``toPandas()`` as the
driver reads them.

Budget contract: the registry is ~1,842 queries and the external
driver's pytest budget cannot replay it twice per run. So each query is
built once, and that frame serves the oracle comparison, the Spark-side
hash-safety check and the non-vacuousness guard (every fixture query
returns >= 1 row at sf0.001 unless tagged ``may_be_empty``). By default
only the ``interleaved_queries()`` prefix runs (see
``tests.conftest.budget_queries``); SPARK_GRAFT_TEST_FULL=1 restores the
full sweep, and SPARK_GRAFT_TEST_SHARD parallelizes it.
"""

from __future__ import annotations

import os

import pytest

from cloudberry_spark.registry import all_queries
from tests.conftest import SF_DIR, assert_matches_oracle, budget_queries
from tools.driver_sim import complex_fields

QUERIES = all_queries()

#: Opt-in sharding for parallel local runs: SPARK_GRAFT_TEST_SHARD="k:n"
#: takes every nth query of the FULL registry starting at k (sharded
#: runs are full-coverage runs — the budget cap does not apply).
_SHARD = os.environ.get("SPARK_GRAFT_TEST_SHARD")
if _SHARD:
    _k, _n = (int(x) for x in _SHARD.split(":"))
    QUERIES = dict(sorted(QUERIES.items())[_k::_n])
else:
    QUERIES = budget_queries(QUERIES)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, ddb):
    q = QUERIES[name]
    df = q.fn(spark, SF_DIR)
    if q.oracle is None:
        n = len(df.toPandas())  # runs end-to-end and converts via Arrow
        assert len(df.columns) > 0
    else:
        cf = complex_fields(df.schema)
        assert not cf, (
            f"{name}: complex top-level output columns {cf} would ERROR "
            "the driver (scalarize on BOTH engines)"
        )
        n = assert_matches_oracle(df, ddb, q.oracle, name=name)
    # vacuous-oracle guard, folded in (empty-on-both still 'matches'):
    # every fixture query should produce at least one row at sf0.001.
    if "may_be_empty" not in q.tags:
        assert n > 0, f"{name} returned no rows at {SF_DIR}"
