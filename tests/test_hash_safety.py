"""Driver-hash-safety of the DuckDB oracles' output schemas.

The per-round correctness driver canonicalizes BOTH result frames with
pandas and hashes them; a top-level LIST/MAP/STRUCT output column is
unhashable there and records a harness ERROR even when the values are
right (CORRECTNESS_r01 agg_array_agg; r05: five more). The Spark side
of that invariant is checked on the frame
``tests/test_differential.py::test_query_matches_oracle`` already
builds. This test covers the oracle side for the whole registry, via
DESCRIBE so nothing executes.

Scalarize offenders on both engines (sorted array_join strings /
per-element columns — the array_set_operations pattern,
operators/arrays.py:188).
"""

from __future__ import annotations

from cloudberry_spark.registry import all_queries

#: DuckDB type-name markers of LIST, STRUCT, MAP and UNION columns.
DUCK_COMPLEX = ("[]", "STRUCT(", "MAP(", "UNION(")


def test_oracle_outputs_hash_safe(ddb):
    offenders: list[str] = []
    errors: list[str] = []
    for name, q in sorted(all_queries().items()):
        if q.oracle is None:
            continue
        try:
            rows = ddb.execute(f"DESCRIBE {q.oracle}").fetchall()
        except Exception as ex:
            errors.append(f"{name}: DESCRIBE failed: {str(ex)[:120]}")
            continue
        cf = [
            f"{col}:{typ}"
            for col, typ, *_ in rows
            if any(m in typ for m in DUCK_COMPLEX)
        ]
        if cf:
            offenders.append(f"{name}: {cf}")
    assert not errors, "oracle DESCRIBEs failed:\n" + "\n".join(errors)
    assert not offenders, (
        "complex-typed ORACLE columns would ERROR the driver "
        "(scalarize on BOTH engines):\n" + "\n".join(offenders)
    )
