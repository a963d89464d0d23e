"""tools/driver_sim.py comparator units (r5/r6 verdict item: the
simulator must flag the failure classes the real driver flags —
verified here on deliberately-broken fixtures, not live queries)."""

from __future__ import annotations

from types import SimpleNamespace

import pandas as pd
import pytest
from py4j.protocol import Py4JNetworkError

from cloudberry_spark.session import require_conf
from tests.conftest import assert_matches_oracle
from tools.driver_sim import canon_frame, complex_fields, frames_match, lost_session


def test_int_vs_float_dtype_divergence_is_flagged():
    # the CORRECTNESS_r05 window-SUM class: same numbers, int64 vs
    # float64 — the driver's pandas hash mismatches, so must we
    a = pd.DataFrame({"s": pd.Series([1, 2], dtype="int64")})
    b = pd.DataFrame({"s": pd.Series([1.0, 2.0], dtype="float64")})
    assert frames_match(canon_frame(a), canon_frame(b))


def test_complex_cells_raise_like_driver_error():
    # the CORRECTNESS_r01/r05 ARRAY-output class: unhashable cells are
    # a hard TypeError (the driver records a harness ERROR)
    a = pd.DataFrame({"v": [[1, 2], [3]]})
    with pytest.raises(TypeError):
        frames_match(canon_frame(a), canon_frame(a))


def test_no_float_rounding():
    # 12th-significant-digit drift must NOT be coerced away (the old
    # 8-digit rounding hid it)
    a = pd.DataFrame({"x": [1.000000000001]})
    b = pd.DataFrame({"x": [1.000000000002]})
    assert frames_match(canon_frame(a), canon_frame(b))


def test_matching_frames_pass_across_representations():
    # representation-only differences (Decimal vs float64, date object
    # vs datetime64, column order, row order) must match
    import datetime
    from decimal import Decimal

    a = pd.DataFrame(
        {
            "d": [datetime.date(2020, 1, 2), datetime.date(1401, 3, 1)],
            "m": [Decimal("1.50"), Decimal("2.25")],
            "n": pd.Series([7, 8], dtype="int32"),
        }
    )
    b = pd.DataFrame(
        {
            "n": pd.Series([8, 7], dtype="int64"),
            "m": pd.Series([2.25, 1.5], dtype="float64"),
            "d": pd.Series(
                [
                    datetime.datetime(1401, 3, 1),
                    datetime.datetime(2020, 1, 2),
                ]
            ).astype("datetime64[us]"),
        }
    )
    assert frames_match(canon_frame(a), canon_frame(b)) == []


def test_null_vs_empty_string_stays_distinct():
    # the r6 regress_array_literal_casts divergence: '' vs NULL is a
    # REAL semantic difference the comparator must keep visible
    a = pd.DataFrame({"s": [""]})
    b = pd.DataFrame({"s": [None]})
    assert frames_match(canon_frame(a), canon_frame(b))


def test_complex_fields_flags_top_level_array_map_struct():
    # a STRUCT column arrives as hashable Row cells and passes the hash,
    # so the schema check is the one place it is caught
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("a", T.ArrayType(T.LongType())),
            T.StructField("m", T.MapType(T.StringType(), T.LongType())),
            T.StructField("s", T.StructType([T.StructField("x", T.LongType())])),
            T.StructField("n", T.LongType()),
            T.StructField("t", T.StringType()),
            T.StructField("d", T.DecimalType(12, 2)),
        ]
    )
    assert complex_fields(schema) == [
        "a:array<bigint>",
        "m:map<string,bigint>",
        "s:struct<x:bigint>",
    ]
    assert complex_fields(T.StructType(schema.fields[3:])) == []


def test_assert_matches_oracle_flags_int_vs_float(spark, ddb):
    # the suite judges with the driver's comparator: the CORRECTNESS_r05
    # int-vs-float class fails here too, while a representation-only
    # difference (Spark Decimal vs DuckDB double) still matches
    with pytest.raises(AssertionError, match="row-hash mismatches"):
        assert_matches_oracle(spark.sql("SELECT 1 AS x"), ddb, "SELECT 1.0 AS x")
    assert assert_matches_oracle(
        spark.sql("SELECT 1.0 AS x"), ddb, "SELECT 1.0 AS x"
    ) == 1


class _DeadConf:
    def set(self, key, value):
        raise ConnectionRefusedError(111, "Connection refused")


def test_lost_session_is_found_under_a_conf_failure():
    # a dead JVM surfaces as require_conf's RuntimeError, raised from the
    # refused connection: that is one lost session, not a failed query
    with pytest.raises(RuntimeError) as info:
        require_conf(SimpleNamespace(conf=_DeadConf()), "spark.sql.session.timeZone", "UTC")
    assert isinstance(lost_session(info.value), ConnectionRefusedError)
    assert isinstance(lost_session(Py4JNetworkError("gateway gone")), Py4JNetworkError)
    assert lost_session(RuntimeError("cannot resolve column")) is None
