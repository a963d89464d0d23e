"""The driver's sampled set is derived from the CORRECTNESS_r<N>.json
records: a query counts as sampled once a round records it, unless the
latest round recording it saw a hash mismatch or crashed before a
verdict. No Spark here: stub records in a tmp dir."""

from __future__ import annotations

import json

from __spark_entry__ import driver_sampled


def _round(d, n: int, recs: dict) -> None:
    (d / f"CORRECTNESS_r{n:02d}.json").write_text(json.dumps(recs))


def _rec(hash_match, err=None) -> dict:
    return {"rows_match": hash_match, "schema_match": hash_match,
            "hash_match": hash_match, "spark_rows": 1, "oracle_rows": 1,
            "err": err}


def test_fail_then_pass_is_sampled(tmp_path):
    _round(tmp_path, 1, {"q": _rec(False)})
    _round(tmp_path, 2, {"q": _rec(True)})
    assert driver_sampled(str(tmp_path)) == {"q"}


def test_latest_hash_mismatch_is_not_sampled(tmp_path):
    _round(tmp_path, 1, {"q": _rec(True), "other": _rec(True)})
    # round 10 sorts after round 9 by number, not as text
    _round(tmp_path, 9, {"other": _rec(True)})
    _round(tmp_path, 10, {"q": _rec(False)})
    assert driver_sampled(str(tmp_path)) == {"other"}


def test_no_oracle_is_sampled(tmp_path):
    _round(tmp_path, 1, {"q": _rec(None, err="no_oracle")})
    assert driver_sampled(str(tmp_path)) == {"q"}


def test_crash_without_verdict_is_not_sampled(tmp_path):
    # a comparator crash leaves no hash verdict; the query is still owed
    # a pass, whichever round recorded it
    crash = _rec(None, err="TypeError: unhashable type: 'numpy.ndarray'")
    _round(tmp_path, 1, {"q": crash, "late": _rec(True)})
    _round(tmp_path, 2, {"late": crash})
    assert driver_sampled(str(tmp_path)) == frozenset()


def test_no_records_no_names(tmp_path):
    assert driver_sampled(str(tmp_path)) == frozenset()
