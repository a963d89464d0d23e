"""Self-tests of the benchmark's arithmetic and its correctness gate.

    python3 -m pytest perfbench -q -p no:cacheprovider

None of these start Spark.
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import fixture  # noqa: E402
import gate  # noqa: E402
import stats  # noqa: E402
from spans import LAYER_OF, Tracer  # noqa: E402
from workloads import pass_order  # noqa: E402


def test_geomean():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.geomean([0.5, 2.0, 8.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


def test_percentile_interpolates():
    vals = [float(v) for v in range(1, 11)]
    assert stats.percentile(vals, 0.9) == pytest.approx(9.1)
    assert stats.percentile(vals, 0.5) == pytest.approx(5.5)
    assert stats.percentile([3.0], 0.9) == 3.0


def test_warm_summary_takes_medians_over_passes():
    def p(wall, cpu, lat, qcpu):
        return {"wall_s": wall, "cpu_s": cpu, "latency_s": lat, "query_cpu_s": qcpu}

    passes = [
        p(2.0, 4.0, {"a": 1.0, "b": 1.0}, {"a": 2.0, "b": 2.0}),
        p(3.0, 6.0, {"a": 1.0, "b": 2.0}, {"a": 2.0, "b": 4.0}),
        p(9.0, 9.0, {"a": 4.0, "b": 5.0}, {"a": 4.0, "b": 5.0}),  # slowed by the host
        p(1.0, 1.0, {}, {}),  # every query failed: skipped
    ]
    w = stats.warm_summary(passes, ["a", "b", "c"])
    assert w["warm_qpm"] == pytest.approx(40.0)  # median of 60, 40, 13.3
    assert w["cpu_s_per_query"] == pytest.approx(3.0)  # median of 2, 3, 4.5
    assert w["warm_geomean_s"] == pytest.approx(math.sqrt(1.0 * 2.0))
    assert w["warm_p90_s"] == pytest.approx(1.9)
    assert w["warm_cpu_geomean_s"] == pytest.approx(math.sqrt(2.0 * 4.0))
    with pytest.raises(ValueError):
        stats.warm_summary(passes[3:], ["a"])


def test_merged_length_counts_overlap_once():
    assert stats.merged_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert stats.merged_length([(0, 10), (2, 3)]) == pytest.approx(10.0)
    assert stats.merged_length([]) == 0.0


def _span(name, parent, start, end):
    return {"name": name, "parent": parent, "start": start, "end": end}


def test_self_time_and_wall_split():
    sp = [
        _span("pass", None, 0.0, 10.0),
        _span("query", 0, 0.5, 9.5),
        _span("build", 1, 0.5, 4.0),
        _span("translate", 2, 1.0, 2.0),
        _span("ensure_views", 2, 2.0, 2.5),
        _span("execute", 1, 4.0, 9.0),
    ]
    assert stats.self_times(sp) == pytest.approx([1.0, 0.5, 2.0, 1.0, 0.5, 5.0])
    split = stats.wall_split(sp, 0, LAYER_OF)
    assert split["unattributed_s"] == pytest.approx(1.5)  # pass + query self time
    assert split["registry.build_s"] == pytest.approx(2.0)
    assert split["sql.translate_s"] == pytest.approx(1.0)
    assert split["spark.execute_s"] == pytest.approx(5.0)
    assert sum(split.values()) == pytest.approx(10.0)


def test_wall_split_ignores_spans_outside_the_root():
    sp = [
        _span("setup", None, 0.0, 3.0),
        _span("ensure_views", 0, 1.0, 2.0),
        _span("pass", None, 3.0, 5.0),
        _span("execute", 2, 3.0, 4.5),
    ]
    split = stats.wall_split(sp, 2, LAYER_OF)
    assert split == pytest.approx({"unattributed_s": 0.5, "spark.execute_s": 1.5})


def test_tracer_nests_spans_and_skips_when_disabled():
    tr = Tracer()
    with tr.span("pass"):
        pass
    assert tr.spans == []
    tr.enabled = True
    f = tr.wrap("translate", lambda x: x + 1)
    with tr.span("pass") as root:
        assert f(1) == 2
    assert [s["name"] for s in tr.spans] == ["pass", "translate"]
    assert tr.spans[1]["parent"] == root
    assert tr.spans[1]["end"] <= tr.spans[0]["end"]


def test_gate_counts_a_corrupted_result_as_a_failure():
    good = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    bad = good.copy()
    bad.loc[1, "v"] = 1.5000001
    results = {"same": good, "corrupt": bad, "short": good.head(2)}

    def boom(name):
        raise RuntimeError("query failed")

    failures = gate.compare(["same", "corrupt", "short"], results.__getitem__, lambda n: good)
    assert sorted(failures) == ["corrupt", "short"]
    assert gate.compare(["x"], boom, lambda n: good)["x"][0].startswith("error:")
    assert gate.compare(["same"], lambda n: good.iloc[::-1], lambda n: good) == {}


def test_fixture_is_deterministic():
    a = fixture.build_tables(0.001, 7)
    b = fixture.build_tables(0.001, 7)
    assert list(a) == fixture.TABLES
    assert all(a[t].equals(b[t]) for t in fixture.TABLES)
    assert a["lineitem"].num_rows == 6000
    norms = [math.fsum(x * x for x in v) for v in a["embeddings"]["embedding"].to_pylist()]
    assert min(norms) == pytest.approx(1.0, abs=1e-5)


def test_pass_order_is_a_seeded_rotation():
    qs = ("a", "b", "c", "d")
    assert pass_order(qs, 0) == ["a", "b", "c", "d"]
    assert pass_order(qs, 5) == ["b", "c", "d", "a"]
    assert pass_order(qs, 6) != pass_order(qs, 7)
