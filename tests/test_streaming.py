"""Streaming surface tests: batch windowing vs the DuckDB oracle, plus a
real Structured Streaming run (file source → watermark → agg → sink).

The reference has no streaming executor — its closest feature is
incremental matview maintenance (commands/matview.c:129) — so these
tests assert the *superset* semantics we chose: Spark event-time windows
whose converged output equals the equivalent batch aggregation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cloudberry_spark.registry import all_queries
from cloudberry_spark.streaming.windows import run_stream_once, stream_events
from tests.conftest import SF_DIR, assert_matches_oracle
from tools.driver_sim import canon_frame, frames_match

BATCH_WINDOW_QUERIES = [
    "stream_tumbling_daily",
    "stream_sliding_counts",
    "stream_session_windows",
    "stream_live_tumbling",
]


@pytest.mark.parametrize("name", BATCH_WINDOW_QUERIES)
def test_window_query_matches_oracle(spark, ddb, name):
    q = all_queries()[name]
    assert_matches_oracle(q.fn(spark, SF_DIR), ddb, q.oracle, name)


def test_streaming_update_mode_subset(spark):
    """Update-mode emissions accumulate to the complete batch result:
    the last emission per key equals the batch aggregate."""
    ev = stream_events(spark, SF_DIR)
    agg = ev.groupBy(F.window("ts", "1 day")).agg(F.count("*").alias("n"))
    out = run_stream_once(agg, "update").select(
        F.col("window.start").alias("s"), "n"
    )
    # Deduplicate to the final emission per window (max n under count-only
    # monotone aggregation), then compare to batch.
    final = out.groupBy("s").agg(F.max("n").alias("n"))
    batch = (
        all_queries()["stream_tumbling_daily"]
        .fn(spark, SF_DIR)
        .groupBy(F.col("win_start").alias("s"))
        .agg(F.sum("n_events").alias("n"))
    )
    assert frames_match(
        canon_frame(final.toPandas()), canon_frame(batch.toPandas())
    ) == []


def test_watermark_present_in_plan(spark):
    """Watermark must appear in the analyzed streaming plan — unbounded
    state at 100 TB/day otherwise."""
    ev = stream_events(spark, SF_DIR, watermark="45 minutes")
    assert "watermark" in ev._jdf.queryExecution().analyzed().toString().lower()


def test_ivm_signed_deltas_equal_full_recompute(spark, tmp_path):
    """Seed, a + delta with a NULL value and two new groups (one holding
    only a NULL), then a − delta that empties a group: the stored view
    equals a full recompute of the final row multiset."""
    from cloudberry_spark.streaming.ivm import apply_delta, create_matview

    schema = "k: string, v: double"
    seed = [("a", 1.10), ("a", 2.20), ("b", 3.30)]
    plus = [("a", None), ("c", 4.40), ("d", None)]
    minus = [("b", 3.30)]
    keys, value = ["k"], "v"
    inc = str(tmp_path / "inc")
    create_matview(spark, inc, spark.createDataFrame(seed, schema), keys, value)
    apply_delta(spark, inc, spark.createDataFrame(plus, schema), keys, value, +1)
    apply_delta(spark, inc, spark.createDataFrame(minus, schema), keys, value, -1)

    full = str(tmp_path / "full")
    final = [("a", 1.10), ("a", 2.20), ("a", None), ("c", 4.40), ("d", None)]
    create_matview(spark, full, spark.createDataFrame(final, schema), keys, value)

    from cloudberry_spark.sources.snapshot import SnapshotTable

    def rows(path):
        return sorted(
            tuple(r) for r in SnapshotTable(path).read(spark).collect()
        )

    got = rows(inc)
    assert got == rows(full)
    assert [r[0] for r in got] == ["a", "c", "d"]  # b emptied and dropped
    assert got[2][1:] == (1, None)  # a NULL-only group sums to NULL
