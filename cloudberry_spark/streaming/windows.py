"""Event-time windowing over the ``events`` table — the engine's
streaming surface (SURVEY.md §2.10).

The reference is batch-only: its closest streaming features are
incremental materialized views (trigger-maintained delta propagation,
/root/reference/src/backend/commands/matview.c:129-151) and
cron-refreshed dynamic tables (commands/createas.c:1858-1890). This
module is therefore a *superset*: the same windowed aggregations exposed
both as batch DataFrame ops (oracle-checkable vs DuckDB) and as true
Structured Streaming jobs (file source → watermark → windowed agg →
sink), the Spark-native realization of an incrementally-maintained
materialized view.

Semantics notes (all verified against the DuckDB oracle):
- ``window()`` buckets are epoch-aligned in the session timezone (UTC
  here), so the oracle reproduces them with integer epoch arithmetic.
- ``session_window(ts, gap)`` ends at ``max(ts) + gap``; two events
  exactly ``gap`` apart do NOT merge (overlap is strict), hence the
  oracle's ``>=`` split condition.

Scale notes: a streaming windowed agg shuffles by (window ⊕ grouping
key) exactly like the batch groupBy — partial aggregation map-side,
state store per key. At 100 TB/day the watermark bounds state size;
without it session state grows unboundedly — so every streaming entry
point here requires an explicit watermark.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from cloudberry_spark import scratch
from cloudberry_spark.catalog import load_table
from cloudberry_spark.registry import register, register_sql

# ---------------------------------------------------------------------------
# Batch windowing (oracle-checkable)
# ---------------------------------------------------------------------------


def _duck_bucket(col: str, seconds: int) -> str:
    """Epoch-aligned bucket start as a µs TIMESTAMP, matching Spark's
    ``window()`` alignment under a UTC session timezone.

    Integer microseconds (``epoch_us``), NOT ``epoch(col)::BIGINT``:
    epoch() returns fractional seconds and the BIGINT cast ROUNDS, so
    an event within 0.5s below a bucket boundary would bucket upward —
    a sub-second off-by-one that only bites when an event lands in
    that window (found by events_slo_burn_rate at sf0.001)."""
    us = seconds * 1_000_000
    return f"make_timestamp((epoch_us({col}) // {us}) * {us})"


@register(
    "stream_tumbling_daily",
    oracle=f"""
        SELECT {_duck_bucket('ts', 86400)} AS win_start,
               {_duck_bucket('ts', 86400)} + INTERVAL 1 DAY AS win_end,
               event_type,
               count(*) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM events
        GROUP BY 1, 2, 3
    """,
    doc="Tumbling 1-day event-time windows per event_type.",
    tags=("streaming", "window", "events"),
)
def stream_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = F.window("ts", "1 day")
    return ev.groupBy(w, "event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    ).select(
        F.col("window.start").alias("win_start"),
        F.col("window.end").alias("win_end"),
        "event_type",
        "n_events",
        "sum_value",
    )


@register(
    "stream_sliding_counts",
    oracle=f"""
        WITH starts AS (
            SELECT e.*, make_timestamp(
                       (((epoch_us(e.ts) // 43200000000) - s.k) * 43200)
                       * 1000000) AS win_start
            FROM events e,
                 (SELECT unnest(generate_series(0, 1)) AS k) s
        )
        SELECT win_start,
               win_start + INTERVAL 1 DAY AS win_end,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users
        FROM starts
        WHERE ts >= win_start AND ts < win_start + INTERVAL 1 DAY
        GROUP BY 1, 2
    """,
    doc="Sliding (hopping) windows: 1-day length, 12-hour slide.",
    tags=("streaming", "window", "events"),
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = F.window("ts", "1 day", "12 hours")
    return ev.groupBy(w).agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    ).select(
        F.col("window.start").alias("win_start"),
        F.col("window.end").alias("win_end"),
        "n_events",
        "n_users",
    )


@register(
    "stream_session_windows",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w >= INTERVAL 1 HOUR
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), numbered AS (
            SELECT *, sum(new_sess) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS sess_id
            FROM flagged
        )
        SELECT user_id,
               min(ts) AS sess_start,
               max(ts) + INTERVAL 1 HOUR AS sess_end,
               count(*) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM numbered
        GROUP BY user_id, sess_id
    """,
    doc="Session windows (1h inactivity gap) per user: gaps-and-islands "
    "in the oracle, session_window() in Spark.",
    tags=("streaming", "window", "session", "events"),
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.session_window("ts", "1 hour"), "user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    ).select(
        "user_id",
        F.col("session_window.start").alias("sess_start"),
        F.col("session_window.end").alias("sess_end"),
        "n_events",
        "sum_value",
    )


# ---------------------------------------------------------------------------
# True Structured Streaming path
# ---------------------------------------------------------------------------

def _events_stream_schema(sf_dir: str) -> tuple[StructType, bool]:
    """File-source schema for events.parquet, probed from the footer.

    The stream source requires a declared schema, and the fixture's ``ts``
    physical type has varied (timestamp[us] vs int64 nanos). Probe the
    parquet footer once — exactly the branch the batch path takes at
    catalog.py — and return (schema, ts_is_int64_nanos). Declaring the
    wrong type silently mis-times every event (int64 µs read as ns →
    everything lands in 1970), so this must follow the file, not a guess.
    """
    ts_type: object = TimestampType()
    ts_is_long = False
    try:
        import pyarrow.parquet as pq

        t = pq.read_schema(
            os.path.join(sf_dir, "events.parquet")
        ).field("ts").type
        ts_is_long = str(t).startswith("int")
    except Exception:
        pass
    if ts_is_long:
        ts_type = LongType()
    return (
        StructType(
            [
                StructField("event_id", LongType()),
                StructField("ts", ts_type),
                StructField("user_id", LongType()),
                StructField("event_type", StringType()),
                StructField("value", DoubleType()),
                StructField("props", StringType()),
            ]
        ),
        ts_is_long,
    )


def stream_events(
    spark: SparkSession, sf_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """events.parquet as a watermarked file-source stream.

    The file source is the availableNow/backfill pattern: at production
    scale the same plan runs over a landing directory with new files
    appearing continuously; locally it replays the fixture.
    """
    schema, ts_is_long = _events_stream_schema(sf_dir)
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        # File source requires a directory; glob-filter to the events table.
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    if ts_is_long:
        # int64 nanos → µs timestamp; integer division (see catalog.py).
        raw = raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    return raw.withWatermark("ts", watermark)


def run_stream_once(result: DataFrame, output_mode: str) -> DataFrame:
    """Run a streaming aggregation to completion (Trigger.AvailableNow)
    into a memory sink; return the sink contents as a DataFrame.

    Memory sink is test/dev only — production writes parquet/Kafka. The
    plan (source → watermarked window agg → sink) is identical.
    """
    name = f"strm_{uuid.uuid4().hex[:12]}"
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return result.sparkSession.table(name)


@register(
    "stream_live_tumbling",
    oracle=f"""
        SELECT {_duck_bucket('ts', 86400)} AS win_start,
               event_type,
               count(*) AS n_events
        FROM events
        GROUP BY 1, 2
    """,
    doc="Structured Streaming job (file source, 1h watermark, complete "
    "mode) whose converged output equals the batch/oracle aggregation — "
    "the IVM equivalence (matview.c:129) realized on Spark.",
    tags=("streaming", "live", "events"),
)
def stream_live_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    agg = ev.groupBy(F.window("ts", "1 day"), "event_type").agg(
        F.count("*").alias("n_events")
    )
    out = run_stream_once(agg, "complete")
    return out.select(
        F.col("window.start").alias("win_start"), "event_type", "n_events"
    )


@register(
    "events_funnel",
    oracle="""
        WITH firsts AS (
            SELECT user_id,
                   min(ts) FILTER (WHERE event_type = 'view')     AS t_view,
                   min(ts) FILTER (WHERE event_type = 'click')    AS t_click,
                   min(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
            FROM events
            GROUP BY user_id
        )
        SELECT count(*) AS n_users,
               count(t_view) AS n_view,
               count(CASE WHEN t_click > t_view THEN 1 END) AS n_view_click,
               count(CASE WHEN t_click > t_view AND t_purchase > t_click
                          THEN 1 END) AS n_full_funnel
        FROM firsts
    """,
    doc="Ordered funnel analysis (view → click → purchase by first-"
    "occurrence time per user): the event-analytics workload the "
    "reference would hand-write with subqueries; here one conditional-"
    "aggregation pass — single shuffle on user_id, no self-joins.",
    tags=("events", "funnel", "analytics"),
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    first_of = lambda t: F.min(  # noqa: E731
        F.when(F.col("event_type") == t, F.col("ts"))
    )
    firsts = ev.groupBy("user_id").agg(
        first_of("view").alias("t_view"),
        first_of("click").alias("t_click"),
        first_of("purchase").alias("t_purchase"),
    )
    return firsts.agg(
        F.count("*").alias("n_users"),
        F.count("t_view").alias("n_view"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1)).alias(
            "n_view_click"
        ),
        F.count(
            F.when(
                (F.col("t_click") > F.col("t_view"))
                & (F.col("t_purchase") > F.col("t_click")),
                1,
            )
        ).alias("n_full_funnel"),
    )


@register(
    "events_retention_cohorts",
    oracle="""
        WITH cohorts AS (
            SELECT user_id,
                   make_timestamp(((epoch_us(min(ts)) // 604800000000) * 604800)
                                  * 1000000) AS cohort_week
            FROM events GROUP BY user_id
        ), activity AS (
            SELECT DISTINCT e.user_id, c.cohort_week,
                   CAST((epoch_us(e.ts) // 604800000000)
                        - (epoch_us(c.cohort_week) // 604800000000) AS BIGINT)
                       AS week_offset
            FROM events e JOIN cohorts c ON e.user_id = c.user_id
        )
        SELECT cohort_week, week_offset, count(*) AS n_active
        FROM activity
        GROUP BY cohort_week, week_offset
    """,
    doc="Weekly retention cohorts: first-seen week per user, distinct "
    "active (cohort, offset) cells — two shuffles (user_id, then "
    "cohort/offset), both key-bounded.",
    tags=("events", "retention", "analytics"),
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    week = lambda c: (F.unix_timestamp(c) / 604800).cast("bigint")  # noqa: E731
    cohorts = ev.groupBy("user_id").agg(
        F.timestamp_seconds(week(F.min("ts")) * 604800).alias("cohort_week")
    )
    activity = (
        ev.join(cohorts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (week(F.col("ts")) - week(F.col("cohort_week"))).alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count("*").alias("n_active")
    )


@register(
    "stream_dedup_watermark",
    oracle="""
        SELECT event_type, count(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY event_type ORDER BY event_type
    """,
    doc="Streaming exact deduplication: dropDuplicates on (event_type, "
    "user_id) under a watermark, then a downstream count — chained "
    "stateful operators (dedup state + agg state), the streaming form "
    "of the pipeline's exact-dedup stage. The watermark bounds the "
    "dedup state: at 100 TB/day the state store holds only keys inside "
    "the lateness horizon instead of the full history. Converged "
    "availableNow output equals the batch COUNT(DISTINCT) oracle.",
    tags=("streaming", "dedup", "stateful"),
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    deduped = ev.dropDuplicates(["event_type", "user_id"])
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_users"))
    out = run_stream_once(agg, "complete")
    return out.select("event_type", "n_users").orderBy("event_type")


@register(
    "stream_stream_join",
    oracle="""
        SELECT CAST(date_trunc('day', v.ts) AS TIMESTAMP) AS day,
               count(*) AS n_pairs
        FROM events v
        JOIN events c
          ON c.user_id = v.user_id
         AND v.event_type = 'view'
         AND c.event_type = 'click'
         AND c.ts >= v.ts
         AND c.ts <= v.ts + INTERVAL 1 HOUR
        GROUP BY day ORDER BY day
    """,
    doc="Stream-stream interval join (beyond the batch-only reference; "
    "the streaming analog of its theta joins): the views stream joins "
    "the clicks stream per user with click in [view_ts, view_ts+1h]. "
    "Both sides carry watermarks, so each side's join state is evicted "
    "once the other's watermark passes the interval bound — bounded "
    "memory at 100 TB/day, where an unwatermarked join would buffer "
    "both firehoses forever. Converged availableNow output equals the "
    "batch interval-join oracle; the per-day count is aggregated in a "
    "follow-up batch pass over the sink (pairs are append-mode output).",
    tags=("streaming", "join", "stateful"),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    views = stream_events(spark, sf_dir).where(F.col("event_type") == "view")
    clicks = (
        stream_events(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    joined = views.join(
        clicks,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") >= F.col("ts"))
        & (F.col("c_ts") <= F.col("ts") + F.expr("INTERVAL 1 HOUR")),
    )
    pairs = run_stream_once(joined.select("user_id", "ts", "c_ts"), "append")
    return (
        pairs.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("day")
    )


@register(
    "events_batch_sessionize",
    oracle="""
        WITH ordered AS (
            SELECT user_id, ts,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     AS prev_ts
            FROM events
        ), marked AS (
            SELECT user_id, ts,
                   CASE WHEN prev_ts IS NULL
                             OR ts - prev_ts > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_session
            FROM ordered
        ), sess AS (
            SELECT user_id,
                   sum(new_session) OVER (PARTITION BY user_id
                                          ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS session_id
            FROM marked
        )
        SELECT user_id,
               count(DISTINCT session_id) AS n_sessions,
               count(*) AS n_events
        FROM sess GROUP BY user_id ORDER BY user_id
    """,
    doc="Batch sessionization — the lag/gap-flag/running-sum idiom "
    "(30-min inactivity gap): the SQL-expressible twin of "
    "stream_stateful_sessionize, so its oracle is exact instead of "
    "rows-only. One shuffle on user_id; both windows share the same "
    "partitioning so Catalyst plans a single exchange.",
    tags=("events", "sessionize", "window"),
)
def events_batch_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w_lag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id",
        "ts",
        F.when(
            F.lag("ts").over(w_lag).isNull()
            | (
                F.unix_timestamp("ts")
                - F.unix_timestamp(F.lag("ts").over(w_lag))
                > 1800
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = marked.select(
        "user_id", F.sum("new_session").over(w_run).alias("session_id")
    )
    return (
        sess.groupBy("user_id")
        .agg(
            F.countDistinct("session_id").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


@register(
    "events_resample_ffill",
    oracle="""
        WITH ranked AS (
            SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, value,
                   row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ), daily AS (
            SELECT user_id, day, value AS day_last FROM ranked WHERE rn = 1
        ), spans AS (
            SELECT user_id, min(day) AS d0, max(day) AS d1
            FROM daily GROUP BY user_id
        ), grid AS (
            SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
            FROM spans
        ), joined AS (
            SELECT g.user_id, g.day, d.day_last,
                   last_value(d.day_last IGNORE NULLS) OVER (
                       PARTITION BY g.user_id ORDER BY g.day
                       ROWS UNBOUNDED PRECEDING) AS filled
            FROM grid g LEFT JOIN daily d
              ON d.user_id = g.user_id AND d.day = g.day
        )
        SELECT user_id,
               count(*) AS n_grid_days,
               count(day_last) AS n_observed_days,
               round(sum(filled), 6) AS sum_filled
        FROM joined GROUP BY user_id ORDER BY user_id
    """,
    doc="Time-series resample to a daily grid with forward fill (LOCF) — "
    "the gap-fill sibling of linear_interpolate (adt/interpolate.c): "
    "per-entity calendar spine via sequence+explode, left join of "
    "observed last-of-day values, then last(... ignorenulls) carries "
    "observations forward. The spine is generated per user (no "
    "cross-join against a global calendar), and every window shares the "
    "user_id partitioning — one exchange end-to-end.",
    tags=("events", "timeseries", "gapfill"),
)
def events_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w_pick = Window.partitionBy("user_id", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    daily = (
        ev.withColumn("day", F.to_date(F.date_trunc("day", "ts")))
        .withColumn("rn", F.row_number().over(w_pick))
        .where(F.col("rn") == 1)
        .select("user_id", "day", F.col("value").alias("day_last"))
    )
    spans = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = spans.select(
        "user_id",
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day"),
    )
    w_fill = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    joined = grid.join(daily, ["user_id", "day"], "left").withColumn(
        "filled", F.last("day_last", ignorenulls=True).over(w_fill)
    )
    return (
        joined.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_grid_days"),
            F.count("day_last").alias("n_observed_days"),
            F.round(F.sum("filled"), 6).alias("sum_filled"),
        )
        .orderBy("user_id")
    )


@register(
    "stream_checkpoint_exactly_once",
    oracle="""
        SELECT event_type, count(*) AS n_events
        FROM events
        GROUP BY event_type ORDER BY event_type
    """,
    doc="Exactly-once file sink via checkpointed source offsets: the "
    "same availableNow stream runs TWICE against one "
    "checkpointLocation — the second run finds the source offsets "
    "already committed and processes nothing, so the parquet sink "
    "holds exactly one copy of every event (the batch-count oracle "
    "proves no duplication). This is the recovery contract a 100 "
    "TB/day ingest needs: a crashed/restarted job resumes from the "
    "offset log instead of re-ingesting (the reference's closest "
    "analog is WAL-replayed COPY, but with at-least-once semantics).",
    tags=("streaming", "checkpoint", "exactly-once"),
)
def stream_checkpoint_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    sink = scratch.path(sf_dir, "stream_eo_sink")
    ckpt = scratch.path(sf_dir, "stream_eo_ckpt")
    shutil.rmtree(sink, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    def run_once() -> None:
        q = (
            stream_events(spark, sf_dir)
            .select("event_id", "event_type")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    run_once()  # must be a no-op: offsets already committed
    back = spark.read.parquet(sink)
    return (
        back.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("event_type")
    )


@register(
    "events_anomaly_zscore",
    oracle="""
        WITH stats AS (
            SELECT user_id, event_id, value,
                   avg(value) OVER (PARTITION BY user_id) AS mu,
                   stddev_samp(value) OVER (PARTITION BY user_id) AS sigma
            FROM events
        )
        SELECT user_id,
               count(*) AS n_events,
               CAST(sum(CASE WHEN abs(value - mu) > 3 * sigma
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
               round(max(abs(value - mu) / sigma), 6) AS max_z
        FROM stats
        GROUP BY user_id ORDER BY user_id
    """,
    doc="Per-entity z-score anomaly detection (3-sigma rule over an "
    "unbounded window): whole-partition mean/stddev as window "
    "aggregates — one shuffle on user_id, stats and flags in the same "
    "pass (no stats-then-rejoin round trip). The telemetry QA sweep a "
    "training pipeline runs over metric streams.",
    tags=("events", "anomaly", "window", "stats"),
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    stats = ev.select(
        "user_id",
        "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sigma"),
    )
    z = F.abs(F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        stats.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("mu")) > 3 * F.col("sigma"), 1
                ).otherwise(0)
            ).alias("n_anomalies"),
            F.round(F.max(z), 6).alias("max_z"),
        )
        .orderBy("user_id")
    )


register_sql(
    "events_top_paths",
    """
    WITH seq AS (
        SELECT user_id, event_type AS e1,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e1, e2, e3, count(*) AS n
    FROM seq WHERE e3 IS NOT NULL
    GROUP BY e1, e2, e3
    ORDER BY n DESC, e1, e2, e3
    LIMIT 15
    """,
    doc="Behavioral path mining: most frequent 3-event sequences per "
    "user via lead() windows (no self-joins — the naive form is two "
    "self-joins on (user, seq+1)); one shuffle on user_id, then a "
    "count-topk. Identical SQL both engines.",
    tags=("events", "paths", "window", "analytics"),
)

register_sql(
    "agg_corr_matrix",
    """
    SELECT round(corr(l_quantity, l_extendedprice), 6) AS c_qty_price,
           round(corr(l_quantity, l_discount), 6)      AS c_qty_disc,
           round(corr(l_quantity, l_tax), 6)           AS c_qty_tax,
           round(corr(l_extendedprice, l_discount), 6) AS c_price_disc,
           round(corr(l_extendedprice, l_tax), 6)      AS c_price_tax,
           round(corr(l_discount, l_tax), 6)           AS c_disc_tax
    FROM lineitem
    """,
    doc="Pairwise correlation matrix (regr_*/corr family, "
    "adt/float.c): all 6 pairs among 4 measures in ONE scan — partial "
    "moment aggregation, a single exchange carrying 6 moment tuples.",
    tags=("agg", "stats", "analytics"),
)


# ---------------------------------------------------------------------------
# foreachBatch keyed MERGE upsert (streaming DML sink)
# ---------------------------------------------------------------------------


@register(
    "stream_foreachbatch_upsert",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events),
    counts AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id)
    SELECT c.user_id, c.n_events,
           r.event_id AS last_event_id,
           round(r.value, 6) AS last_value
    FROM counts c JOIN ranked r ON r.user_id = c.user_id AND r.rn = 1
    ORDER BY c.user_id
    """,
    doc="Streaming MERGE upsert via foreachBatch: a keyed state table "
    "(per-user running count + last-write-wins latest event) maintained "
    "by per-batch copy-on-write MERGE — read current state, full-merge "
    "the batch delta (sum counts, struct-max recency), write a NEW "
    "version, atomically flip a pointer file. The source is split into "
    "2 files with maxFilesPerTrigger=1, so the merge-into-EXISTING-keys "
    "path genuinely executes across batches; the whole stream then runs "
    "a SECOND time against the same checkpoint and must be a no-op "
    "(exactly-once offsets), or counts would double. This is the "
    "Structured-Streaming analog of the reference's trigger-maintained "
    "IVM upsert (commands/matview.c IVM_ADD) and the idempotent-restart "
    "contract of nodeModifyTable.c MERGE.",
    tags=("streaming", "dml", "exactly-once"),
)
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from cloudberry_spark.sources.snapshot import SnapshotTable

    src = scratch.path(sf_dir, "stream_fb_src")
    state_root = scratch.path(sf_dir, "stream_fb_state")
    ckpt = scratch.path(sf_dir, "stream_fb_ckpt")
    for p in (src, ckpt):
        shutil.rmtree(p, ignore_errors=True)

    # Source prep: events as (event_id, user_id, value, ts_us-long), split
    # into two files so maxFilesPerTrigger=1 yields two real batches.
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    ev.where(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    ev.where(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("value", DoubleType()),
            StructField("ts_us", LongType()),
        ]
    )

    # state table IS a SnapshotTable: the same manifest + O_EXCL commit
    # + pointer flip every dml_* operator rides — the streaming MERGE is
    # just commit_rewrite per micro-batch, the first one included, since
    # the table starts out empty
    st = SnapshotTable.init(
        state_root,
        spark.createDataFrame(
            [],
            "user_id BIGINT, n_events BIGINT, "
            "last STRUCT<ts_us: BIGINT, event_id: BIGINT, value: DOUBLE>",
        ),
    )

    def upsert(batch: DataFrame, batch_id: int) -> None:
        delta = batch.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(F.struct("ts_us", "event_id", "value")).alias("last"),
        )
        base = st.current_version()
        merged = (
            st.read(batch.sparkSession, base)
            .unionByName(delta)
            .groupBy("user_id")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.max("last").alias("last"),
            )
        )
        st.commit_rewrite(merged, base, label=f"batch{batch_id}")

    def run_once() -> None:
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(upsert)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    run_once()  # restart: committed offsets => no-op, counts must not double

    return st.read(spark).select(
        "user_id",
        "n_events",
        F.col("last.event_id").alias("last_event_id"),
        F.round(F.col("last.value"), 6).alias("last_value"),
    ).orderBy("user_id")


register_sql(
    "events_funnel_time_bounded",
    """
    WITH v AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
        FROM events GROUP BY user_id
    ), c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click'
          AND v.t_view IS NOT NULL
          AND e.ts > v.t_view
          AND e.ts <= v.t_view + INTERVAL 24 HOUR
        GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase'
          AND e.ts > c.t_click
          AND e.ts <= c.t_click + INTERVAL 24 HOUR
        GROUP BY e.user_id
    )
    SELECT count(v.t_view)     AS n_view,
           count(c.t_click)    AS n_click_24h,
           count(p.t_purchase) AS n_purchase_24h
    FROM v
    LEFT JOIN c ON c.user_id = v.user_id
    LEFT JOIN p ON p.user_id = v.user_id
    """,
    doc="Time-bounded strict funnel (view -> click within 24h -> "
    "purchase within 24h of that click): the windowed-conversion "
    "semantics product analytics actually bill on, vs events_funnel's "
    "unbounded ordering. Each stage is one co-partitioned "
    "join+aggregate on user_id — the exchange is reused down the "
    "chain, no self-join explosion, interval arithmetic identical on "
    "both engines. Dialect-portable text shared with the oracle.",
    tags=("events", "funnel", "analytics"),
)


register_sql(
    "events_autocorr_lag1",
    """
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS c
        FROM events
        GROUP BY user_id, CAST(ts AS DATE)
    ), lagged AS (
        SELECT user_id, c,
               lag(c) OVER (PARTITION BY user_id ORDER BY d) AS c_prev
        FROM daily
    )
    SELECT count(*) AS n_pairs,
           round(corr(c, c_prev), 6) AS lag1_autocorr,
           round(avg(c), 6) AS mean_daily_events
    FROM lagged
    WHERE c_prev IS NOT NULL
    """,
    doc="Lag-1 autocorrelation of per-user daily activity (time-series "
    "burstiness diagnostic; corr() over lag() pairs — the reference's "
    "float8_corr after a window shift): near 0 = memoryless traffic, "
    "positive = bursty sessions, negative = alternating. One grouped "
    "count, one window per user, one corr aggregate. Dialect-portable "
    "text shared with the oracle.",
    tags=("events", "timeseries", "analytics"),
)


register_sql(
    "events_interarrival_buckets",
    """
    WITH seq AS (
        SELECT event_type,
               gap_us div 1000000 AS gap_s
        FROM (
            SELECT event_type,
                   unix_micros(CAST(ts AS TIMESTAMP))
                    - lag(unix_micros(CAST(ts AS TIMESTAMP)))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS gap_us
            FROM events
        ) t
        WHERE gap_us IS NOT NULL
    )
    SELECT event_type,
           width_bucket(gap_s, 0, 86400, 6) AS gap_bucket,
           count(*) AS n,
           min(gap_s) AS min_gap_s,
           max(gap_s) AS max_gap_s
    FROM seq
    GROUP BY event_type, width_bucket(gap_s, 0, 86400, 6)
    ORDER BY event_type, gap_bucket
    """,
    oracle="""
    WITH seq AS (
        SELECT event_type,
               gap_us // 1000000 AS gap_s
        FROM (
            SELECT event_type,
                   epoch_us(ts)
                    - lag(epoch_us(ts))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS gap_us
            FROM events
        ) t
        WHERE gap_us IS NOT NULL
    )
    SELECT event_type,
           CASE WHEN gap_s >= 86400 THEN 7
                ELSE (gap_s * 6) // 86400 + 1 END AS gap_bucket,
           count(*) AS n,
           min(gap_s) AS min_gap_s,
           max(gap_s) AS max_gap_s
    FROM seq
    GROUP BY event_type,
             CASE WHEN gap_s >= 86400 THEN 7
                  ELSE (gap_s * 6) // 86400 + 1 END
    ORDER BY event_type, gap_bucket
    """,
    doc="Inter-arrival time distribution per event type (queueing/"
    "burstiness profile; width_bucket over per-user lag() deltas — "
    "the reference's float8 width_bucket on a window shift): 6 "
    "equal-width buckets across 0-24h plus the overflow bucket. "
    "Integer-second gaps from integer-microsecond arithmetic keep "
    "bucket boundaries exact on both engines. One window per user + "
    "one grouped count over the bounded (type x bucket) space.",
    tags=("events", "timeseries", "analytics"),
)


@register(
    "events_peak_concurrency",
    oracle="""
    WITH bounds AS (
        SELECT ts AS t, 1 AS delta FROM events
        UNION ALL
        SELECT ts + INTERVAL 1 HOUR AS t, -1 AS delta FROM events
    ), sweep AS (
        SELECT t, delta,
               sum(delta) OVER (ORDER BY t, delta
                                ROWS UNBOUNDED PRECEDING) AS active
        FROM bounds
    )
    SELECT CAST(t AS DATE) AS d,
           CAST(max(active) AS BIGINT) AS peak_concurrent
    FROM sweep
    GROUP BY CAST(t AS DATE)
    ORDER BY d
    """,
    doc="Peak concurrency per day via the sweep-line algorithm (max "
    "simultaneous 1-hour activity windows — the capacity-planning "
    "query interval self-joins answer quadratically): each interval "
    "contributes +1 at start and -1 at end, the global running sum of "
    "deltas IS the live-interval count, max per day. Ends sort before "
    "starts at identical instants (delta ascending) so touching "
    "intervals don't double-count. The global cumulative sum runs on "
    "the partial/final distributed prefix sum (pipeline.text._"
    "distributed_prefix_sum) — no single-partition window, so the "
    "sweep scales to 100 TB of intervals; the oracle uses the plain "
    "SQL window.",
    tags=("events", "timeseries", "sweep"),
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cloudberry_spark.pipeline.text import _distributed_prefix_sum

    ev = load_table(spark, sf_dir, "events")
    starts = ev.select(F.col("ts").alias("t"), F.lit(1).alias("delta"))
    ends = ev.select(
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("t"),
        F.lit(-1).alias("delta"),
    )
    bounds = starts.unionAll(ends)
    sweep = _distributed_prefix_sum(bounds, val="delta", keys=("t", "delta"))
    return (
        sweep.groupBy(F.col("t").cast("date").alias("d"))
        .agg(F.max("cum").alias("peak_concurrent"))
        .orderBy("d")
    )


@register(
    "stream_session_window_native",
    oracle="""
    WITH u AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL 30 MINUTE
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events WHERE user_id <= 20
    ), s AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_no
        FROM u
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 6) AS sum_value
    FROM s
    GROUP BY user_id, session_no
    ORDER BY user_id, session_start
    """,
    doc="NATIVE session windows in Structured Streaming "
    "(F.session_window, 30-minute gap): the built-in state-store "
    "sessionization — merging windows as events arrive — vs the "
    "applyInPandasWithState custom operator already covered by "
    "stream_stateful_sessionize. Converged availableNow output must "
    "equal the batch gap-islands oracle (lag > gap starts a session; "
    "session end = last event + gap, Spark's session_window.end "
    "semantics). State is per (user, open session) — bounded by the "
    "watermark at production scale.",
    tags=("streaming", "live", "session"),
)
def stream_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir).where(F.col("user_id") <= 20)
    agg = ev.groupBy(
        F.session_window("ts", "30 minutes"), "user_id"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )
    out = run_stream_once(agg, "complete")
    return out.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
        "sum_value",
    ).orderBy("user_id", "session_start")


@register(
    "stream_static_join",
    oracle=f"""
    SELECT {{bucket}} AS win_start,
           c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(e.value), 6) AS sum_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
    ORDER BY 1, 2
    """.format(bucket=_duck_bucket("e.ts", 86400)),
    doc="Stream-static join: the watermarked event stream joins the "
    "static customer dimension (broadcast — the dimension is a plain "
    "batch DataFrame, re-read per micro-batch, so slowly-changing "
    "dims pick up updates between batches), then a tumbling daily "
    "aggregation per market segment. This is the streaming half of "
    "the reference's most common star-join shape; no stream-side "
    "state beyond the window aggregation.",
    tags=("streaming", "live", "join"),
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    joined = ev.join(F.broadcast(cust), ev["user_id"] == cust["c_custkey"])
    agg = joined.groupBy(F.window("ts", "1 day"), "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )
    out = run_stream_once(agg, "complete")
    return out.select(
        F.col("window.start").alias("win_start"),
        "c_mktsegment",
        "n_events",
        "sum_value",
    ).orderBy("win_start", "c_mktsegment")


@register(
    "events_attribution_last_touch",
    oracle="""
    WITH seq AS (
        SELECT user_id, ts, event_type,
               last_value(CASE WHEN event_type IN ('view', 'click')
                               THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS touch_type,
               last_value(CASE WHEN event_type IN ('view', 'click')
                               THEN ts END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS touch_ts
        FROM events
    )
    SELECT coalesce(CASE WHEN touch_ts >= ts - INTERVAL 7 DAY
                         THEN touch_type END, 'unattributed') AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases
    FROM seq
    WHERE event_type = 'purchase'
    GROUP BY 1
    ORDER BY 1
    """,
    doc="Last-touch marketing attribution: each purchase credits the "
    "user's most recent view/click within a 7-day lookback, else "
    "'unattributed'. One window pass per user (last_value IGNORE "
    "NULLS over the preceding frame — the reference writes this with "
    "DISTINCT ON over a LATERAL subquery; here it is a single "
    "shuffle on user_id, no self-join). The (ts, event_id) ordering "
    "key makes simultaneous events deterministic cross-engine.",
    tags=("events", "analytics", "attribution"),
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("event_type").isin("view", "click"), F.col("event_type")
    )
    touch_ts = F.when(F.col("event_type").isin("view", "click"), F.col("ts"))
    seq = ev.select(
        "event_type",
        "ts",
        F.last(touch, ignorenulls=True).over(w).alias("touch_type"),
        F.last(touch_ts, ignorenulls=True).over(w).alias("touch_ts"),
    )
    return (
        seq.where(F.col("event_type") == "purchase")
        .select(
            F.coalesce(
                F.when(
                    F.col("touch_ts")
                    >= F.col("ts") - F.expr("INTERVAL 7 DAY"),
                    F.col("touch_type"),
                ),
                F.lit("unattributed"),
            ).alias("channel")
        )
        .groupBy("channel")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
        .orderBy("channel")
    )


@register(
    "events_pattern_vshape",
    oracle="""
    WITH seq AS (
        SELECT user_id, ts, value,
               lag(value)  OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_v,
               lead(value) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS next_v
        FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_vshapes,
           round(min(value), 6) AS deepest_trough
    FROM seq
    WHERE prev_v > value AND next_v > value
    GROUP BY user_id
    HAVING count(*) >= 5
    ORDER BY user_id
    """,
    doc="Row-pattern detection (the MATCH_RECOGNIZE / event-pattern "
    "workload, expressed as the lag/lead contraction SQL engines "
    "without MATCH_RECOGNIZE use): a V-shape is a strict local "
    "minimum in a user's value sequence (prev > v < next). One "
    "window pass per user — single shuffle on user_id, no self-join "
    "— then a grouped count keeping users with >= 5 troughs. The "
    "(ts, event_id) ordering key makes simultaneous events "
    "deterministic cross-engine.",
    tags=("events", "analytics", "pattern"),
)
def events_pattern_vshape(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_v"),
        F.lead("value").over(w).alias("next_v"),
    )
    return (
        seq.where(
            (F.col("prev_v") > F.col("value"))
            & (F.col("next_v") > F.col("value"))
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_vshapes"),
            F.round(F.min("value"), 6).alias("deepest_trough"),
        )
        .where(F.col("n_vshapes") >= 5)
        .orderBy("user_id")
    )


@register(
    "events_ohlc_bars",
    oracle="""
    WITH ranked AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bar_date, value,
               row_number() OVER (PARTITION BY date_trunc('day', ts)
                                  ORDER BY ts, event_id) AS rn_open,
               row_number() OVER (PARTITION BY date_trunc('day', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn_close
        FROM events
    )
    SELECT bar_date,
           round(max(CASE WHEN rn_open = 1 THEN value END), 6) AS open,
           round(max(value), 6) AS high,
           round(min(value), 6) AS low,
           round(max(CASE WHEN rn_close = 1 THEN value END), 6) AS close,
           CAST(count(*) AS BIGINT) AS volume
    FROM ranked GROUP BY bar_date ORDER BY bar_date
    """,
    doc="OHLC candlestick bars (the hypertable/timescale first()/"
    "last() rollup — the reference family's canonical time-series "
    "readout): daily open/high/low/close/volume from the event "
    "stream. Open/close are picked by row_number over the (ts, "
    "event_id) order — deterministic under simultaneous events, "
    "unlike bare arg_min on ts — in ONE window pass co-partitioned "
    "with the subsequent groupBy on the day bucket (single "
    "exchange).",
    tags=("events", "timeseries", "rollup"),
)
def events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").withColumn(
        "bar_date", F.date_trunc("day", "ts")
    )
    w_a = Window.partitionBy("bar_date").orderBy("ts", "event_id")
    w_d = Window.partitionBy("bar_date").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ranked = ev.select(
        "bar_date",
        "value",
        F.row_number().over(w_a).alias("rn_open"),
        F.row_number().over(w_d).alias("rn_close"),
    )
    return (
        ranked.groupBy("bar_date")
        .agg(
            F.round(
                F.max(F.when(F.col("rn_open") == 1, F.col("value"))), 6
            ).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(
                F.max(F.when(F.col("rn_close") == 1, F.col("value"))), 6
            ).alias("close"),
            F.count(F.lit(1)).alias("volume"),
        )
        .orderBy("bar_date")
    )


@register(
    "events_changepoint_cusum",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d, avg(value) AS m,
               count(*) AS n
        FROM events GROUP BY 1
    ), g AS (
        SELECT sum(m * n) / sum(n) AS gmean FROM daily
    ), cusum AS (
        SELECT d, n,
               sum(m - (SELECT gmean FROM g))
                   OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS s
        FROM daily
    )
    SELECT d AS changepoint_day,
           round(abs(s), 6) AS max_abs_cusum,
           CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days
    FROM cusum
    ORDER BY round(abs(s), 6) DESC, d
    LIMIT 1
    """,
    doc="CUSUM changepoint detection (the classic mean-shift monitor "
    "for pipeline/quality drift): daily means, cumulative sum of "
    "deviations from the weighted global mean, the day of maximum "
    "|S| is the estimated changepoint. The corpus collapses to the "
    "bounded per-day table in one groupBy; the cumulative window "
    "runs over #days rows (metadata-scale). Ranking on the ROUNDED "
    "statistic keeps the argmax cross-engine stable.",
    tags=("events", "timeseries", "monitoring"),
)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.avg("value").alias("m"), F.count(F.lit(1)).alias("n")
    )
    g = daily.agg(
        (F.sum(F.col("m") * F.col("n")) / F.sum("n")).alias("gmean")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    nd = daily.agg(F.count(F.lit(1)).alias("n_days"))
    cusum = (
        daily.crossJoin(F.broadcast(g))
        .withColumn("s", F.sum(F.col("m") - F.col("gmean")).over(w))
    )
    return (
        cusum.crossJoin(F.broadcast(nd))
        .select(
            F.col("d").alias("changepoint_day"),
            F.round(F.abs("s"), 6).alias("max_abs_cusum"),
            F.col("n_days").cast("bigint").alias("n_days"),
        )
        .orderBy(F.desc("max_abs_cusum"), "changepoint_day")
        .limit(1)
    )


@register(
    "stream_append_mode_finalized",
    oracle=f"""
    WITH wm AS (
        SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events
    )
    SELECT {_duck_bucket('ts', 86400)} AS win_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1, 2
    HAVING {_duck_bucket('min(ts)', 86400)} + INTERVAL 1 DAY
               <= (SELECT w FROM wm)
    ORDER BY 1, 2
    """,
    doc="APPEND output mode semantics, oracle-checked: with a 1-hour "
    "watermark, append emits exactly the windows whose END the final "
    "watermark (max event time - 1h) has passed — finalized windows "
    "only, each exactly once, the mode production sinks that cannot "
    "update rows (files, Kafka) require. The fixture replays as one "
    "availableNow batch, so the final watermark is deterministic and "
    "the batch oracle is the same aggregation HAVING win_end <= "
    "max(ts) - 1h. Complete-mode variants (stream_live_tumbling) "
    "cover the other output contract.",
    tags=("streaming", "live", "watermark"),
)
def stream_append_mode_finalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)  # 1-hour watermark
    agg = ev.groupBy(F.window("ts", "1 day"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    out = run_stream_once(agg, "append")
    return out.select(
        F.col("window.start").alias("win_start"), "event_type", "n_events"
    ).orderBy("win_start", "event_type")


@register(
    "events_cohort_ltv",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               CAST(epoch_us(min(ts)) // 604800000000 AS INT) AS cohort_week
        FROM events GROUP BY user_id
    ), purchases AS (
        SELECT e.user_id, f.cohort_week,
               CAST(epoch_us(e.ts) // 604800000000 AS INT)
                   - f.cohort_week AS weeks_since,
               e.value
        FROM events e JOIN firsts f USING (user_id)
        WHERE e.event_type = 'purchase'
    )
    SELECT cohort_week, CAST(weeks_since AS INT) AS weeks_since,
           CAST(count(*) AS BIGINT) AS n_purchases,
           round(sum(value), 4) AS revenue
    FROM purchases
    GROUP BY cohort_week, weeks_since
    ORDER BY cohort_week, weeks_since
    """,
    doc="Cohort lifetime-value matrix (the product-analytics LTV "
    "triangle; revenue per signup-week cohort by weeks since "
    "signup): first-seen week per user in one groupBy, purchases "
    "joined back on user_id (co-partitioned — the same exchange "
    "serves both), epoch-integer week arithmetic so cohort cells "
    "are bit-stable cross-engine. Companion to "
    "events_retention_cohorts (user counts) with revenue weighting.",
    tags=("events", "analytics", "cohort"),
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    week = lambda c: (F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
                      / 1_000_000 / 604_800).cast("bigint").cast("int")
    firsts = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    firsts = firsts.select("user_id", week("first_ts").alias("cohort_week"))
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .select(
            "cohort_week",
            (week("ts") - F.col("cohort_week")).cast("int").alias("weeks_since"),
            "value",
        )
    )
    return (
        purchases.groupBy("cohort_week", "weeks_since")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 4).alias("revenue"),
        )
        .orderBy("cohort_week", "weeks_since")
    )


@register(
    "events_slo_burn_rate",
    oracle=f"""
    WITH hourly AS (
        SELECT {_duck_bucket('ts', 3600)} AS h,
               CAST(count(*) AS BIGINT) AS n_total,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_errors
        FROM events GROUP BY 1
    ), windows AS (
        SELECT h, n_total, n_errors,
               sum(n_errors) OVER (ORDER BY h
                   ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS err_6h,
               sum(n_total) OVER (ORDER BY h
                   ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS tot_6h
        FROM hourly
    )
    SELECT h AS hour_start,
           round(CAST(n_errors AS DOUBLE) / n_total, 6) AS err_rate_1h,
           round(CAST(err_6h AS DOUBLE) / tot_6h, 6) AS err_rate_6h,
           CAST(CAST(n_errors AS DOUBLE) / n_total > 0.25
                AND CAST(err_6h AS DOUBLE) / tot_6h > 0.22 AS INT)
               AS burn_alert
    FROM windows
    ORDER BY h
    """,
    doc="Multi-window SLO burn-rate alerting (the Google SRE "
    "fast+slow window rule: page only when BOTH the 1h and 6h error "
    "rates exceed budget, killing flappy alerts): the corpus "
    "collapses to the bounded hourly table in one groupBy; the 6h "
    "trailing window runs over those metadata-scale rows. Rates "
    "derive from integer counts — bit-stable. The ops-monitoring "
    "readout of the events family.",
    tags=("events", "monitoring", "slo"),
)
def events_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
            "n_errors"
        ),
    )
    w6 = Window.orderBy("h").rowsBetween(-5, 0)
    r1 = F.col("n_errors").cast("double") / F.col("n_total")
    r6 = F.sum("n_errors").over(w6).cast("double") / F.sum("n_total").over(w6)
    return (
        hourly.select(
            F.col("h").alias("hour_start"),
            F.round(r1, 6).alias("err_rate_1h"),
            F.round(r6, 6).alias("err_rate_6h"),
            ((r1 > 0.25) & (r6 > 0.22)).cast("int").alias("burn_alert"),
        )
        .orderBy("hour_start")
    )


@register(
    "events_session_duration_histogram",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 1 HOUR
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, ts,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM flagged
    ), sessions AS (
        SELECT user_id, sess_id,
               (epoch_us(max(ts)) - epoch_us(min(ts))) // 60000000
                   AS duration_min
        FROM numbered GROUP BY user_id, sess_id
    )
    SELECT CAST(least(duration_min // 10, 12) AS INT) AS bucket_10min,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(min(duration_min) AS BIGINT) AS min_duration_min,
           CAST(max(duration_min) AS BIGINT) AS max_duration_min
    FROM sessions
    GROUP BY 1 ORDER BY 1
    """,
    doc="Session-duration histogram (the engagement readout over "
    "gap-sessionization): sessions from the 1h-gap islands pass, "
    "duration in integer minutes from exact epoch microseconds, "
    "10-minute equi-width buckets capped at 2h. Sessionize is one "
    "window shuffle on user_id; the histogram is a bounded groupBy. "
    "All-integer — bit-exact.",
    tags=("events", "session", "analytics"),
)
def events_session_duration_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = ev.select(
        "user_id",
        "ts",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
                >= 3_600_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    numbered = flagged.withColumn("sess_id", F.sum("new_sess").over(wrun))
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    sessions = numbered.groupBy("user_id", "sess_id").agg(
        ((us(F.max("ts")) - us(F.min("ts"))) / 60_000_000)
        .cast("bigint")
        .alias("duration_min")
    )
    return (
        sessions.groupBy(
            F.least(
                (F.col("duration_min") / 10).cast("bigint"), F.lit(12)
            )
            .cast("int")
            .alias("bucket_10min")
        )
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.min("duration_min").cast("bigint").alias("min_duration_min"),
            F.max("duration_min").cast("bigint").alias("max_duration_min"),
        )
        .orderBy("bucket_10min")
    )


@register(
    "events_dau_wau_mau",
    oracle="""
    WITH d AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        FROM events GROUP BY 1
    ), w AS (
        SELECT epoch_us(date_trunc('day', ts)) // 604800000000 AS wk,
               CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        FROM events GROUP BY 1
    ), m AS (
        SELECT CAST(date_trunc('month', ts) AS DATE) AS mon,
               CAST(count(DISTINCT user_id) AS BIGINT) AS mau
        FROM events GROUP BY 1
    )
    SELECT d.day, d.dau, w.wau, m.mau,
           round(CAST(d.dau AS DOUBLE) / m.mau, 6) AS stickiness
    FROM d
    JOIN w ON epoch_us(CAST(d.day AS TIMESTAMP)) // 604800000000 = w.wk
    JOIN m ON CAST(date_trunc('month', CAST(d.day AS TIMESTAMP)) AS DATE)
              = m.mon
    ORDER BY d.day
    """,
    doc="DAU / WAU / MAU + stickiness (the engagement KPIs every "
    "product warehouse serves daily): three distinct-count "
    "aggregations at different grains, joined back onto the day "
    "spine (week key = integer epoch-week, bit-stable cross-engine; "
    "month via date_trunc). Each grain is one hash-grouped "
    "count-distinct — at 100 TB these are the queries HLL sketches "
    "(agg_hll_union_rollup) approximate; this is the exact form. "
    "Stickiness = DAU/MAU.",
    tags=("events", "analytics", "kpi"),
)
def events_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    wk = (F.unix_micros(day.cast("timestamp")) / 604_800_000_000).cast(
        "bigint"
    )
    d = ev.groupBy(day.alias("day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    w = ev.groupBy(wk.alias("wk")).agg(
        F.countDistinct("user_id").alias("wau")
    )
    m = ev.groupBy(
        F.date_trunc("month", "ts").cast("date").alias("mon")
    ).agg(F.countDistinct("user_id").alias("mau"))
    d2 = d.withColumn(
        "wk",
        (
            F.unix_micros(F.col("day").cast("timestamp")) / 604_800_000_000
        ).cast("bigint"),
    ).withColumn(
        "mon", F.date_trunc("month", F.col("day").cast("timestamp")).cast("date")
    )
    return (
        d2.join(F.broadcast(w), "wk")
        .join(F.broadcast(m), "mon")
        .select(
            "day",
            "dau",
            "wau",
            "mau",
            F.round(F.col("dau").cast("double") / F.col("mau"), 6).alias(
                "stickiness"
            ),
        )
        .orderBy("day")
    )


@register(
    "events_forecast_backtest",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d, event_type,
               CAST(count(*) AS BIGINT) AS actual
        FROM events GROUP BY 1, 2
    ), joined AS (
        SELECT a.event_type, a.d, a.actual, f.actual AS forecast
        FROM daily a JOIN daily f
          ON f.event_type = a.event_type AND f.d = a.d - 7
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days_scored,
           round(avg(abs(actual - forecast) / CAST(actual AS DOUBLE)), 6)
               AS mape,
           round(avg(actual - forecast), 6) AS mean_bias
    FROM joined
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Seasonal-naive forecast backtest (the baseline every demand "
    "forecast must beat: predict today = same weekday last week), "
    "scored in-engine: the daily series self-joins at lag 7 (equi-"
    "join on the bounded (type, day) key — no window state), MAPE "
    "and bias per event type from integer counts. The "
    "model-evaluation companion to events_changepoint_cusum and "
    "events_ewma_smoothing in the time-series family.",
    tags=("events", "timeseries", "forecast"),
)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("d"), "event_type"
    ).agg(F.count(F.lit(1)).alias("actual"))
    a, f = daily.alias("a"), daily.alias("f")
    joined = a.join(
        f,
        (F.col("f.event_type") == F.col("a.event_type"))
        & (F.col("f.d") == F.date_sub(F.col("a.d"), 7)),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.actual").alias("actual"),
        F.col("f.actual").alias("forecast"),
    )
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days_scored"),
            F.round(
                F.avg(
                    F.abs(F.col("actual") - F.col("forecast"))
                    / F.col("actual").cast("double")
                ),
                6,
            ).alias("mape"),
            F.round(F.avg(F.col("actual") - F.col("forecast")), 6).alias(
                "mean_bias"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "stream_stream_left_outer",
    oracle="""
    WITH mx AS (
        SELECT max(ts) - INTERVAL 6 HOUR AS cut FROM events
    ), v AS (
        SELECT event_id, user_id, ts FROM events
        WHERE event_type = 'view' AND ts < (SELECT cut FROM mx)
    ), c AS (
        SELECT user_id AS cu, ts AS cts FROM events
        WHERE event_type = 'click'
    ), j AS (
        SELECT v.event_id, v.ts, c.cts
        FROM v LEFT JOIN c
          ON c.cu = v.user_id
         AND c.cts >= v.ts AND c.cts <= v.ts + INTERVAL 1 HOUR
    )
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           count(DISTINCT event_id) AS n_views,
           CAST(count(cts) AS BIGINT) AS n_matched,
           CAST(sum(CASE WHEN cts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unmatched
    FROM j GROUP BY 1 ORDER BY day
    """,
    doc="Stream-stream LEFT OUTER join with watermark-driven null "
    "emission (the outer half of stream_stream_join): views LEFT JOIN "
    "clicks in [view_ts, view_ts+1h] per user, both sides watermarked "
    "1h so join state is evicted — bounded memory at any rate. An "
    "unmatched view's null row only emits once the watermark passes "
    "view_ts+1h, and the watermark itself lags one micro-batch; two "
    "far-future sentinel ticks are appended to the source (processed "
    "as separate batches via maxFilesPerTrigger=1) so end-of-input "
    "drains the join state — the streaming-shutdown discipline any "
    "production pipeline needs (flush ticks / graceful drain). The "
    "converged output equals the batch LEFT JOIN on the finalized "
    "prefix (view_ts < max_ts - 6h): Spark holds the very last "
    "unmatched rows until one further watermark advance, so the audit "
    "restricts BOTH engines to the provably-drained range.",
    tags=("streaming", "join", "outer"),
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    src_dir = scratch.path(sf_dir, "sslo_src")
    shutil.rmtree(src_dir, ignore_errors=True)

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.col("ts").cast("timestamp")
    )
    ev.coalesce(1).write.mode("append").parquet(src_dir)
    # two sentinel ticks far past the data: tick 1 advances the
    # watermark, tick 2 (a later batch) evicts the join state under it
    mx = ev.agg(F.max("ts").alias("m"))
    for days, eid in ((10, -1), (20, -2)):
        (
            mx.select(
                F.lit(eid).cast("long").alias("event_id"),
                F.lit(-1).cast("long").alias("user_id"),
                F.lit("sentinel").alias("event_type"),
                (F.col("m") + F.expr(f"INTERVAL {days} DAYS")).alias("ts"),
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(src_dir)
        )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("ts", TimestampType()),
        ]
    )
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .withWatermark("ts", "1 hour")
    )
    views = raw.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    clicks = raw.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    joined = views.join(
        clicks,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") >= F.col("ts"))
        & (F.col("c_ts") <= F.col("ts") + F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    )
    pairs = run_stream_once(
        joined.select("event_id", "user_id", "ts", "c_ts"), "append"
    )
    cut = ev.agg((F.max("ts") - F.expr("INTERVAL 6 HOURS")).alias("cut"))
    return (
        pairs.crossJoin(F.broadcast(cut))
        .where(F.col("ts") < F.col("cut"))
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.countDistinct("event_id").alias("n_views"),
            F.count("c_ts").alias("n_matched"),
            F.sum(F.when(F.col("c_ts").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_unmatched"),
        )
        .orderBy("day")
    )


@register(
    "events_dow_seasonality",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
               CAST(isodow(date_trunc('day', ts)) AS BIGINT) AS dow,
               count(*) AS n
        FROM events GROUP BY 1, 2
    ), g AS (
        SELECT CAST(sum(n) AS DOUBLE) / count(*) AS mean_daily FROM daily
    )
    SELECT dow,
           count(*) AS n_days,
           CAST(sum(n) AS BIGINT) AS n_events,
           round((CAST(sum(n) AS DOUBLE) / count(*))
                 / (SELECT mean_daily FROM g), 6) AS seasonal_index,
           round(CAST(sum(n) AS DOUBLE) / count(*), 6) AS mean_events
    FROM daily
    GROUP BY dow ORDER BY dow
    """,
    doc="Day-of-week seasonal indices (the decomposition step every "
    "time-series monitor runs before alerting — a Monday dip is not an "
    "incident): daily event counts, per-ISO-dow mean normalized by the "
    "global daily mean. Two bounded aggregations (the corpus collapses "
    "to one row per day in the first groupBy); the global mean rides "
    "the scalar-broadcast join. Integer counts keep every statistic "
    "exact cross-engine. Complements events_ewma_smoothing (trend) and "
    "events_changepoint_cusum (level shifts) with the seasonal lens.",
    tags=("events", "timeseries", "seasonality"),
)
def events_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    # ISO dow: Monday=1..Sunday=7 (Spark dayofweek is Sunday=1)
    isodow = ((F.dayofweek(day) + 5) % 7 + 1).cast("bigint")
    daily = ev.groupBy(day.alias("d"), isodow.alias("dow")).agg(
        F.count(F.lit(1)).alias("n")
    )
    g = daily.agg(
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("mean_daily")
    )
    return (
        daily.groupBy("dow")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("n").cast("bigint").alias("n_events"),
            (F.sum("n").cast("double") / F.count(F.lit(1))).alias("_m"),
        )
        .crossJoin(F.broadcast(g))
        .select(
            "dow",
            "n_days",
            "n_events",
            F.round(F.col("_m") / F.col("mean_daily"), 6).alias(
                "seasonal_index"
            ),
            F.round("_m", 6).alias("mean_events"),
        )
        .orderBy("dow")
    )


@register(
    "stream_stream_full_outer",
    oracle="""
    WITH mx AS (
        SELECT max(ts) - INTERVAL 6 HOUR AS cut FROM events
    ), v AS (
        SELECT event_id, user_id, ts FROM events
        WHERE event_type = 'view' AND ts < (SELECT cut FROM mx)
    ), c AS (
        SELECT event_id AS c_id, user_id AS cu, ts AS cts FROM events
        WHERE event_type = 'click' AND ts < (SELECT cut FROM mx)
    ), j AS (
        SELECT v.event_id, v.ts, c.c_id, c.cts
        FROM v FULL JOIN c
          ON c.cu = v.user_id
         AND c.cts >= v.ts AND c.cts <= v.ts + INTERVAL 1 HOUR
    )
    SELECT CAST(date_trunc('day', coalesce(ts, cts)) AS TIMESTAMP) AS day,
           CAST(sum(CASE WHEN ts IS NOT NULL AND cts IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           CAST(sum(CASE WHEN cts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_view_only,
           CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_click_only
    FROM j GROUP BY 1 ORDER BY day
    """,
    doc="Stream-stream FULL OUTER join (the last outer variant: both "
    "sides null-extend once the watermark proves no partner can "
    "arrive). Views FULL JOIN clicks in [view_ts, view_ts+1h] per "
    "user, both sides watermarked 1h; unmatched views finalize at "
    "watermark > view_ts+1h, unmatched clicks at watermark > click_ts "
    "+ 1h (a partner view could have ts in [c_ts-1h, c_ts]). Sentinel "
    "drain ticks + the 6h finalized-prefix audit restriction as in "
    "stream_stream_left_outer, applied to BOTH sides (each leg keyed "
    "by its own event time).",
    tags=("streaming", "join", "outer"),
)
def stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    src_dir = scratch.path(sf_dir, "ssfo_src")
    shutil.rmtree(src_dir, ignore_errors=True)

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.col("ts").cast("timestamp")
    )
    ev.coalesce(1).write.mode("append").parquet(src_dir)
    mx = ev.agg(F.max("ts").alias("m"))
    for days, eid in ((10, -1), (20, -2)):
        (
            mx.select(
                F.lit(eid).cast("long").alias("event_id"),
                F.lit(-1).cast("long").alias("user_id"),
                F.lit("sentinel").alias("event_type"),
                (F.col("m") + F.expr(f"INTERVAL {days} DAYS")).alias("ts"),
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(src_dir)
        )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("ts", TimestampType()),
        ]
    )
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .withWatermark("ts", "1 hour")
    )
    views = raw.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    clicks = raw.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    joined = views.join(
        clicks,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") >= F.col("ts"))
        & (F.col("c_ts") <= F.col("ts") + F.expr("INTERVAL 1 HOUR")),
        "fullOuter",
    )
    pairs = run_stream_once(
        joined.select("event_id", "ts", "c_id", "c_ts"), "append"
    )
    cut = ev.agg((F.max("ts") - F.expr("INTERVAL 6 HOURS")).alias("cut"))
    return (
        pairs.crossJoin(F.broadcast(cut))
        # finalized-prefix audit on BOTH legs: each present side must be
        # inside the provably-drained range
        .where(
            (F.col("ts").isNull() | (F.col("ts") < F.col("cut")))
            & (F.col("c_ts").isNull() | (F.col("c_ts") < F.col("cut")))
        )
        .groupBy(
            F.date_trunc("day", F.coalesce("ts", "c_ts")).alias("day")
        )
        .agg(
            F.sum(
                F.when(
                    F.col("ts").isNotNull() & F.col("c_ts").isNotNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_matched"),
            F.sum(F.when(F.col("c_ts").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_view_only"),
            F.sum(F.when(F.col("ts").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_click_only"),
        )
        .orderBy("day")
    )
