"""Window operators (SURVEY.md §2.4 W1-W8) as oracle-checked queries.

All event-time; the processing-time variants (W1) share the same code
path with an ingest-time column, so the event-time checks cover both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import windows
from ..session import conf_override
from ..sources import load_table
from .registry import query

MIN15_MS = 900_000
HOUR_MS = 3_600_000
GAP_MS = 1_800_000  # 30 min session gap


@query(
    "tumbling_window_stats",
    oracle=f"""
    SELECT
      (epoch_ms(ts) // {MIN15_MS}) * {MIN15_MS} AS window_start_ms,
      event_type,
      count(*) AS n,
      round(sum(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def tumbling_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W2 tumbling windows (AverageSensorReadings.java:74,
    정리/4주차.md:160-162): 15-min buckets per event_type.  The window
    struct is computed map-side; one (window,key) shuffle with partial
    agg."""
    events = load_table(spark, sf_dir, "events")
    return (
        windows.tumbling(events, "ts", "15 minutes", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.unix_millis("window.start").alias("window_start_ms"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@query(
    "sliding_window_avg",
    oracle=f"""
    SELECT
      (epoch_ms(ts) // {MIN15_MS}) * {MIN15_MS} - i * {MIN15_MS} AS window_start_ms,
      event_type,
      count(*) AS n,
      round(avg(value), 4) AS avg_value
    FROM events
    CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i)
    GROUP BY 1, 2
    """,
)
def sliding_window_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 sliding window (정리/4주차.md:164-166): 1-hour windows sliding
    every 15 min — each row lands in size/slide = 4 windows.  Spark
    expands the buckets map-side (no pre-shuffle fan-out of the input
    file itself); the oracle reproduces the epoch-aligned starts with a
    generate_series cross join."""
    events = load_table(spark, sf_dir, "events")
    return (
        windows.sliding(events, "ts", "1 hour", "15 minutes", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
        .select(
            F.unix_millis("window.start").alias("window_start_ms"),
            "event_type",
            "n",
            "avg_value",
        )
    )


@query(
    "session_window_agg",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id, ts, value,
        CASE WHEN lag(ts) OVER w IS NULL
               OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= {GAP_MS} * 1000
             THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
      SELECT *, sum(new_s) OVER (
        PARTITION BY user_id ORDER BY ts
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM gaps
    )
    SELECT
      user_id,
      min(epoch_ms(ts)) AS session_start_ms,
      max(epoch_ms(ts)) + {GAP_MS} AS session_end_ms,
      count(*) AS n_events,
      round(sum(value), 4) AS sum_value
    FROM sess
    GROUP BY user_id, session_id
    """,
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 session windows (정리/4주차.md:168-171): native
    ``session_window(ts, gap)`` per user — gap-merged variable windows.
    The oracle is the lag+cumsum sessionization (the batch twin from
    :func:`..operators.windows.sessionize`), proving the two forms agree.
    """
    events = load_table(spark, sf_dir, "events")
    return (
        windows.session(events, "ts", "30 minutes", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_millis("session_window.start").alias("session_start_ms"),
            F.unix_millis("session_window.end").alias("session_end_ms"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "count_window_sum",
    oracle="""
    WITH numbered AS (
      SELECT user_id, value,
        (row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1)
          // 10 AS count_window_id
      FROM events
    )
    SELECT user_id, count_window_id,
           count(*) AS n,
           round(sum(value), 4) AS sum_value
    FROM numbered
    GROUP BY user_id, count_window_id
    """,
)
def count_window_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 count windows (정리/1주차.md:152) — no native Spark streaming
    equivalent (SURVEY §7.3): batch form buckets every 10 records per key
    in (ts, event_id) arrival order via row_number.  Streaming twin uses
    ListState in :mod:`..streaming.stateful`."""
    events = load_table(spark, sf_dir, "events")
    bucketed = windows.count_window(events, ["user_id"], ["ts", "event_id"], 10)
    return bucketed.groupBy("user_id", "count_window_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


@query(
    "late_data_split",
    oracle="""
    WITH m AS (SELECT max(epoch_us(ts)) / 1000000.0 - 3600 AS wm FROM events)
    SELECT
      CASE WHEN epoch_us(ts) / 1000000.0 >= wm THEN 'on_time' ELSE 'late' END
        AS branch,
      count(*) AS n,
      count(DISTINCT user_id) AS n_users
    FROM events, m
    GROUP BY 1
    """,
)
def late_data_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8 late-data side output (.sideOutputLateData, 정리/4주차.md:
    339-345): split on the bounded-out-of-orderness watermark
    (max(ts) - 1 hour; 5 s in the reference, SensorTimeAssigner.java:33
    — scaled to the events table's minute-level cadence).  The 1-row
    watermark aggregate re-joins via broadcast, not a driver collect."""
    events = load_table(spark, sf_dir, "events")
    with_wm = windows.with_bounded_watermark(events, "ts", 3600.0)
    # one pass: tag the branch instead of materializing two filtered
    # pipelines (halves scans and exchanges; the two-DataFrame form for
    # true side-output routing is operators.windows.split_late)
    branch = F.when(
        F.col("ts").cast("double") >= F.col("wm"), "on_time"
    ).otherwise("late")
    return (
        with_wm.withColumn("branch", branch)
        .groupBy("branch")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select("branch", "n", "n_users")
    )


PURCHASE_GAP_MS = 7_200_000  # 2 h for purchase events
DEFAULT_GAP_MS = 1_800_000  # 30 min otherwise


@query(
    "dynamic_gap_sessions",
    oracle=f"""
    WITH g AS (
      SELECT user_id, ts, value, epoch_ms(ts) AS t,
             epoch_ms(ts) + CASE WHEN event_type = 'purchase'
                                 THEN {PURCHASE_GAP_MS}
                                 ELSE {DEFAULT_GAP_MS} END AS e
      FROM events
    ),
    m AS (
      SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS prev_max
      FROM g
    ),
    s AS (
      SELECT *, CASE WHEN prev_max IS NULL OR t >= prev_max
                     THEN 1 ELSE 0 END AS new_s
      FROM m
    ),
    sess AS (
      SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    )
    SELECT user_id,
           min(t) AS session_start_ms,
           max(e) AS session_end_ms,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM sess GROUP BY user_id, sid
    """,
)
def dynamic_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4+ DYNAMIC-gap session windows (Flink's
    ``SessionWindowTimeGapExtractor``, 정리/4주차.md session discussion):
    each element extends its session by its OWN gap — purchases keep a
    session alive for 2 h, everything else 30 min.  Spark-first form:
    the native ``session_window`` accepts a per-row gap COLUMN, so this
    stays one (key, merged-window) shuffle with map-side window
    assignment — no custom state.  The oracle is the running-max
    sessionization (new session iff the event starts at/after the max
    end of everything before it), which is exactly the overlap-merge
    rule ``session_window`` implements."""
    events = load_table(spark, sf_dir, "events")
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("2 hours")
    ).otherwise(F.lit("30 minutes"))
    return (
        events.groupBy(
            F.session_window("ts", gap).alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_millis("w.start").alias("session_start_ms"),
            F.unix_millis("w.end").alias("session_end_ms"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "streaming_dynamic_sessions",
    oracle=f"""
    WITH g AS (
      SELECT user_id, ts, value, epoch_ms(ts) AS t,
             epoch_ms(ts) + CASE WHEN event_type = 'purchase'
                                 THEN {PURCHASE_GAP_MS}
                                 ELSE {DEFAULT_GAP_MS} END AS e
      FROM events WHERE user_id % 4 = 2
    ),
    m AS (
      SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS prev_max
      FROM g
    ),
    s AS (
      SELECT *, CASE WHEN prev_max IS NULL OR t >= prev_max
                     THEN 1 ELSE 0 END AS new_s
      FROM m
    ),
    sess AS (
      SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    )
    SELECT user_id,
           min(t) AS session_start_ms,
           max(e) AS session_end_ms,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM sess GROUP BY user_id, sid
    """,
)
def streaming_dynamic_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap sessions run THROUGH Structured Streaming under the
    oracle gate: a key-space quarter of the events table replays as two
    micro-batches split at the median timestamp, the per-element gap
    column flows through the native streaming ``session_window`` state
    merge (cross-batch session merging included), and the complete-mode
    result hash-matches the running-max sessionization SQL — the
    streaming sibling of :func:`dynamic_gap_sessions` on driver data,
    not just test fixtures."""
    from ..streaming import memory_batches_stream, run_available_now

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 4 == 2)
        .select("user_id", "ts", "event_type", "value")
    )
    mid = ev.selectExpr("percentile_approx(ts, 0.5) AS m").first().m
    batches = [
        ev.filter(F.col("ts") <= F.lit(mid)),
        ev.filter(F.col("ts") > F.lit(mid)),
    ]
    from .registry import scratch_dir

    src_dir = scratch_dir("src_dynsess_")
    sdf = memory_batches_stream(
        spark,
        batches,
        src_dir.path,
        files_per_trigger=1,
    )
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("2 hours")
    ).otherwise(F.lit("30 minutes"))
    agg = (
        sdf.withWatermark("ts", "1 minute")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_millis("w.start").alias("session_start_ms"),
            F.unix_millis("w.end").alias("session_end_ms"),
            "n_events",
            "sum_value",
        )
    )
    with src_dir, conf_override(spark, {"spark.sql.shuffle.partitions": "8"}):
        with scratch_dir("ck_dynsess_") as ck:
            return run_available_now(agg, ck, "complete")
