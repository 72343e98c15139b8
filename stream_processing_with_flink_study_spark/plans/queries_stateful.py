"""Stateful/process-function patterns (SURVEY.md §2.5) — batch twins.

Each query here is the deterministic, oracle-checkable batch form of a
keyed-state pattern; the true streaming implementations (value state via
``transformWithStateInPandas`` / ``applyInPandasWithState``) live in
:mod:`..streaming.stateful` and are tested for equivalence against these
batch twins in ``tests/test_streaming.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import conf_override
from ..sources import load_table
from .registry import query


@query(
    "temp_delta_alert",
    oracle="""
    WITH lagged AS (
      SELECT event_id, user_id, ts, value,
        lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    )
    SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, value,
           round(value - prev, 4) AS diff
    FROM lagged
    WHERE abs(value - prev) > 50
    """,
)
def temp_delta_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 keyed ValueState pattern (정리/5주차.md:24-54): remember the
    previous value per key, alert when |Δ| exceeds a threshold (1.7 in
    the notes; 50 here to fit the events value range).  Batch twin =
    ``lag`` over the per-key ordered window — one shuffle-sort, identical
    final answer to the streaming ValueState form."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = events.withColumn("prev", F.lag("value").over(w))
    return lagged.filter(F.abs(F.col("value") - F.col("prev")) > 50).select(
        "event_id",
        "user_id",
        F.unix_millis("ts").alias("ts_ms"),
        "value",
        F.round(F.col("value") - F.col("prev"), 4).alias("diff"),
    )


@query(
    "rising_value_alert",
    oracle="""
    WITH lagged AS (
      SELECT event_id, user_id, ts, value,
        lag(value, 1) OVER w AS prev1,
        lag(value, 2) OVER w AS prev2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, value
    FROM lagged
    WHERE value > prev1 AND prev1 > prev2
    """,
)
def rising_value_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2 ProcessFunction + timer pattern (정리/4주차.md:102-125 —
    the book's 'temperature keeps rising' warning): emit when a key's
    value rises across 3 consecutive events.  The streaming form keeps
    last-two-values in ValueState with an event-time timer; the batch
    twin is a double ``lag`` over one window (single sort, both lags
    share the frame)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = events.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.lag("value", 1).over(w).alias("prev1"),
        F.lag("value", 2).over(w).alias("prev2"),
    )
    return lagged.filter(
        (F.col("value") > F.col("prev1")) & (F.col("prev1") > F.col("prev2"))
    ).select(
        "event_id", "user_id", F.unix_millis("ts").alias("ts_ms"), "value"
    )


@query(
    "dedup_first_event",
    oracle="""
    SELECT user_id, event_type,
      min(event_id) FILTER (WHERE rn = 1) AS event_id,
      min(epoch_ms(ts)) AS first_ts_ms
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
      FROM events
    )
    GROUP BY user_id, event_type
    """,
)
def dedup_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/P7 keyed-state dedup (ValueState 'seen' flag with TTL in
    streaming): keep each key's FIRST event by (ts, event_id).
    Deterministic alternative to ``dropDuplicates`` (whose pick is
    arrival-order-dependent, like the reference's rolling reduce):
    single-pass ``min_by`` on the struct — one shuffle, no sort."""
    events = load_table(spark, sf_dir, "events")
    ord_ = F.struct("ts", "event_id")
    return events.groupBy("user_id", "event_type").agg(
        F.min_by("event_id", ord_).alias("event_id"),
        F.unix_millis(F.min("ts")).alias("first_ts_ms"),
    )


@query(
    "funnel_conversions",
    oracle="""
    SELECT e.user_id, e.event_id, epoch_ms(e.ts) AS ts_ms
    FROM events e
    WHERE e.event_type = 'purchase'
      AND EXISTS (
        SELECT 1 FROM events c
        WHERE c.user_id = e.user_id AND c.event_type = 'click'
          AND c.ts <= e.ts AND c.ts >= e.ts - INTERVAL 12 HOUR
          AND EXISTS (
            SELECT 1 FROM events v
            WHERE v.user_id = c.user_id AND v.event_type = 'view'
              AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 12 HOUR))
    """,
)
def funnel_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP-style sequence detection (the pattern-matching surface the
    book introduces conceptually, 정리/1주차.md:22-25): purchases
    completing a view → click → purchase funnel with each step ≤ 12 h
    after the previous (sized to the synthetic corpus's per-user density).

    Scale shape: the oracle's nested correlated EXISTS would be two
    self-joins of events; here each funnel level is a CONDITIONAL
    RUNNING MAX over one (user, time) sort — level k+1's qualifier is
    'latest level-k-qualified timestamp within the step window'.  Both
    Window nodes share partitioning and ordering, so Catalyst plans ONE
    exchange + ONE sort for the whole pattern, linear in events.

    RANGE frames (not ROWS) make same-timestamp peers visible, matching
    the EXISTS '<=' semantics exactly; ordering is unix_micros — a
    seconds-granularity cast would merge distinct instants."""
    events = load_table(spark, sf_dir, "events")
    step_us = 12 * 3600 * 1_000_000
    w = (
        Window.partitionBy("user_id")
        .orderBy("ord")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lv = events.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.unix_micros("ts").alias("ord"),
    ).withColumn(
        "last_view",
        F.max(F.when(F.col("event_type") == "view", F.col("ord"))).over(w),
    )
    lc = lv.withColumn(
        "last_q_click",
        F.max(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("last_view") >= F.col("ord") - step_us),
                F.col("ord"),
            )
        ).over(w),
    )
    return (
        lc.filter(
            (F.col("event_type") == "purchase")
            & (F.col("last_q_click") >= F.col("ord") - step_us)
        )
        .select("user_id", "event_id", F.unix_millis("ts").alias("ts_ms"))
    )


@query(
    "statestore_inspect",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def statestore_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store introspection (Spark 4's ``statestore`` batch source
    over a streaming checkpoint — the state-processor/queryable-state
    operational surface, reference scope 정리/5주차.md): run a keyed
    streaming aggregation over the events table in two micro-batches,
    then read the checkpoint's COMMITTED operator state back as a batch
    DataFrame and emit it.

    The point of the oracle: for a streaming count/sum aggregation the
    keyed state IS the running aggregate, so the state files must
    hash-equal a plain batch GROUP BY of the same input — a full-value
    check that the state backend's on-disk contents, not just the sink
    output, are correct.  Scale shape: the state read is a
    partition-parallel scan of the backend's files (no driver
    materialization); filters on partition_id / batchId prune."""
    from ..streaming import memory_batches_stream, run_available_now
    from ..streaming.statestore import read_state
    from .registry import scratch_dir

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    cut = ev.agg(
        F.expr("percentile_approx(unix_millis(ts), 0.5)")
    ).collect()[0][0]
    batches = [
        ev.filter(F.unix_millis("ts") <= cut).drop("ts"),
        ev.filter(F.unix_millis("ts") > cut).drop("ts"),
    ]
    src_dir = scratch_dir("src_statestore_inspect_")
    sdf = memory_batches_stream(
        spark, batches, src_dir.path, files_per_trigger=1
    )
    agg = sdf.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("value_cents"),
    )
    with src_dir, conf_override(spark, {"spark.sql.shuffle.partitions": "4"}):
        with scratch_dir("ck_statestore_inspect_") as ck:
            run_available_now(agg, ck, "update")
            # read the checkpoint's committed keyed state AFTER the run
            state = read_state(spark, ck).select(
                "key.*", "value.*"
            ).toDF("event_type", "n_events", "value_cents")
            out = [
                (r[0], r[1], r[2])
                for r in state.orderBy("event_type").collect()
            ]
    return spark.createDataFrame(
        out, "event_type string, n_events long, value_cents long"
    ).orderBy("event_type")


@query(
    "streaming_dedup_within_watermark",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_unique
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def streaming_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Structured Streaming's ``dropDuplicatesWithinWatermark`` (the
    bounded-state streaming dedup added for at-least-once sources like
    Kafka producer retries): every event is fed TWICE — duplicates in
    the same micro-batch and duplicates straddling the batch boundary
    (first-half events are fed twice in batch 1 and once more in
    batch 2) — and the operator must collapse the stream back to one
    row per event_id while keeping only a watermark-delay window of
    key state, NOT the unbounded key set ``dropDuplicates`` would
    hold.

    The delay here (40 days) exceeds the corpus span so the guarantee
    window provably covers every duplicate and the output is EXACTLY
    the distinct input (oracle: n_unique per type, and n_fed = 2×);
    in production you size the delay to the duplicate horizon (producer
    retry window), which is what makes the state bounded at 100 TB —
    that sizing contract is the point of the demo.  Contrast with
    ``dedup_first_event`` (TTL ValueState, keep-first semantics with
    explicit timers)."""
    from ..streaming import memory_batches_stream, run_available_now
    from .registry import scratch_dir

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts"
    )
    mid = ev.selectExpr("percentile_approx(ts, 0.5) AS m").first().m
    b1 = ev.filter(F.col("ts") <= F.lit(mid))
    b2 = ev.filter(F.col("ts") > F.lit(mid))
    # duplicates inside each batch AND the last slice of b1 replayed in
    # b2 (cross-boundary duplicates, still inside the delay window)
    batches = [
        b1.unionByName(b1),
        b2.unionByName(b2).unionByName(b1),
    ]
    src_dir = scratch_dir("src_dedup_wm_")
    sdf = memory_batches_stream(
        spark, batches, src_dir.path, files_per_trigger=1
    )
    with src_dir, conf_override(spark, {"spark.sql.shuffle.partitions": "4"}):
        deduped = sdf.withWatermark("ts", "40 days").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        with scratch_dir("ck_dedup_wm_") as ck:
            got = run_available_now(deduped, ck, "append")
    return (
        got.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_unique"))
        .orderBy("event_type")
    )
