"""Coverage extensions for the remaining SURVEY.md §2 rows: side
outputs (P3/M7), async-lookup enrichment (P10), custom UDAF (K7),
holistic window function (K8), trigger-style emission (W6), batch set
ops (M1 family), and two more TPC-H-shaped queries (q10/q14 analogues
on the driver's schema).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import conf_override
from ..sources import load_table
from .registry import query


@query(
    "side_output_route",
    oracle="""
    SELECT CASE WHEN value > 80 THEN 'high'
                WHEN value < 20 THEN 'low'
                ELSE 'mid' END AS route,
           count(*) AS n,
           round(avg(value), 4) AS avg_value
    FROM events
    GROUP BY 1
    """,
)
def side_output_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 side outputs / M7 split-select (``정리/4주차.md:127-140``,
    ``정리/3주차.md:82-84``): one operator routing each record to a
    tagged output.  Batch form: a single-pass CASE tag + groupBy (the N
    filtered branches share one scan); the streaming form is N filtered
    writers off one stream (operators.core docs).  Summarized per route
    so the oracle pins every branch's content."""
    events = load_table(spark, sf_dir, "events")
    route = (
        F.when(F.col("value") > 80, "high")
        .when(F.col("value") < 20, "low")
        .otherwise("mid")
    )
    return (
        events.withColumn("route", route)
        .groupBy("route")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


@query(
    "async_lookup_enrich",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(e.value), 4) AS sum_value
    FROM events e
    JOIN customer c ON e.user_id % 150 = c.c_custkey % 150
                   AND c.c_custkey <= 150
    GROUP BY 1
    """,
)
def async_lookup_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 async I/O (``정리/6주차.md:403-418``): per-record external
    lookups become a broadcast join against the (small) lookup table —
    the Spark-native answer to AsyncFunction; no per-row RPCs, the dim
    ships to every executor once.  Keyed on a mod-150 surrogate so every
    scale factor hits the same dimension slice."""
    events = load_table(spark, sf_dir, "events")
    dim = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 150)
        .select(
            (F.col("c_custkey") % 150).alias("k"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    return (
        events.withColumn("k", F.col("user_id") % 150)
        .join(F.broadcast(dim), "k")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


async def _segment_service(uid: int) -> str:
    """Deterministic stand-in for an external per-key service: yields to
    the event loop (the place a real client would await the network),
    then computes the response."""
    import asyncio

    await asyncio.sleep(0)
    return f"seg_{uid % 7}"


@query(
    "async_service_enrich",
    oracle="""
    SELECT 'seg_' || CAST(user_id % 7 AS VARCHAR) AS segment,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events
    GROUP BY 1
    """,
)
def async_service_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 async I/O, the NON-joinable tier (``정리/6주차.md:403-418``):
    per-key service calls run concurrently inside ``mapInPandas`` via
    :func:`..operators.async_io.async_lookup` — semaphore-bounded
    in-flight requests, per-request timeout, ordered emission
    (AsyncDataStream.orderedWait).  The service here is a deterministic
    coroutine so the oracle can replay it as SQL; swap in an aiohttp
    client via ``session_factory`` for a real endpoint."""
    from ..operators.async_io import async_lookup

    events = load_table(spark, sf_dir, "events")
    enriched = async_lookup(
        events.select("user_id", "value"),
        _segment_service,
        key_col="user_id",
        out_col="segment",
        out_type="string",
        capacity=128,
        timeout=5.0,
        ordered=True,
    )
    return enriched.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


@query(
    "punctuated_late_split",
    oracle="""
    WITH s AS (
      SELECT user_id, epoch_us(ts) AS o,
             xor(event_id, 1) AS arr,
             event_type = 'purchase' AS mk,
             value
      FROM events
    ), w AS (
      SELECT *, max(CASE WHEN mk THEN o END) OVER
        (PARTITION BY user_id ORDER BY arr
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pw
      FROM s
    ), agg AS (
      SELECT user_id,
             CAST(count(*) FILTER (pw IS NOT NULL AND o < pw) AS BIGINT)
               AS n_late,
             CAST(count(*) FILTER (pw IS NULL OR o >= pw) AS BIGINT)
               AS n_on_time,
             round(sum(value) FILTER (pw IS NOT NULL AND o < pw), 4)
               AS late_value
      FROM w GROUP BY user_id
    )
    SELECT * FROM agg WHERE n_late > 0
    """,
)
def punctuated_late_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Punctuated watermarks, batch replay (``정리/4주차.md:71-96``;
    Structured Streaming itself is periodic-only — SURVEY §7.3.4):
    purchases act as the marker records that carry the watermark, and
    arrival order is the id stream with adjacent records swapped
    (``event_id ^ 1`` — a deterministic stand-in for transport
    reordering, since the generated table arrives time-sorted).  Emits
    per-user late/on-time splits for users that saw late data, as ONE
    pass: the lateness tag rides the window projection and the
    aggregate reuses the window's hash partitioning on user_id — a
    single exchange (the two-branch ``split_late_punctuated`` form
    costs a second scan + a join; use it when the branches feed
    different sinks)."""
    from ..operators.windows import with_punctuated_watermark

    events = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "value",
        "event_type",
        F.expr("event_id ^ 1").alias("arr"),
    )
    tagged = with_punctuated_watermark(
        events, "ts", "event_type = 'purchase'", "arr", "user_id"
    ).withColumn(
        "_late", F.col("pw").isNotNull() & (F.col("ts") < F.col("pw"))
    )
    return (
        tagged.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("_late"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_late"),
            F.sum(F.when(F.col("_late"), 0).otherwise(1))
            .cast("bigint")
            .alias("n_on_time"),
            F.round(F.sum(F.when(F.col("_late"), F.col("value"))), 4).alias(
                "late_value"
            ),
        )
        .filter(F.col("n_late") > 0)
    )


@query(
    "evictor_count_last",
    oracle="""
    WITH b AS (
      SELECT user_id, epoch_ms(ts) AS fire_ts_ms,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS es
      FROM events
    )
    SELECT user_id, fire_ts_ms,
           CAST(least(rn, 10) AS BIGINT) AS n_in_window,
           round(es, 4) AS win_sum
    FROM b WHERE rn % 25 = 0
    """,
)
def evictor_count_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 evictor: ``CountTrigger(25)`` + ``CountEvictor(10)`` — every
    25 events, report the sum of the LAST 10 (Flink's canonical global
    window + evictor recipe).  The evictor is one extra bounded ROWS
    frame on the same sort — no new exchange."""
    from ..operators.triggers import CountEvictor, CountTrigger, triggered_window

    events = load_table(spark, sf_dir, "events")
    return triggered_window(
        events, "user_id", "ts", "value", CountTrigger(25), "event_id",
        evictor=CountEvictor(10),
    )


@query(
    "evictor_time_window",
    oracle="""
    WITH b AS (
      SELECT user_id, event_type, epoch_ms(ts) AS fire_ts_ms,
             count(*) OVER w AS en,
             sum(value) OVER w AS es
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                   RANGE BETWEEN 21600000000 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, fire_ts_ms, CAST(en AS BIGINT) AS n_in_window,
           round(es, 4) AS win_sum
    FROM b WHERE event_type = 'purchase'
    """,
)
def evictor_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 evictor: ``PredicateTrigger`` + ``TimeEvictor('6 hours')`` —
    at every purchase, the count and sum of the user's trailing 6-hour
    activity (a per-event sliding lookback, the pattern fraud features
    are built on).  RANGE frame over µs epochs; same-instant rows land
    in the same frame on both engines."""
    from ..operators.triggers import PredicateTrigger, TimeEvictor, triggered_window

    events = load_table(spark, sf_dir, "events")
    return triggered_window(
        events, "user_id", "ts", "value",
        PredicateTrigger("event_type = 'purchase'"), "event_id",
        evictor=TimeEvictor("6 hours"),
    )


@query(
    "udaf_weighted_avg",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_discount * l_quantity) / sum(l_quantity), 4)
             AS wavg_discount
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def udaf_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7 AggregateFunction / custom UDAC (``정리/4주차.md:201-226``):
    quantity-weighted average discount as a grouped-agg pandas UDF —
    the acc-based UDAF contract (add/merge/getResult) rides Arrow
    batches; Spark still does partial aggregation per partition before
    the shuffle of the (tiny) per-group frames."""
    li = load_table(spark, sf_dir, "lineitem")

    @F.pandas_udf("double")
    def wavg(d: pd.Series, q: pd.Series) -> float:
        return float((d * q).sum() / q.sum())

    return li.groupBy("l_returnflag").agg(
        F.round(wavg("l_discount", "l_quantity"), 4).alias("wavg_discount")
    )


@query(
    "holistic_window_median",
    oracle="""
    SELECT (epoch_ms(ts) // 86400000) * 86400000 AS window_start_ms,
           event_type,
           round(median(value), 4) AS median_value,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def holistic_window_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8 ProcessWindowFunction (``정리/4주차.md:228-271``,
    ``AverageSensorReadings.java:88-113``): a holistic aggregate that
    needs the window's full element set — median via ``applyInPandas``
    over (window, key) groups, the engine's buffer-all-then-evaluate
    path.  Interpolated median matches DuckDB's ``median`` exactly.
    Day windows: holistic groups should be FEW AND FAT — per-group
    Python/Arrow overhead amortizes over group size, and a holistic fn
    on thousands of 3-row groups is the wrong tool anyway."""
    events = load_table(spark, sf_dir, "events")

    def median_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "window_start_ms": [int(pdf["window_start_ms"].iloc[0])],
                "event_type": [pdf["event_type"].iloc[0]],
                "median_value": [round(float(pdf["value"].median()), 4)],
                "n": [len(pdf)],
            }
        )

    bucketed = events.select(
        ((F.unix_millis("ts") / 86_400_000).cast("long") * 86_400_000).alias(
            "window_start_ms"
        ),
        "event_type",
        "value",
    )
    return bucketed.groupBy("window_start_ms", "event_type").applyInPandas(
        median_fn,
        "window_start_ms long, event_type string, median_value double, n long",
    )


@query(
    "global_window_every_n",
    oracle="""
    SELECT user_id, rn AS n_events, run_sum
    FROM (
      SELECT user_id,
             row_number() OVER w AS rn,
             round(sum(value) OVER w, 4) AS run_sum
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    WHERE rn % 25 = 0
    """,
)
def global_window_every_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 global window + count Trigger (``정리/4주차.md:286-311``):
    all of a key's events form one window and ``CountTrigger(25)``
    FIREs every 25 elements without purging — expressed through the
    generic trigger API (:mod:`..operators.triggers`), whose batch twin
    compiles to running aggregates filtered to the fire rows."""
    from ..operators.triggers import CountTrigger, triggered_window

    events = load_table(spark, sf_dir, "events")
    return triggered_window(
        events, "user_id", "ts", "value", CountTrigger(25), "event_id"
    ).select(
        "user_id",
        F.col("n_in_window").alias("n_events"),
        F.col("win_sum").alias("run_sum"),
    )


@query(
    "trigger_count_purge",
    oracle="""
    WITH b AS (
      SELECT user_id, ts, event_id, epoch_ms(ts) AS fire_ts_ms,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS rs
      FROM events
    ), c AS (
      SELECT user_id, fire_ts_ms, rn, rs,
             lag(rs, 25) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_rs
      FROM b
    )
    SELECT user_id, fire_ts_ms, CAST(25 AS BIGINT) AS n_in_window,
           round(rs - coalesce(prev_rs, 0), 4) AS win_sum
    FROM c WHERE rn % 25 = 0
    """,
)
def trigger_count_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 FIRE_AND_PURGE: ``CountTrigger(25, purge=True)`` — the window
    restarts after each emission, so every fire carries the 25-element
    delta (Flink's count window recovered from the generic trigger)."""
    from ..operators.triggers import CountTrigger, triggered_window

    events = load_table(spark, sf_dir, "events")
    return triggered_window(
        events, "user_id", "ts", "value", CountTrigger(25, purge=True), "event_id"
    )


@query(
    "trigger_interval_purge",
    oracle="""
    WITH b AS (
      SELECT user_id, ts, event_id, epoch_ms(ts) AS ts_ms,
             epoch_us(ts) // 21600000000 AS bk,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS rs
      FROM events
    ), c AS (
      SELECT *,
             lead(bk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nbk
      FROM b
    ), d AS (
      SELECT *,
             (nbk IS NOT NULL AND nbk > bk) AS fire,
             coalesce(max(CASE WHEN (nbk IS NOT NULL AND nbk > bk)
                               THEN rs END)
                        OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS prs,
             coalesce(max(CASE WHEN (nbk IS NOT NULL AND nbk > bk)
                               THEN rn END)
                        OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS prn
      FROM c
    )
    SELECT user_id, ts_ms AS fire_ts_ms,
           CAST(rn - prn AS BIGINT) AS n_in_window,
           round(rs - prs, 4) AS win_sum
    FROM d WHERE fire
    """,
)
def trigger_interval_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 ContinuousEventTimeTrigger + PURGE: event time crossing a
    6-hour epoch-aligned boundary fires the bucket's contents — a
    tumbling window recovered from the generic trigger (the final
    partial bucket never fires; a stream cannot know it ended)."""
    from ..operators.triggers import EventTimeIntervalTrigger, triggered_window

    events = load_table(spark, sf_dir, "events")
    return triggered_window(
        events,
        "user_id",
        "ts",
        "value",
        EventTimeIntervalTrigger("6 hours", purge=True),
        "event_id",
    )


@query(
    "set_ops_users",
    oracle="""
    SELECT CAST(user_id AS BIGINT) AS user_id FROM (
      SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 50
      INTERSECT
      SELECT user_id FROM events WHERE event_type = 'click' AND value > 50
      EXCEPT
      SELECT user_id FROM events WHERE event_type = 'error' AND value > 90
    )
    """,
)
def set_ops_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1's batch set-op family (union covered by union_streams):
    INTERSECT / EXCEPT over per-type key sets — big-ticket purchasers
    who also clicked big but never hit a severe error.  Three pruned
    scans of one table; Catalyst plans the set ops as left-semi /
    left-anti hash joins."""
    events = load_table(spark, sf_dir, "events")
    by = lambda t, v: (
        events.filter((F.col("event_type") == t) & (F.col("value") > v)).select(
            "user_id"
        )
    )
    return (
        by("purchase", 50)
        .intersect(by("click", 50))
        .exceptAll(by("error", 90).distinct())
        .distinct()
    )


@query(
    "tpch_q10_returned_revenue",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY 1, 2, 3
    """,
)
def tpch_q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q10 shape: revenue lost to returned items per customer.
    lineitem⋈orders shuffles on orderkey (the two big tables); customer
    and nation broadcast.  The returnflag filter pushes into the
    lineitem scan."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


@query(
    "tpch_q14_promo_share",
    oracle="""
    SELECT round(
             100.0 * sum(CASE WHEN p.p_type LIKE 'PROMO%'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_pct
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    """,
)
def tpch_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q14 shape: promo revenue share — conditional aggregation
    over a broadcast lineitem⋈part join collapsing to one row (partial
    aggs do almost all the work map-side; the final exchange moves two
    doubles per partition)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(0.0)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_pct")
        )
    )


@query(
    "streaming_session_timers",
    oracle="""
    WITH e AS (
      SELECT * FROM events WHERE user_id % 4 = 0
    ), s AS (
      SELECT CAST(user_id AS VARCHAR) AS id, ts, value AS v,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts))
                        OVER (PARTITION BY user_id ORDER BY ts)
                      > 21600000000
                  THEN 1 ELSE 0 END AS new_s
      FROM e
    ), g AS (
      SELECT *, sum(new_s) OVER (PARTITION BY id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    )
    SELECT id, epoch_ms(min(ts)) AS start_ms, epoch_ms(max(ts)) AS end_ms,
           round(sum(v), 4) AS win_sum, CAST(count(*) AS BIGINT) AS n
    FROM g GROUP BY id, sid
    """,
)
def streaming_session_timers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time-TIMER sessions under the oracle gate (the streaming
    sibling of ``streaming_cep_relaxed``): the events table replays as
    one micro-batch plus two far-future flush spacers — the watermark
    then passes every open session's (last + gap) deadline, firing the
    handler's ``hasTimedOut`` branch (Flink onTimer) so ALL sessions
    emit and the output hash-matches the batch sessionize SQL.  Proves
    the timer mechanism itself against driver data, not just fixtures
    (cross-batch session merging is exercised by the two-batch split in
    tests/test_streaming.py — one data batch here keeps the replay
    write cheap)."""
    import datetime as dt

    from ..streaming import memory_batches_stream, run_available_now
    from ..streaming.stateful import session_sum_event_timers

    keyed = (
        load_table(spark, sf_dir, "events")
        # deterministic quarter of the key space: the gate checks timer
        # SEMANTICS; full-table stateful throughput is already covered
        # by the other streaming queries (same slicing convention as
        # async_lookup_enrich's dimension cut)
        .filter(F.col("user_id") % 4 == 0)
        .select(
            F.col("user_id").cast("string").alias("id"),
            "ts",
            F.col("value").alias("v"),
        )
    )
    far = keyed.selectExpr("max(ts) AS m").first().m
    if far is None:
        # empty key slice: nothing to sessionize, no watermark spacer
        # to anchor — 0 rows, schema preserved (round-12 sweep)
        return spark.createDataFrame(
            [],
            "id string, start_ms long, end_ms long, win_sum double, "
            "n long",
        )
    spacer = lambda d: spark.createDataFrame(
        [("_flush", far + dt.timedelta(days=d), 0.0)],
        "id string, ts timestamp, v double",
    )
    # spacer(30) rides INSIDE the data batch: the watermark for batch N
    # is computed from data seen through batch N-1, so a spacer in
    # batch 1 advances the watermark for batch 2 past every session's
    # (last + gap) deadline — two micro-batches flush everything where
    # a [data, spacer, spacer] layout needs three
    batches = [keyed.unionByName(spacer(30)), spacer(31)]
    from .registry import scratch_dir

    src_dir = scratch_dir("src_sess_timer_")
    sdf = memory_batches_stream(
        spark,
        batches,
        src_dir.path,
        files_per_trigger=1,
    )
    out = session_sum_event_timers(
        sdf.withWatermark("ts", "1 minute"), "id", "ts", "v",
        gap_seconds=6 * 3600.0,
    )
    # a stateful micro-batch query pays per-(batch × state partition)
    # checkpoint overhead; at this key cardinality 8 state partitions
    # beat 32 (the partition count is pinned into the NEW checkpoint at
    # first start, so this only affects this query's store)
    with src_dir, conf_override(spark, {"spark.sql.shuffle.partitions": "8"}):
        with scratch_dir("ck_sess_timer_") as ck:
            got = run_available_now(out, ck, "append")
    return got.filter(F.col("id") != "_flush")


# --------------------------------------------------------------------------
# custom Python DataSource, end to end (S1/S6 through the V2 seam)
# --------------------------------------------------------------------------
@query(
    "custom_source_window_avg",
    """
    WITH r AS (
      SELECT s.s AS sensor_id, n.n AS reading_n,
             round(65.0 + 10.0 * sin(n.n / 7.0 + s.s)
                   + ((s.s * 1000003 + n.n * 7919) % 1000) / 100.0, 4)
               AS temperature
      FROM unnest(range(0, 4)) s(s), unnest(range(0, 100)) n(n)
    )
    SELECT sensor_id,
           CAST(reading_n // 10 AS BIGINT) AS w,
           count(*) AS n_readings,
           floor(avg(temperature) * 10000 + 0.5) / 10000 AS avg_temp,
           round(max(temperature) - min(temperature), 4) AS temp_range
    FROM r
    GROUP BY sensor_id, reading_n // 10
    """,
)
def custom_source_window_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship windowed-average shape fed by the CUSTOM Python
    DataSource (``sources/custom_datasource.py`` — the DataSource V2
    seam standing in for the reference's SourceFunction): read the
    ``sensors`` format, window by reading index, aggregate per sensor.
    The generator is a closed-form expression, so the DuckDB oracle
    REGENERATES the identical readings from ``range()`` and the full
    source→window→agg pipeline is hash-checked end to end — source
    included, which no file-backed query can claim."""
    from ..sources.custom_datasource import register_sensor_source

    register_sensor_source(spark)
    df = (
        spark.read.format("sensors")
        .option("sensors", 4)
        .option("readings", 100)
        .load()
    )
    return (
        df.groupBy(
            "sensor_id", (F.col("reading_n") / 10).cast("long").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_readings"),
            # floor-half-up, not round(): hundredth-grained inputs put
            # 10-reading means on exact .xxxx5 boundaries
            (F.floor(F.avg("temperature") * 10000 + 0.5) / 10000).alias(
                "avg_temp"
            ),
            F.round(
                F.max("temperature") - F.min("temperature"), 4
            ).alias("temp_range"),
        )
    )


@query(
    "cogroup_order_reconcile",
    """
    WITH charge AS (
      SELECT l_orderkey AS k,
             count(*) AS n_lines,
             sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS chg
      FROM lineitem GROUP BY l_orderkey
    ),
    r AS (
      SELECT o.o_orderpriority,
             c.n_lines,
             round(c.chg / o.o_totalprice, 6) AS ratio
      FROM orders o JOIN charge c ON c.k = o.o_orderkey
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(n_lines) AS BIGINT) AS n_lines,
           round(avg(ratio), 4) AS avg_ratio,
           round(min(ratio), 6) AS min_ratio,
           round(max(ratio), 6) AS max_ratio
    FROM r GROUP BY o_orderpriority
    """,
)
def cogroup_order_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation through the COGROUP UDF tier
    (``groupBy().cogroup().applyInPandas`` — the one Arrow entry point
    the battery had not yet exercised): orders and their line items
    co-partition on a 256-way BUCKET of the order key, and each pandas
    invocation receives BOTH frames for its bucket — headers and their
    lines — recomputing the TPC-H charge ``Σ ext·(1-disc)·(1+tax)``
    per order vectorized and rating it against the header total.

    Cogroup is the right primitive when per-key logic needs two
    streams side by side WITHOUT materializing a wide join first
    (reference analogue: connect/CoProcessFunction, `정리/4주차.md`) —
    Spark plans ONE co-partitioned shuffle of each input.  Bucketing
    the cogroup key is the scale discipline: per-ORDER grouping would
    mean one Python invocation per key (measured 69 s at sf0.01 —
    pure interpreter overhead); 256 buckets amortize Arrow transfer
    and pandas dispatch over ~N/256 orders each while staying
    embarrassingly parallel.  Within a bucket, rows sort by
    (order, linenumber) before the groupby-sum and each per-order
    ratio rounds half-UP to 6dp, so the Arrow path and the oracle\'s
    SQL aggregation agree bit-for-bit; per-bucket partials (sum/min/
    max/counts) merge associatively in the final keyed aggregate."""
    orders = load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 256).alias("bkt"),
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
    )
    lines = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % 256).alias("bkt"),
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        "l_discount",
        "l_tax",
    )

    def reconcile(odf: pd.DataFrame, ldf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if odf.empty or ldf.empty:
            return pd.DataFrame(
                columns=[
                    "o_orderpriority",
                    "n_orders",
                    "n_lines",
                    "sum_ratio",
                    "min_ratio",
                    "max_ratio",
                ]
            )
        ldf = ldf.sort_values(["l_orderkey", "l_linenumber"])
        chg = (
            (
                ldf["l_extendedprice"]
                * (1 - ldf["l_discount"])
                * (1 + ldf["l_tax"])
            )
            .groupby(ldf["l_orderkey"])
            .agg(["sum", "size"])
        )
        m = odf.set_index("o_orderkey").join(chg, how="inner")
        # half-UP to 6dp (Python round() is half-even; SQL round is not)
        ratio = np.floor(m["sum"] / m["o_totalprice"] * 1e6 + 0.5) / 1e6
        out = pd.DataFrame(
            {"pri": m["o_orderpriority"], "ratio": ratio, "nl": m["size"]}
        )
        g = out.groupby("pri")
        return pd.DataFrame(
            {
                "o_orderpriority": g.size().index,
                "n_orders": g.size().to_numpy(),
                "n_lines": g["nl"].sum().to_numpy(),
                "sum_ratio": g["ratio"].sum().to_numpy(),
                "min_ratio": g["ratio"].min().to_numpy(),
                "max_ratio": g["ratio"].max().to_numpy(),
            }
        )

    partials = (
        orders.groupBy("bkt")
        .cogroup(lines.groupBy("bkt"))
        .applyInPandas(
            reconcile,
            "o_orderpriority string, n_orders long, n_lines long,"
            " sum_ratio double, min_ratio double, max_ratio double",
        )
    )
    return partials.groupBy("o_orderpriority").agg(
        F.sum("n_orders").cast("long").alias("n_orders"),
        F.sum("n_lines").cast("long").alias("n_lines"),
        F.round(F.sum("sum_ratio") / F.sum("n_orders"), 4).alias("avg_ratio"),
        F.round(F.min("min_ratio"), 6).alias("min_ratio"),
        F.round(F.max("max_ratio"), 6).alias("max_ratio"),
    )
