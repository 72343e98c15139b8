"""Ledger / operations-research queries (eighth wave): clamped running
balances via the Lindley reflection identity, tabular CUSUM control
charts (the same identity applied to slack-adjusted deviations),
interval-union coverage through gaps-and-islands, and classic rolling
technical indicators computed from exact integer-cent window sums.

The shared trick: the "sequential" recurrence ``b_t = max(0, b_{t-1} +
x_t)`` (Lindley's equation — queueing waiting times, inventory floors,
one-sided CUSUM pages) has the closed form ``b_t = cs_t − min(0,
min_{j≤t} cs_j)`` over plain cumulative sums, so what looks like an
inherently stateful loop is THREE window passes over one shuffle-sort —
fully parallel per key, no iteration, no UDF.  The streaming ValueState
twin (``streaming/stateful.py:lindley_balance_partials``) carries the
(cs, running-min) pair across micro-batches and reproduces the batch
result bit-for-bit on integer-cent inputs.

Oracle-determinism notes (see plans/registry.py conventions):
- monetary values are folded to BIGINT cents with ``floor(x*100+0.5)``
  on both sides (Spark casts truncate, DuckDB rounds half-even — floor
  first makes the quantization engine-identical), so every cumulative
  sum, running min, and balance is EXACT integer arithmetic;
- per-key moments (CUSUM μ/σ) come from exact integer sums, so the
  derived doubles are bit-identical across engines; windowed DOUBLE
  sums (the slack-adjusted CUSUM walk) round with the −1e-9 guard and
  alarms compare the ROUNDED statistic against the ROUNDED threshold
  so both engines make the same boundary call;
- DuckDB cannot nest window functions — running-min-of-running-sum is
  staged through CTEs on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import conf_override
from ..sources import load_table
from .registry import query

_CENTS = "CAST(floor(value * 100 + 0.5) AS BIGINT)"


_LINDLEY_ORACLE = f"""
    WITH d AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type IN ('purchase', 'signup')
                  THEN {_CENTS} ELSE -{_CENTS} END AS delta
      FROM events
    ),
    c AS (
      SELECT user_id,
             row_number() OVER w AS k,
             sum(delta) OVER w AS cs
      FROM d
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)
    ),
    b AS (
      SELECT user_id, k, cs,
             cs - least(min(cs) OVER (PARTITION BY user_id ORDER BY k
                                      ROWS UNBOUNDED PRECEDING),
                        0) AS bal
      FROM c
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max_by(bal, k) AS BIGINT) AS final_balance_cents,
           CAST(max(bal) AS BIGINT) AS peak_balance_cents,
           CAST(sum(CASE WHEN bal = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS floor_hits
    FROM b
    GROUP BY user_id
    ORDER BY user_id
    """


@query("lindley_clamped_balance", _LINDLEY_ORACLE)
def lindley_clamped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user credit ledger that can never go negative (purchases and
    signups credit, everything else debits; debits against an empty
    balance are forfeited): ``bal_t = max(0, bal_{t-1} + Δ_t)``.
    Lindley's reflection identity turns the recurrence into ``cs_t −
    min(0, running_min(cs_t))`` — three windows over ONE shuffle-sort
    per user, then a groupBy on the SAME key (no second exchange: the
    window already partitioned by user_id and AQE reuses it).  At 100
    TB the plan is embarrassingly parallel per key with no iteration —
    the closed form is what makes a "sequential" ledger scan
    distributable.  Exact integer cents throughout."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    d = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.col("event_type").isin("purchase", "signup"), cents
        ).otherwise(-cents).alias("delta"),
    )
    wo = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = d.select(
        "user_id",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("k"),
        F.sum("delta").over(wo).alias("cs"),
    )
    wk = (
        Window.partitionBy("user_id")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    b = c.withColumn(
        "bal", F.col("cs") - F.least(F.min("cs").over(wk), F.lit(0))
    )
    return (
        b.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max_by("bal", "k").cast("long").alias("final_balance_cents"),
            F.max("bal").cast("long").alias("peak_balance_cents"),
            F.sum(F.when(F.col("bal") == 0, 1).otherwise(0))
            .cast("long")
            .alias("floor_hits"),
        )
        .orderBy("user_id")
    )


# CUSUM tuning: slack k = K_SIGMA·σ absorbs in-control wander, alarm at
# H_SIGMA·σ — the standard (0.5σ, 4σ) tabular-CUSUM design.
CUSUM_K_SIGMA = 0.5
CUSUM_H_SIGMA = 4.0


_CUSUM_ORACLE = f"""
    WITH v AS (
      SELECT user_id, ts, event_id, {_CENTS} AS cents
      FROM events
    ),
    m AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n,
             sum(cents) AS s1,
             sum(cents * cents) AS s2
      FROM v GROUP BY user_id HAVING count(*) >= 20
    ),
    p AS (
      SELECT user_id, n,
             CAST(s1 AS DOUBLE) / n AS mu,
             sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                  / (n - 1)) AS sigma
      FROM m
    ),
    w AS (
      SELECT v.user_id, p.n, p.sigma,
             row_number() OVER win AS k,
             sum(v.cents - p.mu - {CUSUM_K_SIGMA!r} * p.sigma)
               OVER win AS cs_hi,
             sum(p.mu - v.cents - {CUSUM_K_SIGMA!r} * p.sigma)
               OVER win AS cs_lo
      FROM v JOIN p USING (user_id)
      WINDOW win AS (PARTITION BY v.user_id ORDER BY v.ts, v.event_id
                     ROWS UNBOUNDED PRECEDING)
    ),
    s AS (
      SELECT user_id, n, sigma,
             round((cs_hi - least(min(cs_hi) OVER wk, 0)) / 100.0
                   - 1e-9, 4) AS sh,
             round((cs_lo - least(min(cs_lo) OVER wk, 0)) / 100.0
                   - 1e-9, 4) AS sl,
             round({CUSUM_H_SIGMA!r} * sigma / 100.0 - 1e-9, 4) AS h
      FROM w
      WINDOW wk AS (PARTITION BY user_id ORDER BY k
                    ROWS UNBOUNDED PRECEDING)
    )
    SELECT user_id,
           CAST(max(n) AS BIGINT) AS n_obs,
           round(max(sigma) / 100.0 - 1e-9, 4) AS sigma_usd,
           CAST(sum(CASE WHEN sh > h THEN 1 ELSE 0 END) AS BIGINT)
             AS high_alarms,
           CAST(sum(CASE WHEN sl > h THEN 1 ELSE 0 END) AS BIGINT)
             AS low_alarms,
           round(max(sh) - 1e-9, 4) AS max_sh_usd,
           round(max(sl) - 1e-9, 4) AS max_sl_usd
    FROM s
    GROUP BY user_id
    ORDER BY user_id
    """


@query("cusum_control_chart", _CUSUM_ORACLE)
def cusum_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided tabular CUSUM per user's value stream: the high page
    ``sh_t = max(0, sh_{t-1} + (x_t − μ − kσ))`` and its mirror-image
    low page, alarmed at ``4σ`` — the SPC change detector that reacts
    to small sustained shifts a Shewhart chart misses.  Both pages are
    Lindley recursions, so each is cumsum − running-min over the SAME
    (user, ts) shuffle-sort; μ and σ come from exact integer-cent
    moments (bit-identical doubles across engines), broadcast-joined
    back onto the stream.  Alarms compare the statistic and the
    threshold AFTER identical rounding so both engines make the same
    boundary call on every row."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    v = ev.select("user_id", "ts", "event_id", cents.alias("cents"))
    m = (
        v.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").alias("s1"),
            F.sum(F.col("cents") * F.col("cents")).alias("s2"),
        )
        .filter(F.col("n") >= 20)
    )
    p = m.select(
        "user_id",
        "n",
        (F.col("s1").cast("double") / F.col("n")).alias("mu"),
        F.sqrt(
            (
                F.col("s2").cast("double")
                - F.col("s1").cast("double") * F.col("s1") / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("sigma"),
    )
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    j = v.join(F.broadcast(p), "user_id")
    slack = F.lit(CUSUM_K_SIGMA) * F.col("sigma")
    w = j.select(
        "user_id",
        "n",
        "sigma",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("k"),
        F.sum(F.col("cents") - F.col("mu") - slack).over(win).alias("cs_hi"),
        F.sum(F.col("mu") - F.col("cents") - slack).over(win).alias("cs_lo"),
    )
    wk = (
        Window.partitionBy("user_id")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = w.select(
        "user_id",
        "n",
        "sigma",
        F.round(
            (F.col("cs_hi") - F.least(F.min("cs_hi").over(wk), F.lit(0)))
            / 100.0
            - 1e-9,
            4,
        ).alias("sh"),
        F.round(
            (F.col("cs_lo") - F.least(F.min("cs_lo").over(wk), F.lit(0)))
            / 100.0
            - 1e-9,
            4,
        ).alias("sl"),
        F.round(
            F.lit(CUSUM_H_SIGMA) * F.col("sigma") / 100.0 - 1e-9, 4
        ).alias("h"),
    )
    return (
        s.groupBy("user_id")
        .agg(
            F.max("n").cast("long").alias("n_obs"),
            F.round(F.max("sigma") / 100.0 - 1e-9, 4).alias("sigma_usd"),
            F.sum(F.when(F.col("sh") > F.col("h"), 1).otherwise(0))
            .cast("long")
            .alias("high_alarms"),
            F.sum(F.when(F.col("sl") > F.col("h"), 1).otherwise(0))
            .cast("long")
            .alias("low_alarms"),
            F.round(F.max("sh") - 1e-9, 4).alias("max_sh_usd"),
            F.round(F.max("sl") - 1e-9, 4).alias("max_sl_usd"),
        )
        .orderBy("user_id")
    )


@query(
    "interval_coverage_union",
    """
    WITH iv AS (
      SELECT o_custkey,
             o_orderkey,
             date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS start_d,
             date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE))
               + 1 + (o_orderkey % 30) AS end_d
      FROM orders
    ),
    g AS (
      SELECT o_custkey, start_d, end_d,
             CASE WHEN max(end_d) OVER (
                    PARTITION BY o_custkey ORDER BY start_d, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  >= start_d THEN 0 ELSE 1 END AS new_island
      FROM iv
    ),
    isl AS (
      SELECT o_custkey, start_d, end_d,
             sum(new_island) OVER (
               PARTITION BY o_custkey ORDER BY start_d, end_d
               ROWS UNBOUNDED PRECEDING) AS island_id
      FROM g
    ),
    per_island AS (
      SELECT o_custkey, island_id,
             max(end_d) - min(start_d) + 1 AS island_days
      FROM isl GROUP BY o_custkey, island_id
    ),
    per_cust AS (
      SELECT o_custkey,
             sum(island_days) AS coverage_days,
             count(*) AS n_islands,
             max(island_days) AS max_island_days
      FROM per_island GROUP BY o_custkey
    )
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS customers,
           round(avg(p.coverage_days) - 1e-9, 4) AS avg_coverage_days,
           CAST(max(p.coverage_days) AS BIGINT) AS max_coverage_days,
           CAST(sum(p.n_islands) AS BIGINT) AS total_islands,
           CAST(max(p.max_island_days) AS BIGINT) AS max_island_days
    FROM per_cust p JOIN customer c ON p.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def interval_coverage_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union length of overlapping per-customer activity intervals
    (each order opens a deterministic 1–30 day service window derived
    from its key): classic gaps-and-islands — an interval starts a new
    island iff its start exceeds the running max of every earlier end.
    One shuffle-sort per customer computes the island boundaries AND
    ids; the island/customer rollups reuse the same partitioning (no
    extra exchange), and the final segment rollup joins the tiny
    customer dim broadcast.  All arithmetic is integer epoch-days —
    exact on both engines.  The same plan shape answers "total covered
    time" for sensor uptime, ad-flight overlap, and SLA window
    coalescing at any scale."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    epoch = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
    iv = orders.select(
        "o_custkey",
        "o_orderkey",
        epoch.alias("start_d"),
        (epoch + 1 + F.col("o_orderkey") % 30).alias("end_d"),
    )
    w_prev = (
        Window.partitionBy("o_custkey")
        .orderBy("start_d", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    g = iv.select(
        "o_custkey",
        "start_d",
        "end_d",
        F.when(
            F.max("end_d").over(w_prev) >= F.col("start_d"), 0
        ).otherwise(1).alias("new_island"),
    )
    w_run = (
        Window.partitionBy("o_custkey")
        .orderBy("start_d", "end_d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = g.select(
        "o_custkey",
        "start_d",
        "end_d",
        F.sum("new_island").over(w_run).alias("island_id"),
    )
    per_island = isl.groupBy("o_custkey", "island_id").agg(
        (F.max("end_d") - F.min("start_d") + 1).alias("island_days")
    )
    per_cust = per_island.groupBy("o_custkey").agg(
        F.sum("island_days").alias("coverage_days"),
        F.count(F.lit(1)).alias("n_islands"),
        F.max("island_days").alias("max_island_days"),
    )
    return (
        per_cust.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            per_cust.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("customers"),
            F.round(F.avg("coverage_days") - 1e-9, 4).alias(
                "avg_coverage_days"
            ),
            F.max("coverage_days").cast("long").alias("max_coverage_days"),
            F.sum("n_islands").cast("long").alias("total_islands"),
            F.max("max_island_days").cast("long").alias("max_island_days"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "technical_indicators_daily",
    """
    WITH daily AS (
      SELECT o_orderdate AS dd,
             CAST(sum(CAST(floor(o_totalprice) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders
      WHERE o_orderdate >= DATE '1996-10-01'
        AND o_orderdate <= DATE '1997-12-31'
      GROUP BY o_orderdate
    ),
    w AS (
      SELECT dd, cents,
             row_number() OVER (ORDER BY dd) AS rn,
             cents - lag(cents) OVER (ORDER BY dd) AS diff,
             sum(cents) OVER w20 AS s1_20,
             sum(cents * cents) OVER w20 AS s2_20
      FROM daily
      WINDOW w20 AS (ORDER BY dd ROWS BETWEEN 19 PRECEDING AND
                     CURRENT ROW)
    ),
    r AS (
      SELECT dd, cents, rn, s1_20, s2_20,
             sum(CASE WHEN diff > 0 THEN diff ELSE 0 END) OVER w14
               AS gains14,
             sum(CASE WHEN diff < 0 THEN -diff ELSE 0 END) OVER w14
               AS losses14
      FROM w
      WINDOW w14 AS (ORDER BY dd ROWS BETWEEN 13 PRECEDING AND
                     CURRENT ROW)
    )
    SELECT epoch_ms(CAST(dd AS TIMESTAMP)) AS day_ms,
           round(CAST(cents AS DOUBLE) - 1e-9, 2) AS close_usd,
           round(s1_20 / 20.0 - 1e-9, 2) AS sma20_usd,
           round(s1_20 / 20.0 + 2 * sqrt(
                    (CAST(s2_20 AS DOUBLE) - CAST(s1_20 AS DOUBLE)
                       * s1_20 / 20.0) / 19.0) - 1e-9, 2)
             AS boll_up_usd,
           round(s1_20 / 20.0 - 2 * sqrt(
                    (CAST(s2_20 AS DOUBLE) - CAST(s1_20 AS DOUBLE)
                       * s1_20 / 20.0) / 19.0) - 1e-9, 2)
             AS boll_dn_usd,
           round(CASE WHEN losses14 = 0 THEN 100.0
                      ELSE 100.0 - 100.0 / (1.0 + CAST(gains14 AS DOUBLE)
                                                    / losses14)
                 END - 1e-9, 4) AS rsi14
    FROM r
    WHERE rn >= 20 AND dd >= DATE '1997-01-01'
    ORDER BY dd
    """,
)
def technical_indicators_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling technical indicators over the 1997 daily-revenue series:
    20-day SMA and Bollinger bands, and 14-day SMA-variant RSI.  The
    Bollinger σ comes from windowed EXACT integer sums (Σx, Σx² in
    BIGINT DOLLARS — cent² window sums would pass 2^63 around one
    million fact rows, and never an engine stddev over doubles), so every
    band is a deterministic function of identical integers; RSI's
    gain/loss split rides the lag-difference, also exact.  The series
    is pre-aggregated to one row per day (a few hundred rows) before
    the single-partition window — the heavy groupBy is the only
    distributed stage, which is exactly the shape this keeps at 100
    TB: reduce first, then window the reduced series."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01"))
        & (F.col("o_orderdate") <= F.lit("1997-12-31"))
    )
    cents = F.floor(F.col("o_totalprice")).cast("long")
    daily = orders.groupBy(F.col("o_orderdate").alias("dd")).agg(
        F.sum(cents).cast("long").alias("cents")
    )
    w20 = Window.orderBy("dd").rowsBetween(-19, 0)
    w14 = Window.orderBy("dd").rowsBetween(-13, 0)
    w = daily.select(
        "dd",
        "cents",
        F.row_number().over(Window.orderBy("dd")).alias("rn"),
        (F.col("cents") - F.lag("cents").over(Window.orderBy("dd"))).alias(
            "diff"
        ),
        F.sum("cents").over(w20).alias("s1_20"),
        F.sum(F.col("cents") * F.col("cents")).over(w20).alias("s2_20"),
    )
    r = w.select(
        "dd",
        "cents",
        "rn",
        "s1_20",
        "s2_20",
        F.sum(F.when(F.col("diff") > 0, F.col("diff")).otherwise(0))
        .over(w14)
        .alias("gains14"),
        F.sum(F.when(F.col("diff") < 0, -F.col("diff")).otherwise(0))
        .over(w14)
        .alias("losses14"),
    )
    sma = F.col("s1_20") / 20.0
    var20 = (
        F.col("s2_20").cast("double")
        - F.col("s1_20").cast("double") * F.col("s1_20") / 20.0
    ) / 19.0
    sd = F.sqrt(var20)
    rsi = F.when(F.col("losses14") == 0, F.lit(100.0)).otherwise(
        100.0
        - 100.0 / (1.0 + F.col("gains14").cast("double") / F.col("losses14"))
    )
    return (
        r.filter((F.col("rn") >= 20) & (F.col("dd") >= F.lit("1997-01-01")))
        .select(
            F.unix_millis(F.col("dd").cast("timestamp")).alias("day_ms"),
            F.round(F.col("cents").cast("double") - 1e-9, 2).alias("close_usd"),
            F.round(sma - 1e-9, 2).alias("sma20_usd"),
            F.round(sma + 2 * sd - 1e-9, 2).alias("boll_up_usd"),
            F.round(sma - 2 * sd - 1e-9, 2).alias("boll_dn_usd"),
            F.round(rsi - 1e-9, 4).alias("rsi14"),
        )
        .orderBy("day_ms")
    )


@query("streaming_lindley_balance", _LINDLEY_ORACLE)
def streaming_lindley_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The clamped ledger run THROUGH Structured Streaming under the
    SAME oracle as the batch form: the per-user delta stream feeds as
    two event-time-ordered micro-batches; :func:`..streaming.stateful.
    lindley_balance_partials` carries (cumsum, running-min) ValueState
    across the batch boundary — the Lindley recurrence in its natural
    sequential form — and the emitted per-row balances aggregate to the
    identical per-user summary (integer-cent state transitions are
    exact, so batch reflection identity ≡ streaming recursion
    bit-for-bit)."""
    from ..streaming import memory_batches_stream, run_available_now
    from ..streaming.stateful import lindley_balance_partials
    from .registry import scratch_dir

    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    d = ev.select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
        F.when(
            F.col("event_type").isin("purchase", "signup"), cents
        ).otherwise(-cents).alias("delta"),
    )
    mid = d.selectExpr("percentile_approx(ts, 0.5) AS m").first().m
    batches = [
        d.filter(F.col("ts") <= F.lit(mid)),
        d.filter(F.col("ts") > F.lit(mid)),
    ]
    src_dir = scratch_dir("src_lindley_stream_")
    sdf = memory_batches_stream(
        spark, batches, src_dir.path, files_per_trigger=1
    )
    with src_dir, conf_override(spark, {"spark.sql.shuffle.partitions": "8"}):
        with scratch_dir("ck_lindley_stream_") as ck:
            got = run_available_now(
                lindley_balance_partials(sdf), ck, "update"
            )
    return (
        got.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max_by("bal", "t").cast("long").alias("final_balance_cents"),
            F.max("bal").cast("long").alias("peak_balance_cents"),
            F.sum(F.when(F.col("bal") == 0, 1).otherwise(0))
            .cast("long")
            .alias("floor_hits"),
        )
        .orderBy("user_id")
    )


@query("streaming_cusum_chart", _CUSUM_ORACLE)
def streaming_cusum_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-sided CUSUM run THROUGH Structured Streaming under the
    SAME oracle as the batch chart: per-user slack-adjusted deviations
    (from exact batch-side moments — the Phase-I/Phase-II split of
    real SPC deployments, where control limits are estimated offline
    and monitoring is online) feed as two event-time-ordered
    micro-batches; :func:`..streaming.stateful.cusum_partials` carries
    both Lindley (cumsum, running-min) pairs across the boundary and
    the emitted pages aggregate to the identical per-user summary
    (same addends, same ascending order → bit-equal doubles)."""
    from ..streaming import memory_batches_stream, run_available_now
    from ..streaming.stateful import cusum_partials
    from .registry import scratch_dir

    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    v = ev.select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
        cents.alias("cents"),
    )
    m = (
        v.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").alias("s1"),
            F.sum(F.col("cents") * F.col("cents")).alias("s2"),
        )
        .filter(F.col("n") >= 20)
    )
    p = m.select(
        "user_id",
        "n",
        (F.col("s1").cast("double") / F.col("n")).alias("mu"),
        F.sqrt(
            (
                F.col("s2").cast("double")
                - F.col("s1").cast("double") * F.col("s1") / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("sigma"),
    )
    slack = F.lit(CUSUM_K_SIGMA) * F.col("sigma")
    feed = v.join(F.broadcast(p), "user_id").select(
        "user_id",
        "ts",
        "event_id",
        (F.col("cents") - F.col("mu") - slack).alias("y_hi"),
        (F.col("mu") - F.col("cents") - slack).alias("y_lo"),
    )
    mid = feed.selectExpr("percentile_approx(ts, 0.5) AS m").first().m
    batches = [
        feed.filter(F.col("ts") <= F.lit(mid)),
        feed.filter(F.col("ts") > F.lit(mid)),
    ]
    src_dir = scratch_dir("src_cusum_stream_")
    sdf = memory_batches_stream(
        spark, batches, src_dir.path, files_per_trigger=1
    )
    with src_dir, conf_override(spark, {"spark.sql.shuffle.partitions": "8"}):
        with scratch_dir("ck_cusum_stream_") as ck:
            got = run_available_now(cusum_partials(sdf), ck, "update")
    s = got.join(F.broadcast(p), "user_id").select(
        "user_id",
        "n",
        "sigma",
        F.round(F.col("sh") / 100.0 - 1e-9, 4).alias("sh"),
        F.round(F.col("sl") / 100.0 - 1e-9, 4).alias("sl"),
        F.round(
            F.lit(CUSUM_H_SIGMA) * F.col("sigma") / 100.0 - 1e-9, 4
        ).alias("h"),
    )
    return (
        s.groupBy("user_id")
        .agg(
            F.max("n").cast("long").alias("n_obs"),
            F.round(F.max("sigma") / 100.0 - 1e-9, 4).alias("sigma_usd"),
            F.sum(F.when(F.col("sh") > F.col("h"), 1).otherwise(0))
            .cast("long")
            .alias("high_alarms"),
            F.sum(F.when(F.col("sl") > F.col("h"), 1).otherwise(0))
            .cast("long")
            .alias("low_alarms"),
            F.round(F.max("sh") - 1e-9, 4).alias("max_sh_usd"),
            F.round(F.max("sl") - 1e-9, 4).alias("max_sl_usd"),
        )
        .orderBy("user_id")
    )
