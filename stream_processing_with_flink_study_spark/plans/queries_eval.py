"""Model-evaluation / financial-analytics queries (sixth wave):
ranking-quality metrics (ROC-AUC by rank-sum, decile gain/lift),
closed-form OLS regression diagnostics, autocorrelation profiles,
drawdown analysis, and a *native recursive CTE* amortization schedule
(Spark 4's ``WITH RECURSIVE`` — the SQL-surface twin of the dataflow
iteration in ``operators/graph.py``).

These are the offline-eval counterparts of a training-data pipeline:
once a quality score / classifier / ranking exists, AUC and decile
lift quantify it, OLS gives the quick explanatory baseline, and the
ACF/drawdown profiles describe the traffic series the stream operators
ingest.

Scale notes: every query aggregates its fact table in ONE pass before
any window/join; windows run over group-reduced frames (customers,
days, hours — orders of magnitude smaller than the fact tables), so
the only full-size shuffle is the initial keyed aggregation.  The OLS
query is the textbook numerically-stable two-pass: means first, then
centered moments — catastrophic cancellation of ``S_xx - S_x^2/n`` at
100 TB row counts is avoided by construction, and the second "pass" is
a broadcast join of a 3-row means table, not a rescan shuffle.

Cross-engine float determinism: ranks, counts and label sums are exact
integers; per-customer/per-day money is rounded to cents *before* any
ratio so both engines continue from bit-identical doubles; the
amortization recursion runs entirely in BIGINT cents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import conf_override
from ..sources import load_table
from .registry import query

LOYAL_MIN_ORDERS = 12
ACF_LAGS = (1, 2, 3, 6, 12, 24)
AMORT_MONTHS = 12
AMORT_RATE = 0.01  # monthly


@query(
    "roc_auc_by_source",
    """
    WITH d AS (
      SELECT source, n_chars AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents
    ),
    ranked AS (
      SELECT source, pos,
             rank() OVER (PARTITION BY source ORDER BY score) AS rk,
             count(*) OVER (PARTITION BY source, score) AS nt
      FROM d
    )
    SELECT source,
           CAST(sum(pos) AS BIGINT) AS n_pos,
           CAST(sum(1 - pos) AS BIGINT) AS n_neg,
           round((sum(pos * (rk + (nt - 1) / 2.0))
                  - sum(pos) * (sum(pos) + 1) / 2.0)
                 / (sum(pos) * sum(1 - pos)), 4) AS auc
    FROM ranked
    GROUP BY source
    HAVING sum(pos) > 0 AND sum(1 - pos) > 0
    """,
)
def roc_auc_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of a scalar score (doc length) against a binary label
    (``lang = 'en'``), per source — the Mann-Whitney rank-sum identity
    ``AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg)`` with average
    ranks for ties, i.e. exactly what sklearn's ``roc_auc_score``
    computes, as two window functions and one aggregate.

    This is the classifier-eval primitive of a data-quality pipeline:
    scoring a corpus and checking whether the score separates a target
    slice needs no per-threshold sweep — the rank-sum form is a single
    sort per group (reference scope: keyed aggregation,
    `정리/3주차.md` keyed-stream section).

    Scale: one shuffle to partition by source, one in-partition sort;
    ranks/labels are exact integers so the only float op is the final
    division — bit-stable against the oracle by construction."""
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        F.col("n_chars").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    ranked = d.select(
        "source",
        "pos",
        F.rank().over(Window.partitionBy("source").orderBy("score")).alias("rk"),
        F.count("*").over(Window.partitionBy("source", "score")).alias("nt"),
    )
    n_pos = F.sum("pos")
    n_neg = F.sum(F.lit(1) - F.col("pos"))
    r_pos = F.sum(F.col("pos") * (F.col("rk") + (F.col("nt") - 1) / 2.0))
    return (
        ranked.groupBy("source")
        .agg(
            n_pos.cast("long").alias("n_pos"),
            n_neg.cast("long").alias("n_neg"),
            F.round(
                (r_pos - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg), 4
            ).alias("auc"),
        )
        .filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
    )


@query(
    "decile_lift_loyal",
    f"""
    WITH cust AS (
      SELECT o_custkey,
             round(sum(o_totalprice), 2) AS spend,
             count(*) AS n_ord
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT o_custkey, spend,
             CASE WHEN n_ord >= {LOYAL_MIN_ORDERS} THEN 1 ELSE 0 END AS pos,
             ntile(10) OVER (ORDER BY spend DESC, o_custkey) AS decile
      FROM cust
    ),
    per AS (
      SELECT decile, count(*) AS n, sum(pos) AS n_pos
      FROM scored GROUP BY decile
    )
    SELECT decile,
           CAST(n AS BIGINT) AS n,
           CAST(n_pos AS BIGINT) AS n_pos,
           round(n_pos * 1.0 / n, 4) AS pos_rate,
           round(n_pos * 1.0 / sum(n_pos) OVER (), 4) AS capture,
           round(sum(n_pos) OVER (ORDER BY decile)
                 * 1.0 / sum(n_pos) OVER (), 4) AS cum_capture,
           round((n_pos * 1.0 / n)
                 / (sum(n_pos) OVER () * 1.0 / sum(n) OVER ()), 4) AS lift
    FROM per
    """,
)
def decile_lift_loyal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile gain/lift table: customers ranked by lifetime spend,
    scored against a "loyal" label (>= {LOYAL_MIN_ORDERS} orders) —
    per-decile positive rate, capture, cumulative gain, and lift, the
    campaign-targeting evaluation every scored customer list gets.

    Determinism: spend is rounded to cents BEFORE the ntile ordering
    and the ordering carries the customer key as tiebreak, so the
    decile cut is identical across engines even where rounded spends
    collide.  Scale: one groupBy(custkey) shuffle; the ntile runs over
    the reduced customer frame (|C| << |O|), and the decile totals are
    window sums over a 10-row aggregate."""
    cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("spend"),
            F.count("*").alias("n_ord"),
        )
    )
    scored = cust.select(
        "o_custkey",
        "spend",
        F.when(F.col("n_ord") >= LOYAL_MIN_ORDERS, 1).otherwise(0).alias("pos"),
        F.ntile(10)
        .over(Window.orderBy(F.col("spend").desc(), F.col("o_custkey")))
        .alias("decile"),
    )
    per = scored.groupBy("decile").agg(
        F.count("*").alias("n"), F.sum("pos").alias("n_pos")
    )
    w_all = Window.partitionBy()
    w_cum = Window.orderBy("decile")
    tot_pos = F.sum("n_pos").over(w_all)
    tot_n = F.sum("n").over(w_all)
    return per.select(
        "decile",
        F.col("n").cast("long").alias("n"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.round(F.col("n_pos") * 1.0 / F.col("n"), 4).alias("pos_rate"),
        F.round(F.col("n_pos") * 1.0 / tot_pos, 4).alias("capture"),
        F.round(F.sum("n_pos").over(w_cum) * 1.0 / tot_pos, 4).alias(
            "cum_capture"
        ),
        F.round(
            (F.col("n_pos") * 1.0 / F.col("n")) / (tot_pos * 1.0 / tot_n), 4
        ).alias("lift"),
    )


@query(
    "ols_price_model",
    """
    WITH base AS MATERIALIZED (
      SELECT l_returnflag AS rf, l_quantity AS x1,
             l_discount * 100.0 AS x2, l_extendedprice AS y
      FROM lineitem
    ),
    means AS (
      SELECT rf, count(*) AS n, avg(x1) AS mx1, avg(x2) AS mx2, avg(y) AS my
      FROM base GROUP BY rf
    ),
    cent AS (
      SELECT b.rf, m.n,
             sum((x1 - mx1) * (x1 - mx1)) AS a11,
             sum((x1 - mx1) * (x2 - mx2)) AS a12,
             sum((x2 - mx2) * (x2 - mx2)) AS a22,
             sum((x1 - mx1) * (y - my)) AS b1,
             sum((x2 - mx2) * (y - my)) AS b2,
             sum((y - my) * (y - my)) AS syy,
             max(mx1) AS mx1, max(mx2) AS mx2, max(my) AS my
      FROM base b JOIN means m ON b.rf = m.rf
      GROUP BY b.rf, m.n
    )
    SELECT rf AS returnflag, CAST(n AS BIGINT) AS n,
           round((b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12), 3)
             AS beta_qty,
           round((a11 * b2 - a12 * b1) / (a11 * a22 - a12 * a12), 3)
             AS beta_disc_pct,
           round(my - (b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) * mx1
                    - (a11 * b2 - a12 * b1) / (a11 * a22 - a12 * a12) * mx2,
                 2) AS intercept,
           round(((b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) * b1
                  + (a11 * b2 - a12 * b1) / (a11 * a22 - a12 * a12) * b2)
                 / syy, 4) AS r2
    FROM cent
    """,
)
def ols_price_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form two-predictor OLS per return flag: regress extended
    price on quantity and discount (in pct points), solving the 2x2
    normal equations by Cramer's rule — slope/intercept/R², the
    explain-this-column baseline every feature store wants before
    anyone reaches for an ML library.

    Numerically this is the *stable two-pass* algorithm: group means
    first, then centered second moments — never the cancellation-prone
    ``S_xx - S_x²/n`` single-pass form, which loses ~half the mantissa
    at 100 TB row counts.  The means frame is 3 rows, so the "second
    pass" joins it back by broadcast; the fact table shuffles once
    (groupBy rf) per pass and never self-joins.  Centered sums keep
    cross-engine summation-order jitter at ~1e-12 relative, so the
    3-decimal coefficient rounding is orders of magnitude coarser than
    the noise floor."""
    base = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("rf"),
        F.col("l_quantity").alias("x1"),
        (F.col("l_discount") * 100.0).alias("x2"),
        F.col("l_extendedprice").alias("y"),
    )
    means = base.groupBy("rf").agg(
        F.count("*").alias("n"),
        F.avg("x1").alias("mx1"),
        F.avg("x2").alias("mx2"),
        F.avg("y").alias("my"),
    )
    j = base.join(F.broadcast(means), "rf")
    cx1, cx2, cy = (
        F.col("x1") - F.col("mx1"),
        F.col("x2") - F.col("mx2"),
        F.col("y") - F.col("my"),
    )
    cent = j.groupBy("rf", "n").agg(
        F.sum(cx1 * cx1).alias("a11"),
        F.sum(cx1 * cx2).alias("a12"),
        F.sum(cx2 * cx2).alias("a22"),
        F.sum(cx1 * cy).alias("b1"),
        F.sum(cx2 * cy).alias("b2"),
        F.sum(cy * cy).alias("syy"),
        F.max("mx1").alias("mx1"),
        F.max("mx2").alias("mx2"),
        F.max("my").alias("my"),
    )
    det = F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")
    beta1 = (F.col("b1") * F.col("a22") - F.col("b2") * F.col("a12")) / det
    beta2 = (F.col("a11") * F.col("b2") - F.col("a12") * F.col("b1")) / det
    return cent.select(
        F.col("rf").alias("returnflag"),
        F.col("n").cast("long").alias("n"),
        F.round(beta1, 3).alias("beta_qty"),
        F.round(beta2, 3).alias("beta_disc_pct"),
        F.round(
            F.col("my") - beta1 * F.col("mx1") - beta2 * F.col("mx2"), 2
        ).alias("intercept"),
        F.round(
            (beta1 * F.col("b1") + beta2 * F.col("b2")) / F.col("syy"), 4
        ).alias("r2"),
    )


@query(
    "acf_hourly_events",
    f"""
    WITH hourly AS MATERIALIZED (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h, count(*) AS n
      FROM events GROUP BY 1
    ),
    stats AS (
      SELECT avg(n) AS m, count(*) AS cnt FROM hourly
    ),
    ss AS (
      SELECT sum((n - m) * (n - m)) AS den
      FROM hourly CROSS JOIN stats
    ),
    lags AS (SELECT unnest(ARRAY{list(ACF_LAGS)}) AS lag_k)
    SELECT l.lag_k,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(sum((a.n - s.m) * (b.n - s.m)) / max(ss.den), 4) AS acf
    FROM hourly a
    CROSS JOIN lags l
    JOIN hourly b ON b.h = a.h - l.lag_k
    CROSS JOIN stats s CROSS JOIN ss
    GROUP BY l.lag_k
    """,
)
def acf_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation profile of the hourly event-arrival series at
    lags {1, 2, 3, 6, 12, 24} — the seasonality fingerprint (daily
    cycle shows up as a high lag-24 ACF) that sizes stream windows and
    picks forecast baselines.

    Shape: events collapse to one row per epoch-hour in a single scan;
    the lagged pairing is a self-equi-join of that tiny series on
    integer hour keys shifted by each lag (no nested windows, so the
    same text runs on both engines), and the global mean/denominator
    frames are single-row broadcasts.  Counts are exact ints; the only
    order-sensitive float sum is the centered-product numerator, ~1e-15
    relative against a 4-decimal rounding."""
    ev = load_table(spark, sf_dir, "events")
    # the hourly series is tiny (one row per hour) but feeds FOUR
    # consumers (mean, denominator, both sides of the lag self-join) —
    # pin it so the fact table is scanned once, not five times
    hourly = (
        ev.groupBy(
            F.floor(F.unix_timestamp("ts") / F.lit(3600))
            .cast("long")
            .alias("h")
        )
        .agg(F.count("*").alias("n"))
        .localCheckpoint()
    )
    stats = hourly.agg(F.avg("n").alias("m"), F.count("*").alias("cnt"))
    ss = hourly.crossJoin(F.broadcast(stats)).agg(
        F.sum((F.col("n") - F.col("m")) * (F.col("n") - F.col("m"))).alias(
            "den"
        )
    )
    lags = F.broadcast(
        ev.sparkSession.createDataFrame(
            [(k,) for k in ACF_LAGS], "lag_k INT"
        )
    )
    a = hourly.alias("a")
    b = hourly.alias("b")
    pairs = a.crossJoin(lags).join(
        b, F.col("b.h") == F.col("a.h") - F.col("lag_k")
    )
    return (
        pairs.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(ss))
        .groupBy("lag_k")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(
                F.sum(
                    (F.col("a.n") - F.col("m")) * (F.col("b.n") - F.col("m"))
                )
                / F.max("den"),
                4,
            ).alias("acf"),
        )
    )


@query(
    "max_drawdown_yearly",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             round(sum(o_totalprice), 2) AS rev
      FROM orders GROUP BY 1
    ),
    dd AS (
      SELECT EXTRACT(year FROM d) AS yr, d, rev,
             max(rev) OVER (PARTITION BY EXTRACT(year FROM d)
                            ORDER BY d ROWS UNBOUNDED PRECEDING) AS peak
      FROM daily
    )
    SELECT CAST(yr AS BIGINT) AS yr,
           CAST(count(*) AS BIGINT) AS n_days,
           round(max(peak), 2) AS peak_rev,
           round(max(1.0 - rev / peak), 4) AS max_drawdown
    FROM dd
    GROUP BY yr
    """,
)
def max_drawdown_yearly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest peak-to-trough collapse of the daily-revenue series per
    year — the classic running-max drawdown from quantitative finance,
    applied to order flow as a volatility/anomaly headline ("worst
    within-year revenue dip off the year's running peak").

    One scan reduces orders to ~365 rows per year; the running max is
    a cumulative window over that reduced frame.  Daily revenue is
    rounded to cents first, so peak/ratio arithmetic starts from
    bit-identical doubles in both engines."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    )
    dd = daily.select(
        F.year("d").alias("yr"),
        "d",
        "rev",
        F.max("rev")
        .over(
            Window.partitionBy(F.year("d"))
            .orderBy("d")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("peak"),
    )
    return dd.groupBy(F.col("yr").cast("long").alias("yr")).agg(
        F.count("*").cast("long").alias("n_days"),
        F.round(F.max("peak"), 2).alias("peak_rev"),
        F.round(F.max(F.lit(1.0) - F.col("rev") / F.col("peak")), 4).alias(
            "max_drawdown"
        ),
    )


_AMORT_SQL = f"""
WITH RECURSIVE principal AS (
  SELECT n.n_name AS nation,
         CAST(floor(round(sum(o.o_totalprice), 2) * 100 + 0.5) AS BIGINT)
           AS principal_c
  FROM {{orders}} o
  JOIN {{customer}} c ON o.o_custkey = c.c_custkey
  JOIN {{nation}} n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
),
loan AS (
  SELECT nation, principal_c,
         CAST(floor(principal_c * ({AMORT_RATE}
               * power(1.0 + {AMORT_RATE}, {AMORT_MONTHS}))
               / (power(1.0 + {AMORT_RATE}, {AMORT_MONTHS}) - 1.0))
              AS BIGINT) AS payment_c
  FROM principal
),
sched (nation, month, balance_c, interest_c, payment_c) AS (
  SELECT nation, 0, principal_c, CAST(0 AS BIGINT), payment_c FROM loan
  UNION ALL
  SELECT nation, month + 1,
         balance_c + CAST(floor(balance_c / 100.0) AS BIGINT) - payment_c,
         CAST(floor(balance_c / 100.0) AS BIGINT),
         payment_c
  FROM sched WHERE month < {AMORT_MONTHS}
)
SELECT nation, CAST(month AS BIGINT) AS month,
       round(balance_c / CAST(100 AS DOUBLE), 2) AS balance,
       round(interest_c / CAST(100 AS DOUBLE), 2) AS interest,
       round((payment_c - interest_c) / CAST(100 AS DOUBLE), 2)
         AS principal_paid
FROM sched WHERE month > 0
"""


@query(
    "amortization_recursive_cte",
    _AMORT_SQL.format(orders="orders", customer="customer", nation="nation"),
)
def amortization_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12-month fixed-payment amortization schedule per nation (the
    nation's order revenue as principal, 1%/month annuity) computed
    with Spark 4's native ``WITH RECURSIVE`` — the SQL-surface
    counterpart of the engine's dataflow iteration (`operators/
    graph.py`): per-group scalar recursion with a monotone bound, run
    verbatim by both engines.

    Determinism: the recursion runs entirely in BIGINT cents (interest
    = floor(balance/100)), so every step is bit-exact — the one float
    boundary is the annuity-factor payment, floored identically from
    identical doubles.  Scale: the recursive frame is |nations| rows x
    12 iterations over a one-pass revenue rollup; each iteration is a
    narrow map, no shuffle growth."""
    for t in ("orders", "customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"amortv_{t}")
    return spark.sql(
        _AMORT_SQL.format(
            orders="amortv_orders",
            customer="amortv_customer",
            nation="amortv_nation",
        )
    )


POLICY_SPLIT_TS = "2024-01-16 00:00:00"
POLICY_SEGMENTS = 4


@query(
    "policy_replay_eval",
    f"""
    WITH train AS (
      SELECT user_id % {POLICY_SEGMENTS} AS seg, event_type,
             round(avg(value), 4) AS m
      FROM events WHERE ts < TIMESTAMP '{POLICY_SPLIT_TS}'
      GROUP BY 1, 2
    ),
    rec AS (
      SELECT seg, event_type AS rec_type, m AS rec_train_mean
      FROM (
        SELECT *, row_number() OVER (PARTITION BY seg
                                     ORDER BY m DESC, event_type) AS rn
        FROM train
      ) WHERE rn = 1
    ),
    ev AS (
      SELECT user_id % {POLICY_SEGMENTS} AS seg, event_type, value
      FROM events WHERE ts >= TIMESTAMP '{POLICY_SPLIT_TS}'
    )
    SELECT e.seg, r.rec_type, r.rec_train_mean,
           CAST(count(*) AS BIGINT) AS n_eval,
           round(avg(CASE WHEN e.event_type = r.rec_type
                          THEN 1.0 ELSE 0.0 END), 4) AS match_rate,
           round(sum(CASE WHEN e.event_type = r.rec_type
                          THEN value ELSE 0 END)
                 / sum(CASE WHEN e.event_type = r.rec_type
                            THEN 1 ELSE 0 END), 4) AS matched_mean,
           round(avg(value), 4) AS overall_mean,
           round(sum(CASE WHEN e.event_type = r.rec_type
                          THEN value ELSE 0 END)
                 / sum(CASE WHEN e.event_type = r.rec_type
                            THEN 1 ELSE 0 END)
                 - avg(value), 4) AS uplift
    FROM ev e JOIN rec r ON e.seg = r.seg
    GROUP BY e.seg, r.rec_type, r.rec_train_mean
    """,
)
def policy_replay_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline policy evaluation by replay (the Li et al. 2011
    contextual-bandit protocol, degenerated to a static per-segment
    policy so it stays join-expressible): learn "best event type by
    mean reward" per user segment on the first half of the log, then
    replay the held-out second half — match rate, mean reward on
    matched events, and uplift vs the logging policy's overall mean.

    This is the A/B-before-the-A/B primitive of a recommendation
    pipeline: one pass over the train slice (groupBy seg x type), a
    4-row policy table broadcast into one pass over the eval slice.
    The time-based split predicate pushes into the parquet scan; no
    per-event state, so the replay parallelizes trivially at 100 TB.
    The argmax is taken over 4dp-rounded train means with the type
    as tiebreak, so both engines pick identical policies."""
    ev = load_table(spark, sf_dir, "events")
    seg = (F.col("user_id") % POLICY_SEGMENTS).alias("seg")
    split = F.lit(POLICY_SPLIT_TS).cast("timestamp")
    train = (
        ev.filter(F.col("ts") < split)
        .groupBy(seg, "event_type")
        .agg(F.round(F.avg("value"), 4).alias("m"))
    )
    rec = (
        train.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("seg").orderBy(
                    F.col("m").desc(), F.col("event_type")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            "seg",
            F.col("event_type").alias("rec_type"),
            F.col("m").alias("rec_train_mean"),
        )
    )
    eval_ev = ev.filter(F.col("ts") >= split).select(seg, "event_type", "value")
    matched = F.when(F.col("event_type") == F.col("rec_type"), 1).otherwise(0)
    matched_sum = F.sum(matched * F.col("value"))
    matched_n = F.sum(matched)
    return (
        eval_ev.join(F.broadcast(rec), "seg")
        .groupBy("seg", "rec_type", "rec_train_mean")
        .agg(
            F.count("*").cast("long").alias("n_eval"),
            F.round(F.avg(matched * F.lit(1.0)), 4).alias("match_rate"),
            F.round(matched_sum / matched_n, 4).alias("matched_mean"),
            F.round(F.avg("value"), 4).alias("overall_mean"),
            F.round(matched_sum / matched_n - F.avg("value"), 4).alias(
                "uplift"
            ),
        )
    )


MI_VALUE_THRESHOLD = 50.0


@query(
    "mutual_info_screen",
    f"""
    WITH feat AS (
      SELECT fv.f AS feature, fv.v AS val,
             CASE WHEN value >= {MI_VALUE_THRESHOLD} THEN 1 ELSE 0 END AS y
      FROM events,
           unnest([
             {{'f': 'event_type', 'v': event_type}},
             {{'f': 'hour', 'v': CAST(EXTRACT(hour FROM ts) AS VARCHAR)}},
             {{'f': 'dow', 'v': CAST(EXTRACT(isodow FROM ts) AS VARCHAR)}},
             {{'f': 'user_mod10', 'v': CAST(user_id % 10 AS VARCHAR)}}
           ]) AS t(fv)
    ),
    cxy AS (
      SELECT feature, val, y, count(*) AS c
      FROM feat GROUP BY feature, val, y
    ),
    m AS (
      SELECT feature, val, y, c,
             sum(c) OVER (PARTITION BY feature, val) AS cx,
             sum(c) OVER (PARTITION BY feature, y) AS cy,
             sum(c) OVER (PARTITION BY feature) AS n
      FROM cxy
    ),
    mi AS (
      SELECT feature,
             CAST(count(DISTINCT val) AS BIGINT) AS n_levels,
             round(sum((c * 1.0 / n) * ln((c * 1.0 * n) / (cx * 1.0 * cy))),
                   4) AS mi_nats
      FROM m GROUP BY feature
    )
    SELECT feature, n_levels, mi_nats FROM mi
    """,
)
def mutual_info_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(X; Y) between candidate categorical
    features (event type, hour-of-day, ISO day-of-week, user-id bucket)
    and a binary reward label (value >= {MI_VALUE_THRESHOLD}) — the
    filter-method feature screen run before any model training.

    One scan: each event fans out to 4 (feature, value, label) rows via
    an exploded literal array (no per-feature rescan), one shuffle
    groups the contingency cells, and the marginals come from window
    sums over the tiny cell frame.  Every probability is a ratio of
    exact BIGINT counts, so each ``p * ln(...)`` term is bit-identical
    across engines; only the final sum (< 100 terms) sees order jitter,
    absorbed by 4-decimal rounding."""
    ev = load_table(spark, sf_dir, "events")
    y = F.when(F.col("value") >= MI_VALUE_THRESHOLD, 1).otherwise(0)
    feat = ev.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("event_type").alias("f"),
                    F.col("event_type").alias("v"),
                ),
                F.struct(
                    F.lit("hour").alias("f"),
                    F.hour("ts").cast("string").alias("v"),
                ),
                F.struct(
                    F.lit("dow").alias("f"),
                    # weekday() is 0=Monday; +1 matches DuckDB's isodow
                    (F.weekday("ts") + 1).cast("string").alias("v"),
                ),
                F.struct(
                    F.lit("user_mod10").alias("f"),
                    (F.col("user_id") % 10).cast("string").alias("v"),
                ),
            )
        ).alias("fv"),
        y.alias("y"),
    ).select(
        F.col("fv.f").alias("feature"), F.col("fv.v").alias("val"), "y"
    )
    cxy = feat.groupBy("feature", "val", "y").agg(F.count("*").alias("c"))
    m = cxy.select(
        "feature",
        "val",
        "y",
        "c",
        F.sum("c").over(Window.partitionBy("feature", "val")).alias("cx"),
        F.sum("c").over(Window.partitionBy("feature", "y")).alias("cy"),
        F.sum("c").over(Window.partitionBy("feature")).alias("n"),
    )
    term = (F.col("c") * 1.0 / F.col("n")) * F.log(
        (F.col("c") * 1.0 * F.col("n")) / (F.col("cx") * 1.0 * F.col("cy"))
    )
    return m.groupBy("feature").agg(
        F.countDistinct("val").cast("long").alias("n_levels"),
        F.round(F.sum(term), 4).alias("mi_nats"),
    )


CALIB_BINS = 10


@query(
    "calibration_bins",
    f"""
    WITH d AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
             (rank() OVER (ORDER BY n_chars) - 1) * 1.0
               / (count(*) OVER () - 1) AS score
      FROM documents
    ),
    binned AS (
      SELECT least(CAST(floor(score * {CALIB_BINS}) AS BIGINT),
                   {CALIB_BINS - 1}) AS bin,
             pos, score
      FROM d
    )
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(score), 4) AS mean_score,
           round(avg(pos * 1.0), 4) AS pos_rate,
           round(avg(pos * 1.0) - avg(score), 4) AS gap
    FROM binned GROUP BY bin
    """,
)
def calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram / calibration table: treat the corpus-wide
    percentile of doc length as a pseudo-probability of the ``en``
    label and bin it into {CALIB_BINS} equal-width buckets — per-bin
    mean score vs observed positive rate and their gap, whose
    n-weighted absolute sum is the expected calibration error (ECE).

    Companion to ``roc_auc_by_source``: AUC measures ranking,
    calibration measures probability quality.  The percentile is
    ``(rank-1)/(N-1)`` from an integer rank (tie-stable in both
    engines); binning floors exact ratios, so bucket assignment can
    never straddle engines.  Scale: one sort (the rank), then a
    {CALIB_BINS}-row aggregate."""
    d = load_table(spark, sf_dir, "documents").select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
        (
            (F.rank().over(Window.orderBy("n_chars")) - 1)
            * 1.0
            / (F.count("*").over(Window.partitionBy()) - 1)
        ).alias("score"),
    )
    binned = d.select(
        F.least(
            F.floor(F.col("score") * CALIB_BINS).cast("long"),
            F.lit(CALIB_BINS - 1),
        ).alias("bin"),
        "pos",
        "score",
    )
    return binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.avg("score"), 4).alias("mean_score"),
        F.round(F.avg(F.col("pos") * 1.0), 4).alias("pos_rate"),
        F.round(F.avg(F.col("pos") * 1.0) - F.avg("score"), 4).alias("gap"),
    )


@query(
    "streaming_drawdown_yearly",
    """
    WITH daily AS (
      SELECT EXTRACT(year FROM o_orderdate) AS yr,
             CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(floor(round(o_totalprice, 2) * 100 + 0.5)
                           AS BIGINT)) AS BIGINT) AS rev_c
      FROM orders GROUP BY 1, 2
    ),
    dd AS (
      SELECT yr, rev_c,
             max(rev_c) OVER (PARTITION BY yr
                              ORDER BY d ROWS UNBOUNDED PRECEDING) AS peak
      FROM daily
    )
    SELECT CAST(yr AS BIGINT) AS yr,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(max(peak) AS BIGINT) AS peak_c,
           round(max(1.0 - rev_c * 1.0 / peak), 4) AS max_dd
    FROM dd GROUP BY yr
    """,
)
def streaming_drawdown_yearly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yearly max drawdown computed THROUGH Structured Streaming: the
    order log replays as two micro-batches split on a date boundary,
    :func:`..streaming.stateful.drawdown_partials` carries each year's
    running revenue peak across the boundary, and the emitted
    cumulative partials fold with a plain max — exercising the case a
    per-batch rollup gets wrong (a trough in batch 2 measured against
    a peak committed in batch 1).

    Determinism vs the batch SQL oracle: daily revenue is a sum of
    per-order integer cents (exact in both engines), the running peak
    is an int64 running max, and the drawdown ratio divides the same
    int64 pair — so stream and oracle agree bit-for-bit before the
    single 4dp rounding."""
    from ..streaming import memory_batches_stream, run_available_now
    from ..streaming.stateful import drawdown_partials
    from .registry import scratch_dir

    orders = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("d_days"),
        F.floor(F.round(F.col("o_totalprice"), 2) * 100 + 0.5)
        .cast("long")
        .alias("price_c"),
    )
    mid = orders.selectExpr("percentile_approx(d_days, 0.5) AS m").first().m
    batches = [
        orders.filter(F.col("d_days") <= F.lit(mid)),
        orders.filter(F.col("d_days") > F.lit(mid)),
    ]
    src_dir = scratch_dir("src_dd_stream_")
    sdf = memory_batches_stream(
        spark, batches, src_dir.path, files_per_trigger=1
    )
    with src_dir, conf_override(spark, {"spark.sql.shuffle.partitions": "8"}):
        with scratch_dir("ck_dd_stream_") as ck:
            got = run_available_now(drawdown_partials(sdf), ck, "update")
    return got.groupBy("yr").agg(
        F.max("n_days").cast("long").alias("n_days"),
        F.max("peak_c").cast("long").alias("peak_c"),
        F.round(F.max("max_dd"), 4).alias("max_dd"),
    )


DBSCAN_EPS = 0.05
DBSCAN_MIN_PTS = 3
_CELL_OFF = 512
_CELL_W = 1024


@query(
    "dbscan_grid_clusters",
    f"""
    WITH RECURSIVE pts AS (
      SELECT CAST(floor(embedding[1] / {DBSCAN_EPS}) AS BIGINT) AS ix,
             CAST(floor(embedding[2] / {DBSCAN_EPS}) AS BIGINT) AS iy
      FROM embeddings
    ),
    dense AS MATERIALIZED (
      SELECT (ix + {_CELL_OFF}) * {_CELL_W} + iy + {_CELL_OFF} AS cid,
             ix, iy, count(*) AS cnt
      FROM pts GROUP BY ix, iy
      HAVING count(*) >= {DBSCAN_MIN_PTS}
    ),
    edges AS MATERIALIZED (
      SELECT a.cid AS u, b.cid AS v
      FROM dense a JOIN dense b
        ON abs(a.ix - b.ix) <= 1 AND abs(a.iy - b.iy) <= 1
       AND a.cid <> b.cid
    ),
    reach (v, lbl) AS (
      SELECT cid, cid FROM dense
      UNION
      SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.v
    ),
    comp AS (
      SELECT v AS cid, min(lbl) AS cluster FROM reach GROUP BY v
    )
    SELECT c.cluster,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(d.cnt) AS BIGINT) AS n_points,
           min(d.ix) AS ix_min, max(d.ix) AS ix_max,
           min(d.iy) AS iy_min, max(d.iy) AS iy_max
    FROM comp c JOIN dense d ON d.cid = c.cid
    GROUP BY c.cluster
    """,
)
def dbscan_grid_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-accelerated density clustering (the GriDBSCAN / cell-based
    DBSCAN approximation): bucket the first two embedding components
    into an eps-grid, keep cells with >= {DBSCAN_MIN_PTS} points as
    dense "core" cells, and merge 8-adjacent dense cells into clusters
    with the engine's dataflow connected components
    (`operators/graph.py:connected_components`).  Per cluster: cell
    count, point count, and grid bounding box.

    The scale story is the whole point: the grid has a BOUNDED number
    of occupied cells (<= (range/eps)² regardless of N), so after one
    groupBy over the points the clustering runs on a frame that does
    not grow with the corpus — the classic way to make density
    clustering feasible where pairwise DBSCAN is O(N²).  Cell
    adjacency is an equi-join on neighbor-shifted keys (an 8-row
    offset table, broadcast), not a theta-join.  The DuckDB oracle
    replays the component merge as a recursive min-label CTE (UNION-
    distinct recursion — exactly the fixpoint the dataflow loop
    computes), so the full output is hash-checked: every emitted
    column is an exact integer."""
    from ..operators.graph import connected_components

    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.floor(F.element_at("embedding", 1) / DBSCAN_EPS)
        .cast("long")
        .alias("ix"),
        F.floor(F.element_at("embedding", 2) / DBSCAN_EPS)
        .cast("long")
        .alias("iy"),
    )
    dense = (
        pts.groupBy("ix", "iy")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= DBSCAN_MIN_PTS)
        .withColumn(
            "cid",
            (F.col("ix") + _CELL_OFF) * _CELL_W + F.col("iy") + _CELL_OFF,
        )
    )
    dense.persist()
    offsets = emb.sparkSession.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)],
        "dx LONG, dy LONG",
    )
    shifted = dense.select("cid", "ix", "iy").crossJoin(
        F.broadcast(offsets)
    ).select(
        F.col("cid").alias("u"),
        (F.col("ix") + F.col("dx")).alias("jx"),
        (F.col("iy") + F.col("dy")).alias("jy"),
    )
    edges = shifted.join(
        dense.select(F.col("cid").alias("v"), F.col("ix").alias("jx"),
                     F.col("iy").alias("jy")),
        ["jx", "jy"],
    ).filter(F.col("u") != F.col("v")).select("u", "v")
    comp = connected_components(
        edges, src="u", dst="v", vertices=dense.select("cid"), vertex_col="cid"
    )
    return (
        comp.withColumnRenamed("id", "cid")
        .join(dense, "cid")
        .groupBy(F.col("comp").alias("cluster"))
        .agg(
            F.count("*").cast("long").alias("n_cells"),
            F.sum("cnt").cast("long").alias("n_points"),
            F.min("ix").alias("ix_min"),
            F.max("ix").alias("ix_max"),
            F.min("iy").alias("iy_min"),
            F.max("iy").alias("iy_max"),
        )
    )


@query(
    "unpivot_monthly_metrics",
    """
    WITH m AS (
      SELECT CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR) AS month,
             CAST(count(*) AS DOUBLE) AS n_orders,
             round(sum(o_totalprice), 2) AS revenue,
             round(avg(o_totalprice), 2) AS avg_price
      FROM orders
      WHERE o_orderdate < TIMESTAMP '1996-01-01'
      GROUP BY 1
    )
    SELECT month, metric, val FROM (
      SELECT month, 'n_orders' AS metric, n_orders AS val FROM m
      UNION ALL
      SELECT month, 'revenue', revenue FROM m
      UNION ALL
      SELECT month, 'avg_price', avg_price FROM m
    )
    """,
)
def unpivot_monthly_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshaping via the engine's native ``unpivot``
    (melt) operator — the inverse of ``pivot_event_counts``: a monthly
    metrics table (orders, revenue, average price) unfolds to
    (month, metric, value) triples, the shape dashboards and metric
    stores ingest.

    ``DataFrame.unpivot`` is pure metadata over the aggregated frame
    (no shuffle — each wide row fans to 3 narrow rows in place), so
    the cost stays the single month rollup; the oracle spells the same
    reshape as a UNION ALL, which is exactly the logical expansion
    Spark plans for melt.  Values ride as doubles rounded to cents
    before reshaping."""
    m = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count("*").cast("double").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        )
    )
    return m.unpivot("month", ["n_orders", "revenue", "avg_price"], "metric", "val")


MARKOV_ATTR_ITERS = 12


def _markov_attr_oracle() -> str:
    """Unrolled fixed-point absorption iteration (recursive-term
    aggregation is not legal SQL, same constraint as the pagerank
    oracle) — `tprob` is referenced by every unrolled step, so it MUST
    be materialized or DuckDB re-expands the fact scan per step."""
    steps = []
    prev = "it0"
    for k in range(1, MARKOV_ATTR_ITERS + 1):
        steps.append(f"""
    it{k} AS (
      SELECT sc.removed, t.src AS s,
             sum(CASE WHEN t.dst = 'purchase' THEN t.p
                      WHEN t.dst = 'dropout' OR t.dst = sc.removed THEN 0
                      ELSE t.p * coalesce(prev.a, 0) END) AS a
      FROM tprob t
      CROSS JOIN scen sc
      LEFT JOIN {prev} prev ON prev.removed = sc.removed AND prev.s = t.dst
      WHERE t.src <> sc.removed
      GROUP BY sc.removed, t.src
    )""")
        prev = f"it{k}"
    unrolled = ",".join(steps)
    return f"""
    WITH ev_ord AS MATERIALIZED (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS pos
      FROM events
    ),
    seq AS (
      SELECT user_id, event_type, pos FROM ev_ord
      UNION ALL
      SELECT DISTINCT user_id, 'start', 0 FROM ev_ord
    ),
    first_p AS (
      SELECT user_id, min(pos) AS ppos FROM ev_ord
      WHERE event_type = 'purchase' GROUP BY user_id
    ),
    journey AS MATERIALIZED (
      SELECT s.user_id, s.event_type, s.pos,
             f.ppos IS NOT NULL AS has_conv
      FROM seq s LEFT JOIN first_p f ON s.user_id = f.user_id
      WHERE f.ppos IS NULL OR s.pos < f.ppos
    ),
    trans AS (
      SELECT event_type AS src,
             coalesce(lead(event_type) OVER (PARTITION BY user_id
                                             ORDER BY pos),
                      CASE WHEN has_conv THEN 'purchase'
                           ELSE 'dropout' END) AS dst
      FROM journey
    ),
    tcnt AS MATERIALIZED (
      SELECT src, dst, count(*) AS c FROM trans GROUP BY src, dst
    ),
    tprob AS MATERIALIZED (
      SELECT src, dst, c * 1.0 / (sum(c) OVER (PARTITION BY src)) AS p
      FROM tcnt
    ),
    scen AS MATERIALIZED (
      SELECT DISTINCT src AS removed FROM tcnt WHERE src <> 'start'
      UNION ALL SELECT 'base'
    ),
    it0 AS (
      SELECT sc.removed, t.src AS s, CAST(0 AS DOUBLE) AS a
      FROM (SELECT DISTINCT src FROM tcnt) t CROSS JOIN scen sc
      WHERE t.src <> sc.removed
    ),
    {unrolled}
    SELECT r.removed AS channel,
           round(r.a, 4) AS p_conv_removed,
           round(b.a, 4) AS p_conv_base,
           round((b.a - r.a) / b.a, 4) AS removal_effect,
           round(((b.a - r.a) / b.a)
                 / sum((b.a - r.a) / b.a) OVER (), 4) AS attribution
    FROM it{MARKOV_ATTR_ITERS} r
    CROSS JOIN (SELECT a FROM it{MARKOV_ATTR_ITERS}
                WHERE removed = 'base' AND s = 'start') b
    WHERE r.removed <> 'base' AND r.s = 'start'
    """


@query("markov_attribution_removal", _markov_attr_oracle())
def markov_attribution_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain multi-touch attribution by REMOVAL EFFECT (Anderl
    et al. 2014): build the first-order journey transition matrix
    (start -> touches -> purchase | dropout, cut at first conversion),
    then for each channel compute the absorption probability of
    'purchase' with that channel knocked out (its inbound transitions
    redirected to dropout); a channel's credit is its relative drop in
    conversion probability.  This is the principled alternative to the
    positional heuristics (`attribution_last_touch`,
    `attribution_position_based`) — it credits channels by causal
    leverage in the chain, not position.

    Shape: journeys collapse to a transition-count matrix in one
    windowed pass over events (the only full-size shuffle); the
    absorption fixed point runs {MARKOV_ATTR_ITERS} rounds of
    join-aggregate on a (channels+2)² matrix — a frame whose size
    depends on the EVENT-TYPE alphabet, not the corpus, so the
    iteration costs nothing at any scale (same regime as
    `operators/graph.py:pagerank`, eager checkpoint per round to keep
    lineage flat).  All transition probabilities are exact count
    ratios; the oracle unrolls the identical fixed-iteration recursion,
    so both engines converge on the same doubles within summation
    jitter, far inside the 4dp rounding."""
    ev = load_table(spark, sf_dir, "events")
    ev_ord = ev.select(
        "user_id",
        "event_type",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("pos"),
    )
    seq = ev_ord.unionByName(
        ev_ord.select("user_id").distinct().select(
            "user_id", F.lit("start").alias("event_type"), F.lit(0).alias("pos")
        )
    )
    first_p = (
        ev_ord.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("pos").alias("ppos"))
    )
    journey = (
        seq.join(first_p, "user_id", "left")
        .filter(F.col("ppos").isNull() | (F.col("pos") < F.col("ppos")))
        .select(
            "user_id",
            "event_type",
            "pos",
            F.col("ppos").isNotNull().alias("has_conv"),
        )
    )
    trans = journey.select(
        F.col("event_type").alias("src"),
        F.coalesce(
            F.lead("event_type").over(
                Window.partitionBy("user_id").orderBy("pos")
            ),
            F.when(F.col("has_conv"), "purchase").otherwise("dropout"),
        ).alias("dst"),
    )
    tcnt = trans.groupBy("src", "dst").agg(F.count("*").alias("c"))
    tprob = tcnt.select(
        "src",
        "dst",
        (
            F.col("c") * 1.0 / F.sum("c").over(Window.partitionBy("src"))
        ).alias("p"),
    ).localCheckpoint()
    # the transition matrix is ALPHABET-bounded ((channels+2)² rows),
    # so the {MARKOV_ATTR_ITERS}-round absorption fixed point runs on
    # the DRIVER over one collected dict (round-12 rework — was a
    # localCheckpoint job per round over a ~60-row frame: 12 rounds of
    # pure scheduling).  Per-(removed, s) sums accumulate in sorted-dst
    # order; 12 rounds of ulp-level summation jitter stay ~1e-14
    # relative, far inside the 4dp output rounding — the same argument
    # the unrolled DuckDB oracle already relies on.  Rounding and the
    # attribution normalization stay in Spark, unchanged.
    tp_rows = sorted(
        ((r.src, r.dst, r.p) for r in tprob.collect()),
        key=lambda t: (t[0], t[1]),
    )
    states = sorted({s for s, _, _ in tp_rows})
    scen_list = [s for s in states if s != "start"] + ["base"]
    by_src: dict[str, list[tuple[str, float]]] = {}
    for s, d, p in tp_rows:
        by_src.setdefault(s, []).append((d, p))
    a_val: dict[tuple[str, str], float] = {
        (rm, s): 0.0 for rm in scen_list for s in states if s != rm
    }
    for _ in range(MARKOV_ATTR_ITERS):
        new_a: dict[tuple[str, str], float] = {}
        for rm in scen_list:
            for s in states:
                if s == rm:
                    continue
                tot = 0.0
                for d, p in by_src.get(s, ()):
                    if d == "purchase":
                        tot += p
                    elif d == "dropout" or d == rm:
                        tot += 0.0
                    else:
                        tot += p * a_val.get((rm, d), 0.0)
                new_a[(rm, s)] = tot
        a_val = new_a
    a = ev.sparkSession.createDataFrame(
        [(rm, s, v) for (rm, s), v in sorted(a_val.items())],
        "removed string, s string, a double",
    )
    base = a.filter(
        (F.col("removed") == "base") & (F.col("s") == "start")
    ).select(F.col("a").alias("a_base"))
    rem = a.filter((F.col("removed") != "base") & (F.col("s") == "start"))
    effect = (F.col("a_base") - F.col("a")) / F.col("a_base")
    return (
        rem.crossJoin(F.broadcast(base))
        .select(
            F.col("removed").alias("channel"),
            F.round(F.col("a"), 4).alias("p_conv_removed"),
            F.round(F.col("a_base"), 4).alias("p_conv_base"),
            F.round(effect, 4).alias("removal_effect"),
            effect.alias("_eff"),
        )
        .withColumn(
            "attribution",
            F.round(F.col("_eff") / F.sum("_eff").over(Window.partitionBy()), 4),
        )
        .drop("_eff")
    )


HOLT_ALPHA = "CAST(0.3 AS DOUBLE)"
HOLT_BETA = "CAST(0.1 AS DOUBLE)"

_HOLT_SQL = f"""
WITH RECURSIVE monthly AS (
  SELECT CAST(row_number() OVER (ORDER BY month) AS BIGINT) - 1 AS idx,
         month, y
  FROM (
    SELECT {{month_expr}} AS month, round(sum(o_totalprice), 2) AS y
    FROM {{orders}}
    WHERE o_orderdate >= TIMESTAMP '1999-01-01'
    GROUP BY 1
  )
),
hw (idx, month, y, lvl, trend) AS (
  SELECT m0.idx, m0.month, m0.y, m0.y, m1.y - m0.y
  FROM monthly m0 JOIN monthly m1 ON m0.idx = 0 AND m1.idx = 1
  UNION ALL
  SELECT m.idx, m.month, m.y,
         {HOLT_ALPHA} * m.y
           + (1 - {HOLT_ALPHA}) * (h.lvl + h.trend),
         {HOLT_BETA} * (({HOLT_ALPHA} * m.y
                         + (1 - {HOLT_ALPHA}) * (h.lvl + h.trend)) - h.lvl)
           + (1 - {HOLT_BETA}) * h.trend
  FROM hw h JOIN monthly m ON m.idx = h.idx + 1
)
SELECT idx, month, y,
       round(lvl, 2) AS level,
       round(trend, 2) AS trend,
       round(lag(lvl) OVER (ORDER BY idx)
             + lag(trend) OVER (ORDER BY idx), 2) AS fitted
FROM hw
"""


_HOLT_ORACLE = _HOLT_SQL.format(
    orders="orders", month_expr="strftime(o_orderdate, '%Y-%m')"
)


def holt_recursive_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The native Spark ``WITH RECURSIVE`` form of Holt smoothing —
    kept as the capability demo and equivalence witness for the
    driver-side form below (`tests/test_recursive_forms.py` asserts
    bit-equality at sf0.001).  Not registered: ~32 UnionLoop rounds ×
    ~0.3 s job-launch floor was 10 s of the round-6 bench for an
    O(months)-row recursion."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("holtv_orders")
    return spark.sql(
        _HOLT_SQL.format(
            orders="holtv_orders",
            month_expr="date_format(o_orderdate, 'yyyy-MM')",
        )
    )


@query("holt_smoothing_monthly", _HOLT_ORACLE)
def holt_smoothing_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + linear trend,
    alpha=0.3 / beta=0.1) over the monthly revenue series — the
    inherently-sequential recurrence that window functions cannot
    express (each level depends on the previous SMOOTHED level, not a
    fixed frame).  The DuckDB oracle runs a native recursive CTE; the
    Spark side computes the SAME recursion driver-side on the
    collected month frame (the v-optimal/isotonic bounded-frame
    pattern): one row per month regardless of corpus size, so the
    collect is bounded by the calendar, never by row count, and the
    only fact-sized work is the distributed monthly rollup.

    Companion to ``forecast_baseline_eval`` (which scores the naive
    baselines this model should beat) and ``ewma_smoothing`` (the
    single-parameter special case).  Determinism: monthly revenue is
    rounded to cents first, so every recursion step applies identical
    IEEE ops to identical doubles on both engines; the final rounding
    and the lag-based one-step-ahead fitted values run as Spark
    expressions.  `holt_recursive_df` keeps the native WITH RECURSIVE
    form, equivalence-tested; a per-key variant shards the recursion
    by series key exactly like `amortization_recursive_cte`."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("holtv_orders")
    monthly = spark.sql(
        """
        SELECT CAST(row_number() OVER (ORDER BY month) AS BIGINT) - 1
                 AS idx, month, y
        FROM (
          SELECT date_format(o_orderdate, 'yyyy-MM') AS month,
                 round(sum(o_totalprice), 2) AS y
          FROM holtv_orders
          WHERE o_orderdate >= TIMESTAMP '1999-01-01'
          GROUP BY 1
        )
        """
    ).collect()  # bounded by the calendar (one row/month), not by data
    rows = sorted(monthly, key=lambda r: r.idx)
    alpha, beta = 0.3, 0.1  # same doubles as the oracle's CASTs
    out = []
    if len(rows) >= 2:  # oracle base case joins idx 0 with idx 1
        lvl, trend = rows[0].y, rows[1].y - rows[0].y
        for r in rows:
            if r.idx > 0:
                new_lvl = alpha * r.y + (1 - alpha) * (lvl + trend)
                trend = beta * (new_lvl - lvl) + (1 - beta) * trend
                lvl = new_lvl
            out.append((r.idx, r.month, r.y, lvl, trend))
    df = spark.createDataFrame(
        out, "idx BIGINT, month STRING, y DOUBLE, lvl DOUBLE, trend DOUBLE"
    )
    w = Window.orderBy("idx")
    return df.select(
        "idx",
        "month",
        "y",
        F.round("lvl", 2).alias("level"),
        F.round("trend", 2).alias("trend"),
        F.round(
            F.lag("lvl").over(w) + F.lag("trend").over(w), 2
        ).alias("fitted"),
    )


MATRYOSHKA_DIMS = (8, 16, 32, 64)
MATRYOSHKA_K = 10
MATRYOSHKA_QMOD = 50
# absolute query-set cap: recall eval must sample a BOUNDED query set,
# not a fixed fraction of the corpus — a %-mod-only filter makes the
# whole evaluation quadratic in corpus size (caught by
# tools/overflow_sweep.py: 5.1s -> 253s at 10x).  A no-op at the test
# SFs (max vec_id 1999); the knob that keeps a 100 TB store's eval at
# |Q|x|C|, linear in the corpus.
MATRYOSHKA_QCAP = 2000


def _matryoshka_oracle() -> str:
    blocks = []
    selects = []
    for d in MATRYOSHKA_DIMS:
        blocks.append(f"""
    t{d} AS MATERIALIZED (
      SELECT q_id, n_id FROM (
        SELECT q.q_id, e.vec_id AS n_id,
               row_number() OVER (
                 PARTITION BY q.q_id
                 ORDER BY list_cosine_similarity(
                            (q.q_vec::DOUBLE[])[1:{d}],
                            (e.embedding::DOUBLE[])[1:{d}]) DESC,
                          e.vec_id) AS rk
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.q_id
      ) WHERE rk <= {MATRYOSHKA_K}
    )""")
        selects.append(f"""
    SELECT CAST({d} AS BIGINT) AS dim,
           CAST(nq.n AS BIGINT) AS n_queries,
           round(count(*) * 1.0 / (nq.n * {MATRYOSHKA_K}), 4) AS recall_at{MATRYOSHKA_K}
    FROM t{d} a
    JOIN t{max(MATRYOSHKA_DIMS)} f ON a.q_id = f.q_id AND a.n_id = f.n_id
    CROSS JOIN nq GROUP BY nq.n""")
    return f"""
    WITH q AS MATERIALIZED (
      SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
      WHERE vec_id % {MATRYOSHKA_QMOD} = 0 AND vec_id < {MATRYOSHKA_QCAP}
    ),
    nq AS (SELECT count(*) AS n FROM q),
    {",".join(blocks)}
    {" UNION ALL ".join(selects)}
    """


@query("matryoshka_recall_eval", _matryoshka_oracle())
def matryoshka_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka / truncated-embedding retrieval evaluation: for each
    prefix length d in {MATRYOSHKA_DIMS}, run exact cosine top-10 with
    vectors TRUNCATED to their first d components and report
    recall@10 against the full-dimension neighbors — the measurement
    that decides how many dimensions a 100 TB vector store actually
    has to keep (Kusupati et al. 2022's evaluation protocol, minus the
    nested-objective training).

    Shape: the deterministic query subset broadcasts against the
    corpus ONCE PER PRUNED DIM, each pass the same never-shuffle-the-
    corpus regime as ``embedding_cosine_topk``; overlap and recall are
    exact-integer set intersections (engine-identical because the
    raw cosine stream is bit-equal, the proven property of the
    brute-force family).  The d=64 row pins recall = 1.0 as a
    self-check."""
    # ONE parquet scan: the 4 per-dim passes and the query subset all
    # read the pinned projection, not the file (explain_audit flagged
    # the naive form at 10 scans)
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .localCheckpoint()
    )
    q = emb.filter(
        (F.col("vec_id") % MATRYOSHKA_QMOD == 0)
        & (F.col("vec_id") < MATRYOSHKA_QCAP)
    ).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    nq = q.agg(F.count("*").alias("n"))
    from ..functions.similarity import dot, norm

    tops = {}
    for d in MATRYOSHKA_DIMS:
        # norms hoisted to ONE interpreted fold per ROW per side (the
        # brute_force_topk pattern) instead of two extra folds per
        # PAIR: cosine = dot / (q_norm · n_norm) with the identical
        # subexpressions and multiply order, so values are bit-equal
        # to the unhoisted form — ~3x less higher-order-function work
        # in the rows × queries stage (round-12: 5.3 s -> ~2.5 s)
        scored = (
            emb.select(
                F.col("vec_id").alias("n_id"),
                F.slice("embedding", 1, d).alias("n_vec"),
                norm(F.slice("embedding", 1, d)).alias("n_norm"),
            )
            .crossJoin(
                F.broadcast(
                    q.select(
                        "q_id",
                        F.slice("q_vec", 1, d).alias("qd"),
                        norm(F.slice("q_vec", 1, d)).alias("q_norm"),
                    )
                )
            )
            .filter(F.col("q_id") != F.col("n_id"))
            .select(
                "q_id",
                "n_id",
                (
                    dot(F.col("qd"), F.col("n_vec"))
                    / (F.col("q_norm") * F.col("n_norm"))
                ).alias("sim"),
            )
        )
        w = Window.partitionBy("q_id").orderBy(
            F.col("sim").desc(), F.col("n_id")
        )
        tops[d] = (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= MATRYOSHKA_K)
            .select("q_id", "n_id")
        )
    full = tops[max(MATRYOSHKA_DIMS)].localCheckpoint()
    out = None
    for d in MATRYOSHKA_DIMS:
        hits = (
            (tops[d] if d != max(MATRYOSHKA_DIMS) else full)
            .join(full, ["q_id", "n_id"])
            .crossJoin(F.broadcast(nq))
            .groupBy("n")
            .agg(F.count("*").alias("hits"))
            .select(
                F.lit(d).cast("long").alias("dim"),
                F.col("n").cast("long").alias("n_queries"),
                F.round(
                    F.col("hits") * 1.0 / (F.col("n") * MATRYOSHKA_K), 4
                ).alias(f"recall_at{MATRYOSHKA_K}"),
            )
        )
        out = hits if out is None else out.unionByName(hits)
    return out


KMEANS_K = 4
KMEANS_ITERS = 3


def _kmeans_oracle() -> str:
    blocks = []
    prev_c = "c0"
    for i in range(1, KMEANS_ITERS + 1):
        blocks.append(f"""
    a{i} AS MATERIALIZED (
      SELECT vec_id, x, y, cid FROM (
        SELECT p.vec_id, p.x, p.y, c.cid,
               row_number() OVER (
                 PARTITION BY p.vec_id
                 ORDER BY round((p.x - c.cx) * (p.x - c.cx)
                                + (p.y - c.cy) * (p.y - c.cy), 6),
                          c.cid) AS rn
        FROM pts p CROSS JOIN {prev_c} c
      ) WHERE rn = 1
    ),
    c{i} AS MATERIALIZED (
      SELECT cid, round(avg(x), 6) AS cx, round(avg(y), 6) AS cy
      FROM a{i} GROUP BY cid
    )""")
        prev_c = f"c{i}"
    last_a, last_c = f"a{KMEANS_ITERS}", f"c{KMEANS_ITERS}"
    return f"""
    WITH pts AS MATERIALIZED (
      SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y
      FROM embeddings
    ),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) - 1 AS cid,
             x AS cx, y AS cy
      FROM (SELECT * FROM pts ORDER BY vec_id LIMIT {KMEANS_K})
    ),
    {",".join(blocks)}
    SELECT a.cid,
           CAST(count(*) AS BIGINT) AS n_points,
           round(max(c.cx), 4) AS cx,
           round(max(c.cy), 4) AS cy,
           round(sum(round((a.x - c.cx) * (a.x - c.cx)
                           + (a.y - c.cy) * (a.y - c.cy), 6)), 2) AS inertia
    FROM {last_a} a JOIN {last_c} c ON a.cid = c.cid
    GROUP BY a.cid
    """


@query("kmeans_lloyd_2d", _kmeans_oracle())
def kmeans_lloyd_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k={KMEANS_K}, {KMEANS_ITERS} fixed iterations)
    on the first two embedding components, FULLY hash-checked against
    a DuckDB oracle that unrolls the identical iterations — the
    centroid trainer behind the IVF index (`functions/similarity.py`
    trains on a bounded sample and is rows-only checked; this is the
    all-data dataflow form with an exact cross-engine contract).

    Engine-stability is engineered at both fixed-point hazards: the
    assignment argmin orders by the 6dp-ROUNDED squared distance with
    the centroid id as tiebreak, and centroids are rounded to 6dp
    after every mean — so both engines enter every round with
    bit-identical state and the iteration can never fork (same
    discipline as `centroid_classifier_eval`).  Scale: each round is
    one broadcast of k centroids against the point frame + one keyed
    mean — the canonical distributed k-means; deterministic first-k
    init instead of k-means++ keeps the oracle exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
    ).localCheckpoint()
    c = (
        pts.orderBy("vec_id")
        .limit(KMEANS_K)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1)
            .cast("long")
            .alias("cid"),
            F.col("x").alias("cx"),
            F.col("y").alias("cy"),
        )
        .localCheckpoint()
    )
    assigned = None
    for _ in range(KMEANS_ITERS):
        dist_r = F.round(
            (F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx"))
            + (F.col("y") - F.col("cy")) * (F.col("y") - F.col("cy")),
            6,
        )
        # argmin by (rounded dist, cid) as ONE min_by aggregate instead
        # of a per-round window: the k-fanned crossJoin rows combine
        # MAP-SIDE (partial agg), so the per-round shuffle carries
        # ~|pts| rows instead of k·|pts| rows plus a sort (guide §2.3
        # aggregate-before-shuffle).  (dist_r, cid) is unique per
        # candidate row, so the struct-ordered min is the identical
        # deterministic pick the rn=1 window made.
        assigned = (
            pts.crossJoin(F.broadcast(c))
            .withColumn("dist_r", dist_r)
            .groupBy("vec_id")
            .agg(
                F.min_by(
                    F.struct("x", "y", "cid"),
                    F.struct("dist_r", "cid"),
                ).alias("_s")
            )
            .select(
                "vec_id",
                F.col("_s.x").alias("x"),
                F.col("_s.y").alias("y"),
                F.col("_s.cid").alias("cid"),
            )
        ).localCheckpoint()
        c = (
            assigned.groupBy("cid")
            .agg(
                F.round(F.avg("x"), 6).alias("cx"),
                F.round(F.avg("y"), 6).alias("cy"),
            )
            .localCheckpoint()
        )
    final_d = F.round(
        (F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx"))
        + (F.col("y") - F.col("cy")) * (F.col("y") - F.col("cy")),
        6,
    )
    return (
        assigned.join(c, "cid")
        .groupBy("cid")
        .agg(
            F.count("*").cast("long").alias("n_points"),
            F.round(F.max("cx"), 4).alias("cx"),
            F.round(F.max("cy"), 4).alias("cy"),
            F.round(F.sum(final_d), 2).alias("inertia"),
        )
    )


DID_POLICY_TS = "1998-01-01 00:00:00"


@query(
    "did_estimator",
    f"""
    WITH j AS (
      SELECT c.c_mktsegment AS seg,
             CASE WHEN o.o_orderdate >= TIMESTAMP '{DID_POLICY_TS}'
                  THEN 1 ELSE 0 END AS post,
             o.o_totalprice AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    segs AS (SELECT DISTINCT seg FROM j),
    cells AS (
      SELECT s.seg AS treat_seg,
             CASE WHEN j.seg = s.seg THEN 1 ELSE 0 END AS treated,
             j.post,
             count(*) AS n,
             round(avg(j.y), 4) AS m
      FROM j CROSS JOIN segs s
      GROUP BY 1, 2, 3
    ),
    wide AS (
      SELECT treat_seg,
             max(CASE WHEN treated = 1 AND post = 1 THEN m END) AS t_post,
             max(CASE WHEN treated = 1 AND post = 0 THEN m END) AS t_pre,
             max(CASE WHEN treated = 0 AND post = 1 THEN m END) AS c_post,
             max(CASE WHEN treated = 0 AND post = 0 THEN m END) AS c_pre,
             CAST(sum(CASE WHEN treated = 1 THEN n ELSE 0 END) AS BIGINT)
               AS n_treated
      FROM cells GROUP BY treat_seg
    )
    SELECT treat_seg, n_treated, t_pre, t_post, c_pre, c_post,
           round((t_post - t_pre) - (c_post - c_pre), 4) AS did
    FROM wide
    """,
)
def did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: for each market segment as the
    "treated" group, the change in mean order value across the
    {DID_POLICY_TS[:4]} policy date minus the same change in the rest
    of the market — the parallel-trends causal estimator that belongs
    next to ``cuped_variance_reduction`` in any experimentation stack
    (DiD is what you run when you could NOT randomize).

    One fact scan fans out to 5 treated-segment scenarios via a
    broadcast cross join with the 5-row segment list (no per-scenario
    rescan — the ``mutual_info_screen`` discipline); each scenario
    reduces to its 2x2 (treated x post) cell means, pivoted wide with
    max-of-single-cell.  Cell means round to 4dp before the DiD
    arithmetic, so both engines difference identical doubles."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("seg"),
    )
    j = orders.join(cust, "o_custkey").select(
        "seg",
        F.when(
            F.col("o_orderdate") >= F.lit(DID_POLICY_TS).cast("timestamp"), 1
        )
        .otherwise(0)
        .alias("post"),
        F.col("o_totalprice").alias("y"),
    )
    # scenario list comes from the DIMENSION (5 rows), so the fact
    # join is scanned once — deriving it from `j` re-scans the fact
    segs = cust.select(F.col("seg").alias("treat_seg")).distinct()
    cells = (
        j.crossJoin(F.broadcast(segs))
        .groupBy(
            "treat_seg",
            F.when(F.col("seg") == F.col("treat_seg"), 1)
            .otherwise(0)
            .alias("treated"),
            "post",
        )
        .agg(F.count("*").alias("n"), F.round(F.avg("y"), 4).alias("m"))
    )

    def cell(t, p):
        return F.max(
            F.when((F.col("treated") == t) & (F.col("post") == p), F.col("m"))
        )

    wide = cells.groupBy("treat_seg").agg(
        cell(1, 1).alias("t_post"),
        cell(1, 0).alias("t_pre"),
        cell(0, 1).alias("c_post"),
        cell(0, 0).alias("c_pre"),
        F.sum(F.when(F.col("treated") == 1, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_treated"),
    )
    return wide.select(
        "treat_seg",
        "n_treated",
        "t_pre",
        "t_post",
        "c_pre",
        "c_post",
        F.round(
            (F.col("t_post") - F.col("t_pre"))
            - (F.col("c_post") - F.col("c_pre")),
            4,
        ).alias("did"),
    )


EB_MIN_N = 4
EB_TOP = 20


@query(
    "eb_shrunk_return_rates",
    f"""
    WITH per_part AS (
      SELECT l_partkey,
             count(*) AS n,
             sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS k
      FROM lineitem GROUP BY l_partkey
    ),
    rates AS (
      SELECT l_partkey, n, k, k * 1.0 / n AS raw FROM per_part
    ),
    prior AS (
      SELECT round(avg(raw), 6) AS m, round(var_samp(raw), 6) AS v
      FROM rates WHERE n >= {EB_MIN_N}
    ),
    ab AS (
      SELECT m, v, greatest(m * (1 - m) / v - 1, 1.0) AS nu FROM prior
    ),
    shrunk AS (
      SELECT r.l_partkey, r.n, r.k,
             round(r.raw, 4) AS raw_rate,
             round((r.k + a.m * a.nu) / (r.n + a.nu), 4) AS shrunk_rate,
             round(abs((r.k + a.m * a.nu) / (r.n + a.nu) - r.raw), 6)
               AS shift
      FROM rates r CROSS JOIN ab a
    )
    SELECT l_partkey, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
           raw_rate, shrunk_rate, shift
    FROM (
      SELECT *, row_number() OVER (ORDER BY shift DESC, l_partkey) AS rn
      FROM shrunk
    ) WHERE rn <= {EB_TOP}
    """,
)
def eb_shrunk_return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-part return rates: a
    beta-binomial prior fit by method of moments on the observed rate
    distribution, then every part's rate shrunk toward the prior mean
    in proportion to its sample size — the fix for "this part has a
    100% return rate (n=1)" that every small-sample ranking needs
    (Robinson's batting-average classic, on returns).  Output: the
    {EB_TOP} parts the prior moves most.

    One keyed aggregate; the prior is a 1-row broadcast; the shrink is
    pure arithmetic.  Prior moments round to 6dp before deriving
    (a, b), so both engines shrink with identical coefficients; the
    top-k orders by the 6dp-rounded shift with the part key as
    tiebreak."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
            "k"
        ),
    )
    rates = per_part.select(
        "l_partkey", "n", "k", (F.col("k") * 1.0 / F.col("n")).alias("raw")
    )
    prior = rates.filter(F.col("n") >= EB_MIN_N).agg(
        F.round(F.avg("raw"), 6).alias("m"),
        F.round(F.var_samp("raw"), 6).alias("v"),
    )
    ab = prior.select(
        "m",
        F.greatest(
            F.col("m") * (1 - F.col("m")) / F.col("v") - 1, F.lit(1.0)
        ).alias("nu"),
    )
    shrunk_val = (F.col("k") + F.col("m") * F.col("nu")) / (
        F.col("n") + F.col("nu")
    )
    shrunk = rates.crossJoin(F.broadcast(ab)).select(
        "l_partkey",
        "n",
        "k",
        F.round("raw", 4).alias("raw_rate"),
        F.round(shrunk_val, 4).alias("shrunk_rate"),
        F.round(F.abs(shrunk_val - F.col("raw")), 6).alias("shift"),
    )
    return (
        shrunk.withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.col("shift").desc(), F.col("l_partkey"))
            ),
        )
        .filter(F.col("rn") <= EB_TOP)
        .select(
            "l_partkey",
            F.col("n").cast("long").alias("n"),
            F.col("k").cast("long").alias("k"),
            "raw_rate",
            "shrunk_rate",
            "shift",
        )
    )


CCF_LAGS = (-7, -3, -1, 0, 1, 3, 7)


@query(
    "ccf_orders_revenue",
    f"""
    WITH daily AS MATERIALIZED (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(count(*) AS DOUBLE) AS cnt,
             round(sum(o_totalprice), 2) AS rev
      FROM orders GROUP BY 1
    ),
    stats AS (
      SELECT avg(cnt) AS mc, avg(rev) AS mr FROM daily
    ),
    den AS (
      SELECT sqrt(sum((cnt - mc) * (cnt - mc))
                  * sum((rev - mr) * (rev - mr))) AS den
      FROM daily CROSS JOIN stats
    ),
    lags AS (SELECT unnest(ARRAY{list(CCF_LAGS)}) AS lag_d)
    SELECT l.lag_d,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(sum((a.cnt - s.mc) * (b.rev - s.mr)) / max(dd.den), 4)
             AS ccf
    FROM daily a
    CROSS JOIN lags l
    JOIN daily b ON b.d = a.d + to_days(CAST(l.lag_d AS INT))
    CROSS JOIN stats s CROSS JOIN den dd
    GROUP BY l.lag_d
    """,
)
def ccf_orders_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between daily order COUNT and daily
    REVENUE at leads/lags {CCF_LAGS}: does volume lead value?  The
    lead-lag screen run before any transfer-function model or
    marketing-spend attribution; lag 0 recovers the plain correlation
    and the sign of the asymmetry says which series leads.

    Same series-join shape as ``acf_hourly_events``: one scan reduces
    orders to the daily frame (pinned — four consumers), pairing is a
    calendar equi-join per lag, and the denominator is the product of
    the two series' norms, computed once.  Counts are exact, revenue
    is cents-rounded, so the centered products differ only in
    summation order against the 4dp rounding."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.count("*").cast("double").alias("cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("rev"),
        )
        .localCheckpoint()
    )
    stats = daily.agg(F.avg("cnt").alias("mc"), F.avg("rev").alias("mr"))
    den = daily.crossJoin(F.broadcast(stats)).agg(
        F.sqrt(
            F.sum((F.col("cnt") - F.col("mc")) * (F.col("cnt") - F.col("mc")))
            * F.sum(
                (F.col("rev") - F.col("mr")) * (F.col("rev") - F.col("mr"))
            )
        ).alias("den")
    )
    lags = F.broadcast(
        daily.sparkSession.createDataFrame(
            [(k,) for k in CCF_LAGS], "lag_d INT"
        )
    )
    a = daily.alias("a")
    b = daily.select(
        F.col("d").alias("bd"), F.col("rev").alias("brev")
    ).alias("b")
    pairs = a.crossJoin(lags).join(
        b, F.col("bd") == F.date_add(F.col("a.d"), F.col("lag_d"))
    )
    return (
        pairs.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(den))
        .groupBy("lag_d")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(
                F.sum(
                    (F.col("cnt") - F.col("mc")) * (F.col("brev") - F.col("mr"))
                )
                / F.max("den"),
                4,
            ).alias("ccf"),
        )
    )


@query(
    "fixed_effects_within_ols",
    """
    WITH panel AS MATERIALIZED (
      SELECT o_custkey AS ck,
             (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS t,
             CAST(count(*) AS BIGINT) AS x,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) / 100.0 AS y
      FROM orders GROUP BY 1, 2
    ),
    cm AS MATERIALIZED (
      SELECT ck, avg(x) AS cx, avg(y) AS cy FROM panel GROUP BY ck
    ),
    tm AS MATERIALIZED (
      SELECT t, avg(x) AS tx, avg(y) AS ty FROM panel GROUP BY t
    ),
    gm AS MATERIALIZED (SELECT avg(x) AS gx, avg(y) AS gy FROM panel),
    dem AS (
      SELECT p.x - c.cx - m.tx + g.gx AS xt,
             p.y - c.cy - m.ty + g.gy AS yt
      FROM panel p
      JOIN cm c ON c.ck = p.ck
      JOIN tm m ON m.t = p.t
      CROSS JOIN gm g
    )
    SELECT CAST((SELECT count(*) FROM panel) AS BIGINT) AS n_obs,
           CAST((SELECT count(*) FROM cm) AS BIGINT) AS n_customers,
           CAST((SELECT count(*) FROM tm) AS BIGINT) AS n_months,
           round(sum(xt * yt) / sum(xt * xt), 4) AS slope_within,
           round(sum(xt * yt) * sum(xt * yt)
                 / (sum(xt * xt) * sum(yt * yt)), 4) AS r2_within
    FROM dem
    """,
)
def fixed_effects_within_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way fixed-effects panel regression (the workhorse of applied
    econometrics): regress customer-month spend on order count after
    absorbing BOTH customer and month fixed effects via the within
    transformation ``ỹ = y − ȳ_i − ȳ_t + ȳ`` — equivalent to OLS with
    thousands of dummy variables, at the cost of three mean tables
    instead of a design matrix (Frisch–Waugh–Lovell).

    Scale shape: orders reduce to the (customer, month) panel in ONE
    keyed pass (checkpointed — four consumers); the entity/time mean
    frames are group-reduced dimensions joined back (customer means
    shuffle-join on the panel's own key; month means and the grand mean
    broadcast), and the slope is a single centered-moment aggregate —
    the numerically stable two-pass shape of ``ols_price_model``, never
    a dummy-variable matrix.

    Determinism: panel y is exact BIGINT cents over 100; means divide
    exact sums; the final moment ratios round at 4 decimals (ulp-level
    summation-order drift is 10 orders below)."""
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    panel = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("ck"),
            (
                (F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1
            ).alias("t"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("x"),
            (F.sum(cents).cast("long") / 100.0).alias("y"),
        )
        .localCheckpoint()
    )
    cm = panel.groupBy("ck").agg(
        F.avg("x").alias("cx"), F.avg("y").alias("cy")
    )
    tm = panel.groupBy("t").agg(F.avg("x").alias("tx"), F.avg("y").alias("ty"))
    gm = panel.agg(F.avg("x").alias("gx"), F.avg("y").alias("gy"))
    dem = (
        panel.join(cm, "ck")
        .join(F.broadcast(tm), "t")
        .crossJoin(F.broadcast(gm))
        .select(
            (F.col("x") - F.col("cx") - F.col("tx") + F.col("gx")).alias("xt"),
            (F.col("y") - F.col("cy") - F.col("ty") + F.col("gy")).alias("yt"),
        )
    )
    counts = panel.agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.countDistinct("ck").cast("long").alias("n_customers"),
        F.countDistinct("t").cast("long").alias("n_months"),
    )
    mom = dem.agg(
        F.sum(F.col("xt") * F.col("yt")).alias("sxy"),
        F.sum(F.col("xt") * F.col("xt")).alias("sxx"),
        F.sum(F.col("yt") * F.col("yt")).alias("syy"),
    )
    return counts.crossJoin(F.broadcast(mom)).select(
        "n_obs",
        "n_customers",
        "n_months",
        F.round(F.col("sxy") / F.col("sxx"), 4).alias("slope_within"),
        F.round(
            F.col("sxy") * F.col("sxy") / (F.col("sxx") * F.col("syy")), 4
        ).alias("r2_within"),
    )


@query(
    "gini_customer_spend",
    """
    WITH cust AS MATERIALIZED (
      SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, o_custkey) AS rk
      FROM cust
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s,
             CAST(sum(rk * cents) AS BIGINT) AS rs
      FROM ranked
    ),
    lorenz AS (
      SELECT CAST(ceil(rk * 10.0 / (SELECT n FROM tot)) AS INT) AS decile,
             cents
      FROM ranked
    )
    SELECT l.decile,
           round(CAST(sum(l.cents) AS BIGINT) * 1.0 / t.s, 4)
             AS spend_share,
           round(2.0 * t.rs / (t.n * CAST(t.s AS DOUBLE))
                 - (t.n + 1.0) / t.n, 4) AS gini
    FROM lorenz l CROSS JOIN tot t
    GROUP BY l.decile, t.n, t.s, t.rs
    ORDER BY l.decile
    """,
)
def gini_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve + Gini coefficient of customer spend: per-decile
    share of total revenue plus the exact rank-formula Gini
    ``2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n`` — the inequality measure behind
    whale-concentration risk and data-source imbalance dashboards
    (compare `revenue_concentration_pareto`'s top-k% view: the Gini is
    its integral).

    Scale shape: orders reduce per customer in one keyed pass; the
    rank runs over the reduced customer frame and the Gini is one
    aggregate of exact BIGINTs (rk·cents < 2⁶³ at any realistic
    scale), so the whole statistic is two shuffles.

    Determinism: the rank orders by (cents, custkey) — fully keyed;
    every sum is an exact BIGINT; the two output ratios are single
    IEEE divisions rounded at 4."""
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(cents).cast("long").alias("cents"))
        .localCheckpoint()  # ranked + totals + lorenz read one copy
    )
    ranked = cust.select(
        "cents",
        F.row_number()
        .over(Window.orderBy("cents", "o_custkey"))
        .alias("rk"),
    ).localCheckpoint()
    tot = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.sum(F.col("rk") * F.col("cents")).cast("long").alias("rs"),
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            F.ceil(F.col("rk") * 10.0 / F.col("n")).cast("int").alias(
                "decile"
            ),
            "cents",
            "n",
            "s",
            "rs",
        )
        .groupBy("decile", "n", "s", "rs")
        .agg(F.sum("cents").cast("long").alias("dc"))
        .select(
            "decile",
            F.round(F.col("dc") * 1.0 / F.col("s"), 4).alias("spend_share"),
            F.round(
                2.0 * F.col("rs") / (F.col("n") * F.col("s").cast("double"))
                - (F.col("n") + 1.0) / F.col("n"),
                4,
            ).alias("gini"),
        )
        .orderBy("decile")
    )


@query(
    "reciprocal_rank_fusion",
    """
    WITH cust AS MATERIALIZED (
      SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents,
             CAST(count(*) AS BIGINT) AS n_ord
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT o_custkey,
             row_number() OVER (ORDER BY cents DESC, o_custkey) AS r_spend,
             row_number() OVER (ORDER BY n_ord DESC, o_custkey) AS r_freq
      FROM cust
    ),
    fused AS (
      SELECT o_custkey, r_spend, r_freq,
             round(1.0 / (60 + r_spend) + 1.0 / (60 + r_freq), 6) AS rrf
      FROM ranked
    )
    SELECT o_custkey, CAST(r_spend AS BIGINT) AS r_spend,
           CAST(r_freq AS BIGINT) AS r_freq, rrf,
           CAST(row_number() OVER (ORDER BY rrf DESC, o_custkey) AS BIGINT)
             AS fused_rank
    FROM fused
    ORDER BY fused_rank
    LIMIT 20
    """,
)
def reciprocal_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., k=60): merge two
    rankings of the same items — customers by total spend and by order
    frequency — via ``Σ 1/(k + rankᵢ)``, the score-free rank combiner
    behind every hybrid (BM25 + dense) retrieval stack; RRF needs no
    score calibration between the lists, which is exactly why it wins
    there.

    Scale shape: one keyed reduction of orders, two window ranks over
    the reduced customer frame, a takeOrdered top-20.  Determinism:
    ranks are integers with key tiebreaks; the RRF sum of two exact
    reciprocals rounds at 6 before the fused ordering."""
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(cents).cast("long").alias("cents"),
            F.count(F.lit(1)).cast("long").alias("n_ord"),
        )
        .localCheckpoint()  # two rank windows + fusion read one copy
    )
    ranked = cust.select(
        "o_custkey",
        F.row_number()
        .over(Window.orderBy(F.col("cents").desc(), "o_custkey"))
        .alias("r_spend"),
        F.row_number()
        .over(Window.orderBy(F.col("n_ord").desc(), "o_custkey"))
        .alias("r_freq"),
    )
    fused = ranked.select(
        "o_custkey",
        F.col("r_spend").cast("long"),
        F.col("r_freq").cast("long"),
        F.round(
            1.0 / (60 + F.col("r_spend")) + 1.0 / (60 + F.col("r_freq")), 6
        ).alias("rrf"),
    )
    return (
        fused.withColumn(
            "fused_rank",
            F.row_number()
            .over(Window.orderBy(F.col("rrf").desc(), "o_custkey"))
            .cast("long"),
        )
        .orderBy("fused_rank")
        .limit(20)
    )


@query(
    "ndcg_ranking_eval",
    """
    WITH scored AS MATERIALIZED (
      SELECT source,
             CAST(n_chars % 4 AS INT) AS rel,
             row_number() OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id
             ) AS rk
      FROM documents
    ),
    dcg AS (
      SELECT source,
             sum((pow(2, rel) - 1) / ln(rk + 1.0)) AS dcg
      FROM scored WHERE rk <= 10 GROUP BY source
    ),
    ideal AS (
      SELECT source,
             sum((pow(2, rel) - 1) / ln(irk + 1.0)) AS idcg
      FROM (
        SELECT source, rel, row_number() OVER (
          PARTITION BY source ORDER BY rel DESC, rk
        ) AS irk
        FROM scored
      ) WHERE irk <= 10 GROUP BY source
    )
    SELECT d.source, round(d.dcg, 4) AS dcg_at_10,
           round(i.idcg, 4) AS idcg_at_10,
           round(d.dcg / i.idcg - 1e-9, 4) AS ndcg_at_10
    FROM dcg d JOIN ideal i ON i.source = d.source
    ORDER BY d.source
    """,
)
def ndcg_ranking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 per source: discounted cumulative gain of a length-based
    ranking against graded relevance (``n_chars % 4`` as a
    deterministic 0–3 grade stand-in), normalized by the ideal
    ordering — THE graded ranking metric for search/retrieval evals,
    complementing the binary-label ROC-AUC harness.

    Scale shape: two windows per source over the same scanned frame
    (rank by score; rank by grade for the ideal), both parallel across
    sources, then source-count-sized aggregation.  Determinism: grades
    and ranks are exact ints; gains divide through IEEE pow/ln
    identically; the final ratio carries the −1e-9 guard."""
    docs = load_table(spark, sf_dir, "documents")
    sw = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    scored = docs.select(
        "source",
        (F.col("n_chars") % 4).cast("int").alias("rel"),
        F.row_number().over(sw).alias("rk"),
    ).localCheckpoint()  # dcg + ideal rank read one copy
    dcg = (
        scored.filter(F.col("rk") <= 10)
        .groupBy("source")
        .agg(
            F.sum(
                (F.pow(2, F.col("rel")) - 1) / F.log(F.col("rk") + 1.0)
            ).alias("dcg")
        )
    )
    iw = Window.partitionBy("source").orderBy(F.col("rel").desc(), "rk")
    ideal = (
        scored.withColumn("irk", F.row_number().over(iw))
        .filter(F.col("irk") <= 10)
        .groupBy("source")
        .agg(
            F.sum(
                (F.pow(2, F.col("rel")) - 1) / F.log(F.col("irk") + 1.0)
            ).alias("idcg")
        )
    )
    return (
        dcg.join(ideal, "source")
        .select(
            "source",
            F.round("dcg", 4).alias("dcg_at_10"),
            F.round("idcg", 4).alias("idcg_at_10"),
            F.round(F.col("dcg") / F.col("idcg") - 1e-9, 4).alias(
                "ndcg_at_10"
            ),
        )
        .orderBy("source")
    )


@query(
    "wasserstein_source_shift",
    """
    WITH per AS MATERIALIZED (
      SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY source, n_chars
    ),
    tot AS MATERIALIZED (
      SELECT source, CAST(sum(c) AS BIGINT) AS n FROM per GROUP BY source
    ),
    grid AS MATERIALIZED (SELECT DISTINCT v FROM per),
    cdf AS MATERIALIZED (
      SELECT t.source, g.v,
             CAST(coalesce(sum(p.c), 0) AS BIGINT) * 1.0 / t.n AS f
      FROM grid g
      CROSS JOIN tot t
      LEFT JOIN per p ON p.source = t.source AND p.v <= g.v
      GROUP BY t.source, g.v, t.n
    ),
    steps AS (
      SELECT source, v, f,
             lead(v) OVER (PARTITION BY source ORDER BY v) - v AS dv
      FROM cdf
    ),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             sum(abs(a.f - b.f) * a.dv) AS w1
      FROM steps a
      JOIN steps b ON b.v = a.v AND b.source > a.source
      WHERE a.dv IS NOT NULL
      GROUP BY a.source, b.source
    )
    SELECT src_a, src_b, round(w1 - 1e-9, 4) AS w1_chars
    FROM pairs
    ORDER BY src_a, src_b
    """,
)
def wasserstein_source_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise 1-D Wasserstein-1 (earth-mover) distance between the
    per-source document-length distributions: ``W₁ = ∫|F_a − F_b| dv``
    over the merged support — the distribution-shift metric that, unlike
    KL/PSI (bin-ratio based) or KS (sup-norm), weighs HOW FAR mass must
    move, the right scalar for "did this source's length profile
    drift".  In 1-D the optimal transport reduces exactly to this CDF
    integral — no LP solve.

    Scale shape: documents reduce to (source, value, count) in one
    pass — cardinality bounded by the VALUE DOMAIN like the v-optimal
    histogram; the CDF builds per source on the merged grid and the
    pairwise integral runs over |sources|²·|grid| reduced rows.  At
    extreme domains the exact grid swaps for quantile-sketch CDFs
    (same integral on the sketch knots).

    Determinism: CDF values divide exact BIGINTs; step widths are
    exact ints; the integral sum rounds at 4 with the −1e-9 guard."""
    docs = load_table(spark, sf_dir, "documents")
    per = (
        docs.groupBy("source", F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()  # grid + cdf + totals read one copy
    )
    tot = per.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    grid = per.select("v").distinct()
    # per-source CDF on the merged grid: join counts at <= v via a
    # cross of grid x sources, then a cumulative window (cheaper than
    # the oracle's theta-join: one sort per source)
    filled = (
        grid.crossJoin(tot)
        .join(per, ["source", "v"], "left")
        .select("source", "v", "n", F.coalesce("c", F.lit(0)).alias("cv"))
    )
    w = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cdf = filled.select(
        "source",
        "v",
        (F.sum("cv").over(w) * 1.0 / F.col("n")).alias("f"),
    )
    lw = Window.partitionBy("source").orderBy("v")
    steps = cdf.select(
        "source", "v", "f", (F.lead("v").over(lw) - F.col("v")).alias("dv")
    ).filter(F.col("dv").isNotNull())
    a = steps.alias("a")
    b = steps.alias("b")
    return (
        a.join(
            b,
            (F.col("b.v") == F.col("a.v"))
            & (F.col("b.source") > F.col("a.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(
            F.round(
                F.sum(F.abs(F.col("a.f") - F.col("b.f")) * F.col("a.dv"))
                - 1e-9,
                4,
            ).alias("w1_chars")
        )
        .orderBy("src_a", "src_b")
    )


ISO_BINS = 20


@query(
    "isotonic_calibration",
    f"""
    WITH binned AS (
      SELECT ntile({ISO_BINS}) OVER (ORDER BY n_chars, doc_id) - 1 AS bin,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents
    ),
    per AS MATERIALIZED (
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pos) AS BIGINT) AS n_pos
      FROM binned GROUP BY bin
    ),
    pre AS MATERIALIZED (
      SELECT bin, n, n_pos,
             sum(n) OVER (ORDER BY bin) AS cn,
             sum(n_pos) OVER (ORDER BY bin) AS cp
      FROM per
    ),
    iv AS MATERIALIZED (
      -- every interval average avg(l..r) from exact prefix sums
      SELECT l.bin AS l, r.bin AS r,
             (r.cp - coalesce(lp.cp, 0)) * 1.0
               / (r.cn - coalesce(lp.cn, 0)) AS avg_lr
      FROM pre l JOIN pre r ON r.bin >= l.bin
      LEFT JOIN pre lp ON lp.bin = l.bin - 1
    ),
    innermin AS (
      -- min over r >= i of avg(l..r), per (i, l <= i)
      SELECT i.bin AS i, v.l AS l, min(v.avg_lr) AS m
      FROM per i JOIN iv v ON v.l <= i.bin AND v.r >= i.bin
      GROUP BY 1, 2
    ),
    fit AS MATERIALIZED (
      -- minimax characterization of isotonic regression:
      -- fitted(i) = max over l <= i of min over r >= i of avg(l..r)
      SELECT i, max(m) AS cal FROM innermin GROUP BY i
    )
    SELECT p.bin, p.n,
           round(p.n_pos * 1.0 / p.n - 1e-9, 4) + 0.0 AS raw_rate,
           round(f.cal - 1e-9, 4) + 0.0 AS calibrated_rate
    FROM per p JOIN fit f ON f.i = p.bin
    ORDER BY p.bin
    """,
)
def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration via Pool-Adjacent-Violators: fit the best
    MONOTONE mapping from a score (corpus-wide length percentile) to a
    binary label rate (`lang = 'en'`) — the non-parametric calibrator
    (Zadrozny & Elkan) that fixes what Platt scaling's sigmoid can't,
    and the standard post-hoc step for classifier probabilities.

    Scale shape (the bounded-DP pattern of `v_optimal_histogram`): one
    pass reduces events to {ISO_BINS} score-bin partials (n, positives);
    PAV pools adjacent violators driver-side on those ≤{ISO_BINS} rows
    (weighted-mean merges, a stack algorithm); the fitted step function
    broadcasts back as a literal CASE for the full-scale assignment
    report.  tests/test_wave7.py pins the PAV laws: output monotone,
    weighted mean conserved, and pooling only where the raw rates
    violated monotonicity.

    The DuckDB oracle is EXACT via the minimax characterization of
    isotonic regression — fitted(i) = max_{l≤i} min_{r≥i}
    avg(l..r) — which needs no recursion: all {ISO_BINS}·({ISO_BINS}+1)/2
    interval averages come from exact integer prefix sums, so the
    driver hash-checks the PAV stack against a closed form it cannot
    share a bug with.

    Output per bin: raw rate vs calibrated rate vs bin mass — the
    reliability-diagram columns after repair."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.orderBy("n_chars", "doc_id")
    binned = docs.select(
        (F.ntile(ISO_BINS).over(w) - 1).alias("bin"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    per = (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("pos").cast("long").alias("n_pos"),
        )
        .orderBy("bin")
        .collect()  # bounded by ISO_BINS, never by row count
    )
    # PAV: merge adjacent pools while the left pool's rate exceeds the
    # right's; each pool carries (sum_pos, n, members)
    if not per:
        # empty universe: no bins to pool, the oracle emits 0 rows and
        # an argless create_map would not type-check (round-12 sweep)
        return spark.createDataFrame(
            [], "bin int, n long, raw_rate double, calibrated_rate double"
        )
    pools: list[list[float]] = []  # [sum_pos, n, first_bin, last_bin]
    for r in per:
        pools.append([float(r.n_pos), float(r.n), r.bin, r.bin])
        while len(pools) > 1 and (
            pools[-2][0] * pools[-1][1] > pools[-1][0] * pools[-2][1]
        ):
            b = pools.pop()
            a = pools.pop()
            pools.append([a[0] + b[0], a[1] + b[1], a[2], b[3]])
    fitted: dict[int, float] = {}
    for sp, n, lo, hi in pools:
        rate = sp / n
        for b in range(int(lo), int(hi) + 1):
            fitted[b] = rate
    fmap = F.create_map(
        *[F.lit(x) for b, rt in sorted(fitted.items()) for x in (b, rt)]
    )
    out = spark.createDataFrame(
        [(r.bin, r.n, r.n_pos) for r in per], "bin int, n long, n_pos long"
    )
    return out.select(
        "bin",
        "n",
        (F.round(F.col("n_pos") * 1.0 / F.col("n") - 1e-9, 4) + 0.0).alias(
            "raw_rate"
        ),
        (F.round(fmap[F.col("bin")] - 1e-9, 4) + 0.0).alias(
            "calibrated_rate"
        ),
    ).orderBy("bin")


HUBER_K = 1.345
HUBER_ROUNDS = 3


def _huber_round_sql(prev: str, out: str) -> str:
    """One IRLS round in SQL: Huber weights from the previous rounded
    fit, then weighted least squares, re-rounded."""
    return f"""
    {out}_w AS (
      SELECT b.rf, b.x, b.y,
             CASE WHEN abs(b.y - p.a - p.b * b.x) <= {HUBER_K} * p.s
                  THEN 1.0
                  ELSE {HUBER_K} * p.s / abs(b.y - p.a - p.b * b.x)
             END AS w
      FROM base b JOIN {prev} p ON p.rf = b.rf
    ),
    {out}_m AS MATERIALIZED (
      SELECT rf, sum(w) AS sw, sum(w * x) AS swx, sum(w * y) AS swy,
             sum(w * x * x) AS swxx, sum(w * x * y) AS swxy
      FROM {out}_w GROUP BY rf
    ),
    {out} AS MATERIALIZED (
      SELECT m.rf,
             round((m.sw * m.swxy - m.swx * m.swy)
                   / (m.sw * m.swxx - m.swx * m.swx) - 1e-9, 4) AS b,
             round((m.swy - (m.sw * m.swxy - m.swx * m.swy)
                    / (m.sw * m.swxx - m.swx * m.swx) * m.swx)
                   / m.sw - 1e-9, 4) AS a,
             p.s
      FROM {out}_m m JOIN {prev} p ON p.rf = m.rf
    )"""


def _huber_oracle() -> str:
    rounds = ",".join(
        _huber_round_sql(f"p{k - 1}", f"p{k}")
        for k in range(1, HUBER_ROUNDS + 1)
    )
    return f"""
    WITH base AS MATERIALIZED (
      SELECT l_returnflag AS rf, l_quantity AS x, l_extendedprice AS y
      FROM lineitem
    ),
    m0 AS MATERIALIZED (
      SELECT rf, CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy
      FROM base GROUP BY rf
    ),
    ols AS MATERIALIZED (
      SELECT rf, n,
             round((n * sxy - sx * sy) / (n * sxx - sx * sx) - 1e-9, 4)
               AS b,
             round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                   / n - 1e-9, 4) AS a
      FROM m0
    ),
    p0 AS MATERIALIZED (
      SELECT o.rf, o.b, o.a,
             round(1.4826 * quantile_cont(abs(b2.y - o.a - o.b * b2.x), 0.5)
                   - 1e-9, 4) AS s
      FROM ols o JOIN base b2 ON b2.rf = o.rf
      GROUP BY o.rf, o.b, o.a
    ),
    {rounds},
    downw AS (
      SELECT b.rf, CAST(sum(CASE WHEN abs(b.y - p.a - p.b * b.x)
                                      > {HUBER_K} * p.s
                                 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_downweighted
      FROM base b JOIN p{HUBER_ROUNDS} p ON p.rf = b.rf
      GROUP BY b.rf
    )
    SELECT o.rf AS returnflag, o.n,
           round(o.b - 1e-9, 3) AS ols_slope,
           round(p.b - 1e-9, 3) AS huber_slope,
           round(p.a - 1e-9, 2) AS huber_intercept,
           round(p.s - 1e-9, 2) AS scale_mad,
           d.n_downweighted
    FROM ols o
    JOIN p{HUBER_ROUNDS} p ON p.rf = o.rf
    JOIN downw d ON d.rf = o.rf
    ORDER BY returnflag
    """


@query("huber_irls_price_model", _huber_oracle())
def huber_irls_price_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber robust regression via IRLS: per return flag, regress
    extended price on quantity with Huber weights (k={HUBER_K}, scale
    = 1.4826·MAD of the OLS residuals, {HUBER_ROUNDS} reweighting
    rounds) — the M-estimator between OLS (outlier-dragged) and
    Theil–Sen (pairs-based): full efficiency on clean data, bounded
    influence under contamination; both slopes are reported so the
    robustness delta is visible.

    Scale shape (the alphabet-bounded-state pattern of
    ``bradley_terry_brands``): the fit parameters are 3 rows (return
    flags) held driver-side between rounds and re-entering as map
    literals, so each IRLS round is ONE weighted-moment aggregation
    over the cached base frame — no joins, no checkpoints, rounds cost
    |data|/round exactly like the map-side combine they compile to.
    The only percentile is the one MAD (exact interpolated, both
    engines).

    Determinism: parameters re-round to 4 every round (−1e-9 guard),
    so weight boundaries and accumulated moments cannot fork
    engines."""
    import math

    base = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_returnflag").alias("rf"),
            F.col("l_quantity").alias("x"),
            F.col("l_extendedprice").alias("y"),
        )
        .persist()
    )

    def rnd(v: float, p: int = 4) -> float:
        return math.floor((v - 1e-9) * 10**p + 0.5) / 10**p

    m0 = base.groupBy("rf").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    params: dict[str, dict[str, float]] = {}
    for r in m0.collect():
        b = (r.n * r.sxy - r.sx * r.sy) / (r.n * r.sxx - r.sx * r.sx)
        a = (r.sy - b * r.sx) / r.n
        params[r.rf] = {
            "n": r.n,
            "ols_b": rnd(b),
            "b": rnd(b),
            "a": rnd(a),
        }
    if not params:
        # empty universe: no per-flag OLS seeds, the oracle emits 0
        # rows — and an argless create_map would not even type-check
        # (round-12 degenerate sweep)
        return spark.createDataFrame(
            [],
            "returnflag string, n long, ols_slope double, "
            "huber_slope double, huber_intercept double, "
            "scale_mad double, n_downweighted long",
        )
    amap = F.create_map(
        *[F.lit(v) for rf, p in sorted(params.items()) for v in (rf, p["a"])]
    )
    bmap = F.create_map(
        *[F.lit(v) for rf, p in sorted(params.items()) for v in (rf, p["b"])]
    )
    resid = F.abs(F.col("y") - amap[F.col("rf")] - bmap[F.col("rf")] * F.col("x"))
    mads = (
        base.select("rf", resid.alias("r"))
        .groupBy("rf")
        .agg(F.expr("percentile(r, 0.5)").alias("med"))
        .collect()
    )
    for r in mads:
        params[r.rf]["s"] = rnd(1.4826 * r.med)
    for _ in range(HUBER_ROUNDS):
        amap = F.create_map(
            *[F.lit(v) for rf, p in sorted(params.items()) for v in (rf, p["a"])]
        )
        bmap = F.create_map(
            *[F.lit(v) for rf, p in sorted(params.items()) for v in (rf, p["b"])]
        )
        smap = F.create_map(
            *[F.lit(v) for rf, p in sorted(params.items()) for v in (rf, p["s"])]
        )
        rr = F.abs(
            F.col("y") - amap[F.col("rf")] - bmap[F.col("rf")] * F.col("x")
        )
        wcol = F.when(rr <= HUBER_K * smap[F.col("rf")], 1.0).otherwise(
            HUBER_K * smap[F.col("rf")] / rr
        )
        mom = (
            base.select("rf", "x", "y", wcol.alias("w"))
            .groupBy("rf")
            .agg(
                F.sum("w").alias("sw"),
                F.sum(F.col("w") * F.col("x")).alias("swx"),
                F.sum(F.col("w") * F.col("y")).alias("swy"),
                F.sum(F.col("w") * F.col("x") * F.col("x")).alias("swxx"),
                F.sum(F.col("w") * F.col("x") * F.col("y")).alias("swxy"),
            )
            .collect()
        )
        for r in mom:
            b = (r.sw * r.swxy - r.swx * r.swy) / (
                r.sw * r.swxx - r.swx * r.swx
            )
            a = (r.swy - b * r.swx) / r.sw
            params[r.rf]["b"] = rnd(b)
            params[r.rf]["a"] = rnd(a)
    amap = F.create_map(
        *[F.lit(v) for rf, p in sorted(params.items()) for v in (rf, p["a"])]
    )
    bmap = F.create_map(
        *[F.lit(v) for rf, p in sorted(params.items()) for v in (rf, p["b"])]
    )
    smap = F.create_map(
        *[F.lit(v) for rf, p in sorted(params.items()) for v in (rf, p["s"])]
    )
    rr = F.abs(F.col("y") - amap[F.col("rf")] - bmap[F.col("rf")] * F.col("x"))
    downw = base.groupBy("rf").agg(
        F.sum(
            F.when(rr > HUBER_K * smap[F.col("rf")], 1).otherwise(0)
        )
        .cast("long")
        .alias("n_downweighted")
    )
    fitted = spark.createDataFrame(
        [
            (
                rf,
                int(p["n"]),
                rnd(p["ols_b"], 3),
                rnd(p["b"], 3),
                rnd(p["a"], 2),
                rnd(p["s"], 2),
            )
            for rf, p in sorted(params.items())
        ],
        "rf string, n long, ols_slope double, huber_slope double,"
        " huber_intercept double, scale_mad double",
    )
    return (
        fitted.join(downw, "rf")
        .select(
            F.col("rf").alias("returnflag"),
            "n",
            "ols_slope",
            "huber_slope",
            "huber_intercept",
            "scale_mad",
            "n_downweighted",
        )
        .orderBy("returnflag")
    )


# --------------------------------------------------------------------------
# kernel MMD two-sample test
# --------------------------------------------------------------------------
MMD_BANDWIDTH = 4.0  # RBF 2*sigma^2, sized to the unit-ish embeddings
# Absolute per-side sample cap: the MMD estimator needs only hundreds of
# points per side (the standard protocol) — without the cap the %7 sides
# are corpus FRACTIONS and the three pair blocks grow as (N/7)² (measured
# 44x wall at the 10x universe).  2000 covers every vec_id at both test
# SFs, so oracle hashes are unchanged.
MMD_CAP = 2000


@query(
    "mmd_embedding_shift",
    f"""
    WITH a AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])
               AS nn
      FROM embeddings WHERE vec_id % 7 = 0 AND vec_id < {MMD_CAP}
    ),
    b AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])
               AS nn
      FROM embeddings WHERE vec_id % 7 = 1 AND vec_id < {MMD_CAP}
    ),
    kaa AS (
      SELECT avg(exp(-(x.nn + y.nn
                       - 2 * list_dot_product(x.v, y.v))
                     / {MMD_BANDWIDTH})) AS m,
             count(*) AS np
      FROM a x JOIN a y ON x.vec_id <> y.vec_id
    ),
    kbb AS (
      SELECT avg(exp(-(x.nn + y.nn
                       - 2 * list_dot_product(x.v, y.v))
                     / {MMD_BANDWIDTH})) AS m,
             count(*) AS np
      FROM b x JOIN b y ON x.vec_id <> y.vec_id
    ),
    kab AS (
      SELECT avg(exp(-(x.nn + y.nn
                       - 2 * list_dot_product(x.v, y.v))
                     / {MMD_BANDWIDTH})) AS m,
             count(*) AS np
      FROM a x CROSS JOIN b y
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_a,
           (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_b,
           round((SELECT m FROM kaa) - 1e-9, 6) AS mean_k_aa,
           round((SELECT m FROM kbb) - 1e-9, 6) AS mean_k_bb,
           round((SELECT m FROM kab) - 1e-9, 6) AS mean_k_ab,
           round((SELECT m FROM kaa) + (SELECT m FROM kbb)
                 - 2 * (SELECT m FROM kab) - 1e-9, 6) AS mmd2
    """,
)
def mmd_embedding_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel maximum mean discrepancy (Gretton et al. JMLR'12) between
    two embedding samples — the MULTIVARIATE two-sample test the 1-D
    drift stack (KS / PSI / Wasserstein) cannot express: MMD² =
    E[k(a,a')] + E[k(b,b')] − 2·E[k(a,b)] under an RBF kernel, ≈0 iff
    the two samples share a distribution in representation space.
    This is the check that catches "the new crawl's embeddings live
    somewhere else" even when every coordinate's marginal matches.

    Pairwise kernels expand via the dot-product identity
    ‖x−y‖² = ⟨x,x⟩+⟨y,y⟩−2⟨x,y⟩ (per-vector norms computed once);
    both engines sum identical doubles, and the pair means are rounded
    once.  Scale shape: each side is ABSOLUTELY capped at ``MMD_CAP``
    (the standard MMD protocol — the estimator needs only hundreds of
    points per side), so the three pair blocks are O(cap²) regardless
    of corpus size; norms ride the scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    dot = lambda u, w: F.aggregate(  # noqa: E731
        F.zip_with(u, w, lambda p, q: p * q),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )

    def side(mod_val: int) -> DataFrame:
        v = F.col("embedding").cast("array<double>")
        return emb.filter(
            (F.col("vec_id") % 7 == mod_val) & (F.col("vec_id") < MMD_CAP)
        ).select("vec_id", v.alias("v"), dot(v, v).alias("nn"))

    a, b = side(0).localCheckpoint(), side(1).localCheckpoint()

    def kmean(x: DataFrame, y: DataFrame, self_pair: bool) -> DataFrame:
        xa = x.select(
            F.col("vec_id").alias("xid"),
            F.col("v").alias("xv"),
            F.col("nn").alias("xn"),
        )
        ya = y.select(
            F.col("vec_id").alias("yid"),
            F.col("v").alias("yv"),
            F.col("nn").alias("yn"),
        )
        pairs = xa.crossJoin(ya)
        if self_pair:
            pairs = pairs.filter(F.col("xid") != F.col("yid"))
        k = F.exp(
            -(
                F.col("xn")
                + F.col("yn")
                - 2 * dot(F.col("xv"), F.col("yv"))
            )
            / MMD_BANDWIDTH
        )
        return pairs.agg(F.avg(k).alias("m"))

    kaa = kmean(a, a, True).select(F.col("m").alias("m_aa"))
    kbb = kmean(b, b, True).select(F.col("m").alias("m_bb"))
    kab = kmean(a, b, False).select(F.col("m").alias("m_ab"))
    counts = a.agg(F.count(F.lit(1)).cast("long").alias("n_a")).crossJoin(
        b.agg(F.count(F.lit(1)).cast("long").alias("n_b"))
    )
    return (
        counts.crossJoin(F.broadcast(kaa))
        .crossJoin(F.broadcast(kbb))
        .crossJoin(F.broadcast(kab))
        .select(
            "n_a",
            "n_b",
            F.round(F.col("m_aa") - 1e-9, 6).alias("mean_k_aa"),
            F.round(F.col("m_bb") - 1e-9, 6).alias("mean_k_bb"),
            F.round(F.col("m_ab") - 1e-9, 6).alias("mean_k_ab"),
            F.round(
                F.col("m_aa") + F.col("m_bb") - 2 * F.col("m_ab") - 1e-9, 6
            ).alias("mmd2"),
        )
    )


@query(
    "theil_decomposition_nations",
    """
    WITH x AS MATERIALIZED (
      SELECT c.c_nationkey AS nation,
             CAST(sum(CAST(floor(o.o_totalprice) AS BIGINT)) AS BIGINT)
               AS dol
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_nationkey
      HAVING sum(CAST(floor(o.o_totalprice) AS BIGINT)) > 0
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dol) AS BIGINT) AS s
      FROM x
    ),
    grp AS MATERIALIZED (
      SELECT nation, CAST(count(*) AS BIGINT) AS ng,
             CAST(sum(dol) AS BIGINT) AS sg,
             sum((CAST(dol AS DOUBLE) / (SELECT s FROM tot))
                 * ln(CAST(dol AS DOUBLE) * (SELECT n FROM tot)
                      / (SELECT s FROM tot))) AS t_contrib
      FROM x GROUP BY nation
    ),
    within AS (
      SELECT g.nation, g.ng, g.sg,
             sum((CAST(x.dol AS DOUBLE) / g.sg)
                 * ln(CAST(x.dol AS DOUBLE) * g.ng / g.sg)) AS t_within
      FROM grp g JOIN x ON x.nation = g.nation
      GROUP BY g.nation, g.ng, g.sg
    ),
    parts AS (
      SELECT w.nation, w.ng, w.sg, w.t_within,
             (CAST(w.sg AS DOUBLE) / t.s) AS share,
             (CAST(w.sg AS DOUBLE) / t.s)
               * ln((CAST(w.sg AS DOUBLE) / t.s)
                    / (CAST(w.ng AS DOUBLE) / t.n)) AS t_between_part,
             (SELECT sum(t_contrib) FROM grp) AS t_total
      FROM within w CROSS JOIN tot t
    )
    SELECT nation, ng AS n_customers, sg AS spend_usd,
           round(share - 1e-9, 4) AS spend_share,
           round(t_within - 1e-9, 6) AS theil_within,
           round(t_between_part - 1e-9, 6) AS theil_between_part,
           round(t_total - 1e-9, 6) AS theil_total,
           round(sum(share * t_within) OVER ()
                 + sum(t_between_part) OVER () - 1e-9, 6)
             AS theil_recomposed
    FROM parts ORDER BY nation
    """,
)
def theil_decomposition_nations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Theil-T inequality index with its EXACT between/within
    decomposition (the property Gini famously lacks): customer-spend
    inequality splits additively into between-nation inequality plus
    the spend-share-weighted within-nation terms, and the emitted
    `theil_recomposed` column must equal `theil_total` — the identity
    is part of the output, so the decomposition audits itself.  This
    is the source-imbalance diagnostic that says WHERE concentration
    lives (a few rich markets vs whales inside each market).

    All mass terms are exact integer dollars; the ln arguments are
    ratios of identical doubles; one fact pass collapses to customers,
    then two group rollups.  Pairs with ``gini_customer_spend``
    (rank-based, non-decomposable) on the same frame."""
    x = (
        load_table(spark, sf_dir, "orders")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "customer").select(
                    F.col("c_custkey").alias("o_custkey"),
                    F.col("c_nationkey").alias("nation"),
                )
            ),
            "o_custkey",
        )
        .groupBy("o_custkey", "nation")
        .agg(
            F.sum(F.floor("o_totalprice").cast("long"))
            .cast("long")
            .alias("dol")
        )
        .filter(F.col("dol") > 0)
        .select("nation", "dol")
    )
    x.persist()
    tot = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dol").cast("long").alias("s"),
    )
    xt = x.crossJoin(F.broadcast(tot))
    grp = xt.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum("dol").cast("long").alias("sg"),
        F.sum(
            (F.col("dol").cast("double") / F.col("s"))
            * F.log(
                F.col("dol").cast("double") * F.col("n") / F.col("s")
            )
        ).alias("t_contrib"),
        F.max("n").alias("n"),
        F.max("s").alias("s"),
    )
    within = (
        x.join(
            F.broadcast(
                grp.select("nation", "ng", "sg", "n", "s", "t_contrib")
            ),
            "nation",
        )
        .groupBy("nation", "ng", "sg", "n", "s")
        .agg(
            F.sum(
                (F.col("dol").cast("double") / F.col("sg"))
                * F.log(
                    F.col("dol").cast("double") * F.col("ng") / F.col("sg")
                )
            ).alias("t_within")
        )
    )
    t_total = grp.agg(F.sum("t_contrib").alias("t_total"))
    share = F.col("sg").cast("double") / F.col("s")
    between = share * F.log(
        share / (F.col("ng").cast("double") / F.col("n"))
    )
    w_all = Window.partitionBy()
    out = (
        within.crossJoin(F.broadcast(t_total))
        .select(
            "nation",
            F.col("ng").alias("n_customers"),
            F.col("sg").alias("spend_usd"),
            F.round(share - 1e-9, 4).alias("spend_share"),
            F.round(F.col("t_within") - 1e-9, 6).alias("theil_within"),
            F.round(between - 1e-9, 6).alias("theil_between_part"),
            F.round(F.col("t_total") - 1e-9, 6).alias("theil_total"),
            (share * F.col("t_within")).alias("_sw"),
            between.alias("_bp"),
        )
        .withColumn(
            "theil_recomposed",
            F.round(
                F.sum("_sw").over(w_all) + F.sum("_bp").over(w_all) - 1e-9,
                6,
            ),
        )
        .drop("_sw", "_bp")
        .orderBy("nation")
    )
    result = out.localCheckpoint()
    x.unpersist()
    return result


# --------------------------------------------------------------------------
# entropic optimal transport (Sinkhorn) between segment spend deciles
# --------------------------------------------------------------------------
OT_ROUNDS = 8
_OT_SCALE = 262144.0  # 4^9: kernel denominator, exact double

_OT_PREP = """
spine AS ({SPINE}),
kmat AS {MAT}(
  SELECT a.i AS i, b.i AS j,
         CAST(power(4, 9 - abs(a.i - b.i)) AS BIGINT) AS pw,
         CAST(abs(a.i - b.i) AS BIGINT) AS d
  FROM spine a CROSS JOIN spine b
),
ra AS {MAT}(
  SELECT s.i, CAST(coalesce(c.n, 0) AS BIGINT) AS n
  FROM spine s LEFT JOIN {COUNTS} c ON c.i = s.i AND c.seg = 'a'
),
rb AS {MAT}(
  SELECT s.i, CAST(coalesce(c.n, 0) AS BIGINT) AS n
  FROM spine s LEFT JOIN {COUNTS} c ON c.i = s.i AND c.seg = 'b'
),
na AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM ra),
nb AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM rb)
"""

# one Sinkhorn half-step: u = r / (K v), re-quantized to exact 1e-6 ints
_OT_U = """
  SELECT r.i,
         CAST(floor(CAST(r.n AS DOUBLE) * 262144.0 * 1000000000000.0
                    / (CAST(na.t AS DOUBLE) * s.s) + 0.5) AS BIGINT) AS uq
  FROM ra r
  JOIN (SELECT k.i, CAST(sum(k.pw * v.vq) AS BIGINT) AS s
        FROM kmat k JOIN {V} v ON v.j = k.j GROUP BY k.i) s ON s.i = r.i
  CROSS JOIN na
"""
_OT_V = """
  SELECT c.i AS j,
         CAST(floor(CAST(c.n AS DOUBLE) * 262144.0 * 1000000000000.0
                    / (CAST(nb.t AS DOUBLE) * s.s) + 0.5) AS BIGINT) AS vq
  FROM rb c
  JOIN (SELECT k.j, CAST(sum(k.pw * u.uq) AS BIGINT) AS s
        FROM kmat k JOIN {U} u ON u.i = k.i GROUP BY k.j) s ON s.j = c.i
  CROSS JOIN nb
"""

_OT_FINAL = """
plan AS {MAT}(
  SELECT k.i, k.j, k.d,
         CAST(floor(CAST(u.uq AS DOUBLE) * v.vq * k.pw / 262144.0
                    / 1000000000000.0 * 1000000000.0 + 0.5) AS BIGINT)
           AS mq
  FROM kmat k JOIN {U} u ON u.i = k.i JOIN {V} v ON v.j = k.j
),
marg AS {MAT}(
  SELECT p.i, CAST(sum(p.mq) AS BIGINT) AS rowm FROM plan p GROUP BY p.i
),
merr AS (
  SELECT max(abs(m.rowm
                 - CAST(floor(CAST(r.n AS DOUBLE) / na.t * 1000000000.0
                              + 0.5) AS BIGINT))) AS e
  FROM marg m JOIN ra r ON r.i = m.i CROSS JOIN na
),
cum AS {MAT}(
  SELECT a.i,
         CAST(sum(a.n) OVER (ORDER BY a.i ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS ca,
         CAST(sum(b.n) OVER (ORDER BY a.i ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cb
  FROM ra a JOIN rb b ON b.i = a.i
),
w1 AS (
  SELECT CAST(sum(abs(c.ca * nb.t - c.cb * na.t)) AS BIGINT) AS wnum
  FROM cum c CROSS JOIN na CROSS JOIN nb
)
SELECT na.t AS n_a, nb.t AS n_b,
       round(CAST((SELECT CAST(sum(p.mq * p.d) AS BIGINT) FROM plan p)
                  AS DOUBLE) / 1000000000.0 - 1e-9, 6) + 0.0
         AS sinkhorn_cost,
       round(CAST(w1.wnum AS DOUBLE) / na.t / nb.t - 1e-9, 6) + 0.0
         AS w1_exact,
       round(CAST(merr.e AS DOUBLE) / 1000000000.0 - 1e-9, 6) + 0.0
         AS max_marginal_err
FROM na CROSS JOIN nb CROSS JOIN w1 CROSS JOIN merr
"""

_OT_COUNTS_TPCH = """(
  SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 'a' ELSE 'b' END
           AS seg,
         d.i, CAST(count(*) AS BIGINT) AS n
  FROM (
    SELECT o_orderkey, o_custkey,
           ntile(10) OVER (
             ORDER BY CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT),
                      o_orderkey
           ) AS i
    FROM {orders}
  ) d JOIN {customer} c ON c.c_custkey = d.o_custkey
  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
  GROUP BY 1, 2
)"""


def _sinkhorn_oracle() -> str:
    rounds = [
        "v0 AS (SELECT i AS j, CAST(1000000 AS BIGINT) AS vq FROM spine)"
    ]
    for t in range(1, OT_ROUNDS + 1):
        rounds.append(
            f"u{t} AS MATERIALIZED ({_OT_U.replace('{V}', f'v{t - 1}')})"
        )
        rounds.append(
            f"v{t} AS MATERIALIZED ({_OT_V.replace('{U}', f'u{t}')})"
        )
    prep = (
        _OT_PREP.replace("{SPINE}", "SELECT unnest(range(1, 11)) AS i")
        .replace("{MAT}", "MATERIALIZED ")
        .replace(
            "{COUNTS}",
            _OT_COUNTS_TPCH.replace("{orders}", "orders").replace(
                "{customer}", "customer"
            ),
        )
    )
    final = (
        _OT_FINAL.replace("{U}", f"u{OT_ROUNDS}")
        .replace("{V}", f"v{OT_ROUNDS}")
        .replace("{MAT}", "MATERIALIZED ")
    )
    return "WITH " + prep.strip() + ",\n" + ",\n".join(rounds) + ",\n" + final


def sinkhorn_from_counts(spark: SparkSession, counts: DataFrame) -> DataFrame:
    """Exact-integer Sinkhorn over a (seg ∈ {'a','b'}, i ∈ 1..10, n)
    decile-count frame.  The 10-vector scaling fixed point runs
    driver-side (the bounded-frame recursion pattern of
    ``v_optimal_histogram`` / ``croston_intermittent``) with the SAME
    quantized arithmetic the DuckDB oracle unrolls in SQL — every u/v
    entry is an exact 1e-6 integer, every kernel weight the exact
    integer 4^(9−|i−j|), so two independent implementations must agree
    bit-for-bit; the plan/cost/marginal/W1 assembly stays in Spark
    SQL."""
    import math

    counts.createOrReplaceTempView("ot_counts")
    rows = counts.collect()
    nmap = {("a", i): 0 for i in range(1, 11)}
    nmap.update({("b", i): 0 for i in range(1, 11)})
    for r in rows:
        nmap[(r["seg"], r["i"])] = int(r["n"])
    ra = [nmap[("a", i)] for i in range(1, 11)]
    rb = [nmap[("b", i)] for i in range(1, 11)]
    na, nb = float(sum(ra)), float(sum(rb))
    if na == 0 or nb == 0:
        # an empty marginal: the oracle's single output row carries
        # zero masses and NULL transport stats — mirror, never run the
        # scaling loop against a zero denominator (round-12 sweep)
        return spark.createDataFrame(
            [(int(na), int(nb), None, None, None)],
            "n_a long, n_b long, sinkhorn_cost double, w1_exact double, "
            "max_marginal_err double",
        )
    pw = [
        [int(_OT_SCALE / 4 ** abs(i - j)) for j in range(10)]
        for i in range(10)
    ]
    vq = [1_000_000] * 10
    uq = [0] * 10
    for _ in range(OT_ROUNDS):
        for i in range(10):
            s = float(sum(pw[i][j] * vq[j] for j in range(10)))
            uq[i] = math.floor(
                float(ra[i]) * 262144.0 * 1000000000000.0 / (na * s) + 0.5
            )
        for j in range(10):
            s = float(sum(pw[i][j] * uq[i] for i in range(10)))
            vq[j] = math.floor(
                float(rb[j]) * 262144.0 * 1000000000000.0 / (nb * s) + 0.5
            )
    uv = ", ".join(
        f"({i + 1}, {uq[i]}, {vq[i]})" for i in range(10)
    )
    sql = (
        "WITH "
        + _OT_PREP.replace(
            "{SPINE}", "SELECT explode(sequence(1, 10)) AS i"
        )
        .replace("{MAT}", "")
        .replace("{COUNTS}", "ot_counts")
        .strip()
        + f",\nuv AS (SELECT * FROM VALUES {uv} AS t(i, uq, vq)),\n"
        + _OT_FINAL.replace("{U}", "(SELECT i, uq FROM uv)")
        .replace("{V}", "(SELECT i AS j, vq FROM uv)")
        .replace("{MAT}", "")
    )
    return spark.sql(sql)


@query("sinkhorn_ot_segments", _sinkhorn_oracle())
def sinkhorn_ot_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropic optimal transport (Sinkhorn) between the BUILDING and
    MACHINERY segments' order-value DECILE distributions — "how much
    spend mass must move how far" with an entropy-smoothed plan — plus
    the exact 1-D Wasserstein distance (the closed-form CDF-difference
    optimum) as the unregularized floor, and the plan's worst marginal
    violation as the convergence certificate.  Kernel
    K_ij = 4^(−|i−j|), 8 scaling rounds.

    Cross-engine exactness is the point: kernel weights are exact
    integers 4^(9−|i−j|), u/v re-quantize to exact 1e-6 integers each
    half-step, so every K·v contraction is an exact BIGINT dot product
    — summation order CANNOT matter, and the oracle's fully-unrolled
    16-CTE SQL chain must agree bit-for-bit with this side's
    driver-computed fixed point (two independent implementations, one
    algebra).  W1 is cross-multiplied integer CDF math.

    Scale shape: the corpus-sized work is one global decile sort and
    one counts groupBy; the transport problem itself is O(10²)
    regardless of scale factor.  Laws (tests/test_sinkhorn.py):
    identical marginals ⇒ W1 = 0; a planted 2-decile shift ⇒ W1 = 2
    with sinkhorn_cost ≥ W1 − ε; marginal error → 0."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "ot_orders"
    )
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "ot_customer"
    )
    counts = spark.sql(
        "SELECT * FROM "
        + _OT_COUNTS_TPCH.replace("{orders}", "ot_orders").replace(
            "{customer}", "ot_customer"
        )
    ).localCheckpoint()
    return sinkhorn_from_counts(spark, counts)


# --------------------------------------------------------------------------
# power iteration: top principal component of the embedding covariance
# --------------------------------------------------------------------------
PI_DIMS = 8
PI_ROUNDS = 12


def _pi_mom_sql(idx: str, table: str) -> str:
    """Single-scan moment stage; ``idx`` formats a 1-based embedding
    element as DOUBLE in the engine's dialect."""
    eq = ", ".join(
        f"CAST(floor({idx.format(i=i)} * 10000 + 0.5) AS BIGINT) AS e{i}"
        for i in range(1, PI_DIMS + 1)
    )
    s = ", ".join(
        f"CAST(sum(e{i}) AS BIGINT) AS s{i}" for i in range(1, PI_DIMS + 1)
    )
    g = ", ".join(
        f"CAST(sum(e{i} * e{j}) AS BIGINT) AS g{i}_{j}"
        for i in range(1, PI_DIMS + 1)
        for j in range(i, PI_DIMS + 1)
    )
    return (
        f"SELECT CAST(count(*) AS BIGINT) AS n, {s}, {g} "
        f"FROM (SELECT {eq} FROM {table})"
    )


def _pi_cmat_sql() -> str:
    """Quantized covariance cells (integer 1e-8-of-eq² units) from the
    moment row — 64 rows via UNION ALL, symmetric g lookup."""
    cells = []
    for i in range(1, PI_DIMS + 1):
        for j in range(1, PI_DIMS + 1):
            a, b = min(i, j), max(i, j)
            cells.append(
                f"SELECT {i} AS i, {j} AS j, "
                f"CAST(floor(CAST(g{a}_{b} AS DOUBLE) / n "
                f"- CAST(s{i} AS DOUBLE) / n * (CAST(s{j} AS DOUBLE) / n) "
                f"+ 0.5) AS BIGINT) AS cq FROM mom"
            )
    return " UNION ALL ".join(cells)


_PI_FINAL = """
num AS {MAT}(
  SELECT CAST(sum(CAST(floor(CAST(a.wq AS DOUBLE) * c.cq * b.wq
                             / 1000000000000.0 + 0.5) AS BIGINT))
              AS BIGINT) AS v
  FROM cmat c JOIN wf a ON a.i = c.i JOIN wf b ON b.i = c.j
),
den AS (SELECT CAST(sum(wq * wq) AS BIGINT) AS v FROM wf)
SELECT (SELECT n FROM mom) AS n_vectors,
       -- num is eq2*w2 (1e-12-quantized terms), den is w2*1e12;
       -- eq2 -> real value2 costs 1e8: num*1e12/den/1e8 = num*1e4/den
       round(CAST(num.v AS DOUBLE) * 10000.0 / den.v
             - 1e-9, 6) + 0.0 AS top_eigenvalue,
       {LOADINGS}
FROM num CROSS JOIN den
"""


def _pi_loadings() -> str:
    return ",\n       ".join(
        f"round((SELECT CAST(wq AS DOUBLE) FROM wf WHERE i = {i})"
        f" / 1000000.0 - 1e-9, 6) + 0.0 AS loading_{i}"
        for i in range(1, PI_DIMS + 1)
    )


def _pi_oracle() -> str:
    rounds = [
        "w0 AS (SELECT unnest(range(1, "
        f"{PI_DIMS + 1})) AS i, CAST(1000000 AS BIGINT) AS wq)"
    ]
    for t in range(1, PI_ROUNDS + 1):
        rounds.append(f"""mv{t} AS MATERIALIZED (
  SELECT c.i, CAST(sum(c.cq * w.wq) AS BIGINT) AS v
  FROM cmat c JOIN w{t - 1} w ON w.i = c.j GROUP BY c.i
),
mx{t} AS (SELECT CAST(max(abs(v)) AS BIGINT) AS m FROM mv{t}),
w{t} AS MATERIALIZED (
  SELECT v.i,
         CAST(floor(CAST(v.v AS DOUBLE) * 1000000.0 / x.m + 0.5)
              AS BIGINT) AS wq
  FROM mv{t} v CROSS JOIN mx{t} x
)""")
    flip = f"""flip AS (
  SELECT CASE WHEN (SELECT wq FROM w{PI_ROUNDS}
                    ORDER BY abs(wq) DESC, i LIMIT 1) < 0
         THEN -1 ELSE 1 END AS f
),
wf AS MATERIALIZED (
  SELECT w.i, CAST(w.wq * p.f AS BIGINT) AS wq
  FROM w{PI_ROUNDS} w CROSS JOIN flip p
)"""
    return (
        "WITH mom AS MATERIALIZED ("
        + _pi_mom_sql("CAST(embedding[{i}] AS DOUBLE)", "embeddings")
        + "),\ncmat AS MATERIALIZED ("
        + _pi_cmat_sql()
        + "),\n"
        + ",\n".join(rounds)
        + ",\n"
        + flip
        + ",\n"
        + _PI_FINAL.replace("{MAT}", "MATERIALIZED ").replace(
            "{LOADINGS}", _pi_loadings()
        )
    )


@query("power_iteration_top_pc", _pi_oracle())
def power_iteration_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the (first-8-dim) embedding
    covariance by power iteration — the dominant drift/variance
    direction of an embedding table, with the top eigenvalue as the
    "how concentrated is the variance" scalar.  Unlike
    ``pca_whiten_embeddings`` (numpy mapInPandas, rows-only check),
    this spectral computation carries a FULL DuckDB value oracle: the
    oracle unrolls all 12 matrix-vector rounds in SQL and must agree
    bit-for-bit with this side's driver-computed fixed point.

    Determinism: embedding values quantize to 1e-4 integers at the
    scan; the 8×8 covariance quantizes each cell to an integer; every
    matrix-vector product is then an exact BIGINT dot product, with
    the iterate re-quantized to 1e-6 integers under max-norm (no sqrt)
    each round; the eigenvector's global sign — the one genuine
    ambiguity — is pinned by forcing the largest-|component| (ties →
    lowest index) positive.  Rayleigh numerator terms quantize to
    integers before the 64-term sum.

    Scale shape: ONE pass over the table computes all 44 moments
    (map-side-combinable integer sums — only 44 numbers shuffle); the
    iteration is O(8²) on the driver per the bounded-frame pattern
    (``sinkhorn_ot_segments``, ``v_optimal_histogram``).  Laws
    (tests/test_wave12.py): planted dominant direction is recovered;
    C·v = λv residual is small; loadings have unit max-norm."""
    import math

    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "pi_embeddings"
    )
    mom = spark.sql(
        _pi_mom_sql(
            "CAST(element_at(embedding, {i}) AS DOUBLE)", "pi_embeddings"
        )
    ).collect()[0]
    n = float(mom["n"])
    if n == 0:
        # empty universe: the oracle's groupless rollup emits one row
        # with n_vectors = 0 and NULL spectrum — mirror it instead of
        # dividing by the vector count (round-12 degenerate sweep)
        return spark.createDataFrame(
            [tuple([0] + [None] * (PI_DIMS + 1))],
            "n_vectors long, top_eigenvalue double, "
            + ", ".join(f"loading_{i} double" for i in range(1, PI_DIMS + 1)),
        )
    cq = {}
    for i in range(1, PI_DIMS + 1):
        for j in range(1, PI_DIMS + 1):
            a, b = min(i, j), max(i, j)
            cq[(i, j)] = math.floor(
                float(mom[f"g{a}_{b}"]) / n
                - float(mom[f"s{i}"]) / n * (float(mom[f"s{j}"]) / n)
                + 0.5
            )
    wq = [1_000_000] * PI_DIMS
    for _ in range(PI_ROUNDS):
        mv = [
            sum(cq[(i, j)] * wq[j - 1] for j in range(1, PI_DIMS + 1))
            for i in range(1, PI_DIMS + 1)
        ]
        mx = max(abs(v) for v in mv)
        wq = [
            math.floor(float(v) * 1000000.0 / float(mx) + 0.5) for v in mv
        ]
    lead = max(range(PI_DIMS), key=lambda k: (abs(wq[k]), -k))
    if wq[lead] < 0:
        wq = [-w for w in wq]
    mom_row = ", ".join(
        [f"CAST({int(mom['n'])} AS BIGINT) AS n"]
        + [
            f"CAST({int(mom[f's{i}'])} AS BIGINT) AS s{i}"
            for i in range(1, PI_DIMS + 1)
        ]
    )
    cmat_vals = ", ".join(
        f"({i}, {j}, {cq[(i, j)]})"
        for i in range(1, PI_DIMS + 1)
        for j in range(1, PI_DIMS + 1)
    )
    wf_vals = ", ".join(f"({i + 1}, {wq[i]})" for i in range(PI_DIMS))
    return spark.sql(
        f"WITH mom AS (SELECT {mom_row}),\n"
        f"cmat AS (SELECT i, j, CAST(cq AS BIGINT) AS cq "
        f"FROM VALUES {cmat_vals} AS t(i, j, cq)),\n"
        f"wf AS (SELECT i, CAST(wq AS BIGINT) AS wq "
        f"FROM VALUES {wf_vals} AS t(i, wq)),\n"
        + _PI_FINAL.replace("{MAT}", "").replace(
            "{LOADINGS}", _pi_loadings()
        )
    )


# --------------------------------------------------------------------------
# Diebold-Mariano: is seasonal-naive actually better than naive?
# --------------------------------------------------------------------------
_DM_SQL = """
WITH days AS {MAT}(
  SELECT {DD} AS t,
         CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS y
  FROM {orders} GROUP BY 1
),
tot AS (SELECT CAST(sum(y) AS BIGINT) AS ty FROM days),
q AS {MAT}(
  -- scale-free 1e-6-of-total units: squared losses stay exact int64
  SELECT d.t,
         CAST(floor(CAST(d.y AS DOUBLE) / x.ty * 1000000 + 0.5)
              AS BIGINT) AS qy
  FROM days d CROSS JOIN tot x
),
f AS {MAT}(
  -- calendar equi-joins: forecaster A = value 7 days ago (seasonal
  -- naive), forecaster B = value 1 day ago (naive)
  SELECT a.t, a.qy,
         (a.qy - s7.qy) * (a.qy - s7.qy) AS la,
         (a.qy - s1.qy) * (a.qy - s1.qy) AS lb
  FROM q a
  JOIN q s7 ON s7.t = a.t - 7
  JOIN q s1 ON s1.t = a.t - 1
),
m AS {MAT}(
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(la - lb) AS BIGINT) AS sd,
         CAST(sum((la - lb) * (la - lb)) AS BIGINT) AS sdd,
         CAST(sum(la) AS BIGINT) AS sla,
         CAST(sum(lb) AS BIGINT) AS slb
  FROM f
),
stat AS {MAT}(
  SELECT n, sla, slb,
         (CAST(sd AS DOUBLE) / n)
           / sqrt((sdd - CAST(sd AS DOUBLE) * sd / n) / (n - 1) / n)
           AS dm
  FROM m
)
SELECT n AS n_days,
       round(CAST(sla AS DOUBLE) / n - 1e-9, 4) + 0.0
         AS mse_seasonal_naive,
       round(CAST(slb AS DOUBLE) / n - 1e-9, 4) + 0.0 AS mse_naive,
       round(dm - 1e-9, 4) + 0.0 AS dm_stat,
       CASE WHEN abs(round(dm - 1e-9, 4)) > 1.96 THEN CAST(1 AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS significant_5pct
FROM stat
"""


@query(
    "diebold_mariano_forecasts",
    _DM_SQL.replace("{orders}", "orders")
    .replace(
        "{DD}",
        "date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))",
    )
    .replace("{MAT}", "MATERIALIZED "),
)
def diebold_mariano_forecasts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diebold-Mariano test of equal predictive accuracy: does the
    seasonal-naive forecast (last week's value) beat the plain naive
    (yesterday's value) on daily revenue, or is the MSE gap noise?
    The loss differential d_t = L_A − L_B is averaged and studentized
    (lag-0 small-sample form); |DM| > 1.96 declares a real accuracy
    difference — the inference layer missing from raw leaderboard
    deltas like ``forecast_baseline_eval``'s.

    Determinism: values become 1e-6-of-total integer units so both
    squared losses and the squared loss differential are exact BIGINTs
    at any scale factor; the DM statistic is a fixed IEEE tree; the
    verdict compares the ROUNDED stat.  tests/test_wave15.py plants a
    pure-weekly series (seasonal naive perfect ⇒ DM strongly negative)
    and a random walk (naive wins).

    Scale shape: one fact rollup to O(days), two calendar equi-joins
    on that frame, O(1) statistics."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "dm_orders"
    )
    return spark.sql(
        _DM_SQL.replace("{orders}", "dm_orders")
        .replace(
            "{DD}",
            "datediff(CAST(o_orderdate AS DATE), DATE '1992-01-01')",
        )
        .replace("{MAT}", "")
    )


def diebold_mariano_frame(q: DataFrame) -> DataFrame:
    """DM test over any (t, qy) integer frame — factored out for the
    planted-forecaster tests; see :func:`diebold_mariano_forecasts`."""
    q.createOrReplaceTempView("dm_q_frame")
    sql = _DM_SQL.replace("{MAT}", "")
    head = sql.index("f AS ")
    return q.sparkSession.sql(
        "WITH q AS (SELECT t, CAST(qy AS BIGINT) AS qy"
        " FROM dm_q_frame),\n" + sql[head:]
    )


# --------------------------------------------------------------------------
# Holt-Winters additive seasonal smoothing (m = 12, monthly revenue)
# --------------------------------------------------------------------------
HW_ALPHA, HW_BETA, HW_GAMMA = 0.2, 0.05, 0.3
_HW_M = 12


def _hw_sql() -> str:
    a, b, g = HW_ALPHA, HW_BETA, HW_GAMMA
    ia, ib, ig = 1 - a, 1 - b, 1 - g
    piv = ",\n         ".join(
        f"max(CASE WHEN idx = {i} THEN y END) AS m{i}"
        for i in range(2 * _HW_M)
    )
    s1 = " + ".join(f"m{i}" for i in range(_HW_M))
    s2 = " + ".join(f"m{i}" for i in range(_HW_M, 2 * _HW_M))
    seas = ",\n         ".join(
        f"m{i} - ({s1}) / 12.0 AS s{i}" for i in range(_HW_M)
    )
    base_q = ", ".join(f"s{i} AS q{i + 1}" for i in range(_HW_M))
    shift_q = ", ".join(f"h.q{i}" for i in range(2, _HW_M + 1))
    lvl_new = f"{a} * (m.y - h.q1) + {ia} * (h.lvl + h.trend)"
    return f"""
WITH RECURSIVE monthly AS (
  SELECT CAST(row_number() OVER (ORDER BY month) AS BIGINT) - 1 AS idx,
         month, y
  FROM (
    SELECT {{month_expr}} AS month, round(sum(o_totalprice), 2) AS y
    FROM {{orders}}
    GROUP BY 1
  )
),
init AS (
  SELECT {piv}
  FROM monthly WHERE idx < {2 * _HW_M}
),
st AS (
  SELECT ({s1}) / 12.0 AS lvl0,
         (({s2}) / 12.0 - ({s1}) / 12.0) / 12.0 AS b0,
         {seas}
  FROM init
),
hw (idx, y, lvl, trend, {", ".join(f"q{i}" for i in range(1, _HW_M + 1))},
    fitted) AS (
  SELECT CAST({_HW_M - 1} AS BIGINT), CAST(NULL AS DOUBLE),
         lvl0, b0, {base_q}, CAST(NULL AS DOUBLE)
  FROM st
  UNION ALL
  SELECT m.idx, m.y,
         {lvl_new},
         {b} * (({lvl_new}) - h.lvl) + {ib} * h.trend,
         {shift_q},
         {g} * (m.y - ({lvl_new})) + {ig} * h.q1,
         h.lvl + h.trend + h.q1
  FROM hw h JOIN monthly m ON m.idx = h.idx + 1
)
SELECT h.idx, m.month, h.y,
       round(h.lvl, 2) AS level,
       round(h.trend, 2) AS trend,
       round(h.q{_HW_M}, 2) AS seasonal,
       round(h.fitted, 2) AS fitted
FROM hw h JOIN monthly m ON m.idx = h.idx
WHERE h.idx >= {_HW_M}
ORDER BY h.idx
"""


def hw_seasonal_loop(rows: list) -> list:
    """Driver-side mirror of the oracle recursion — IDENTICAL IEEE op
    order per step (the holt_smoothing_monthly contract).  ``rows`` =
    [(idx, month, y)] sorted by idx; returns the post-first-two-season
    rows as (idx, month, y, lvl, trend, seasonal, fitted)."""
    a, b, g = HW_ALPHA, HW_BETA, HW_GAMMA
    m = _HW_M
    ys = [r[2] for r in rows]
    s1 = 0.0
    for i in range(m):
        s1 = s1 + ys[i]  # left-assoc fold == SQL's m0 + m1 + ...
    s2 = 0.0
    for i in range(m, 2 * m):
        s2 = s2 + ys[i]
    lvl = s1 / 12.0
    trend = (s2 / 12.0 - s1 / 12.0) / 12.0
    queue = [ys[i] - s1 / 12.0 for i in range(m)]
    out = []
    for idx, month, y in rows[m:]:
        q1 = queue[0]
        lvl_new = a * (y - q1) + (1 - a) * (lvl + trend)
        trend_new = b * (lvl_new - lvl) + (1 - b) * trend
        snew = g * (y - lvl_new) + (1 - g) * q1
        fitted = lvl + trend + q1
        queue = queue[1:] + [snew]
        lvl, trend = lvl_new, trend_new
        if idx >= m:
            out.append((idx, month, y, lvl, trend, snew, fitted))
    return out


@query(
    "holt_winters_seasonal",
    _hw_sql().format(
        orders="orders", month_expr="strftime(o_orderdate, '%Y-%m')"
    ),
)
def holt_winters_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal smoothing (level + trend + 12
    monthly seasonal states, α=0.2 β=0.05 γ=0.3) over the 80-month
    revenue series — the seasonal completion of the smoothing family
    (EWMA → Holt → HW): level updates on the DESEASONALIZED
    observation, the seasonal queue rotates one slot per month, and
    one-step-ahead fitted = level + trend + the season from 12 back.

    Determinism: the monthly rollup rounds to cents first (the Holt
    contract); initialization pivots the first 24 months into ONE row
    so level₀/trend₀/seasonals are fixed left-associated expression
    trees; each recursion step then applies identical IEEE ops to
    identical doubles in both engines (DuckDB native WITH RECURSIVE
    carrying the 12-slot queue as columns vs the driver loop in
    :func:`hw_seasonal_loop`).  tests/test_anova_periodogram.py plants
    a known seasonal pattern and pins recovery + one-step-MAE
    improvement over the seasonal-naive baseline.

    Scale shape: the only fact-sized work is the distributed monthly
    rollup; the recursion is O(months) driver-side (bounded by the
    calendar — the v-optimal/isotonic bounded-collect contract)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "hw_orders"
    )
    monthly = spark.sql(
        """
        SELECT CAST(row_number() OVER (ORDER BY month) AS BIGINT) - 1
                 AS idx, month, y
        FROM (
          SELECT date_format(o_orderdate, 'yyyy-MM') AS month,
                 round(sum(o_totalprice), 2) AS y
          FROM hw_orders GROUP BY 1
        )
        """
    ).collect()  # bounded by the calendar, not by row count
    rows = sorted((r.idx, r.month, r.y) for r in monthly)
    # degenerate universe: no months -> 0 rows, matching the oracle
    out = hw_seasonal_loop(rows) if rows else []
    df = spark.createDataFrame(
        out,
        "idx BIGINT, month STRING, y DOUBLE, lvl DOUBLE, trend DOUBLE, "
        "snew DOUBLE, fit DOUBLE",
    )
    return df.select(
        "idx", "month", "y",
        F.round("lvl", 2).alias("level"),
        F.round("trend", 2).alias("trend"),
        F.round("snew", 2).alias("seasonal"),
        F.round("fit", 2).alias("fitted"),
    ).orderBy("idx")


# --------------------------------------------------------------------------
# grid-bucketed Local Outlier Factor
# --------------------------------------------------------------------------
LOF_K = 5
LOF_CELL_Q = 125_000  # grid side in 1e-6 quantized units (0.125)
#: density-scaled grid side (round-11 verdict item 4): 1/4 the side =
#: 16x the cells = 1/16 the per-cell population — the production sizing
#: move (shrink the side as density grows) REGISTERED under the hash
#: gate instead of living only in the exemption table's prose
LOF_CELL_Q_DENSE = 31_250


def _lof_oracle(cell_q: int) -> str:
    return f"""
    WITH q AS MATERIALIZED (
      SELECT vec_id,
             CAST(floor(embedding[1] * 1000000 + 0.5) AS BIGINT) AS x,
             CAST(floor(embedding[2] * 1000000 + 0.5) AS BIGINT) AS y
      FROM embeddings
    ),
    cells AS MATERIALIZED (
      SELECT vec_id, x, y,
             CAST(floor(x * 1.0 / {cell_q}) AS BIGINT) AS cx,
             CAST(floor(y * 1.0 / {cell_q}) AS BIGINT) AS cy
      FROM q
    ),
    cand AS MATERIALIZED (
      SELECT a.vec_id AS p, b.vec_id AS o,
             (a.x - b.x) * (a.x - b.x)
               + (a.y - b.y) * (a.y - b.y) AS d2
      FROM cells a JOIN cells b
        ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
       AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
       AND a.vec_id <> b.vec_id
    ),
    knn AS MATERIALIZED (
      SELECT p, o, d2 FROM (
        SELECT *, row_number() OVER (
          PARTITION BY p ORDER BY d2, o) AS r
        FROM cand
      ) WHERE r <= {LOF_K}
    ),
    kd AS MATERIALIZED (
      SELECT p, CAST(max(d2) AS BIGINT) AS kd2,
             CAST(count(*) AS BIGINT) AS n_knn
      FROM knn GROUP BY p
    ),
    reach AS (
      SELECT k.p, k.o,
             sqrt(CAST(greatest(kdo.kd2, k.d2, 1) AS DOUBLE)) AS rdist
      FROM knn k JOIN kd kdo ON kdo.p = k.o
    ),
    lrd AS MATERIALIZED (
      SELECT p, n / s AS lrd FROM (
        SELECT p, sum(rdist) OVER w AS s,
               CAST(count(*) OVER (PARTITION BY p) AS DOUBLE) AS n,
               row_number() OVER (PARTITION BY p ORDER BY o DESC) AS rd
        FROM reach
        WINDOW w AS (PARTITION BY p ORDER BY o ROWS UNBOUNDED PRECEDING)
      ) WHERE rd = 1
    ),
    nsum AS (
      SELECT p, s, n FROM (
        SELECT k.p, sum(l.lrd) OVER w AS s,
               CAST(count(*) OVER (PARTITION BY k.p) AS DOUBLE) AS n,
               row_number() OVER (
                 PARTITION BY k.p ORDER BY k.o DESC) AS rd
        FROM knn k JOIN lrd l ON l.p = k.o
        WINDOW w AS (PARTITION BY k.p ORDER BY k.o
                     ROWS UNBOUNDED PRECEDING)
      ) WHERE rd = 1
    )
    SELECT ns.p AS vec_id, kd.n_knn AS n_considered,
           round(sqrt(CAST(kd.kd2 AS DOUBLE)) / 1000000.0 - 1e-9, 4)
             + 0.0 AS k_distance,
           round(ns.s / ns.n / l.lrd - 1e-9, 4) + 0.0 AS lof
    FROM nsum ns JOIN lrd l ON l.p = ns.p JOIN kd ON kd.p = ns.p
    ORDER BY ns.s / ns.n / l.lrd DESC, ns.p
    LIMIT 20
    """


@query("lof_grid_outliers", _lof_oracle(LOF_CELL_Q))
def lof_grid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local Outlier Factor (Breunig et al. SIGMOD'00) over the first
    two embedding components, grid-bucketed: per point, the k=5
    nearest neighbors among its 3x3 grid-cell neighborhood, then the
    classic LOF cascade — k-distance, reachability distance
    ``max(kdist(o), d(p,o))``, local reachability density, and the
    LOF ratio ``avg(lrd(o))/lrd(p)`` — reporting the top-20 most
    outlying points.  The density-RELATIVE detector the z-score /
    Mahalanobis / MAD family can't replicate: a point at the edge of
    a tight cluster outranks a point deep inside a sparse one.

    Determinism: coordinates quantize to 1e-6 int units, so every
    candidate distance, kNN rank, and the max() inside reachability
    compare EXACT int64 squared distances (sqrt-monotone, so ranking
    in squared space is exact; the greatest(...,1) floor guards the
    duplicate-point lrd singularity identically in both engines); the
    two per-point averages accumulate through neighbor-ORDERED
    windows.  Scale shape: the 3x3 grid join is the dbscan-grid
    candidate generator — never all-pairs — but the CELL SIDE is a
    baked literal (the oracle needs integer-exact cell ids), so
    per-cell population grows with the corpus: the IVF-twin
    fixed-index caveat, documented in the overflow sweep's exemption
    table; production shrinks the side with density exactly like
    scaling n_cells — and ``lof_grid_outliers_dense`` registers that
    production sizing under the same hash gate."""
    return _lof_impl(spark, sf_dir, LOF_CELL_Q)


@query("lof_grid_outliers_dense", _lof_oracle(LOF_CELL_Q_DENSE))
def lof_grid_outliers_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The density-scaled LOF twin (round-11 verdict item 4): identical
    cascade to ``lof_grid_outliers`` but on the PRODUCTION grid sizing
    — cell side {LOF_CELL_Q_DENSE} (1/4 the base side, 16x the cells,
    1/16 the per-cell population), which is what an operator deploys
    as the corpus densifies.  Registering it under the full hash gate
    means the scaled configuration is correctness-checked cross-engine
    — not just timed in a smoke — and it carries NO overflow-sweep
    exemption: its 10x wall must pass the superlinearity gate on
    merit.  Results legitimately differ from the base twin where a
    sparser 3x3 neighborhood sees fewer than k candidates
    (``n_considered`` reports it) — grid-LOF semantics are defined BY
    the grid, so each sizing is its own well-defined query."""
    return _lof_impl(spark, sf_dir, LOF_CELL_Q_DENSE)


def _lof_impl(
    spark: SparkSession, sf_dir: str, cell_q: int
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.floor(F.element_at("embedding", 1) * 1000000 + 0.5)
        .cast("long")
        .alias("x"),
        F.floor(F.element_at("embedding", 2) * 1000000 + 0.5)
        .cast("long")
        .alias("y"),
    )
    cells = q.select(
        "*",
        F.floor(F.col("x") * 1.0 / cell_q).cast("long").alias("cx"),
        F.floor(F.col("y") * 1.0 / cell_q).cast("long").alias("cy"),
    )
    offsets = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)],
        "dx long, dy long",
    )
    probe = cells.crossJoin(F.broadcast(offsets)).select(
        F.col("vec_id").alias("p"),
        F.col("x").alias("px"),
        F.col("y").alias("py"),
        (F.col("cx") + F.col("dx")).alias("jx"),
        (F.col("cy") + F.col("dy")).alias("jy"),
    )
    cand = probe.join(
        cells.select(
            F.col("vec_id").alias("o"),
            F.col("x").alias("ox"),
            F.col("y").alias("oy"),
            F.col("cx").alias("jx"),
            F.col("cy").alias("jy"),
        ),
        ["jx", "jy"],
    ).filter(F.col("p") != F.col("o")).select(
        "p",
        "o",
        (
            (F.col("px") - F.col("ox")) * (F.col("px") - F.col("ox"))
            + (F.col("py") - F.col("oy")) * (F.col("py") - F.col("oy"))
        ).alias("d2"),
    )
    wk = Window.partitionBy("p").orderBy(F.asc("d2"), F.asc("o"))
    knn = (
        cand.withColumn("r", F.row_number().over(wk))
        .filter(F.col("r") <= LOF_K)
        .select("p", "o", "d2")
        .localCheckpoint()
    )
    kd = knn.groupBy("p").agg(
        F.max("d2").cast("long").alias("kd2"),
        F.count(F.lit(1)).cast("long").alias("n_knn"),
    )
    reach = knn.join(
        kd.select(F.col("p").alias("o"), F.col("kd2").alias("okd2")), "o"
    ).select(
        "p",
        "o",
        F.sqrt(
            F.greatest("okd2", "d2", F.lit(1)).cast("double")
        ).alias("rdist"),
    )
    wacc = (
        Window.partitionBy("p")
        .orderBy("o")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wlast = Window.partitionBy("p").orderBy(F.desc("o"))
    wn = Window.partitionBy("p")
    lrd = (
        reach.select(
            "p",
            F.sum("rdist").over(wacc).alias("s"),
            F.count(F.lit(1)).over(wn).cast("double").alias("n"),
            F.row_number().over(wlast).alias("rd"),
        )
        .filter(F.col("rd") == 1)
        .select("p", (F.col("n") / F.col("s")).alias("lrd"))
    )
    nsum = (
        knn.join(
            lrd.select(F.col("p").alias("o"), F.col("lrd").alias("lrd_o")),
            "o",
        )
        .select(
            "p",
            F.sum("lrd_o").over(wacc.orderBy("o")).alias("s"),
            F.count(F.lit(1)).over(wn).cast("double").alias("n"),
            F.row_number().over(wlast).alias("rd"),
        )
        .filter(F.col("rd") == 1)
        .select("p", "s", "n")
    )
    lof = F.col("s") / F.col("n") / F.col("lrd")
    return (
        nsum.join(lrd, "p")
        .join(kd, "p")
        .select(
            F.col("p").alias("vec_id"),
            F.col("n_knn").alias("n_considered"),
            (
                F.round(
                    F.sqrt(F.col("kd2").cast("double")) / 1000000.0
                    - 1e-9,
                    4,
                )
                + 0.0
            ).alias("k_distance"),
            (F.round(lof - 1e-9, 4) + 0.0).alias("lof"),
            lof.alias("_lof_raw"),
        )
        .orderBy(F.desc("_lof_raw"), F.asc("vec_id"))
        .limit(20)
        .drop("_lof_raw")
    )


# --------------------------------------------------------------------------
# pass@k estimation from repeated trials
# --------------------------------------------------------------------------
PASS_K_LIST = (1, 5, 10)
PASS_TASK_MOD = 10  # deterministic task sample (user_id stride)


def _pass_at_k_terms(k: int) -> str:
    """The unbiased pass@k estimator 1 − C(n−c, k)/C(n, k) (Chen et
    al., "Evaluating Large Language Models Trained on Code", 2021 —
    public method) with the binomial ratio expanded as the exact
    telescoping product Π_{i<k} (n−c−i)/(n−i): every factor is one
    IEEE division of exact integers, so the k ≤ 10 product is the
    identical expression tree in both engines."""
    prod = " * ".join(
        f"(CAST(greatest(n - c - {i}, 0) AS DOUBLE) / (n - {i}))"
        for i in range(k)
    )
    return (
        f"CASE WHEN n >= {k}"
        f" THEN round(1.0 - ({prod}) - 1e-9, 4) + 0.0"
        f" END AS pass_at_{k}"
    )


@query(
    "pass_at_k_estimator",
    f"""
    WITH trials AS (
      SELECT user_id AS task_id,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS c
      FROM events
      WHERE user_id % {PASS_TASK_MOD} = 0
      GROUP BY user_id
    )
    SELECT task_id, n AS n_trials, c AS n_pass,
           {", ".join(_pass_at_k_terms(k) for k in PASS_K_LIST)}
    FROM trials
    ORDER BY task_id
    """,
)
def pass_at_k_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pass@k from repeated trials — the estimator every code/eval
    harness reports (Chen et al. 2021): with n trials and c successes
    per task, pass@k = 1 − C(n−c, k)/C(n, k), the probability that at
    least one of k drawn trials succeeds — computed with the
    numerically-stable telescoping product, never factorials.  Tasks
    are the stride-sampled users, trials their events, success =
    purchase; k ∈ {PASS_K_LIST}.  Tasks with n < k leave that column
    NULL (the estimator is undefined), matching the reference
    implementation's skip.

    Determinism: n and c are exact BIGINTs; each pass@k is a ≤10-term
    product of exact-integer ratios evaluated by the identical tree in
    both engines; rounding only at output.  Scale shape: one map-side
    combinable per-task rollup, then a per-row projection — linear,
    no window, no pairwise stage (the %MOD sample feeds no quadratic
    work, but it rides in the overflow sweep's MOD_SAMPLED list per
    the standing policy)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % PASS_TASK_MOD == 0
    )
    trials = ev.groupBy(F.col("user_id").alias("task_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("c"),
    )
    return trials.selectExpr(
        "task_id",
        "n AS n_trials",
        "c AS n_pass",
        *[_pass_at_k_terms(k) for k in PASS_K_LIST],
    ).orderBy("task_id")
