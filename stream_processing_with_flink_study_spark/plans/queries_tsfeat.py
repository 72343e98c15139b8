"""Time-series feature + feature-engineering queries (fifth wave):
single-split changepoint detection, lag autocorrelation, seasonal
baselines, leave-one-out target encoding, hashing-trick features, and
global passage-level dedup with document reassembly.

Oracle-determinism notes (see plans/registry.py conventions):
- running sums use ``ROWS UNBOUNDED PRECEDING`` over a UNIQUE order key
  (ts, event_id) so both engines evaluate the same sequential float
  recurrence bit-for-bit — which makes the changepoint argmax
  engine-stable without rounding tricks;
- whole-partition totals are read back from the LAST running-sum value
  (not a separate unordered aggregate) for the same reason;
- hashing-trick buckets use md5 (identical in both engines) rather
  than engine-native hash functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text
from ..session import conf_override
from ..sources import load_table
from .registry import query


@query(
    "changepoint_single_split",
    """
    WITH s AS (
      SELECT user_id, epoch_ms(ts) AS ts_ms, value,
             row_number() OVER w AS k,
             sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS cum,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    t AS (
      SELECT *, max(CASE WHEN k = n THEN cum END)
                  OVER (PARTITION BY user_id) AS total
      FROM s
    ),
    sc AS (
      SELECT user_id, k, ts_ms, n,
             abs(cum / k - (total - cum) / (n - k))
               * sqrt(k * (n - k) * 1.0 / n) AS score,
             (total - cum) / (n - k) - cum / k AS shift
      FROM t WHERE k < n AND n >= 20
    )
    SELECT user_id, CAST(k AS BIGINT) AS split_k, ts_ms AS split_ts_ms,
           round(score - 1e-9, 4) AS cusum_score,
           round(shift - 1e-9, 4) AS mean_shift
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY score DESC, k) AS r
      FROM sc
    ) WHERE r = 1
    """,
)
def changepoint_single_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-split changepoint per series (binary-segmentation step):
    for every cut point k the statistic ``|mean_left − mean_right| ·
    sqrt(k(n−k)/n)`` from running sums, argmax per user — the level-
    shift detector behind drift alarms.  One shuffle-sort per key
    computes the running sum, the per-row score, AND the argmax (three
    window passes over the same partitioning, one exchange); the series
    total is the last running-sum value.

    Cross-engine note: source values are quantized (2 decimals), so
    split means can land EXACTLY on round-half boundaries while the two
    engines' windowed sums differ by ~1e-14 (sequential vs segment-tree
    association) — a plain ``round(x, 4)`` flips on those rows.  Both
    sides therefore round ``x − 1e-9``: the nudge moves the rounding
    boundary off the data's rational grid, far above float jitter and
    far below the output precision."""
    ev = load_table(spark, sf_dir, "events")
    return changepoint_plan(ev)


def changepoint_plan(
    ev: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    order: str = "event_id",
    value: str = "value",
    min_len: int = 20,
) -> DataFrame:
    """The single-split changepoint plan over any keyed/timestamped
    frame (see :func:`changepoint_single_split` for semantics; factored
    so property tests can plant a known shift in a synthetic series)."""
    wo = Window.partitionBy(key).orderBy(ts, order)
    wp = Window.partitionBy(key)
    s = ev.select(
        key,
        F.unix_millis(ts).alias("ts_ms"),
        value,
        F.row_number().over(wo).alias("k"),
        F.sum(value).over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    t = s.withColumn(
        "total",
        F.max(F.when(F.col("k") == F.col("n"), F.col("cum"))).over(wp),
    )
    mean_l = F.col("cum") / F.col("k")
    mean_r = (F.col("total") - F.col("cum")) / (F.col("n") - F.col("k"))
    sc = t.filter(
        (F.col("k") < F.col("n")) & (F.col("n") >= min_len)
    ).select(
        key,
        "k",
        "ts_ms",
        (
            F.abs(mean_l - mean_r)
            * F.sqrt(F.col("k") * (F.col("n") - F.col("k")) * 1.0 / F.col("n"))
        ).alias("score"),
        (mean_r - mean_l).alias("shift"),
    )
    wbest = Window.partitionBy(key).orderBy(F.desc("score"), F.asc("k"))
    return (
        sc.withColumn("r", F.row_number().over(wbest))
        .filter(F.col("r") == 1)
        .select(
            key,
            F.col("k").cast("long").alias("split_k"),
            F.col("ts_ms").alias("split_ts_ms"),
            F.round(F.col("score") - 1e-9, 4).alias("cusum_score"),
            F.round(F.col("shift") - 1e-9, 4).alias("mean_shift"),
        )
    )


@query(
    "autocorr_lag1",
    """
    WITH p AS (
      SELECT user_id, value AS x,
             lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS xp
      FROM events
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
           round(corr(x, xp), 4) AS ac1
    FROM p WHERE xp IS NOT NULL
    GROUP BY user_id HAVING count(*) >= 10
    """,
)
def autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation per series — the "is this signal trending
    or white noise" feature.  One shuffle-sort per key for the lag
    pairing, then a plain keyed ``corr`` (JVM aggregate, map-side
    partials)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = ev.select(
        "user_id",
        F.col("value").alias("x"),
        F.lag("value").over(w).alias("xp"),
    ).filter(F.col("xp").isNotNull())
    return (
        p.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.corr("x", "xp"), 4).alias("ac1"),
        )
        .filter(F.col("n_pairs") >= 10)
    )


@query(
    "seasonal_profile_mae",
    """
    WITH h AS (
      SELECT event_type, value,
             avg(value) OVER (PARTITION BY event_type, extract(hour FROM ts))
               AS hr_mean
      FROM events
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           round(avg(abs(value - hr_mean)), 4) AS mae,
           round(max(abs(value - hr_mean)), 4) AS max_abs_dev
    FROM h GROUP BY event_type
    """,
)
def seasonal_profile_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal-baseline fit: predict each event's value by
    its (type, hour) mean and report per-type MAE — the cheap seasonal
    screen before reaching for a real forecaster.  The profile mean is
    a window aggregate over (type, hour) so the residual computation
    needs no second join; the (type, hour) frame has at most
    |types|·24 groups, so the exchange is key-bounded."""
    ev = load_table(spark, sf_dir, "events")
    wp = Window.partitionBy("event_type", F.hour("ts"))
    h = ev.select(
        "event_type",
        "value",
        F.avg("value").over(wp).alias("hr_mean"),
    )
    dev = F.abs(F.col("value") - F.col("hr_mean"))
    return h.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg(dev), 4).alias("mae"),
        F.round(F.max(dev), 4).alias("max_abs_dev"),
    )


@query(
    "target_encoding_loo",
    """
    WITH t AS (
      SELECT event_id, event_type, value,
             sum(value) OVER (PARTITION BY event_type) AS s,
             count(*) OVER (PARTITION BY event_type) AS c
      FROM events
    )
    SELECT event_id, event_type,
           round((s - value) / (c - 1), 4) AS loo_enc
    FROM t WHERE c > 1
    """,
)
def target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of a categorical feature: each
    row's encoding is the mean target of its category EXCLUDING the row
    itself — the leakage-safe variant every tabular-ML pipeline wants.
    Window sum/count per category (few categories → small exchange),
    pure per-row arithmetic after; no self-join."""
    ev = load_table(spark, sf_dir, "events")
    wp = Window.partitionBy("event_type")
    t = ev.select(
        "event_id",
        "event_type",
        "value",
        F.sum("value").over(wp).alias("s"),
        F.count(F.lit(1)).over(wp).alias("c"),
    )
    return t.filter(F.col("c") > 1).select(
        "event_id",
        "event_type",
        F.round(
            (F.col("s") - F.col("value")) / (F.col("c") - 1), 4
        ).alias("loo_enc"),
    )


@query(
    "feature_hashing_counts",
    r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % 32
                AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS cnt
    FROM tok GROUP BY doc_id, bucket
    """,
)
def feature_hashing_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick bag-of-words: every token maps to one of 32
    buckets via the first 8 hex chars of its md5 (md5 so the DuckDB
    oracle hashes identically — engine-native hash functions differ),
    counted per document.  Explode + keyed count, partials map-side;
    the bucket id is a pure JVM expression chain (md5 → conv base16 →
    mod), no Python."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(text.tokens("text")).alias("t")
    )
    bucket = (
        F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("long") % 32
    ).cast("int")
    return tok.groupBy("doc_id", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )


@query(
    "passage_dedup_reassemble",
    r"""
    WITH d AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      FROM documents
    ),
    p AS (
      SELECT doc_id, start,
             array_to_string(toks[start:start + 15], ' ') AS ptext
      FROM (
        SELECT doc_id, toks,
               unnest(generate_series(1, len(toks), 16)) AS start
        FROM d
      )
    ),
    marked AS (
      SELECT doc_id, start, ptext,
             row_number() OVER (
               PARTITION BY md5(ptext) ORDER BY doc_id, start) AS r
      FROM p
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_passages,
           CAST(sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           md5(coalesce(string_agg(CASE WHEN r = 1 THEN ptext END, ' '
                                   ORDER BY start), '')) AS kept_md5
    FROM marked GROUP BY doc_id
    """,
)
def passage_dedup_reassemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global passage-level exact dedup with document reassembly (the
    Dolma/CCNet paragraph-dedup pass, on 16-token windows since the
    synthetic corpus has no newlines): every passage is hashed, only
    the FIRST occurrence corpus-wide (by doc_id, offset) survives, and
    each document is re-joined from its surviving passages in order.
    The result column is the md5 of the reassembled text so the gate
    compares full contents without hauling documents around.

    Scale shape: one explode (linear), ONE shuffle on the passage hash
    for first-occurrence ranking, one keyed re-aggregation by doc_id;
    the reassembly sorts within each doc's collected passage list (per
    group, no extra exchange).  The passage projection is computed once
    — no duplicate lineage branches."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", text.tokens("text").alias("toks")
    )
    p = docs.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.size("toks"), F.lit(16))
        ).alias("start"),
        "toks",
    ).select(
        "doc_id",
        "start",
        F.array_join(F.slice("toks", F.col("start"), 16), " ").alias("ptext"),
    )
    wfirst = Window.partitionBy(F.md5("ptext")).orderBy("doc_id", "start")
    marked = p.withColumn("r", F.row_number().over(wfirst))
    kept_struct = F.when(
        F.col("r") == 1, F.struct(F.col("start"), F.col("ptext"))
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_passages"),
        F.sum(F.when(F.col("r") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.md5(
            F.coalesce(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(F.collect_list(kept_struct)),
                        lambda x: x.ptext,
                    ),
                ),
                F.lit(""),
            )
        ).alias("kept_md5"),
    )


@query(
    "winsorize_robust_scale",
    """
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS p05,
             quantile_cont(value, 0.95) AS p95
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN e.value < b.p05 OR e.value > b.p95
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
           round(avg(least(greatest(e.value, b.p05), b.p95)), 4)
             AS winsor_mean,
           round(b.p05, 4) AS p05, round(b.p95, 4) AS p95
    FROM events e JOIN b USING (event_type)
    GROUP BY e.event_type, b.p05, b.p95
    """,
)
def winsorize_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized feature summary: clip each value into its category's
    exact [p5, p95] band and report clip counts + the robust mean — the
    outlier-taming pass before feature scaling.  The per-category
    percentile frame is tiny (|types| rows) and broadcast back onto the
    events; the exact interpolated percentile is the JVM ``percentile``
    aggregate (matches DuckDB's ``quantile_cont``), computed ONCE per
    type, not per row."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("p05"),
        F.expr("percentile(value, 0.95)").alias("p95"),
    )
    j = ev.join(F.broadcast(b), "event_type")
    clipped = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    out_of_band = (F.col("value") < F.col("p05")) | (
        F.col("value") > F.col("p95")
    )
    return (
        j.groupBy("event_type", "p05", "p95")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(out_of_band, 1).otherwise(0))
            .cast("long")
            .alias("n_clipped"),
            F.round(F.avg(clipped), 4).alias("winsor_mean"),
        )
        .select(
            "event_type",
            "n",
            "n_clipped",
            "winsor_mean",
            F.round("p05", 4).alias("p05"),
            F.round("p95", 4).alias("p95"),
        )
    )


# --------------------------------------------------------------------------
# STL-lite decomposition: trend + day-of-week seasonality + residual anomaly
# --------------------------------------------------------------------------
@query(
    "stl_decompose_daily",
    """
    WITH daily AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS d, sum(value) AS y
      FROM events GROUP BY 1
    ),
    tr AS (
      SELECT d, y,
             avg(y) OVER (ORDER BY d
                          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
               AS trend
      FROM daily
    ),
    se AS (
      SELECT *, avg(y - trend) OVER (PARTITION BY isodow(d) - 1)
               AS seasonal
      FROM tr
    ),
    re AS MATERIALIZED (
      SELECT d, y, trend, seasonal, y - trend - seasonal AS resid
      FROM se
    ),
    sg AS (SELECT round(2 * stddev_samp(resid), 4) AS thr FROM re)
    SELECT CAST(d - DATE '1970-01-01' AS BIGINT) AS epoch_day,
           round(y, 4) AS y,
           round(trend, 4) AS trend,
           round(seasonal, 4) AS seasonal,
           round(resid, 4) AS resid,
           abs(round(resid, 4)) > (SELECT thr FROM sg) AS anomaly
    FROM re
    """,
)
def stl_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite decomposition of the daily event-value series: trend =
    centered 7-day moving average (ROWS frame — partial at the series
    edges, identically in both engines), seasonal = mean detrended
    value per day-of-week, residual = y − trend − seasonal, with a
    2σ residual anomaly flag — the seasonal-ADJUSTED outlier screen
    (a quiet Sunday is not an anomaly; a quiet Tuesday is), one level
    above the raw z-score family (``running_zscore_alerts``).

    Scale shape: the heavy step is the ONE map-side-combined daily
    aggregate over the raw events; everything after runs on the
    day-count-sized series (window frames + a scalar threshold), so
    the single-partition ordering window is over ~10² rows, not the
    fact table.  The anomaly flag compares the ROUNDED residual to the
    ROUNDED threshold so both engines make the same boundary call;
    dow alignment uses Spark ``weekday`` ≡ DuckDB ``isodow − 1``
    (Monday = 0).

    Reference scope: windowed aggregation family, 정리/3주차.md."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum("value").alias("y")
    )
    w7 = Window.orderBy("d").rowsBetween(-3, 3)
    tr = daily.withColumn("trend", F.avg("y").over(w7))
    se = tr.withColumn(
        "seasonal",
        F.avg(F.col("y") - F.col("trend")).over(
            Window.partitionBy(F.weekday("d"))
        ),
    )
    re = se.withColumn(
        "resid", F.col("y") - F.col("trend") - F.col("seasonal")
    )
    thr = re.agg(
        F.round(2 * F.stddev_samp("resid"), 4).alias("thr")
    )
    return re.crossJoin(F.broadcast(thr)).select(
        F.datediff(F.col("d"), F.lit("1970-01-01")).cast("long").alias(
            "epoch_day"
        ),
        F.round("y", 4).alias("y"),
        F.round("trend", 4).alias("trend"),
        F.round("seasonal", 4).alias("seasonal"),
        F.round("resid", 4).alias("resid"),
        (F.abs(F.round("resid", 4)) > F.col("thr")).alias("anomaly"),
    )


# --------------------------------------------------------------------------
# forecast-baseline evaluation: naive / seasonal-naive / dow-mean, MAE+MASE
# --------------------------------------------------------------------------
@query(
    "forecast_baseline_eval",
    """
    WITH daily AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS d, sum(value) AS y
      FROM events GROUP BY 1
    ),
    idx AS MATERIALIZED (
      SELECT d, y, row_number() OVER (ORDER BY d) AS rn,
             count(*) OVER () AS n
      FROM daily
    ),
    train AS MATERIALIZED (SELECT * FROM idx WHERE rn <= n - 6),
    test AS (SELECT * FROM idx WHERE rn > n - 6),
    last_tr AS (
      SELECT y AS yl FROM train ORDER BY rn DESC LIMIT 1
    ),
    naive_in AS (
      SELECT avg(abs(y - ly)) AS mae0 FROM (
        SELECT y, lag(y) OVER (ORDER BY rn) AS ly FROM train)
      WHERE ly IS NOT NULL
    ),
    dow_mean AS (
      SELECT isodow(d) - 1 AS dw, avg(y) AS ym FROM train GROUP BY 1
    ),
    preds AS (
      SELECT t.y,
             (SELECT yl FROM last_tr) AS p_naive,
             (SELECT y FROM idx i WHERE i.rn = t.rn - 7) AS p_snaive,
             dm.ym AS p_dow
      FROM test t LEFT JOIN dow_mean dm ON dm.dw = isodow(t.d) - 1
    ),
    m AS (
      SELECT avg(abs(y - p_naive)) AS e_naive,
             avg(abs(y - p_snaive)) AS e_snaive,
             avg(abs(y - p_dow)) AS e_dow,
             (SELECT mae0 FROM naive_in) AS mae0
      FROM preds
    )
    SELECT 'naive' AS model, round(e_naive, 4) AS mae,
           round(e_naive / mae0, 4) AS mase FROM m
    UNION ALL
    SELECT 'seasonal_naive', round(e_snaive, 4),
           round(e_snaive / mae0, 4) FROM m
    UNION ALL
    SELECT 'dow_mean', round(e_dow, 4), round(e_dow / mae0, 4) FROM m
    """,
)
def forecast_baseline_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-baseline evaluation on the daily event-value series —
    hold out the last 6 days, score three standard baselines (naive
    last-value, seasonal-naive y(t−7), train day-of-week mean) by MAE
    and MASE (MAE scaled by the train set's one-step naive MAE — the
    scale-free metric forecasting papers report; MASE < 1 beats the
    naive walk).  Together with ``stl_decompose_daily`` this is the
    fit+evaluate half of a time-series workflow, built entirely from
    windows — no model library.

    Scale shape: one map-side-combined daily aggregate over the raw
    events; every later frame is day-count-sized (the single-partition
    ordering windows run on ~10² rows).  The ratio is computed from
    unrounded doubles on both sides and rounded once at output."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum("value").alias("y")
    )
    widx = Window.orderBy("d")
    idx = daily.select(
        "d", "y", F.row_number().over(widx).alias("rn")
    ).persist()
    n = idx.count()
    if n == 0:
        # empty event stream: the oracle still emits its three model
        # labels with NULL mae/mase (the VALUES model list survives the
        # empty join); mirror instead of subscripting first()=None
        # (round-12 degenerate sweep)
        idx.unpersist()
        return spark.createDataFrame(
            [
                ("naive", None, None),
                ("seasonal_naive", None, None),
                ("dow_mean", None, None),
            ],
            "model string, mae double, mase double",
        )
    ntr = n - 6
    train = idx.filter(F.col("rn") <= ntr)
    test = idx.filter(F.col("rn") > ntr)
    yl = train.orderBy(F.desc("rn")).first()["y"]
    mae0 = (
        train.select(
            (
                F.abs(F.col("y") - F.lag("y").over(Window.orderBy("rn")))
            ).alias("ae")
        )
        .agg(F.avg("ae"))
        .first()[0]
    )
    dow_mean = train.groupBy(F.weekday("d").alias("dw")).agg(
        F.avg("y").alias("ym")
    )
    idx7 = idx.select(
        (F.col("rn") + 7).alias("rn"), F.col("y").alias("p_snaive")
    )
    preds = (
        test.join(idx7, "rn", "left")
        .join(
            F.broadcast(dow_mean),
            F.weekday(test["d"]) == dow_mean["dw"],
            "left",
        )
        .select(
            "y",
            F.lit(yl).alias("p_naive"),
            "p_snaive",
            F.col("ym").alias("p_dow"),
        )
    )
    m = preds.agg(
        F.avg(F.abs(F.col("y") - F.col("p_naive"))).alias("e_naive"),
        F.avg(F.abs(F.col("y") - F.col("p_snaive"))).alias("e_snaive"),
        F.avg(F.abs(F.col("y") - F.col("p_dow"))).alias("e_dow"),
    )
    return m.selectExpr(
        f"""stack(3,
          'naive', round(e_naive, 4), round(e_naive / {mae0!r}, 4),
          'seasonal_naive', round(e_snaive, 4),
            round(e_snaive / {mae0!r}, 4),
          'dow_mean', round(e_dow, 4), round(e_dow / {mae0!r}, 4)
        ) AS (model, mae, mase)"""
    )


# --------------------------------------------------------------------------
# gaps-and-islands: longest consecutive-day activity streak per user
# --------------------------------------------------------------------------
@query(
    "longest_activity_streak",
    """
    WITH days AS MATERIALIZED (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    isl AS (
      SELECT user_id, d,
             CAST(d - CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY d) AS INT) AS DATE) AS anchor
      FROM days
    ),
    runs AS MATERIALIZED (
      SELECT user_id, count(*) AS len FROM isl
      GROUP BY user_id, anchor
    ),
    per_user AS (
      SELECT user_id, max(len) AS longest,
             CAST(sum(len) AS BIGINT) AS n_active_days,
             count(*) AS n_streaks
      FROM runs GROUP BY user_id
    )
    SELECT user_id,
           CAST(n_active_days AS BIGINT) AS n_active_days,
           CAST(longest AS BIGINT) AS longest_streak,
           CAST(n_streaks AS BIGINT) AS n_streaks
    FROM (
      SELECT *, row_number() OVER (
        ORDER BY longest DESC, user_id) AS rn
      FROM per_user
    ) WHERE rn <= 20
    """,
)
def longest_activity_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the
    gaps-and-islands idiom: subtracting each active day's per-user
    rank from the day itself collapses every unbroken run onto one
    anchor date, so streaks fall out of a plain GROUP BY (no
    iterative chasing, no self-join).  Engagement/retention teams
    read exactly this for habit-formation metrics.

    Scale shape: per-doc distinct days dedup map-side inside the
    first aggregate; ONE user-keyed sort powers the rank; runs and
    per-user rollups stay on the same key (no re-shuffle); the top-20
    cut orders by (streak, user) so the cut is engine-stable."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    wr = Window.partitionBy("user_id").orderBy("d")
    isl = days.withColumn(
        "anchor",
        F.date_sub(F.col("d"), F.row_number().over(wr)),
    )
    runs = isl.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("len")
    )
    per_user = runs.groupBy("user_id").agg(
        F.max("len").alias("longest"),
        F.sum("len").cast("long").alias("n_active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
    )
    wtop = Window.orderBy(F.desc("longest"), F.asc("user_id"))
    return (
        per_user.withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") <= 20)
        .select(
            "user_id",
            F.col("n_active_days").cast("long").alias("n_active_days"),
            F.col("longest").cast("long").alias("longest_streak"),
            F.col("n_streaks").cast("long").alias("n_streaks"),
        )
    )


PH_DELTA_C = 500_00  # Page-Hinkley drift allowance, cents
PH_LAMBDA_C = 20_000_00  # alarm threshold, cents


@query(
    "page_hinkley_drift",
    f"""
    WITH daily AS MATERIALIZED (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    cum AS (
      SELECT d, cents,
             CAST(row_number() OVER w AS BIGINT) AS t,
             CAST(sum(cents) OVER w AS BIGINT) AS cs
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    mean_cum AS (
      SELECT d, t, cs,
             sum(cs * 1.0 / t) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS a
      FROM cum
    ),
    ph AS (
      SELECT d, t, cs - a - t * {PH_DELTA_C} AS ph_t FROM mean_cum
    ),
    tracked AS (
      SELECT d, t, ph_t,
             min(ph_t) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS ph_min
      FROM ph
    ),
    scored AS (
      SELECT CAST(epoch_ms(CAST(d AS TIMESTAMP)) AS BIGINT) AS day_ms,
             CAST(t AS BIGINT) AS t,
             round((ph_t - ph_min) / 100.0 - 1e-9, 2) AS ph_stat_usd,
             (ph_t - ph_min > {PH_LAMBDA_C}) AS alarm
      FROM tracked
    )
    SELECT * FROM scored
    ORDER BY ph_stat_usd DESC, t
    LIMIT 20
    """,
)
def page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page–Hinkley mean-shift detection on daily order revenue: the
    classic sequential change detector ``PH_t = Σ(xᵢ − x̄_t − δ)``
    (top-20 excursions reported, flagged against the λ alarm line —
    the statistic stays informative even on drift-free spans) — the principled
    upgrade of the reference's threshold smoke alert, and the standard
    drift monitor streaming feature pipelines run on their input
    statistics.

    The sequential-looking recurrence is FULLY window-expressible by
    expanding the definition: ``PH_T = Σ_t(x_t − x̄_t − δ) = CS_T −
    Σ_{t≤T}(CS_t/t) − T·δ`` — one cumulative frame for ``CS_t``, a
    second cumulative frame summing the running means ``CS_t/t``, and
    a third for the running minimum; no recursion, no UDF, so it runs
    at any series length, unlike recursive-CTE formulations bounded
    by recursion depth.  (A naive ``CS_T − T·x̄_T`` telescopes to
    zero — the running-mean sum is the whole statistic.)

    Determinism: cumulative sums are exact BIGINT cents; x̄_t is one
    division; output rounds at 2 with the −1e-9 guard."""
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(F.sum(cents).cast("long").alias("cents"))
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "d",
        F.row_number().over(Window.orderBy("d")).cast("long").alias("t"),
        F.sum("cents").over(w).cast("long").alias("cs"),
    )
    aw = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    mean_cum = cum.select(
        "d",
        "t",
        "cs",
        F.sum(F.col("cs") * 1.0 / F.col("t")).over(aw).alias("a"),
    )
    ph = mean_cum.select(
        "d",
        "t",
        (F.col("cs") - F.col("a") - F.col("t") * PH_DELTA_C).alias("ph_t"),
    )
    mw = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    tracked = ph.select(
        "d", "t", "ph_t", F.min("ph_t").over(mw).alias("ph_min")
    )
    return (
        tracked.select(
            F.unix_millis(F.col("d").cast("timestamp")).alias("day_ms"),
            "t",
            F.round(
                (F.col("ph_t") - F.col("ph_min")) / 100.0 - 1e-9, 2
            ).alias("ph_stat_usd"),
            (F.col("ph_t") - F.col("ph_min") > PH_LAMBDA_C).alias("alarm"),
        )
        .orderBy(F.col("ph_stat_usd").desc(), "t")
        .limit(20)
    )


@query(
    "mann_kendall_trend",
    """
    WITH m AS MATERIALIZED (
      SELECT (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS t,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT CASE WHEN b.cents > a.cents THEN 1
                  WHEN b.cents < a.cents THEN -1 ELSE 0 END AS sgn
      FROM m a JOIN m b ON b.t > a.t
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM m)
    SELECT (SELECT n FROM nn) AS n_months,
           CAST(sum(sgn) AS BIGINT) AS s_stat,
           round(sum(sgn) / sqrt(
             (SELECT n FROM nn) * ((SELECT n FROM nn) - 1.0)
             * (2 * (SELECT n FROM nn) + 5) / 18.0) - 1e-9, 4) AS z_approx
    FROM pairs
    """,
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall monotone-trend test on monthly revenue:
    ``S = Σ_{{i<j}} sign(x_j − x_i)`` with its normal approximation —
    the non-parametric companion of the Theil–Sen slope (the classic
    pair: MK answers *is there a trend*, Theil–Sen *how steep*),
    immune to outliers and distribution shape.

    Scale shape: identical to ``theil_sen_monthly_trend`` — one keyed
    reduction to the ~80-row month frame, all-pairs on the
    checkpointed reduced series only.  S is an exact integer; the z
    denominator is the closed-form no-ties variance (month revenues in
    cents never tie here; the tie-correction term is the documented
    extension)."""
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    m = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            (
                (F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1
            ).alias("t")
        )
        .agg(F.sum(cents).cast("long").alias("cents"))
        .localCheckpoint()
    )
    a, b = m.alias("a"), m.alias("b")
    pairs = a.join(b, F.col("b.t") > F.col("a.t")).select(
        F.when(F.col("b.cents") > F.col("a.cents"), 1)
        .when(F.col("b.cents") < F.col("a.cents"), -1)
        .otherwise(0)
        .alias("sgn")
    )
    n = m.count()
    return pairs.agg(
        F.lit(n).cast("long").alias("n_months"),
        F.sum("sgn").cast("long").alias("s_stat"),
        F.round(
            F.sum("sgn")
            / float(__import__("math").sqrt(n * (n - 1.0) * (2 * n + 5) / 18.0))
            - 1e-9,
            4,
        ).alias("z_approx"),
    )


@query(
    "spearman_spend_frequency",
    """
    WITH cust AS MATERIALIZED (
      SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents,
             CAST(count(*) AS BIGINT) AS n_ord
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT rank() OVER (ORDER BY cents)
               + (count(*) OVER (PARTITION BY cents) - 1) / 2.0 AS ra,
             rank() OVER (ORDER BY n_ord)
               + (count(*) OVER (PARTITION BY n_ord) - 1) / 2.0 AS rb
      FROM cust
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(ra) AS sa, sum(rb) AS sb,
             sum(ra * ra) AS saa, sum(rb * rb) AS sbb,
             sum(ra * rb) AS sab
      FROM ranked
    )
    SELECT n AS n_customers,
           round((n * sab - sa * sb)
                 / sqrt((n * saa - sa * sa) * (n * sbb - sb * sb))
                 - 1e-9, 4) AS spearman_rho
    FROM mom
    """,
)
def spearman_spend_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between customer spend and order
    frequency with PROPER TIE HANDLING (average ranks = min-rank +
    (tie-group−1)/2, then Pearson on the ranks) — the monotone-
    association measure that survives outliers and nonlinearity, and
    the exact form most engines' shortcut ``1 − 6Σd²/…`` gets WRONG
    under ties.

    Scale shape: one keyed reduction of orders; two rank windows over
    the reduced customer frame (global order — the documented
    exact-statistic trade, per `decile_lift_loyal`); one moment
    aggregate.  Determinism: average ranks are exact .5-grid doubles,
    their products exact well below 2⁵³, so both engines aggregate
    identical values; the final ratio rounds at 4 with the −1e-9
    guard."""
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(cents).cast("long").alias("cents"),
            F.count(F.lit(1)).cast("long").alias("n_ord"),
        )
        .localCheckpoint()  # two rank windows read one copy
    )
    ranked = cust.select(
        (
            F.rank().over(Window.orderBy("cents"))
            + (F.count(F.lit(1)).over(Window.partitionBy("cents")) - 1) / 2.0
        ).alias("ra"),
        (
            F.rank().over(Window.orderBy("n_ord"))
            + (F.count(F.lit(1)).over(Window.partitionBy("n_ord")) - 1) / 2.0
        ).alias("rb"),
    )
    mom = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("ra").alias("sa"),
        F.sum("rb").alias("sb"),
        F.sum(F.col("ra") * F.col("ra")).alias("saa"),
        F.sum(F.col("rb") * F.col("rb")).alias("sbb"),
        F.sum(F.col("ra") * F.col("rb")).alias("sab"),
    )
    return mom.select(
        F.col("n").alias("n_customers"),
        F.round(
            (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb"))
            / F.sqrt(
                (F.col("n") * F.col("saa") - F.col("sa") * F.col("sa"))
                * (F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb"))
            )
            - 1e-9,
            4,
        ).alias("spearman_rho"),
    )


@query(
    "streaming_page_hinkley",
    f"""
    WITH daily AS MATERIALIZED (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    cum AS (
      SELECT d, cents,
             CAST(row_number() OVER w AS BIGINT) AS t,
             CAST(sum(cents) OVER w AS BIGINT) AS cs
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    mean_cum AS (
      SELECT d, t, cs,
             sum(cs * 1.0 / t) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS a
      FROM cum
    ),
    ph AS (
      SELECT d, t, cs - a - t * {PH_DELTA_C} AS ph_t FROM mean_cum
    ),
    tracked AS (
      SELECT d, t, ph_t,
             min(ph_t) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS ph_min
      FROM ph
    ),
    scored AS (
      SELECT CAST(epoch_ms(CAST(d AS TIMESTAMP)) AS BIGINT) AS day_ms,
             CAST(t AS BIGINT) AS t,
             round((ph_t - ph_min) / 100.0 - 1e-9, 2) AS ph_stat_usd,
             (ph_t - ph_min > {PH_LAMBDA_C}) AS alarm
      FROM tracked
    )
    SELECT * FROM scored
    ORDER BY ph_stat_usd DESC, t
    LIMIT 20
    """,
)
def streaming_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Page–Hinkley detector run THROUGH Structured Streaming under
    the oracle gate: the daily revenue series feeds as two event-time-
    ordered micro-batches; :func:`..streaming.stateful.
    page_hinkley_partials` carries (t, ΣX, Σ running-means, min PH)
    across the batch boundary, so the statistic continues EXACTLY where
    the previous batch committed — the drift monitor as a keyed
    ValueState process function, matching the batch three-window form
    bit-for-bit (integer-cent cumsums are exact in float64; the
    running-mean sum accumulates in the same ascending order both
    ways)."""
    from ..streaming import memory_batches_stream, run_available_now
    from ..streaming.stateful import page_hinkley_partials
    from .registry import scratch_dir

    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("dd"))
        .agg(F.sum(cents).cast("long").alias("cents"))
        .select(
            F.lit(0).cast("long").alias("k"),
            F.col("dd").cast("timestamp").alias("d"),
            F.col("cents").cast("double"),
        )
    )
    mid = daily.selectExpr("percentile_approx(d, 0.5) AS m").first().m
    batches = [
        daily.filter(F.col("d") <= F.lit(mid)),
        daily.filter(F.col("d") > F.lit(mid)),
    ]
    src_dir = scratch_dir("src_ph_stream_")
    sdf = memory_batches_stream(
        spark, batches, src_dir.path, files_per_trigger=1
    )
    with src_dir, conf_override(spark, {"spark.sql.shuffle.partitions": "8"}):
        with scratch_dir("ck_ph_stream_") as ck:
            got = run_available_now(
                page_hinkley_partials(sdf, delta=PH_DELTA_C), ck, "update"
            )
    return (
        got.select(
            F.col("ts_ms").alias("day_ms"),
            "t",
            F.round(F.col("ph_exc") / 100.0 - 1e-9, 2).alias("ph_stat_usd"),
            (F.col("ph_exc") > PH_LAMBDA_C).alias("alarm"),
        )
        .orderBy(F.col("ph_stat_usd").desc(), "t")
        .limit(20)
    )


SPRT_P0 = 0.30  # null conversion rate (purchase share of view+purchase)
SPRT_P1 = 0.35  # alternative
SPRT_ALPHA = 0.05
SPRT_BETA = 0.20


def _sprt_consts() -> tuple[float, float, float, float]:
    import math

    lr_pos = math.log(SPRT_P1 / SPRT_P0)
    lr_neg = math.log((1 - SPRT_P1) / (1 - SPRT_P0))
    upper = math.log((1 - SPRT_BETA) / SPRT_ALPHA)
    lower = math.log(SPRT_BETA / (1 - SPRT_ALPHA))
    return lr_pos, lr_neg, upper, lower


@query(
    "sprt_conversion_monitor",
    f"""
    WITH trials AS (
      SELECT ts, event_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE event_type IN ('view', 'purchase')
    ),
    walk AS (
      SELECT ts, y,
             CAST(row_number() OVER w AS BIGINT) AS t,
             sum(CASE WHEN y = 1 THEN {_sprt_consts()[0]!r}
                      ELSE {_sprt_consts()[1]!r} END) OVER w AS llr
      FROM trials
      WINDOW w AS (ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW)
    ),
    marked AS (
      SELECT t, llr,
             CASE WHEN llr >= {_sprt_consts()[2]!r} THEN 'accept_h1'
                  WHEN llr <= {_sprt_consts()[3]!r} THEN 'accept_h0'
                  ELSE 'continue' END AS decision
      FROM walk
    ),
    firsts AS (
      SELECT decision, min(t) AS first_t
      FROM marked WHERE decision <> 'continue' GROUP BY decision
    )
    SELECT m.decision,
           CAST(count(*) AS BIGINT) AS n_steps,
           CAST(min(m.t) AS BIGINT) AS first_t,
           round(min(m.llr) - 1e-9, 4) AS min_llr,
           round(max(m.llr) - 1e-9, 4) AS max_llr
    FROM marked m
    GROUP BY m.decision
    ORDER BY m.decision
    """,
)
def sprt_conversion_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's Sequential Probability Ratio Test over the conversion
    stream: each view/purchase trial adds its Bernoulli log-likelihood
    ratio (H₁: p={SPRT_P1} vs H₀: p={SPRT_P0}); the walk crosses
    ``ln((1−β)/α)`` to accept H₁ or ``ln(β/(1−α))`` to accept H₀ —
    sequential testing with guaranteed error rates at a fraction of the
    fixed-n sample size, the foundation of always-valid experiment
    monitors (and, like Page–Hinkley, a "sequential" recurrence that is
    really one cumulative window: the LLR is a plain running sum).

    Output: per decision region, step counts and the first crossing
    time — the full trajectory summary, not just the terminal verdict,
    so drifting walks are visible.

    Determinism: the LLR constants are Python-computed double literals
    identical in both engines; the running sum adds the same two
    constants in the same (ts, event_id) order; rounds carry the −1e-9
    guard."""
    lr_pos, lr_neg, upper, lower = _sprt_consts()
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    w = (
        Window.orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    walk = ev.select(
        F.row_number().over(Window.orderBy("ts", "event_id"))
        .cast("long")
        .alias("t"),
        F.sum(
            F.when(F.col("event_type") == "purchase", lr_pos).otherwise(
                lr_neg
            )
        )
        .over(w)
        .alias("llr"),
    )
    marked = walk.select(
        "t",
        "llr",
        F.when(F.col("llr") >= upper, "accept_h1")
        .when(F.col("llr") <= lower, "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    )
    return (
        marked.groupBy("decision")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_steps"),
            F.min("t").cast("long").alias("first_t"),
            F.round(F.min("llr") - 1e-9, 4).alias("min_llr"),
            F.round(F.max("llr") - 1e-9, 4).alias("max_llr"),
        )
        .orderBy("decision")
    )


HURST_SCALES = (8, 16, 32, 64, 128)


@query(
    "hurst_rescaled_range",
    f"""
    WITH daily AS (
      SELECT CAST(sum(CAST(floor(o_totalprice) AS BIGINT))
                  AS BIGINT) AS cents,
             row_number() OVER (ORDER BY o_orderdate) AS rn
      FROM orders GROUP BY o_orderdate
    ),
    fanout AS (
      SELECT sc.s, d.rn, d.cents,
             CAST(floor((d.rn - 1.0) / sc.s) AS BIGINT) AS blk
      FROM daily d
      CROSS JOIN (VALUES {", ".join(f"({s})" for s in HURST_SCALES)})
        AS sc(s)
    ),
    walk AS (
      SELECT s, blk, cents,
             row_number() OVER wo AS k,
             sum(cents) OVER (PARTITION BY s, blk ORDER BY rn
                              ROWS UNBOUNDED PRECEDING) AS cs,
             sum(cents) OVER (PARTITION BY s, blk) AS tot,
             count(*) OVER (PARTITION BY s, blk) AS cnt
      FROM fanout
      WINDOW wo AS (PARTITION BY s, blk ORDER BY rn)
    ),
    blocks AS (
      SELECT s, blk,
             max(cnt) AS cnt,
             max(cs - k * (CAST(tot AS DOUBLE) / cnt))
               - min(cs - k * (CAST(tot AS DOUBLE) / cnt)) AS r_range,
             CAST(max(tot) AS BIGINT) AS s1,
             CAST(sum(cents * cents) AS BIGINT) AS s2
      FROM walk GROUP BY s, blk
    ),
    rs AS (
      SELECT s, cnt,
             r_range / sqrt((CAST(s2 AS DOUBLE)
                             - CAST(s1 AS DOUBLE) * s1 / cnt) / cnt) AS q
      FROM blocks
      WHERE cnt = s
        AND (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / cnt) > 0
    ),
    per_scale AS (
      SELECT s, CAST(count(*) AS BIGINT) AS n_blocks,
             avg(q) AS mean_rs
      FROM rs GROUP BY s
    ),
    reg AS (
      SELECT s, n_blocks, mean_rs,
             ln(CAST(s AS DOUBLE)) AS x, ln(mean_rs) AS y,
             count(*) OVER () AS np,
             avg(ln(CAST(s AS DOUBLE))) OVER () AS mx,
             avg(ln(mean_rs)) OVER () AS my
      FROM per_scale
    )
    SELECT s AS scale, n_blocks,
           round(mean_rs - 1e-9, 4) AS mean_rs,
           round(sum((x - mx) * (y - my)) OVER ()
                 / sum((x - mx) * (x - mx)) OVER () - 1e-9, 4)
             AS hurst_exponent
    FROM reg
    ORDER BY s
    """,
)
def hurst_rescaled_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of the daily-revenue series by classic rescaled-
    range (R/S) analysis: for each block size s, partition the series
    into s-day blocks, compute the range of the mean-adjusted
    cumulative walk over its in-block standard deviation, and fit
    log E[R/S] ~ H·log s — H≈0.5 is a memoryless walk, H>0.5
    long-range persistence (trending demand), H<0.5 mean reversion.

    Scale shape: the fact table reduces to one exact integer-DOLLAR
    row per day FIRST (cent² block moments would pass 2^63 at ~10⁶
    fact rows; dollar units stay exact through sf10); the multi-scale
    fanout is a 5× cross join of the reduced series, and every block
    statistic rides ONE (s, blk)-partitioned window shuffle.  The
    cumulative walk is integer-exact, block μ and σ come from exact
    integer moments, so
    R/S is engine-identical per block; only the per-scale average and
    the 5-point log-log regression touch order-dependent float sums,
    absorbed by the rounding guard."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice")).cast("long")
    daily = (
        orders.groupBy("o_orderdate")
        .agg(F.sum(cents).cast("long").alias("cents"))
        .select(
            "cents",
            F.row_number().over(Window.orderBy("o_orderdate")).alias("rn"),
        )
    )
    scales = F.explode(
        F.array(*[F.lit(s) for s in HURST_SCALES])
    ).alias("s")
    fanout = daily.select("rn", "cents", scales).select(
        "s",
        "rn",
        "cents",
        F.floor((F.col("rn") - 1.0) / F.col("s")).cast("long").alias("blk"),
    )
    wp = Window.partitionBy("s", "blk")
    wo = wp.orderBy("rn")
    walk = fanout.select(
        "s",
        "blk",
        "cents",
        F.row_number().over(wo).alias("k"),
        F.sum("cents")
        .over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cs"),
        F.sum("cents").over(wp).alias("tot"),
        F.count(F.lit(1)).over(wp).alias("cnt"),
    )
    dev = F.col("cs") - F.col("k") * (
        F.col("tot").cast("double") / F.col("cnt")
    )
    blocks = walk.groupBy("s", "blk").agg(
        F.max("cnt").alias("cnt"),
        (F.max(dev) - F.min(dev)).alias("r_range"),
        F.max("tot").cast("long").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("s2"),
    )
    ss = F.col("s2").cast("double") - F.col("s1").cast("double") * F.col(
        "s1"
    ) / F.col("cnt")
    rs = blocks.filter((F.col("cnt") == F.col("s")) & (ss > 0)).select(
        "s", (F.col("r_range") / F.sqrt(ss / F.col("cnt"))).alias("q")
    )
    per_scale = rs.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.avg("q").alias("mean_rs"),
    )
    w_all = Window.partitionBy()
    reg = per_scale.select(
        "s",
        "n_blocks",
        "mean_rs",
        F.log(F.col("s").cast("double")).alias("x"),
        F.log("mean_rs").alias("y"),
    ).select(
        "*",
        F.avg("x").over(w_all).alias("mx"),
        F.avg("y").over(w_all).alias("my"),
    )
    return reg.select(
        F.col("s").alias("scale"),
        "n_blocks",
        F.round(F.col("mean_rs") - 1e-9, 4).alias("mean_rs"),
        F.round(
            F.sum((F.col("x") - F.col("mx")) * (F.col("y") - F.col("my")))
            .over(w_all)
            / F.sum(
                (F.col("x") - F.col("mx")) * (F.col("x") - F.col("mx"))
            ).over(w_all)
            - 1e-9,
            4,
        ).alias("hurst_exponent"),
    ).orderBy("scale")


@query(
    "binary_segmentation_2level",
    """
    WITH s AS MATERIALIZED (
      SELECT user_id, epoch_ms(ts) AS ts_ms, value,
             row_number() OVER w AS k,
             sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS cum,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    t AS MATERIALIZED (
      SELECT *, max(CASE WHEN k = n THEN cum END)
                  OVER (PARTITION BY user_id) AS total
      FROM s
    ),
    sc1 AS (
      SELECT user_id, k, ts_ms, n, cum, total,
             abs(cum / k - (total - cum) / (n - k))
               * sqrt(k * (n - k) * 1.0 / n) AS score,
             (total - cum) / (n - k) - cum / k AS shift
      FROM t WHERE k < n AND n >= 40
    ),
    r1 AS MATERIALIZED (
      SELECT user_id, k AS k1, ts_ms, n, cum AS c1, total,
             score, shift
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY user_id ORDER BY score DESC, k) AS r
        FROM sc1
      ) WHERE r = 1
    ),
    segs AS (
      SELECT t.user_id, t.k, t.ts_ms,
             CASE WHEN t.k <= r.k1 THEN 'L' ELSE 'R' END AS seg,
             CASE WHEN t.k <= r.k1 THEN t.k ELSE t.k - r.k1 END AS j,
             CASE WHEN t.k <= r.k1 THEN t.cum ELSE t.cum - r.c1 END
               AS lcum,
             CASE WHEN t.k <= r.k1 THEN r.k1 ELSE t.n - r.k1 END AS m,
             CASE WHEN t.k <= r.k1 THEN r.c1 ELSE r.total - r.c1 END
               AS lsum
      FROM t JOIN r1 r ON t.user_id = r.user_id
    ),
    sc2 AS (
      SELECT user_id, seg, k, ts_ms,
             abs(lcum / j - (lsum - lcum) / (m - j))
               * sqrt(j * (m - j) * 1.0 / m) AS score,
             (lsum - lcum) / (m - j) - lcum / j AS shift
      FROM segs WHERE j < m AND m >= 20
    ),
    r2 AS (
      SELECT user_id, seg, k, ts_ms, score, shift
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY user_id, seg ORDER BY score DESC, k) AS r
        FROM sc2
      ) WHERE r = 1
    )
    SELECT user_id, 'ROOT' AS seg, CAST(k1 AS BIGINT) AS split_k,
           ts_ms AS split_ts_ms,
           round(score - 1e-9, 4) AS cusum_score,
           round(shift - 1e-9, 4) AS mean_shift
    FROM r1
    UNION ALL
    SELECT user_id, seg, CAST(k AS BIGINT) AS split_k,
           ts_ms AS split_ts_ms,
           round(score - 1e-9, 4) AS cusum_score,
           round(shift - 1e-9, 4) AS mean_shift
    FROM r2
    ORDER BY user_id, seg
    """,
)
def binary_segmentation_2level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIPLE changepoints by two-level binary segmentation: find the
    best split per series (ROOT), then re-score each half and report
    its best sub-split (L / R) — the standard greedy multi-changepoint
    recursion, truncated at depth 2.  The key algebra: level-2 scores
    need NO re-windowing — a segment's local cumulative sums are just
    ``cum`` (left) or ``cum − cum@k1`` (right), so the second level is
    a broadcast join of the 1-row-per-user split table back onto the
    SAME materialized (k, cum, n) frame, not a second shuffle-sort.

    Same cross-engine rounding story as ``changepoint_single_split``
    (quantized sources put split means on round-half boundaries; the
    −1e-9 nudge de-fences them); argmaxes break ties on k."""
    ev = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wp = Window.partitionBy("user_id")
    s = ev.select(
        "user_id",
        F.unix_millis("ts").alias("ts_ms"),
        "value",
        F.row_number().over(wo).alias("k"),
        F.sum("value")
        .over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    t = s.withColumn(
        "total",
        F.max(F.when(F.col("k") == F.col("n"), F.col("cum"))).over(wp),
    ).localCheckpoint()
    mean_l = F.col("cum") / F.col("k")
    mean_r = (F.col("total") - F.col("cum")) / (F.col("n") - F.col("k"))
    sc1 = t.filter((F.col("k") < F.col("n")) & (F.col("n") >= 40)).select(
        "user_id",
        "k",
        "ts_ms",
        "n",
        "cum",
        "total",
        (
            F.abs(mean_l - mean_r)
            * F.sqrt(F.col("k") * (F.col("n") - F.col("k")) * 1.0 / F.col("n"))
        ).alias("score"),
        (mean_r - mean_l).alias("shift"),
    )
    r1 = (
        sc1.withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.desc("score"), "k")
            ),
        )
        .filter(F.col("r") == 1)
        .select(
            "user_id",
            F.col("k").alias("k1"),
            "ts_ms",
            "n",
            F.col("cum").alias("c1"),
            "total",
            "score",
            "shift",
        )
    )
    segs = t.join(
        F.broadcast(
            r1.select("user_id", "k1", "c1", F.col("total").alias("tot"))
        ),
        "user_id",
    ).select(
        "user_id",
        "k",
        "ts_ms",
        F.when(F.col("k") <= F.col("k1"), "L").otherwise("R").alias("seg"),
        F.when(F.col("k") <= F.col("k1"), F.col("k"))
        .otherwise(F.col("k") - F.col("k1"))
        .alias("j"),
        F.when(F.col("k") <= F.col("k1"), F.col("cum"))
        .otherwise(F.col("cum") - F.col("c1"))
        .alias("lcum"),
        F.when(F.col("k") <= F.col("k1"), F.col("k1"))
        .otherwise(F.col("n") - F.col("k1"))
        .alias("m"),
        F.when(F.col("k") <= F.col("k1"), F.col("c1"))
        .otherwise(F.col("tot") - F.col("c1"))
        .alias("lsum"),
    )
    lmean_l = F.col("lcum") / F.col("j")
    lmean_r = (F.col("lsum") - F.col("lcum")) / (F.col("m") - F.col("j"))
    sc2 = segs.filter(
        (F.col("j") < F.col("m")) & (F.col("m") >= 20)
    ).select(
        "user_id",
        "seg",
        "k",
        "ts_ms",
        (
            F.abs(lmean_l - lmean_r)
            * F.sqrt(F.col("j") * (F.col("m") - F.col("j")) * 1.0 / F.col("m"))
        ).alias("score"),
        (lmean_r - lmean_l).alias("shift"),
    )
    r2 = (
        sc2.withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("user_id", "seg").orderBy(
                    F.desc("score"), "k"
                )
            ),
        )
        .filter(F.col("r") == 1)
        .select("user_id", "seg", "k", "ts_ms", "score", "shift")
    )
    root = r1.select(
        "user_id",
        F.lit("ROOT").alias("seg"),
        F.col("k1").cast("long").alias("split_k"),
        F.col("ts_ms").alias("split_ts_ms"),
        F.round(F.col("score") - 1e-9, 4).alias("cusum_score"),
        F.round(F.col("shift") - 1e-9, 4).alias("mean_shift"),
    )
    kids = r2.select(
        "user_id",
        "seg",
        F.col("k").cast("long").alias("split_k"),
        F.col("ts_ms").alias("split_ts_ms"),
        F.round(F.col("score") - 1e-9, 4).alias("cusum_score"),
        F.round(F.col("shift") - 1e-9, 4).alias("mean_shift"),
    )
    return root.unionByName(kids).orderBy("user_id", "seg")


HAAR_START = "1995-01-01"
HAAR_LEN = 256  # 2^8 days
HAAR_LEVELS = 8


@query(
    "haar_wavelet_energy",
    f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '{HAAR_START}', CAST(o_orderdate AS DATE))
               AS idx,
             CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS dol
      FROM orders
      WHERE CAST(o_orderdate AS DATE) >= DATE '{HAAR_START}'
        AND date_diff('day', DATE '{HAAR_START}', CAST(o_orderdate AS DATE))
            < {HAAR_LEN}
      GROUP BY 1
    ),
    grid AS (
      SELECT CAST(g.range AS BIGINT) AS idx FROM range({HAAR_LEN}) g
    ),
    series AS MATERIALIZED (
      SELECT g.idx, coalesce(d.dol, 0) // 100 AS y
      FROM grid g LEFT JOIN daily d ON d.idx = g.idx
    ),
    fan AS (
      SELECT s.idx, s.y, CAST(l.range AS BIGINT) + 1 AS lvl
      FROM series s CROSS JOIN range({HAAR_LEVELS}) l
    ),
    coeffs AS (
      SELECT lvl, idx // (1 << lvl) AS block,
             CAST(sum(CASE WHEN (idx // (1 << (lvl - 1))) % 2 = 0
                      THEN y ELSE -y END) AS BIGINT) AS d
      FROM fan GROUP BY lvl, block
    ),
    energy AS (
      SELECT lvl,
             CAST(count(*) AS BIGINT) AS n_coeffs,
             CAST(sum(d * d) AS BIGINT) AS energy,
             CAST(max(abs(d)) AS BIGINT) AS max_abs_coeff
      FROM coeffs GROUP BY lvl
    )
    SELECT lvl, n_coeffs, energy, max_abs_coeff,
           round(CAST(energy AS DOUBLE)
                 / nullif(sum(energy) OVER (), 0) - 1e-9, 4)
             AS energy_share
    FROM energy ORDER BY lvl
    """,
)
def haar_wavelet_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution Haar wavelet decomposition of the daily revenue
    series (256 days, 8 dyadic levels): the unnormalized detail
    coefficient at level ℓ is (first-half sum − second-half sum) of
    each 2^ℓ-day block, so the per-level ENERGY spectrum localizes
    variability by timescale — day-to-day noise (level 1) vs weekly
    swings (~level 3) vs regime drift (level 8) — the classic
    time-series-mining feature (Chan & Fu, ICDE'99) that one global
    variance number cannot resolve.

    Every coefficient is an EXACT BIGINT (integer hundred-dollar daily
    units keep Σd² far from 2^63), so the full spectrum hash-matches.
    Scale shape: one fact scan collapses to 256 day rows; ALL levels'
    coefficients come from one 8× fanout of that tiny frame and ONE
    groupBy — sign patterns computed from the index, never an
    iterative cascade."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit(HAAR_START).cast("date")
            )
            .cast("long")
            .alias("idx"),
            F.floor("o_totalprice").cast("long").alias("dol"),
        )
        .filter((F.col("idx") >= 0) & (F.col("idx") < HAAR_LEN))
        .groupBy("idx")
        .agg(F.sum("dol").cast("long").alias("dol"))
    )
    grid = spark.range(HAAR_LEN).select(F.col("id").cast("long").alias("idx"))
    series = grid.join(daily, "idx", "left").select(
        "idx",
        (F.coalesce(F.col("dol"), F.lit(0)) / F.lit(100))
        .cast("long")
        .alias("y"),
    )
    fan = series.select(
        "idx",
        "y",
        F.explode(F.sequence(F.lit(1), F.lit(HAAR_LEVELS))).alias("lvl"),
    ).withColumn("lvl", F.col("lvl").cast("long"))
    half = F.expr("CAST(pow(2, lvl - 1) AS LONG)")
    coeffs = (
        fan.withColumn(
            "block", (F.col("idx") / (half * 2)).cast("long")
        )
        .withColumn(
            "signed",
            F.when(
                ((F.col("idx") / half).cast("long") % 2) == 0, F.col("y")
            ).otherwise(-F.col("y")),
        )
        .groupBy("lvl", "block")
        .agg(F.sum("signed").cast("long").alias("d"))
    )
    energy = coeffs.groupBy("lvl").agg(
        F.count(F.lit(1)).cast("long").alias("n_coeffs"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("energy"),
        F.max(F.abs("d")).cast("long").alias("max_abs_coeff"),
    )
    w = Window.partitionBy()
    return energy.select(
        "lvl",
        "n_coeffs",
        "energy",
        "max_abs_coeff",
        F.round(
            F.col("energy")
            / F.nullif(F.sum("energy").over(w), F.lit(0))
            - 1e-9,
            4,
        ).alias("energy_share"),
    ).orderBy("lvl")


FC_LAST = "2001-07"
FC_PREV = "2001-06"


@query(
    "hierarchical_forecast_reconcile",
    f"""
    WITH m AS MATERIALIZED (
      SELECT n.n_regionkey AS rkey, c.c_nationkey AS nkey,
             CAST(sum(CASE WHEN strftime(o.o_orderdate, '%Y-%m')
                                = '{FC_LAST}'
                      THEN CAST(floor(o.o_totalprice * 100 + 0.5)
                                AS BIGINT) ELSE 0 END) AS BIGINT) AS y1,
             CAST(sum(CASE WHEN strftime(o.o_orderdate, '%Y-%m')
                                = '{FC_PREV}'
                      THEN CAST(floor(o.o_totalprice * 100 + 0.5)
                                AS BIGINT) ELSE 0 END) AS BIGINT) AS y0
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ),
    nf AS MATERIALIZED (
      SELECT rkey, nkey, y1,
             CASE WHEN y0 > 0
                  THEN CAST(y1 AS DOUBLE) * y1 / y0
                  ELSE CAST(y1 AS DOUBLE) END AS fc_n
      FROM m
    ),
    rf AS (
      SELECT rkey,
             CAST(sum(y1) AS BIGINT) AS ry1,
             CAST(sum(y0) AS BIGINT) AS ry0
      FROM m GROUP BY rkey
    ),
    base AS (
      SELECT r.rkey, r.ry1,
             CASE WHEN r.ry0 > 0
                  THEN CAST(r.ry1 AS DOUBLE) * r.ry1 / r.ry0
                  ELSE CAST(r.ry1 AS DOUBLE) END AS fc_r,
             bu.bottom_up, bu.td_mass
      FROM rf r JOIN (
        SELECT n.rkey,
               sum(n.fc_n) AS bottom_up,
               sum(CASE WHEN q.ry1 > 0
                        THEN CAST(n.y1 AS DOUBLE) / q.ry1 ELSE 0.0 END)
                 AS td_mass
        FROM nf n JOIN rf q ON n.rkey = q.rkey
        GROUP BY n.rkey
      ) bu ON bu.rkey = r.rkey
    )
    SELECT rkey AS region,
           ry1 AS last_month_cents,
           round(fc_r / 100.0 - 1e-9, 2) AS base_forecast_usd,
           round(bottom_up / 100.0 - 1e-9, 2) AS bottom_up_usd,
           round((bottom_up - fc_r) / 100.0 - 1e-9, 2)
             AS incoherence_usd,
           round(td_mass - 1e-9, 4) AS top_down_share_sum
    FROM base ORDER BY rkey
    """,
)
def hierarchical_forecast_reconcile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hierarchical forecast reconciliation (Hyndman et al.'s coherence
    problem): drift-forecast next month's revenue independently at the
    REGION level and at the NATION level (fc = y_T²/y_{{T−1}}, a
    deliberately nonlinear base forecaster), exhibit the incoherence
    gap (Σ nation forecasts ≠ region forecast — the reason reconciled
    forecasting exists), and verify the two classical fixes: bottom-up
    (sum the children) and top-down (split the parent by last-month
    shares — the share masses are emitted and must equal 1 whenever
    the parent has mass).

    All inputs are exact integer cents, all divides are of identical
    doubles, outputs rounded once.  Scale shape: one fact pass
    collapses to the (nation × 2 months) frame; everything downstream
    is 25-row arithmetic — the hierarchy matrix never materializes."""
    m = (
        load_table(spark, sf_dir, "orders")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "customer").select(
                    F.col("c_custkey").alias("o_custkey"), "c_nationkey"
                )
            ),
            "o_custkey",
        )
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").select(
                    F.col("n_nationkey").alias("c_nationkey"),
                    F.col("n_regionkey").alias("rkey"),
                )
            ),
            "c_nationkey",
        )
        .select(
            "rkey",
            F.col("c_nationkey").alias("nkey"),
            F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("rkey", "nkey")
        .agg(
            F.sum(F.when(F.col("ym") == FC_LAST, F.col("cents")).otherwise(0))
            .cast("long")
            .alias("y1"),
            F.sum(F.when(F.col("ym") == FC_PREV, F.col("cents")).otherwise(0))
            .cast("long")
            .alias("y0"),
        )
    )
    m.persist()
    drift = lambda y1, y0: F.when(  # noqa: E731
        y0 > 0, y1.cast("double") * y1 / y0
    ).otherwise(y1.cast("double"))
    nf = m.select(
        "rkey", "y1", drift(F.col("y1"), F.col("y0")).alias("fc_n")
    )
    rf = m.groupBy("rkey").agg(
        F.sum("y1").cast("long").alias("ry1"),
        F.sum("y0").cast("long").alias("ry0"),
    )
    bu = (
        nf.join(rf.select("rkey", "ry1"), "rkey")
        .groupBy("rkey")
        .agg(
            F.sum("fc_n").alias("bottom_up"),
            F.sum(
                F.when(
                    F.col("ry1") > 0,
                    F.col("y1").cast("double") / F.col("ry1"),
                ).otherwise(0.0)
            ).alias("td_mass"),
        )
    )
    out = (
        rf.join(bu, "rkey")
        .select(
            F.col("rkey").alias("region"),
            F.col("ry1").alias("last_month_cents"),
            F.round(
                drift(F.col("ry1"), F.col("ry0")) / 100.0 - 1e-9, 2
            ).alias("base_forecast_usd"),
            F.round(F.col("bottom_up") / 100.0 - 1e-9, 2).alias(
                "bottom_up_usd"
            ),
            F.round(
                (F.col("bottom_up") - drift(F.col("ry1"), F.col("ry0")))
                / 100.0
                - 1e-9,
                2,
            ).alias("incoherence_usd"),
            F.round(F.col("td_mass") - 1e-9, 4).alias("top_down_share_sum"),
        )
        .orderBy("region")
    )
    result = out.localCheckpoint()
    m.unpersist()
    return result


@query(
    "runs_test_daily_revenue",
    """
    WITH daily AS MATERIALIZED (
      SELECT CAST(o_orderdate AS DATE) AS dd,
             CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT)
               AS dol
      FROM orders GROUP BY 1
    ),
    med AS (
      SELECT max(dol) AS m FROM (
        SELECT dol, row_number() OVER (ORDER BY dol, dd) AS rk,
               count(*) OVER () AS n
        FROM daily
      ) WHERE rk * 2 <= n + 1
    ),
    signs AS (
      SELECT dd, dol > (SELECT m FROM med) AS above
      FROM daily WHERE dol <> (SELECT m FROM med)
    ),
    runs AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT)
               AS n_plus,
             CAST(sum(CASE WHEN above <> lag_above OR lag_above IS NULL
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
      FROM (
        SELECT above, lag(above) OVER (ORDER BY dd) AS lag_above
        FROM signs
      )
    )
    SELECT n, n_plus, n - n_plus AS n_minus, n_runs,
           round(1.0 + 2.0 * n_plus * (n - n_plus) / n - 1e-9, 4)
             AS expected_runs,
           round((n_runs - (1.0 + 2.0 * n_plus * (n - n_plus) / n))
                 / sqrt(2.0 * n_plus * (n - n_plus)
                        * (2.0 * n_plus * (n - n_plus) - n)
                        / (CAST(n AS DOUBLE) * n * (n - 1))) - 1e-9, 4)
             AS z_score
    FROM runs
    """,
)
def runs_test_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the daily revenue series: dichotomize
    each day against the (low-)median, count sign RUNS, and compare to
    the exact expectation 1 + 2·n₊n₋/n — too FEW runs means trending /
    positive autocorrelation, too MANY means oscillation; the classic
    "is this sequence random in ORDER, not just in distribution" check
    that marginals-based drift tests never see.  Median days are
    excluded (standard treatment), the median itself is the exact
    rank-based low median (no engine percentile), and all run counts
    are integers — only the final z touches doubles.

    Scale shape: one fact pass to the daily frame, one ordered window
    for the run boundaries — the reduce-first-then-window shape every
    series query here uses."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "runs_orders"
    )
    daily = spark.sql("""
      SELECT CAST(o_orderdate AS DATE) AS dd,
             CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS dol
      FROM runs_orders GROUP BY 1
    """).localCheckpoint()
    daily.createOrReplaceTempView("runs_daily")
    return spark.sql("""
    WITH med AS (
      SELECT max(dol) AS m FROM (
        SELECT dol, row_number() OVER (ORDER BY dol, dd) AS rk,
               count(*) OVER () AS n
        FROM runs_daily
      ) WHERE rk * 2 <= n + 1
    ),
    signs AS (
      SELECT dd, dol > (SELECT m FROM med) AS above
      FROM runs_daily WHERE dol <> (SELECT m FROM med)
    ),
    runs AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT)
               AS n_plus,
             CAST(sum(CASE WHEN above <> lag_above OR lag_above IS NULL
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
      FROM (
        SELECT above, lag(above) OVER (ORDER BY dd) AS lag_above
        FROM signs
      )
    )
    SELECT n, n_plus, n - n_plus AS n_minus, n_runs,
           round(1.0 + 2.0 * n_plus * (n - n_plus) / n - 1e-9, 4)
             AS expected_runs,
           round((n_runs - (1.0 + 2.0 * n_plus * (n - n_plus) / n))
                 / sqrt(2.0 * n_plus * (n - n_plus)
                        * (2.0 * n_plus * (n - n_plus) - n)
                        / (CAST(n AS DOUBLE) * n * (n - 1))) - 1e-9, 4)
             AS z_score
    FROM runs
    """)


# --------------------------------------------------------------------------
# DFT periodogram at fixed calendar harmonics
# --------------------------------------------------------------------------
_DFT_SQL = """
WITH days AS (
  SELECT {DD} AS t,
         CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS v
  FROM {orders} GROUP BY 1
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS tn, CAST(sum(v) AS BIGINT) AS s
  FROM days
),
terms AS (
  -- c4/s4: cos/sin quantized to 1e-4 BEFORE the big sum, so the
  -- spectral sums are EXACT BIGINTs (order-free) in both engines;
  -- y = Tn*v - S is the T-scaled demeaned series, also exact
  SELECT p.p,
         (tot.tn * d.v - tot.s)
           * CAST(floor(cos(2 * pi() * (d.t % p.p) / p.p) * 10000 + 0.5)
                  AS BIGINT) AS yc,
         (tot.tn * d.v - tot.s)
           * CAST(floor(sin(2 * pi() * (d.t % p.p) / p.p) * 10000 + 0.5)
                  AS BIGINT) AS ys
  FROM days d
  CROSS JOIN (VALUES (7), (30), (91), (365)) AS p(p)
  CROSS JOIN tot
),
spec AS {MAT}(
  SELECT p,
         CAST(sum(yc) AS BIGINT) AS sa,
         CAST(sum(ys) AS BIGINT) AS sb
  FROM terms GROUP BY p
),
pw AS {MAT}(
  SELECT p,
         (CAST(sa AS DOUBLE) / (10000.0 * tot.tn * tot.tn))
           * (CAST(sa AS DOUBLE) / (10000.0 * tot.tn * tot.tn))
         + (CAST(sb AS DOUBLE) / (10000.0 * tot.tn * tot.tn))
           * (CAST(sb AS DOUBLE) / (10000.0 * tot.tn * tot.tn)) AS pwr,
         tot.tn AS tn
  FROM spec CROSS JOIN tot
)
SELECT CAST(p AS BIGINT) AS period_days,
       round(2 * sqrt(pwr) - 1e-9, 2) + 0.0 AS amplitude_usd,
       round(pwr / sum(pwr) OVER () - 1e-9, 4) + 0.0 AS power_share
FROM pw ORDER BY period_days
"""


@query(
    "dft_periodogram_daily",
    _DFT_SQL.replace("{orders}", "orders")
    .replace("{DD}", "date_diff('day', DATE '1992-01-01', "
             "CAST(o_orderdate AS DATE))")
    .replace("{MAT}", "MATERIALIZED "),
)
def dft_periodogram_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-frequency DFT periodogram of daily revenue at the four
    calendar harmonics an analyst actually asks about (weekly /
    monthly / quarterly / yearly): a_p = Σ x_t·cos(2πt/p),
    b_p = Σ x_t·sin(2πt/p) over the demeaned series, amplitude
    2·√(a²+b²)/T in dollars and each period's share of the tested
    power — the spectral twin of ``acf_daily_revenue`` (ACF asks "is
    lag-k correlated", the periodogram asks "how LOUD is period p").

    Cross-engine exactness (the trick): cos/sin values are quantized
    to 1e-4 integers BEFORE the corpus-sized sum, and the series is
    demeaned in T-scaled integers (y = T·v − S), so both spectral
    sums are exact BIGINTs — no summation-order exposure at any
    scale.  Headroom: |y·c4| < T·v·10⁴ ≈ 5×10¹⁷ per term-sum at
    sf0.1; switch v to k$ units past sf1.  Scale shape: one fact
    rollup to days, a 4× literal fanout, one exact aggregate."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "dft_orders"
    )
    return spark.sql(
        _DFT_SQL.replace("{orders}", "dft_orders")
        .replace("{DD}", "datediff(CAST(o_orderdate AS DATE), "
                 "DATE '1992-01-01')")
        .replace("{MAT}", "")
    )


# --------------------------------------------------------------------------
# Chow-style sup-F structural break scan over the daily revenue trend
# --------------------------------------------------------------------------
_CHOW_SQL = """
WITH days AS (
  SELECT {DD} AS t,
         CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS y
  FROM {orders} GROUP BY 1
),
pre AS (
  -- exact BIGINT prefix moments in day order: the whole scan reduces
  -- to O(1) arithmetic per candidate break
  SELECT t, y,
         row_number() OVER (ORDER BY t) AS rn,
         sum(y)     OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cy,
         sum(t)     OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS ct,
         sum(t * t) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS ctt,
         sum(t * y) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cty,
         sum(y * y) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cyy
  FROM days
),
tot AS (
  SELECT CAST(max(rn) AS BIGINT) AS n,
         CAST(max(cy) AS BIGINT) AS sy, CAST(max(ct) AS BIGINT) AS st,
         CAST(max(ctt) AS BIGINT) AS stt,
         CAST(max(cty) AS BIGINT) AS sty,
         CAST(max(cyy) AS BIGINT) AS syy
  FROM pre
),
cand AS MATERIALIZED (
  SELECT p.t AS c, p.rn,
         -- left-segment SSE from prefix moments
         p.cyy - (CAST(p.cy AS DOUBLE) * p.cy * p.ctt
                  - 2.0 * p.cy * p.ct * p.cty
                  + CAST(p.rn AS DOUBLE) * p.cty * p.cty)
                 / (CAST(p.rn AS DOUBLE) * p.ctt
                    - CAST(p.ct AS DOUBLE) * p.ct) AS sse_l,
         (tot.syy - p.cyy)
           - (CAST(tot.sy - p.cy AS DOUBLE) * (tot.sy - p.cy)
                * (tot.stt - p.ctt)
              - 2.0 * (tot.sy - p.cy) * (tot.st - p.ct)
                * (tot.sty - p.cty)
              + CAST(tot.n - p.rn AS DOUBLE) * (tot.sty - p.cty)
                * (tot.sty - p.cty))
             / (CAST(tot.n - p.rn AS DOUBLE) * (tot.stt - p.ctt)
                - CAST(tot.st - p.ct AS DOUBLE) * (tot.st - p.ct))
           AS sse_r,
         tot.syy - (CAST(tot.sy AS DOUBLE) * tot.sy * tot.stt
                    - 2.0 * tot.sy * tot.st * tot.sty
                    + CAST(tot.n AS DOUBLE) * tot.sty * tot.sty)
                   / (CAST(tot.n AS DOUBLE) * tot.stt
                      - CAST(tot.st AS DOUBLE) * tot.st) AS sse_p,
         tot.n
  FROM pre p CROSS JOIN tot
  WHERE p.rn >= 60 AND p.rn <= tot.n - 60 AND p.t % 13 = 0
),
f AS MATERIALIZED (
  SELECT c, n,
         round((sse_p - sse_l - sse_r) / 2
               / ((sse_l + sse_r) / (n - 4)) - 1e-9, 6) + 0.0 AS f_stat
  FROM cand
)
SELECT CAST((SELECT count(*) FROM f) AS BIGINT) AS n_candidates,
       CAST(n AS BIGINT) AS n_days,
       CAST(c AS BIGINT) AS break_day_idx,
       f_stat AS sup_f
FROM (
  SELECT *, row_number() OVER (ORDER BY f_stat DESC, c) AS rk FROM f
) WHERE rk = 1
"""


@query(
    "chow_supf_break_scan",
    _CHOW_SQL.replace("{orders}", "orders").replace(
        "{DD}",
        "date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))",
    ),
)
def chow_supf_break_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural-break scan (Quandt/Andrews sup-F built from Chow
    tests): fit revenue-vs-time OLS pooled and split at every
    candidate break, F-score the SSE reduction, and report the
    maximizing break — the econometric "did the data-generating
    process CHANGE, and when?" companion to the sequential detectors
    (``pelt_changepoint``-style cost scans, Page-Hinkley): those ask
    "drift from a reference", this asks "best single regime split".

    Scale shape — the point: ONE ordered prefix-moment pass makes
    every candidate's two-segment SSE an O(1) formula (the v-optimal
    trick on a time axis), so scanning 180 candidates costs one
    window, not 180 regressions.  All moments are exact BIGINTs
    (dollar units; Σy² needs k$ past sf1); the 15%-trimmed candidate
    grid (rn ≥ 60 from both ends, every 13th day) is the standard
    Andrews trim; F values round to 6 BEFORE the argmax rank."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "chow_orders"
    )
    return spark.sql(
        _CHOW_SQL.replace("{orders}", "chow_orders")
        .replace(
            "{DD}",
            "datediff(CAST(o_orderdate AS DATE), DATE '1992-01-01')",
        )
        .replace(" MATERIALIZED", "")
    )


# --------------------------------------------------------------------------
# Granger causality between daily order count and daily revenue
# --------------------------------------------------------------------------
_GRANGER_SQL = """
WITH days AS (
  SELECT {DD} AS t,
         CAST(count(*) AS BIGINT) AS x,
         CAST(sum(CAST(floor(o_totalprice / 1000) AS BIGINT)) AS BIGINT)
           AS y
  FROM {orders} GROUP BY 1
),
lagged AS MATERIALIZED (
  SELECT a, b, a1, b1 FROM (
    SELECT {tgt} AS a, {src} AS b,
           lag({tgt}) OVER (ORDER BY t) AS a1,
           lag({src}) OVER (ORDER BY t) AS b1
    FROM days
  ) WHERE a1 IS NOT NULL
),
m AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(a) AS BIGINT) AS sa,
         CAST(sum(a1) AS BIGINT) AS sa1,
         CAST(sum(b1) AS BIGINT) AS sb1,
         CAST(sum(a1 * a1) AS BIGINT) AS sa1a1,
         CAST(sum(b1 * b1) AS BIGINT) AS sb1b1,
         CAST(sum(a1 * b1) AS BIGINT) AS sa1b1,
         CAST(sum(a * a1) AS BIGINT) AS saa1,
         CAST(sum(a * b1) AS BIGINT) AS sab1,
         CAST(sum(a * a) AS BIGINT) AS saa
  FROM lagged
),
solved AS MATERIALIZED (
  -- unrestricted a_t ~ 1 + a_{t-1} + b_{t-1} via Cramer on the 3x3
  -- normal equations; restricted drops b_{t-1} (2x2 closed form)
  SELECT n,
         (CAST(n AS DOUBLE) * (sa1a1 * CAST(sb1b1 AS DOUBLE)
                               - CAST(sa1b1 AS DOUBLE) * sa1b1)
          - CAST(sa1 AS DOUBLE) * (sa1 * CAST(sb1b1 AS DOUBLE)
                                   - CAST(sb1 AS DOUBLE) * sa1b1)
          + CAST(sb1 AS DOUBLE) * (sa1 * CAST(sa1b1 AS DOUBLE)
                                   - CAST(sb1 AS DOUBLE) * sa1a1))
           AS det_u,
         (CAST(sa AS DOUBLE) * (sa1a1 * CAST(sb1b1 AS DOUBLE)
                                - CAST(sa1b1 AS DOUBLE) * sa1b1)
          - CAST(sa1 AS DOUBLE) * (saa1 * CAST(sb1b1 AS DOUBLE)
                                   - CAST(sab1 AS DOUBLE) * sa1b1)
          + CAST(sb1 AS DOUBLE) * (saa1 * CAST(sa1b1 AS DOUBLE)
                                   - CAST(sab1 AS DOUBLE) * sa1a1))
           AS det_c,
         (CAST(n AS DOUBLE) * (saa1 * CAST(sb1b1 AS DOUBLE)
                               - CAST(sab1 AS DOUBLE) * sa1b1)
          - CAST(sa AS DOUBLE) * (sa1 * CAST(sb1b1 AS DOUBLE)
                                  - CAST(sb1 AS DOUBLE) * sa1b1)
          + CAST(sb1 AS DOUBLE) * (sa1 * CAST(sab1 AS DOUBLE)
                                   - CAST(sb1 AS DOUBLE) * saa1))
           AS det_ba,
         (CAST(n AS DOUBLE) * (sa1a1 * CAST(sab1 AS DOUBLE)
                               - CAST(sa1b1 AS DOUBLE) * saa1)
          - CAST(sa1 AS DOUBLE) * (sa1 * CAST(sab1 AS DOUBLE)
                                   - CAST(sb1 AS DOUBLE) * saa1)
          + CAST(sa AS DOUBLE) * (sa1 * CAST(sa1b1 AS DOUBLE)
                                  - CAST(sb1 AS DOUBLE) * sa1a1))
           AS det_bb,
         sa, sa1, sb1, sa1a1, sb1b1, sa1b1, saa1, sab1, saa
  FROM m
),
sse AS MATERIALIZED (
  SELECT n,
         saa - (det_c / det_u) * sa - (det_ba / det_u) * saa1
             - (det_bb / det_u) * sab1 AS sse_u,
         saa
           - (CAST(sa AS DOUBLE) * sa1a1 - CAST(sa1 AS DOUBLE) * saa1)
             / (CAST(n AS DOUBLE) * sa1a1 - CAST(sa1 AS DOUBLE) * sa1)
             * sa
           - (CAST(n AS DOUBLE) * saa1 - CAST(sa1 AS DOUBLE) * sa)
             / (CAST(n AS DOUBLE) * sa1a1 - CAST(sa1 AS DOUBLE) * sa1)
             * saa1 AS sse_r,
         det_bb / det_u AS beta_cross
  FROM solved
)
SELECT '{label}' AS direction, n AS n_days,
       round(beta_cross - 1e-9, 6) + 0.0 AS beta_lagged_other,
       round((sse_r - sse_u) / (sse_u / (n - 3)) - 1e-9, 4) + 0.0
         AS granger_f
FROM sse
"""


def _granger_union(dialect_dd: str, orders: str) -> str:
    xy = (
        _GRANGER_SQL.replace("{tgt}", "y")
        .replace("{src}", "x")
        .replace("{label}", "count->revenue")
    )
    yx = (
        _GRANGER_SQL.replace("{tgt}", "x")
        .replace("{src}", "y")
        .replace("{label}", "revenue->count")
    )
    sql = f"SELECT * FROM ({xy}) UNION ALL SELECT * FROM ({yx}) ORDER BY direction"
    return sql.replace("{orders}", orders).replace("{DD}", dialect_dd)


@query(
    "granger_count_revenue",
    _granger_union(
        "date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))",
        "orders",
    ),
)
def granger_count_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger causality, BOTH directions, between daily order count
    and daily revenue (k$): does yesterday's count predict today's
    revenue beyond yesterday's revenue, and vice versa?  VAR(1)
    F-test — the unrestricted regression a_t ~ 1 + a_{t−1} + b_{t−1}
    against the restricted AR(1), solved by Cramer's rule on the 3×3
    normal equations exactly as ``two_pass_ols``/``twoway_fe_panel``
    do.

    Determinism: every moment is an exact BIGINT (revenue in k$ keeps
    Σy² tiny); determinants and SSEs are fixed IEEE expressions over
    those integers, identical in both engines.  Scale shape: one fact
    rollup to days, one lag window, two 1-row moment frames — the
    regression cost does not grow with the corpus."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "granger_orders"
    )
    return spark.sql(
        _granger_union(
            "datediff(CAST(o_orderdate AS DATE), DATE '1992-01-01')",
            "granger_orders",
        ).replace(" MATERIALIZED", "")
    )


# --------------------------------------------------------------------------
# Bass diffusion fit on customer adoption (first-order) curve
# --------------------------------------------------------------------------
_BASS_MONTH = (
    "(year(CAST(o_orderdate AS DATE)) - 1992) * 12"
    " + month(CAST(o_orderdate AS DATE)) - 1"
)

_BASS_PRE = """
tot AS (SELECT CAST(sum(a) AS BIGINT) AS mt FROM adopt),
ser AS {MAT}(
  SELECT m, a,
         CAST(coalesce(sum(a) OVER (ORDER BY m
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_prev
  FROM adopt
),
qm AS {MAT}(
  -- penetration-fraction regressors quantized to exact ints: the
  -- moments are scale-free (x <= 1000, y <= 1e6 at ANY sf)
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(xq) AS BIGINT) AS sx,
         CAST(sum(xq * xq) AS BIGINT) AS sxx,
         CAST(sum(xq * xq * xq) AS BIGINT) AS sxxx,
         CAST(sum(xq * xq * xq * xq) AS BIGINT) AS sxxxx,
         CAST(sum(yq) AS BIGINT) AS sy,
         CAST(sum(xq * yq) AS BIGINT) AS sxy,
         CAST(sum(xq * xq * yq) AS BIGINT) AS sxxy
  FROM (
    SELECT CAST(floor(CAST(s.cum_prev AS DOUBLE) / t.mt * 1000 + 0.5)
                AS BIGINT) AS xq,
           CAST(floor(CAST(s.a AS DOUBLE) / t.mt * 1000000 + 0.5)
                AS BIGINT) AS yq
    FROM ser s CROSS JOIN tot t
  )
)
"""

# Cramer runs on EXACT integers (DuckDB: HUGEINT; Spark side: Python
# bigints) — the determinants cancel catastrophically, so any float
# (or FMA-contracted) evaluation of them diverges across engines; the
# exact-integer dets convert to identical doubles in both.
_BASS_TAIL = """
bass AS {MAT}(
  SELECT n, ca, cb, cc,
         CASE WHEN cb * cb - 4.0 * cc * ca >= 0 AND cc <> 0
              THEN greatest(
                     (-cb + sqrt(cb * cb - 4.0 * cc * ca)) / (2.0 * cc),
                     (-cb - sqrt(cb * cb - 4.0 * cc * ca)) / (2.0 * cc))
              ELSE CAST(NULL AS DOUBLE) END AS mhat
  FROM coef
)
SELECT n AS n_months,
       round(ca / mhat - 1e-9, 6) + 0.0 AS p_innovation,
       round(-cc * mhat - 1e-9, 6) + 0.0 AS q_imitation,
       round(mhat - 1e-9, 4) + 0.0 AS m_saturation_frac,
       CASE WHEN ca / mhat > 0 AND -cc * mhat > 0
            THEN round(ln(-cc * mhat / (ca / mhat))
                       / (ca / mhat + (-cc * mhat)) - 1e-9, 2) + 0.0
            ELSE CAST(NULL AS DOUBLE) END AS peak_month
FROM bass
"""

_BASS_SOL_DUCK = """
sol AS MATERIALIZED (
  SELECT n,
         CAST(n AS HUGEINT) * (CAST(sxx AS HUGEINT) * sxxxx
                               - CAST(sxxx AS HUGEINT) * sxxx)
         - CAST(sx AS HUGEINT) * (CAST(sx AS HUGEINT) * sxxxx
                                  - CAST(sxx AS HUGEINT) * sxxx)
         + CAST(sxx AS HUGEINT) * (CAST(sx AS HUGEINT) * sxxx
                                   - CAST(sxx AS HUGEINT) * sxx) AS det,
         CAST(sy AS HUGEINT) * (CAST(sxx AS HUGEINT) * sxxxx
                                - CAST(sxxx AS HUGEINT) * sxxx)
         - CAST(sx AS HUGEINT) * (CAST(sxy AS HUGEINT) * sxxxx
                                  - CAST(sxxx AS HUGEINT) * sxxy)
         + CAST(sxx AS HUGEINT) * (CAST(sxy AS HUGEINT) * sxxx
                                   - CAST(sxx AS HUGEINT) * sxxy)
           AS det_a,
         CAST(n AS HUGEINT) * (CAST(sxy AS HUGEINT) * sxxxx
                               - CAST(sxxx AS HUGEINT) * sxxy)
         - CAST(sy AS HUGEINT) * (CAST(sx AS HUGEINT) * sxxxx
                                  - CAST(sxxx AS HUGEINT) * sxx)
         + CAST(sxx AS HUGEINT) * (CAST(sx AS HUGEINT) * sxxy
                                   - CAST(sxy AS HUGEINT) * sxx)
           AS det_b,
         CAST(n AS HUGEINT) * (CAST(sxx AS HUGEINT) * sxxy
                               - CAST(sxy AS HUGEINT) * sxxx)
         - CAST(sx AS HUGEINT) * (CAST(sx AS HUGEINT) * sxxy
                                  - CAST(sxy AS HUGEINT) * sxx)
         + CAST(sy AS HUGEINT) * (CAST(sx AS HUGEINT) * sxxx
                                  - CAST(sxx AS HUGEINT) * sxx)
           AS det_c
  FROM qm
),
coef AS MATERIALIZED (
  SELECT n,
         CAST(det_a AS DOUBLE) / CAST(det AS DOUBLE) / 1000000.0 AS ca,
         CAST(det_b AS DOUBLE) / CAST(det AS DOUBLE) / 1000.0 AS cb,
         CAST(det_c AS DOUBLE) / CAST(det AS DOUBLE) AS cc
  FROM sol
)
"""


def _bass_oracle(adopt_cte: str) -> str:
    return (
        "WITH "
        + adopt_cte
        + ",\n"
        + _BASS_PRE.replace("{MAT}", "MATERIALIZED ").strip()
        + ",\n"
        + _BASS_SOL_DUCK.strip()
        + ",\n"
        + _BASS_TAIL.replace("{MAT}", "MATERIALIZED ")
    )


def _bass_spark(spark: SparkSession, adopt_cte: str) -> DataFrame:
    """Spark side: exact BIGINT moments via SQL, Cramer on Python
    bigints (exact — mirrors the oracle's HUGEINT dets bit-for-bit),
    coefficients re-injected as full-precision double literals."""
    qm = spark.sql(
        "WITH "
        + adopt_cte
        + ",\n"
        + _BASS_PRE.replace("{MAT}", "").strip()
        + "\nSELECT * FROM qm"
    ).collect()[0]
    if not qm["n"]:
        # empty adoption series: the oracle's groupless moment rollup
        # emits one row with n_months = 0 and a NULL fit (its sums are
        # NULL); mirror instead of int(None)-crashing (round-12 sweep)
        return spark.createDataFrame(
            [(0, None, None, None, None)],
            "n_months long, p_innovation double, q_imitation double, "
            "m_saturation_frac double, peak_month double",
        )
    n, sx, sxx, sxxx, sxxxx = (
        int(qm["n"]), int(qm["sx"]), int(qm["sxx"]),
        int(qm["sxxx"]), int(qm["sxxxx"]),
    )
    sy, sxy, sxxy = int(qm["sy"]), int(qm["sxy"]), int(qm["sxxy"])
    det = (
        n * (sxx * sxxxx - sxxx * sxxx)
        - sx * (sx * sxxxx - sxx * sxxx)
        + sxx * (sx * sxxx - sxx * sxx)
    )
    det_a = (
        sy * (sxx * sxxxx - sxxx * sxxx)
        - sx * (sxy * sxxxx - sxxx * sxxy)
        + sxx * (sxy * sxxx - sxx * sxxy)
    )
    det_b = (
        n * (sxy * sxxxx - sxxx * sxxy)
        - sy * (sx * sxxxx - sxxx * sxx)
        + sxx * (sx * sxxy - sxy * sxx)
    )
    det_c = (
        n * (sxx * sxxy - sxy * sxxx)
        - sx * (sx * sxxy - sxy * sxx)
        + sy * (sx * sxxx - sxx * sxx)
    )
    if float(det) == 0.0:
        ca = cb = cc = float("nan")
    else:
        # float() each det FIRST (== CAST(huge AS DOUBLE)), then divide
        ca = float(det_a) / float(det) / 1000000.0
        cb = float(det_b) / float(det) / 1000.0
        cc = float(det_c) / float(det)
    lit = (
        f"coef AS (SELECT CAST({n} AS BIGINT) AS n, "
        f"CAST('{ca!r}' AS DOUBLE) AS ca, "
        f"CAST('{cb!r}' AS DOUBLE) AS cb, "
        f"CAST('{cc!r}' AS DOUBLE) AS cc)"
    )
    return spark.sql(
        "WITH " + lit + ",\n" + _BASS_TAIL.replace("{MAT}", "")
    )


@query(
    "bass_diffusion_fit",
    _bass_oracle(
        f"""firsts AS MATERIALIZED (
  SELECT o_custkey, min({_BASS_MONTH}) AS m FROM orders GROUP BY 1
),
adopt AS MATERIALIZED (
  SELECT m, CAST(count(*) AS BIGINT) AS a FROM firsts GROUP BY m
)"""
    ),
)
def bass_diffusion_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bass diffusion-model fit of customer adoption: monthly first
    orders n_t regress on cumulative prior adopters via the discrete
    Bass form n_t = pM + (q−p)N_{t−1} − (q/M)N²_{t−1}, giving the
    innovation rate p, imitation rate q, implied saturation M (as a
    fraction of observed adopters) and the analytic peak-adoption
    month ln(q/p)/(p+q) — the product-growth model behind every
    "S-curve" forecast.

    Determinism — the hard-won part: regressors are penetration
    FRACTIONS quantized to exact integers (x ≤ 10³, y ≤ 10⁶ at any
    scale factor), so all 8 moments are exact BIGINTs; but the 3×3
    Cramer determinants over them cancel CATASTROPHICALLY, and DuckDB's
    FMA-contracted float evaluation diverged from Spark's at the 7th
    digit.  The fix: the determinants are computed EXACTLY — int128
    (HUGEINT) in the oracle, Python bigints on this side — and only
    the final det ratios become doubles (float() each det first, then
    divide: the same two roundings in both engines).  The planted test
    (tests/test_wave13.py via :func:`bass_fit_frame`) feeds an exact
    discrete Bass curve and recovers p, q, M ≈ 1.

    Scale shape: one orders rollup to first-order months, then an
    O(months) frame; estimation is O(1) driver-side per the
    bounded-frame pattern."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "bass_orders"
    )
    return _bass_spark(
        spark,
        f"""firsts AS (
  SELECT o_custkey, min({_BASS_MONTH}) AS m FROM bass_orders GROUP BY 1
),
adopt AS (
  SELECT m, CAST(count(*) AS BIGINT) AS a FROM firsts GROUP BY m
)""",
    )


def bass_fit_frame(adopt: DataFrame) -> DataFrame:
    """Bass fit over any (m, a) adoption frame — factored out for the
    planted-curve test; see :func:`bass_diffusion_fit`."""
    adopt.createOrReplaceTempView("bass_adopt_frame")
    return _bass_spark(
        adopt.sparkSession,
        "adopt AS (SELECT m, CAST(a AS BIGINT) AS a"
        " FROM bass_adopt_frame)",
    )


# --------------------------------------------------------------------------
# adstock grid fit: carryover rate of activity onto event value
# --------------------------------------------------------------------------
ADSTOCK_LAGS = 8

_ADSTOCK_SQL = f"""
WITH days AS {{MAT}}(
  SELECT {{DD}} AS t, CAST(count(*) AS BIGINT) AS x,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS y
  FROM {{events}} GROUP BY 1
),
tots AS (
  SELECT CAST(sum(x) AS BIGINT) AS tx, CAST(sum(y) AS BIGINT) AS ty
  FROM days
),
shares AS {{MAT}}(
  -- scale-free 1e-5 integer shares: moments stay in int64 at any sf
  SELECT d.t,
         CAST(floor(CAST(d.x AS DOUBLE) / t.tx * 100000 + 0.5) AS BIGINT)
           AS xs,
         CAST(floor(CAST(d.y AS DOUBLE) / t.ty * 100000 + 0.5) AS BIGINT)
           AS ys
  FROM days d CROSS JOIN tots t
),
thetas AS (
  SELECT CAST(0.3 AS DOUBLE) AS th
  UNION ALL SELECT CAST(0.5 AS DOUBLE)
  UNION ALL SELECT CAST(0.7 AS DOUBLE)
),
lagk AS ({{SPINE}}),
ad AS {{MAT}}(
  -- adstock via 1e-2-quantized integer decay weights: the 9-term
  -- convolution is an exact BIGINT dot product per (theta, day)
  SELECT t2.th, a.t, a.ys,
         CAST(sum(CAST(floor(power(t2.th, l.k) * 100 + 0.5) AS BIGINT)
                  * b.xs) AS BIGINT) AS adq
  FROM shares a
  CROSS JOIN thetas t2
  JOIN lagk l ON 1 = 1
  JOIN shares b ON b.t = a.t - l.k
  GROUP BY t2.th, a.t, a.ys
  HAVING count(*) = {ADSTOCK_LAGS + 1}
),
m AS {{MAT}}(
  SELECT th, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(adq) AS BIGINT) AS sa,
         CAST(sum(ys) AS BIGINT) AS sy,
         CAST(sum(adq * ys) AS BIGINT) AS say,
         CAST(sum(adq * adq) AS BIGINT) AS saa,
         CAST(sum(ys * ys) AS BIGINT) AS syy
  FROM ad GROUP BY th
),
fit AS {{MAT}}(
  SELECT th, n,
         (CAST(n AS DOUBLE) * say - CAST(sa AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa) AS beta,
         (CAST(sy AS DOUBLE)
          - (CAST(n AS DOUBLE) * say - CAST(sa AS DOUBLE) * sy)
            / (CAST(n AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa) * sa)
           / n AS alpha,
         (CAST(n AS DOUBLE) * say - CAST(sa AS DOUBLE) * sy)
           * ((CAST(n AS DOUBLE) * say - CAST(sa AS DOUBLE) * sy))
           / ((CAST(n AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa)
              * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
           AS r2
  FROM m
),
best AS (
  SELECT th FROM fit
  ORDER BY round(1.0 - r2 - 1e-9, 8), th LIMIT 1
)
SELECT f.th AS theta, f.n AS n_days,
       round(f.beta - 1e-9, 6) + 0.0 AS beta_share,
       round(f.r2 - 1e-9, 6) + 0.0 AS r2,
       CASE WHEN f.th = b.th THEN CAST(1 AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS is_best
FROM fit f CROSS JOIN best b
ORDER BY f.th
"""


def _adstock_sql(events: str, dd: str, spine: str, mat: str) -> str:
    return (
        _ADSTOCK_SQL.replace("{events}", events)
        .replace("{DD}", dd)
        .replace("{SPINE}", spine)
        .replace("{MAT}", mat)
    )


@query(
    "adstock_grid_fit",
    _adstock_sql(
        "events",
        "date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))",
        f"SELECT unnest(range(0, {ADSTOCK_LAGS + 1})) AS k",
        "MATERIALIZED ",
    ),
)
def adstock_grid_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adstock (geometric carryover) grid fit — the media-mix-model
    workhorse: transform daily activity x into
    adstock_θ(x)_t = Σ_k θᵏ x_{t−k} for θ ∈ {0.3, 0.5, 0.7}, regress
    daily event value on it, and pick the carryover rate by SSE (via
    max R², rounded before the argmin so both engines make the same
    call).  Answers "how long does activity keep paying off?".

    Determinism: x and y become scale-free 1e-5 integer SHARES (second
    moments ≈ 1e17 at any sf); decay weights quantize to 1e-2 integers
    (pow()'s 1-ulp wobble can't survive the quantization), so the
    9-term convolution and all regression moments are exact BIGINTs.
    The planted test (tests/test_wave13.py via :func:`adstock_frame`)
    builds y as an exact θ = 0.5 adstock of x and the grid must pick
    0.5 with R² ≈ 1.

    Scale shape: one events rollup to O(days); the convolution is a
    days × 9 × 3 lag equi-join fanout on that small frame — bounded by
    calendar, not corpus."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "adstock_events"
    )
    return spark.sql(
        _adstock_sql(
            "adstock_events",
            "datediff(CAST(ts AS DATE), DATE '2024-01-01')",
            f"SELECT explode(sequence(0, {ADSTOCK_LAGS})) AS k",
            "",
        )
    )


def adstock_frame(days: DataFrame) -> DataFrame:
    """Adstock grid fit over any (t, x, y) integer frame — factored
    out for the planted-carryover test; see :func:`adstock_grid_fit`."""
    days.createOrReplaceTempView("adstock_days_frame")
    sql = _adstock_sql(
        "unused",
        "unused",
        f"SELECT explode(sequence(0, {ADSTOCK_LAGS})) AS k",
        "",
    )
    head = sql.index("tots AS")
    return days.sparkSession.sql(
        "WITH days AS (SELECT t, CAST(x AS BIGINT) AS x,"
        " CAST(y AS BIGINT) AS y FROM adstock_days_frame),\n"
        + sql[head:]
    )


# --------------------------------------------------------------------------
# CUSUM-of-squares: variance structural break in daily revenue changes
# --------------------------------------------------------------------------
_CSS_SQL = """
WITH days AS {MAT}(
  SELECT {DD} AS t,
         CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS y
  FROM {orders} GROUP BY 1
),
tot AS (SELECT CAST(sum(y) AS BIGINT) AS ty FROM days),
ser AS {MAT}(
  SELECT row_number() OVER (ORDER BY t) AS k, t,
         dq * dq AS d2
  FROM (
    SELECT t,
           CAST(floor(CAST(y - lag(y) OVER (ORDER BY t) AS DOUBLE)
                      / x.ty * 100000 + 0.5) AS BIGINT) AS dq
    FROM days CROSS JOIN tot x
  ) WHERE dq IS NOT NULL
),
agg AS {MAT}(
  SELECT k, t,
         CAST(sum(d2) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS c2,
         CAST(sum(d2) OVER () AS BIGINT) AS t2,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM ser
),
dev AS {MAT}(
  -- n*c2_k - k*t2 is an exact BIGINT: the whole CUSUM-of-squares path
  -- compares as integers, the division happens once at the end
  SELECT k, t, n, t2,
         abs(n * c2 - k * t2) AS num
  FROM agg
),
best AS {MAT}(
  SELECT k, t, n, t2, num,
         row_number() OVER (ORDER BY num DESC, k) AS rk
  FROM dev
)
SELECT n AS n_obs,
       t AS break_day_idx,
       round(CAST(num AS DOUBLE) / n / t2 - 1e-9, 6) + 0.0
         AS css_max_dev,
       round(1.358 / sqrt(CAST(n AS DOUBLE)) - 1e-9, 6) + 0.0
         AS approx_crit_5pct,
       CASE WHEN round(CAST(num AS DOUBLE) / n / t2 - 1e-9, 6)
               > round(1.358 / sqrt(CAST(n AS DOUBLE)) - 1e-9, 6)
            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
         AS variance_break_flag
FROM best WHERE rk = 1
"""


@query(
    "cusum_squares_variance_break",
    _CSS_SQL.replace("{orders}", "orders")
    .replace(
        "{DD}",
        "date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))",
    )
    .replace("{MAT}", "MATERIALIZED "),
)
def cusum_squares_variance_break(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM-of-squares (Brown-Durbin-Evans) scan for a VARIANCE
    structural break in daily revenue changes: max_k |Σ_{t≤k}d²/Σd² −
    k/n| with the day where the deviation peaks — the volatility
    sibling of the mean-shift detectors (`cusum_control_chart` finds
    level breaks; this finds days after which the series got
    noisier/calmer), flagged against the KS-style approximate 5% band
    1.358/√n (documented approximation).

    Determinism: changes are scale-free 1e-5-of-total integers, so
    every squared term, cumulative sum, and the cross-multiplied
    deviation n·C_k − k·T are exact BIGINTs — the whole path argmax
    compares integers, with k as the tiebreak; ONE division at the
    end.  tests/test_wave20.py plants a mid-series volatility
    quadrupling and pins the detected day near the break via
    :func:`css_frame`.

    Scale shape: one fact rollup to O(days), ordered windows on that
    frame, O(1) statistic."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "css_orders"
    )
    return spark.sql(
        _CSS_SQL.replace("{orders}", "css_orders")
        .replace(
            "{DD}",
            "datediff(CAST(o_orderdate AS DATE), DATE '1992-01-01')",
        )
        .replace("{MAT}", "")
    )


def css_frame(ser: DataFrame) -> DataFrame:
    """CUSUM-of-squares over any (t, dq) integer frame; see
    :func:`cusum_squares_variance_break`."""
    ser.createOrReplaceTempView("css_ser_frame")
    sql = _CSS_SQL.replace("{MAT}", "")
    head = sql.index("agg AS ")
    return ser.sparkSession.sql(
        "WITH ser AS (SELECT row_number() OVER (ORDER BY t) AS k, t,"
        " CAST(dq AS BIGINT) * CAST(dq AS BIGINT) AS d2"
        " FROM css_ser_frame),\n" + sql[head:]
    )


# --------------------------------------------------------------------------
# KPSS stationarity test: the null-reversed complement of the ADF
# --------------------------------------------------------------------------
_KPSS_SQL = """
WITH days AS {MAT}(
  SELECT {DD} AS t,
         CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS yd
  FROM {orders} GROUP BY 1
),
tot AS (SELECT CAST(sum(yd) AS BIGINT) AS ty FROM days),
ser AS {MAT}(
  SELECT row_number() OVER (ORDER BY t) AS k,
         CAST(floor(CAST(yd AS DOUBLE) / x.ty * 100000 + 0.5)
              AS BIGINT) AS q
  FROM days CROSS JOIN tot x
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(q) AS BIGINT) AS sq,
         CAST(sum(q * q) AS BIGINT) AS sqq
  FROM ser
),
parts AS {MAT}(
  -- n*S_k = n*cum_k - k*Σq is an exact BIGINT; each squared partial
  -- sum quantizes to an integer unit before the final sum
  SELECT CAST(floor((CAST(m.n * s.cum - s.k * m.sq AS DOUBLE) / m.n)
                    * (CAST(m.n * s.cum - s.k * m.sq AS DOUBLE) / m.n)
                    + 0.5) AS BIGINT) AS s2
  FROM (SELECT k,
               CAST(sum(q) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cum
        FROM ser) s CROSS JOIN m
),
stat AS {MAT}(
  SELECT m.n,
         CAST((SELECT CAST(sum(s2) AS BIGINT) FROM parts) AS DOUBLE)
           / (CAST(m.n AS DOUBLE) * m.n)
           / ((m.sqq - CAST(m.sq AS DOUBLE) * m.sq / m.n) / m.n)
           AS eta
  FROM m
)
SELECT n AS n_obs,
       round(eta - 1e-9, 6) + 0.0 AS kpss_eta,
       CASE WHEN round(eta - 1e-9, 6) > 0.463 THEN CAST(1 AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS reject_stationarity_5pct
FROM stat
"""


@query(
    "kpss_stationarity",
    _KPSS_SQL.replace("{orders}", "orders")
    .replace(
        "{DD}",
        "date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))",
    )
    .replace("{MAT}", "MATERIALIZED "),
)
def kpss_stationarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPSS level-stationarity test (lag-0 form) on daily revenue —
    the NULL-REVERSED complement of ``adf_unit_root``: ADF's null is a
    unit root, KPSS's null is stationarity, and running both gives the
    four-corner verdict (both agree stationary / both agree unit root
    / conflicting = fractional or near-integrated).  η = ΣS_k²/(n²σ̂²)
    over partial sums of the demeaned series, 5% critical 0.463.

    Determinism: values are 1e-5-of-total integers; n·S_k = n·cum_k −
    k·Σq is an exact BIGINT; each S_k² quantizes to an integer unit
    BEFORE the sum (order-free), and σ̂² comes from the two exact
    moments.  tests/test_wave20.py pins the agreement corner on TPC-H
    (ADF rejects unit root AND KPSS keeps stationarity) and a planted
    walk on the opposite corner via :func:`kpss_frame`.

    Scale shape: one fact rollup, two ordered windows on the O(days)
    frame, O(1) statistic."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "kpss_orders"
    )
    return spark.sql(
        _KPSS_SQL.replace("{orders}", "kpss_orders")
        .replace(
            "{DD}",
            "datediff(CAST(o_orderdate AS DATE), DATE '1992-01-01')",
        )
        .replace("{MAT}", "")
    )


def kpss_frame(ser: DataFrame) -> DataFrame:
    """KPSS over any (k, q) integer frame (k = 1..n positions); see
    :func:`kpss_stationarity`."""
    ser.createOrReplaceTempView("kpss_ser_frame")
    sql = _KPSS_SQL.replace("{MAT}", "")
    head = sql.index("m AS ")
    return ser.sparkSession.sql(
        "WITH ser AS (SELECT k, CAST(q AS BIGINT) AS q"
        " FROM kpss_ser_frame),\n" + sql[head:]
    )


# --------------------------------------------------------------------------
# Quantized-trig periodogram: daily / weekly / control frequencies
# --------------------------------------------------------------------------
PG_PERIODS = (24, 168, 17)  # daily, weekly, non-harmonic control (hours)
_PG_TRIG_SCALE = 1_000_000


def _pg_trig_rows() -> str:
    """(period, phase, cos, sin) with the trig values quantized to
    1e-6 INTEGERS at code-generation time — the whole spectral sum is
    then exact int64 arithmetic in both engines (no libm, no float
    accumulation order, no FMA surface)."""
    import math as _m

    rows = []
    for p in PG_PERIODS:
        for ph in range(p):
            ang = 2.0 * _m.pi * ph / p
            c6 = round(_m.cos(ang) * _PG_TRIG_SCALE)
            s6 = round(_m.sin(ang) * _PG_TRIG_SCALE)
            rows.append(f"({p}, {ph}, {c6}, {s6})")
    return ", ".join(rows)


_PG_SQL = """
WITH hrs AS {MAT}(
  SELECT CAST(floor({EMS} / 3600000.0) AS BIGINT) AS h,
         CAST(count(*) AS BIGINT) AS nn
  FROM {events} GROUP BY 1
),
rng AS {MAT}(
  SELECT CAST(min(h) AS BIGINT) AS h0,
         CAST(max(h) - min(h) + 1 AS BIGINT) AS nh,
         CAST(sum(nn) AS BIGINT) AS tot
  FROM hrs
),
spine AS {MAT}({SPINE}),
counts AS {MAT}(
  -- gap hours materialize as zero counts: the spectral sum needs the
  -- full regular grid, not just observed buckets
  SELECT s.i AS t,
         coalesce(hh.nn, 0) * (SELECT nh FROM rng)
           - (SELECT tot FROM rng) AS d
  FROM spine s LEFT JOIN hrs hh ON hh.h = (SELECT h0 FROM rng) + s.i
),
trig AS ({TRIG}),
sums AS {MAT}(
  SELECT v.p,
         CAST(sum(c.d * v.c6) AS BIGINT) AS sc,
         CAST(sum(c.d * v.s6) AS BIGINT) AS ss
  FROM counts c JOIN trig v ON v.ph = c.t % v.p
  GROUP BY v.p
),
pw AS {MAT}(
  SELECT p, CAST(sc AS DOUBLE) * sc AS x2, CAST(ss AS DOUBLE) * ss AS y2
  FROM sums
),
pw2 AS {MAT}(SELECT p, x2 + y2 AS pwr FROM pw),
piv AS {MAT}(
  SELECT max(CASE WHEN p = 24 THEN pwr END) AS p24,
         max(CASE WHEN p = 168 THEN pwr END) AS p168,
         max(CASE WHEN p = 17 THEN pwr END) AS p17
  FROM pw2
)
SELECT CAST(w.p AS BIGINT) AS period_hours,
       round(w.pwr / (v.p24 + v.p168 + v.p17) - 1e-9, 6) + 0.0
         AS power_share,
       CASE WHEN w.pwr >= v.p24 AND w.pwr >= v.p168 AND w.pwr >= v.p17
            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS dominant
FROM pw2 w CROSS JOIN piv v
ORDER BY period_hours
"""

_PG_SPARK = {
    "{EMS}": "unix_millis(ts)",
    "{SPINE}": (
        "SELECT explode(sequence(0, (SELECT CAST(nh - 1 AS INT) FROM rng)))"
        " AS i"
    ),
    "{TRIG}": (
        "SELECT * FROM VALUES " + _pg_trig_rows() + " AS v(p, ph, c6, s6)"
    ),
    "{MAT}": "",
}
_PG_DUCK = {
    "{EMS}": "epoch_ms(ts)",
    "{SPINE}": (
        "SELECT unnest(generate_series(0,"
        " (SELECT CAST(nh - 1 AS INT) FROM rng))) AS i"
    ),
    "{TRIG}": (
        "SELECT * FROM (VALUES " + _pg_trig_rows() + ") v(p, ph, c6, s6)"
    ),
    "{MAT}": "MATERIALIZED ",
}


def _pg_render(slots: dict, events: str) -> str:
    sql = _PG_SQL
    for k, v in slots.items():
        sql = sql.replace(k, v)
    return sql.replace("{events}", events)


@query("periodogram_hourly", _pg_render(_PG_DUCK, "events"))
def periodogram_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schuster periodogram of the hourly event-count series at the
    daily (24 h), weekly (168 h) and non-harmonic control (17 h)
    frequencies: spectral power P(f) = (Σd_t·cos 2πft)² +
    (Σd_t·sin 2πft)², reported as shares — the cycle detector behind
    seasonality-aware downstream modeling (complement of the
    time-domain ACF battery: a daily rhythm shows as share(24) ≫
    share(17)).

    Determinism: trig values are 1e-6-quantized INTEGER LITERALS baked
    at code-generation time, counts center via the cross-multiplied
    integer form (n_t·H − T), so the entire spectral sum is exact
    int64 in BOTH engines — no libm cos/sin at query time, no float
    accumulation order, nothing to diverge; squares and the 3-term
    share denominator are fixed IEEE trees over those exact ints.
    Gap hours enter as explicit zeros (LEFT JOIN against the full
    spine) — at sf0.001 the grid is ~50% gaps and skipping them would
    alias the spectrum.

    Scale shape: one fact scan → O(hours) buckets; the trig join fans
    each bucket out 3× (constant); all statistics O(1).
    tests/test_anova_periodogram.py plants pure daily / weekly cycles
    and white noise through :func:`periodogram_frame`."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "pg_events"
    )
    return spark.sql(_pg_render(_PG_SPARK, "pg_events"))


def periodogram_frame(spark: SparkSession, counts: DataFrame) -> DataFrame:
    """Periodogram over any (h BIGINT, nn BIGINT) hourly-count frame —
    factored for planted-cycle tests (see periodogram_hourly)."""
    counts.createOrReplaceTempView("pg_frame_counts")
    sql = _pg_render(_PG_SPARK, "pg_frame_counts")
    head = sql.index("rng AS ")
    return spark.sql(
        "WITH hrs AS (SELECT CAST(h AS BIGINT) AS h, CAST(nn AS BIGINT)"
        " AS nn FROM pg_frame_counts),\n" + sql[head:]
    )


# --------------------------------------------------------------------------
# subsequence DTW: elastic pattern matching over the hourly count stream
# --------------------------------------------------------------------------
DTW_M = 8  # query-pattern length (a rising ramp in 0..1000 fixed point)
DTW_N = 12  # window length the pattern may match elastically within
DTW_TOPK = 5
DTW_INF = 1 << 40
# ramp pattern in the same 0..1000 normalized space as the windows
DTW_PATTERN = [j * 1000 // (DTW_M - 1) for j in range(DTW_M)]


def _dtw_stage_exprs(j: int) -> list[str]:
    """DP column ``j`` of subsequence DTW as dialect-free SQL: cell
    d_i = |Q_i − s_j| + least(left, diag, down) with a FREE start on
    the window axis (row 1 pays only its own cost) — the within-column
    d_{i-1} dependency is inlined textually, so one CTE/select stage
    per column suffices.  All-integer arithmetic (costs and the INF
    sentinel are exact int64), so any correct evaluator produces the
    identical table."""
    exprs, prev_d = [], None
    for i in range(1, DTW_M + 1):
        cost = f"abs({DTW_PATTERN[i - 1]} - s{j})"
        if i == 1:
            d = f"({cost})"  # free start: least(0, p1) = 0 since p >= 0
        else:
            d = f"({cost} + least(p{i}, p{i - 1}, {prev_d}))"
        exprs.append(f"{d} AS d{i}")
        prev_d = d
    exprs.append(f"least(best, {prev_d}) AS best")
    return exprs


def _dtw_chain_items(j: int) -> list[str]:
    """Full item list for DP stage ``j``: carry the window columns and
    expose this column's cells as p1..p8/best for the NEXT stage (the
    references inside the expressions resolve to the INPUT p's — both
    engines resolve unqualified names to input columns, not output
    aliases)."""
    keep = [f"s{k}" for k in range(1, DTW_N + 1)] + ["event_type", "h_ms"]
    return keep + [
        e.replace(" AS d", " AS p") for e in _dtw_stage_exprs(j)
    ]


def _dtw_norm_items(dialect: str) -> list[str]:
    """0..1000 fixed-point min-max normalization of the window list —
    the dialect splits: integer floor division (Spark ``div`` / DuckDB
    ``//``) and 1-based element access (Spark ``element_at`` —
    ``seq[k]`` would be 0-based there — vs DuckDB's native 1-based
    ``seq[k]``)."""
    div = "div" if dialect == "spark" else "//"
    items = []
    for k in range(1, DTW_N + 1):
        el = f"element_at(seq, {k})" if dialect == "spark" else f"seq[{k}]"
        items.append(
            f"(CASE WHEN mx > mn THEN (({el} - mn) * 1000) {div}"
            f" (mx - mn) ELSE 0 END) AS s{k}"
        )
    return items


def _dtw_oracle() -> str:
    stages = []
    prev = "norm"
    for j in range(1, DTW_N + 1):
        items = ", ".join(_dtw_chain_items(j))
        stages.append(f"dp{j} AS (SELECT {items} FROM {prev})")
        prev = f"dp{j}"
    chain = ",\n    ".join(stages)
    return f"""
    WITH hourly AS MATERIALIZED (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(count(*) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ),
    win AS (
      SELECT event_type, epoch_ms(h) AS h_ms,
             list(v) OVER (PARTITION BY event_type ORDER BY h
                           ROWS BETWEEN CURRENT ROW
                           AND {DTW_N - 1} FOLLOWING) AS seq,
             count(*) OVER (PARTITION BY event_type ORDER BY h
                            ROWS BETWEEN CURRENT ROW
                            AND {DTW_N - 1} FOLLOWING) AS n
      FROM hourly
    ),
    full_win AS (
      SELECT event_type, h_ms, seq,
             list_min(seq) AS mn, list_max(seq) AS mx
      FROM win WHERE n = {DTW_N}
    ),
    norm AS (
      SELECT event_type, h_ms, {", ".join(_dtw_norm_items("duckdb"))},
             {", ".join(f"CAST({DTW_INF} AS BIGINT) AS p{i}" for i in range(1, DTW_M + 1))},
             CAST({DTW_INF} AS BIGINT) AS best
      FROM full_win
    ),
    {chain},
    ranked AS (
      SELECT event_type, h_ms, best AS dtw_cost,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY best, h_ms) AS rk
      FROM dp{DTW_N}
    )
    SELECT event_type, h_ms, CAST(dtw_cost AS BIGINT) AS dtw_cost,
           CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= {DTW_TOPK}
    """


@query("dtw_subsequence_match", oracle=_dtw_oracle())
def dtw_subsequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subsequence Dynamic Time Warping: per event type, the top-5
    12-hour windows whose hourly count shape matches a rising-ramp
    pattern ELASTICALLY — DTW's warping absorbs local speed-ups and
    stalls that the fixed-alignment Euclidean scan
    (``ts_subsequence_search``) penalizes, which is why it is the
    classic trend/shape detector for irregular series.  Windows are
    min-max normalized to exact 0..1000 fixed point; the 8×12 DP runs
    with a free start/end on the window axis and ALL-INTEGER costs.

    Engine shape: the whole DP is an unrolled expression chain — one
    ``selectExpr`` stage per DP column, cells as nested ``least``
    trees (the Hilbert stage-chain idiom) — entirely inside
    whole-stage codegen: no UDF, no explode, no driver loop; the
    DuckDB oracle runs the IDENTICAL chain as CTE stages, and integer
    DP admits exactly one answer.  Scale: per-key window extraction is
    the same bounded-frame pass as every rolling query; cost per row
    is a constant 96-cell tree, so 100 TB scales linearly with the
    hourly frame count."""
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("v"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.currentRow, DTW_N - 1)
    )
    win = hourly.select(
        "event_type",
        F.unix_millis("h").alias("h_ms"),
        F.collect_list("v").over(w).alias("seq"),
        F.count(F.lit(1)).over(w).alias("n"),
    ).filter(F.col("n") == DTW_N)
    norm = win.selectExpr(
        "event_type",
        "h_ms",
        "array_min(seq) AS mn",
        "array_max(seq) AS mx",
        "seq",
    ).selectExpr(
        "event_type",
        "h_ms",
        *_dtw_norm_items("spark"),
        *[f"CAST({DTW_INF} AS BIGINT) AS p{i}" for i in range(1, DTW_M + 1)],
        f"CAST({DTW_INF} AS BIGINT) AS best",
    )
    out = norm
    for j in range(1, DTW_N + 1):
        out = out.selectExpr(*_dtw_chain_items(j))
    wr = Window.partitionBy("event_type").orderBy("best", "h_ms")
    return (
        out.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= DTW_TOPK)
        .select(
            "event_type",
            "h_ms",
            F.col("best").cast("long").alias("dtw_cost"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


# --------------------------------------------------------------------------
# Engle's ARCH LM test: volatility clustering in daily revenue changes
# --------------------------------------------------------------------------
_ARCH_CHI2_5PCT = "3.841458820694124"  # chi^2(1) 95th percentile, literal


def _arch_lm_oracle() -> str:
    return f"""
    WITH days AS MATERIALIZED (
      SELECT dd, cents - lag(cents) OVER (ORDER BY dd) AS dc
      FROM (
        SELECT CAST(o_orderdate AS DATE) AS dd,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
      )
    ),
    diffs AS (SELECT dd, dc FROM days WHERE dc IS NOT NULL),
    mu AS (
      SELECT CAST(sum(dc) AS BIGINT) AS s, count(*) AS n FROM diffs
    ),
    resid AS (
      SELECT dd,
             (dc / 100.0 - (s / 100.0) / n)
             * (dc / 100.0 - (s / 100.0) / n) AS u
      FROM diffs CROSS JOIN mu
    ),
    pairs AS (
      SELECT dd, u, lag(u) OVER (ORDER BY dd) AS v FROM resid
    ),
    acc AS (
      SELECT sum(u) OVER w AS su, sum(v) OVER w AS sv,
             sum(u * v) OVER w AS suv,
             sum(u * u) OVER w AS suu, sum(v * v) OVER w AS svv,
             count(*) OVER w AS n,
             row_number() OVER (ORDER BY dd DESC) AS rdesc
      FROM pairs WHERE v IS NOT NULL
      WINDOW w AS (ORDER BY dd ROWS UNBOUNDED PRECEDING)
    ),
    r AS (
      SELECT n, su, sv, suv, suu, svv,
             (n * suv - su * sv)
             / sqrt((n * suu - su * su) * (n * svv - sv * sv)) AS rho
      FROM acc WHERE rdesc = 1
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           round(rho - 1e-9, 4) + 0.0 AS rho_sq_lag1,
           round(n * rho * rho - 1e-9, 4) + 0.0 AS lm_stat,
           n * rho * rho > {_ARCH_CHI2_5PCT} AS arch_at_5pct
    FROM r
    """


@query("arch_lm_test", _arch_lm_oracle())
def arch_lm_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle's ARCH LM test (order 1) on daily revenue changes: regress
    today's squared mean-adjusted change on yesterday's; LM = n·R² ~
    χ²(1) under homoskedasticity — the standard pre-test before
    fitting any GARCH-family volatility model, and the volatility
    complement of ``ljung_box_whiteness`` (which tests LEVELS; ARCH
    effects live in the squares).  With one regressor R² = ρ², so the
    statistic reduces to the lag-1 autocorrelation of squared
    residuals.

    Determinism: daily deltas are exact integer cents; the mean uses
    the exact integer sum; every 4th-moment accumulation (Σu, Σuv, …)
    runs through an ORDERED window and is read on the last row — the
    registry's float-summation convention (never a bag SUM over
    doubles).  Scale shape: one orders rollup, then all statistics on
    the O(days) frame."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "arch_orders"
    )
    # the O(days) diff frame feeds BOTH the mean subquery and the
    # residual stage — materialize it once so orders is scanned once
    spark.sql(
        """
        SELECT dd, dc FROM (
          SELECT dd, cents - lag(cents) OVER (ORDER BY dd) AS dc
          FROM (
            SELECT CAST(o_orderdate AS DATE) AS dd,
                   CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
                                 AS BIGINT)) AS BIGINT) AS cents
            FROM arch_orders GROUP BY 1
          )
        ) WHERE dc IS NOT NULL
        """
    ).localCheckpoint().createOrReplaceTempView("arch_diffs")
    return spark.sql(
        f"""
        WITH diffs AS (SELECT dd, dc FROM arch_diffs),
        mu AS (
          SELECT CAST(sum(dc) AS BIGINT) AS s, count(*) AS n FROM diffs
        ),
        resid AS (
          SELECT dd,
                 (dc / CAST(100.0 AS DOUBLE) - (s / CAST(100.0 AS DOUBLE)) / n)
                 * (dc / CAST(100.0 AS DOUBLE) - (s / CAST(100.0 AS DOUBLE)) / n) AS u
          FROM diffs CROSS JOIN mu
        ),
        pairs AS (
          SELECT dd, u, lag(u) OVER (ORDER BY dd) AS v FROM resid
        ),
        acc AS (
          SELECT sum(u) OVER w AS su, sum(v) OVER w AS sv,
                 sum(u * v) OVER w AS suv,
                 sum(u * u) OVER w AS suu, sum(v * v) OVER w AS svv,
                 count(*) OVER w AS n,
                 row_number() OVER (ORDER BY dd DESC) AS rdesc
          FROM pairs WHERE v IS NOT NULL
          WINDOW w AS (ORDER BY dd ROWS UNBOUNDED PRECEDING)
        ),
        r AS (
          SELECT n, su, sv, suv, suu, svv,
                 (n * suv - su * sv)
                 / sqrt((n * suu - su * su) * (n * svv - sv * sv)) AS rho
          FROM acc WHERE rdesc = 1
        )
        SELECT CAST(n AS BIGINT) AS n_pairs,
               round(rho - 1e-9, 4) + 0.0 AS rho_sq_lag1,
               round(n * rho * rho - 1e-9, 4) + 0.0 AS lm_stat,
               n * rho * rho > {_ARCH_CHI2_5PCT} AS arch_at_5pct
        FROM r
        """
    )


# --------------------------------------------------------------------------
# two-level binary segmentation: recursive changepoint on daily revenue
# --------------------------------------------------------------------------
@query(
    "binseg_two_level",
    """
    WITH daily AS MATERIALIZED (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    cum AS MATERIALIZED (
      SELECT d, CAST(row_number() OVER w AS BIGINT) AS k,
             CAST(sum(cents) OVER w AS BIGINT) AS cs,
             CAST(count(*) OVER () AS BIGINT) AS n,
             CAST(sum(cents) OVER () AS BIGINT) AS total
      FROM daily
      WINDOW w AS (ORDER BY d ROWS UNBOUNDED PRECEDING)
    ),
    s1 AS (
      SELECT k, d,
             abs(cs * 1.0 / k - (total - cs) * 1.0 / (n - k))
               * sqrt(k * (n - k) * 1.0 / n) AS score,
             (total - cs) * 1.0 / (n - k) - cs * 1.0 / k AS shift
      FROM cum WHERE k < n
    ),
    b1 AS (
      SELECT k, d, score, shift FROM (
        SELECT *, row_number() OVER (ORDER BY score DESC, k) AS r FROM s1
      ) WHERE r = 1
    ),
    bounds AS (SELECT c.k AS k1, c.cs AS cs1 FROM cum c JOIN b1 ON c.k = b1.k),
    s2 AS (
      SELECT 'left' AS segment, c.k, c.d,
             abs(c.cs * 1.0 / c.k
                 - (bo.cs1 - c.cs) * 1.0 / (bo.k1 - c.k))
               * sqrt(c.k * (bo.k1 - c.k) * 1.0 / bo.k1) AS score,
             (bo.cs1 - c.cs) * 1.0 / (bo.k1 - c.k)
               - c.cs * 1.0 / c.k AS shift
      FROM cum c CROSS JOIN bounds bo WHERE c.k < bo.k1
      UNION ALL
      SELECT 'right' AS segment, c.k, c.d,
             abs((c.cs - bo.cs1) * 1.0 / (c.k - bo.k1)
                 - (c.total - c.cs) * 1.0 / (c.n - c.k))
               * sqrt((c.k - bo.k1) * (c.n - c.k) * 1.0
                      / (c.n - bo.k1)) AS score,
             (c.total - c.cs) * 1.0 / (c.n - c.k)
               - (c.cs - bo.cs1) * 1.0 / (c.k - bo.k1) AS shift
      FROM cum c CROSS JOIN bounds bo WHERE c.k > bo.k1 AND c.k < c.n
    ),
    b2 AS (
      SELECT segment, k, d, score, shift FROM (
        SELECT *, row_number() OVER (
          PARTITION BY segment ORDER BY score DESC, k) AS r
        FROM s2
      ) WHERE r = 1
    )
    SELECT segment, CAST(k AS BIGINT) AS split_k,
           CAST(epoch_ms(CAST(d AS TIMESTAMP)) AS BIGINT) AS split_day_ms,
           round(score / 100.0 - 1e-9, 4) + 0.0 AS score_usd,
           round(shift / 100.0 - 1e-9, 4) + 0.0 AS mean_shift_usd
    FROM (
      SELECT 'full' AS segment, k, d, score, shift FROM b1
      UNION ALL
      SELECT segment, k, d, score, shift FROM b2
    ) ORDER BY segment
    """,
)
def binseg_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level binary segmentation on daily order revenue — the
    recursive step ``changepoint_single_split`` stops short of: find
    the best CUSUM split of the full series, then the best split of
    EACH resulting half, emitting the (full, left, right) changepoint
    triple that a PELT/BinSeg segmentation loop would keep recursing
    on.  This is the multi-changepoint primitive behind regime tables
    and drift post-mortems ("revenue stepped twice: here and here").

    The recursion needs NO second scan: every sub-segment statistic is
    a difference of the SAME cumulative frame (segment mean over
    (a, b] = (cs_b − cs_a)/(b − a)), so level 2 reuses the level-1
    window — one day-grain rollup, one global-order cumsum, then two
    1-row broadcasts.  Determinism: cumulative cents are exact int64;
    every mean/score is divisions+sqrt over those ints, bit-identical
    cross-engine; argmaxes tie-break (score DESC, k).  Scale shape:
    the series is day-grain (bounded rows), the corpus-sized scan is
    only the one map-side-combinable day rollup — the
    ``changepoint_plan`` class, one level deeper."""
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(F.sum(cents).cast("long").alias("cents"))
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = daily.select(
        "d",
        F.row_number().over(Window.orderBy("d")).cast("long").alias("k"),
        F.sum("cents").over(w).cast("long").alias("cs"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n"),
        F.sum("cents").over(wall).cast("long").alias("total"),
    ).localCheckpoint()
    mean_l = F.col("cs") * 1.0 / F.col("k")
    mean_r = (F.col("total") - F.col("cs")) * 1.0 / (F.col("n") - F.col("k"))
    s1 = cum.filter(F.col("k") < F.col("n")).select(
        "k",
        "d",
        (
            F.abs(mean_l - mean_r)
            * F.sqrt(
                F.col("k") * (F.col("n") - F.col("k")) * 1.0 / F.col("n")
            )
        ).alias("score"),
        (mean_r - mean_l).alias("shift"),
    )
    wbest = Window.orderBy(F.desc("score"), F.asc("k"))
    b1 = (
        s1.withColumn("r", F.row_number().over(wbest))
        .filter(F.col("r") == 1)
        .drop("r")
    )
    bounds = cum.join(
        b1.select(F.col("k").alias("k1")), F.col("k") == F.col("k1")
    ).select("k1", F.col("cs").alias("cs1"))
    cb = cum.crossJoin(F.broadcast(bounds))
    lm_l = F.col("cs") * 1.0 / F.col("k")
    lm_r = (F.col("cs1") - F.col("cs")) * 1.0 / (F.col("k1") - F.col("k"))
    left = cb.filter(F.col("k") < F.col("k1")).select(
        F.lit("left").alias("segment"),
        "k",
        "d",
        (
            F.abs(lm_l - lm_r)
            * F.sqrt(
                F.col("k") * (F.col("k1") - F.col("k")) * 1.0 / F.col("k1")
            )
        ).alias("score"),
        (lm_r - lm_l).alias("shift"),
    )
    rm_l = (F.col("cs") - F.col("cs1")) * 1.0 / (F.col("k") - F.col("k1"))
    rm_r = (F.col("total") - F.col("cs")) * 1.0 / (F.col("n") - F.col("k"))
    right = cb.filter(
        (F.col("k") > F.col("k1")) & (F.col("k") < F.col("n"))
    ).select(
        F.lit("right").alias("segment"),
        "k",
        "d",
        (
            F.abs(rm_l - rm_r)
            * F.sqrt(
                (F.col("k") - F.col("k1"))
                * (F.col("n") - F.col("k"))
                * 1.0
                / (F.col("n") - F.col("k1"))
            )
        ).alias("score"),
        (rm_r - rm_l).alias("shift"),
    )
    wseg = Window.partitionBy("segment").orderBy(F.desc("score"), F.asc("k"))
    b2 = (
        left.unionByName(right)
        .withColumn("r", F.row_number().over(wseg))
        .filter(F.col("r") == 1)
        .drop("r")
    )
    out = b1.select(
        F.lit("full").alias("segment"), "k", "d", "score", "shift"
    ).unionByName(b2.select("segment", "k", "d", "score", "shift"))
    return out.select(
        "segment",
        F.col("k").alias("split_k"),
        F.unix_millis(F.col("d").cast("timestamp")).alias("split_day_ms"),
        (F.round(F.col("score") / 100.0 - 1e-9, 4) + 0.0).alias("score_usd"),
        (F.round(F.col("shift") / 100.0 - 1e-9, 4) + 0.0).alias(
            "mean_shift_usd"
        ),
    ).orderBy("segment")
