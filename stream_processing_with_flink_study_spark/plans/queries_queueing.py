"""Queueing / hazard / intermittent-demand queries (eighth wave,
continued): sweep-line session concurrency with an EXACT Little's-law
identity check, the Nelson-Aalen cumulative-hazard estimator (the
hazard-scale companion of Kaplan-Meier), and Croston's method for
intermittent demand as a native recursive CTE (the Holt pattern).

Oracle-determinism notes (see plans/registry.py conventions):
- the sweep line runs on integer epoch-millis with a total (t, Δ,
  session) order; the concurrency integral is exact integer
  milliseconds, so Little's L = λ·W holds as INTEGER EQUALITY
  (busy integral = Σ session durations), not approximately;
- Nelson-Aalen terms are rationals of exact at-risk/death counts over
  the tiny distinct-gap-day frame;
- the Croston recursion applies identical IEEE ops to identical
  doubles on both engines (integer demands and gaps), like Holt.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import conf_override
from ..sources import load_table
from .registry import query

SESSION_GAP_MS = 43_200_000  # 12 h — matches event_sessions_batch


@query(
    "concurrency_littles_law",
    f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
        CASE WHEN lag(ts) OVER w IS NULL
                  OR date_diff('millisecond', lag(ts) OVER w, ts)
                     > {SESSION_GAP_MS}
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    marked AS (
      SELECT user_id, ts,
        sum(new_session) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged
    ),
    sessions AS MATERIALIZED (
      SELECT user_id * 100000 + session_seq AS sid,
             epoch_ms(min(ts)) AS start_ms,
             epoch_ms(max(ts)) AS end_ms
      FROM marked GROUP BY user_id, session_seq
    ),
    sweep AS (
      SELECT start_ms AS t, 1 AS delta, sid FROM sessions
      UNION ALL
      SELECT end_ms AS t, -1 AS delta, sid FROM sessions
    ),
    walk AS (
      SELECT t, delta,
             sum(delta) OVER (ORDER BY t, delta DESC, sid
                              ROWS UNBOUNDED PRECEDING) AS c,
             lead(t) OVER (ORDER BY t, delta DESC, sid) AS t_next
      FROM sweep
    ),
    agg AS (
      SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM sessions) AS n_sessions,
        (SELECT CAST(sum(end_ms - start_ms) AS BIGINT) FROM sessions)
          AS total_session_ms,
        CAST(sum(CASE WHEN t_next IS NULL THEN 0
                      ELSE c * (t_next - t) END) AS BIGINT)
          AS busy_integral_ms,
        CAST(max(c) AS BIGINT) AS peak_concurrency,
        CAST(max(t) - min(t) AS BIGINT) AS span_ms
      FROM walk
    )
    SELECT n_sessions, total_session_ms, busy_integral_ms,
           peak_concurrency,
           -- coalesce: Little's law holds VACUOUSLY on zero sessions
           -- (empty-universe parity; both engines otherwise NULL here)
           coalesce(busy_integral_ms = total_session_ms, true)
             AS little_exact,
           round(n_sessions * 3600000.0 / span_ms - 1e-9, 4)
             AS lambda_per_hour,
           round(total_session_ms / 60000.0 / n_sessions - 1e-9, 4)
             AS w_mean_min,
           round(busy_integral_ms * 1.0 / span_ms - 1e-9, 4) AS l_avg
    FROM agg
    """,
)
def concurrency_littles_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line concurrency over 12h-gap user sessions: every session
    emits (+1 at start, −1 at end), the ordered prefix sum is the
    number of simultaneously-active sessions, and integrating it over
    the event segments gives the busy time — which must equal the sum
    of session durations EXACTLY (integer milliseconds), i.e. Little's
    law L·T = λT·W = Σ durations as an identity, verified by the
    ``little_exact`` column rather than asserted approximately.  Peak
    concurrency and the (λ, W, L) triple are the capacity-planning
    numbers every ops review asks for.

    Scale shape: sessionization is one user-keyed window; the sweep
    itself sorts the (2 × #sessions) boundary events — at 100 TB this
    becomes repartitionByRange(t) + per-partition prefix sums + a
    broadcast of per-partition offsets (the standard distributed scan
    decomposition); here the boundary stream is tiny and a single sort
    suffices."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_millis("ts") - F.unix_millis(F.lag("ts").over(w))
                > SESSION_GAP_MS
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    marked = flagged.select(
        "user_id",
        "ts",
        F.sum("new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_seq"),
    )
    sessions = marked.groupBy("user_id", "session_seq").agg(
        F.unix_millis(F.min("ts")).alias("start_ms"),
        F.unix_millis(F.max("ts")).alias("end_ms"),
    ).select(
        (F.col("user_id") * 100000 + F.col("session_seq")).alias("sid"),
        "start_ms",
        "end_ms",
    ).localCheckpoint()
    sweep = sessions.select(
        F.col("start_ms").alias("t"), F.lit(1).alias("delta"), "sid"
    ).unionByName(
        sessions.select(
            F.col("end_ms").alias("t"), F.lit(-1).alias("delta"), "sid"
        )
    )
    wo = Window.orderBy("t", F.desc("delta"), "sid")
    walk = sweep.select(
        "t",
        F.sum("delta")
        .over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .alias("c"),
        F.lead("t").over(wo).alias("t_next"),
    )
    totals = sessions.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum(F.col("end_ms") - F.col("start_ms"))
        .cast("long")
        .alias("total_session_ms"),
    )
    agg = walk.agg(
        F.sum(
            F.when(F.col("t_next").isNull(), 0).otherwise(
                F.col("c") * (F.col("t_next") - F.col("t"))
            )
        )
        .cast("long")
        .alias("busy_integral_ms"),
        F.max("c").cast("long").alias("peak_concurrency"),
        (F.max("t") - F.min("t")).cast("long").alias("span_ms"),
    ).crossJoin(F.broadcast(totals))
    return agg.select(
        "n_sessions",
        "total_session_ms",
        "busy_integral_ms",
        "peak_concurrency",
        # vacuous truth on zero sessions — mirrors the oracle coalesce
        F.coalesce(
            F.col("busy_integral_ms") == F.col("total_session_ms"),
            F.lit(True),
        ).alias("little_exact"),
        F.round(
            F.col("n_sessions") * 3600000.0 / F.col("span_ms") - 1e-9, 4
        ).alias("lambda_per_hour"),
        F.round(
            F.col("total_session_ms") / 60000.0 / F.col("n_sessions") - 1e-9,
            4,
        ).alias("w_mean_min"),
        F.round(
            F.col("busy_integral_ms") * 1.0 / F.col("span_ms") - 1e-9, 4
        ).alias("l_avg"),
    )


@query(
    "nelson_aalen_hazard",
    """
    WITH seq AS (
      SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS d,
             row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ),
    horizon AS (SELECT max(CAST(o_orderdate AS DATE)) AS h FROM orders),
    obs AS MATERIALIZED (
      SELECT CASE WHEN d2 IS NOT NULL
                  THEN date_diff('day', d1, d2)
                  ELSE date_diff('day', d1, (SELECT h FROM horizon))
             END AS t,
             CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM (
        SELECT k,
               max(CASE WHEN rn = 1 THEN d END) AS d1,
               max(CASE WHEN rn = 2 THEN d END) AS d2
        FROM seq WHERE rn <= 2 GROUP BY k
      )
    ),
    grp AS MATERIALIZED (
      SELECT t, CAST(sum(ev) AS BIGINT) AS d_i, count(*) AS c_all
      FROM obs GROUP BY t
    ),
    atrisk AS (
      SELECT t, d_i,
             (SELECT count(*) FROM obs) - coalesce(sum(c_all) OVER (
               ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS n_i
      FROM grp
    )
    SELECT CAST(t AS BIGINT) AS t_days,
           CAST(n_i AS BIGINT) AS n_at_risk,
           d_i AS n_events,
           round(sum(CAST(d_i AS DOUBLE) / n_i) OVER (
                   ORDER BY t ROWS UNBOUNDED PRECEDING) - 1e-9, 4)
             AS cum_hazard,
           round(sqrt(sum(CAST(d_i AS DOUBLE) / (n_i * n_i)) OVER (
                   ORDER BY t ROWS UNBOUNDED PRECEDING)) - 1e-9, 4)
             AS hazard_se
    FROM atrisk
    WHERE d_i > 0
    """,
)
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator for time-to-second-
    order, right-censored at the horizon — ``H(t) = Σ d_i/n_i`` with
    its Poisson-variance standard error — the hazard-scale companion
    of :func:`queries_core.kaplan_meier_reorder` (NA is the estimator
    of choice when hazards, not survival probabilities, drive the
    decision: reorder-rate-per-day curves, maintenance scheduling).
    Same one-window scale shape as KM: facts reduce to the distinct-
    gap-day frame, where the at-risk counts are one right-to-left
    cumulative and H rides a second tiny window."""
    orders = load_table(spark, sf_dir, "orders")
    wq = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = orders.select(
        F.col("o_custkey").alias("k"),
        F.to_date("o_orderdate").alias("d"),
        F.row_number().over(wq).alias("rn"),
    )
    horizon = orders.agg(F.max(F.to_date("o_orderdate"))).first()[0]
    obs = (
        seq.filter(F.col("rn") <= 2)
        .groupBy("k")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("d"))).alias("d1"),
            F.max(F.when(F.col("rn") == 2, F.col("d"))).alias("d2"),
        )
        .select(
            F.when(F.col("d2").isNotNull(), F.datediff("d2", "d1"))
            .otherwise(F.datediff(F.lit(horizon), F.col("d1")))
            .alias("t"),
            F.when(F.col("d2").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    grp = obs.groupBy("t").agg(
        F.sum("ev").cast("long").alias("d_i"),
        F.count(F.lit(1)).alias("c_all"),
    )
    w_tot = Window.partitionBy()
    wp = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    wc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    atrisk = grp.select(
        "t",
        "d_i",
        (
            F.sum("c_all").over(w_tot)
            - F.coalesce(F.sum("c_all").over(wp), F.lit(0))
        ).alias("n_i"),
    )
    return atrisk.select(
        F.col("t").cast("long").alias("t_days"),
        F.col("n_i").cast("long").alias("n_at_risk"),
        F.col("d_i").alias("n_events"),
        F.round(
            F.sum(F.col("d_i").cast("double") / F.col("n_i")).over(wc) - 1e-9,
            4,
        ).alias("cum_hazard"),
        F.round(
            F.sqrt(
                F.sum(
                    F.col("d_i").cast("double")
                    / (F.col("n_i") * F.col("n_i"))
                ).over(wc)
            )
            - 1e-9,
            4,
        ).alias("hazard_se"),
    ).filter(F.col("n_events") > 0)


CROSTON_ALPHA = "CAST(0.2 AS DOUBLE)"
CROSTON_PART_MOD = 97

CROSTON_MAX_STEPS = 48  # UnionLoop costs ~0.3s/step; 48 keeps the
# series meaningful and the bench lean (both engines cap depth at 100)

_CROSTON_SQL = f"""
WITH RECURSIVE nz AS (
  SELECT * FROM (
    SELECT CAST(row_number() OVER (ORDER BY dd) AS BIGINT) - 1 AS idx,
           {{epoch_expr}} AS day_ms, y,
           {{gap_expr}} AS q
    FROM (
      SELECT dd, CAST(sum(qty) AS BIGINT) AS y
      FROM {{demand}}
      GROUP BY dd
    )
  ) WHERE idx < {CROSTON_MAX_STEPS}
),
cr (idx, day_ms, y, q, z, p) AS (
  SELECT n0.idx, n0.day_ms, n0.y, n0.q,
         CAST(n0.y AS DOUBLE), CAST(n1.q AS DOUBLE)
  FROM nz n0 JOIN nz n1 ON n0.idx = 0 AND n1.idx = 1
  UNION ALL
  SELECT n.idx, n.day_ms, n.y, n.q,
         {CROSTON_ALPHA} * n.y + (1 - {CROSTON_ALPHA}) * c.z,
         {CROSTON_ALPHA} * n.q + (1 - {CROSTON_ALPHA}) * c.p
  FROM cr c JOIN nz n ON n.idx = c.idx + 1
)
SELECT idx, day_ms, y, q,
       round(z - 1e-9, 4) AS demand_level,
       round(p - 1e-9, 4) AS interval_level,
       round(z / p - 1e-9, 4) AS forecast_per_day
FROM cr
"""


_CROSTON_ORACLE = _CROSTON_SQL.format(
    demand=f"""(
      SELECT CAST(l_shipdate AS DATE) AS dd,
             CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty
      FROM lineitem WHERE l_partkey % {CROSTON_PART_MOD} = 0
    )""",
    epoch_expr="epoch_ms(CAST(dd AS TIMESTAMP))",
    gap_expr="CAST(coalesce(date_diff('day', lag(dd) OVER "
    "(ORDER BY dd), dd), 0) AS BIGINT)",
)


def croston_recursive_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The native Spark ``WITH RECURSIVE`` form of Croston's method —
    kept as the capability demo and equivalence witness for the
    driver-side form below (`tests/test_recursive_forms.py` asserts
    bit-equality at sf0.001).  Not registered: each UnionLoop round
    costs ~0.4 s of job-launch floor, so 48 rounds were 21 s of the
    round-6 bench for an O(48)-row recursion."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "croston_lineitem"
    )
    return spark.sql(
        _CROSTON_SQL.format(
            demand=f"""(
      SELECT CAST(l_shipdate AS DATE) AS dd,
             CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty
      FROM croston_lineitem WHERE l_partkey % {CROSTON_PART_MOD} = 0
    )""",
            epoch_expr="unix_millis(CAST(dd AS TIMESTAMP))",
            gap_expr="CAST(coalesce(datediff(dd, lag(dd) OVER "
            "(ORDER BY dd)), 0) AS BIGINT)",
        )
    )


@query("croston_intermittent", _CROSTON_ORACLE)
def croston_intermittent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method for INTERMITTENT demand (the spare-parts
    forecasting standard): smooth the nonzero demand sizes and the
    inter-demand intervals SEPARATELY (α=0.2) and forecast their ratio
    — on sparse series, plain exponential smoothing decays toward zero
    between demands and systematically under-forecasts; Croston does
    not.  The demand stream is the shipped quantity of a sparse part
    slice (1/97th of parts), aggregated per ship-day.

    The level recursions depend on the previous SMOOTHED value —
    inexpressible as a window function — so the DuckDB oracle runs a
    native recursive CTE.  The Spark side computes the SAME recursion
    driver-side on the collected day frame (the v-optimal/isotonic
    bounded-frame pattern): the frame is capped at
    ``CROSTON_MAX_STEPS`` = 48 rows by construction — never by row
    count — so the collect is O(1), while the only fact-sized work is
    the distributed filtered rollup that produces it.  Integer demands
    and gaps make every step's IEEE arithmetic bit-identical to the
    oracle's recursion (0.2·y + (1−0.2)·z on the same doubles); the
    final rounding happens in Spark expressions under the repo
    convention.  `croston_recursive_df` keeps the native WITH
    RECURSIVE form, equivalence-tested; `streaming_croston` is the
    honest unbounded path (ValueState carries (z, p))."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "croston_lineitem"
    )
    nz = spark.sql(
        f"""
        SELECT * FROM (
          SELECT CAST(row_number() OVER (ORDER BY dd) AS BIGINT) - 1
                   AS idx,
                 unix_millis(CAST(dd AS TIMESTAMP)) AS day_ms, y,
                 CAST(coalesce(datediff(dd, lag(dd) OVER (ORDER BY dd)),
                               0) AS BIGINT) AS q
          FROM (
            SELECT dd, CAST(sum(qty) AS BIGINT) AS y
            FROM (
              SELECT CAST(l_shipdate AS DATE) AS dd,
                     CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty
              FROM croston_lineitem
              WHERE l_partkey % {CROSTON_PART_MOD} = 0
            )
            GROUP BY dd
          )
        ) WHERE idx < {CROSTON_MAX_STEPS}
        """
    ).collect()  # bounded by CROSTON_MAX_STEPS=48, never by row count
    rows = sorted(nz, key=lambda r: r.idx)
    alpha = 0.2  # same double as the oracle's CAST(0.2 AS DOUBLE)
    out = []
    if len(rows) >= 2:  # oracle base case joins idx 0 with idx 1
        z, p = float(rows[0].y), float(rows[1].q)
        for r in rows:
            if r.idx > 0:
                z = alpha * r.y + (1 - alpha) * z
                p = alpha * r.q + (1 - alpha) * p
            out.append((r.idx, r.day_ms, r.y, r.q, z, p))
    df = spark.createDataFrame(
        out, "idx BIGINT, day_ms BIGINT, y BIGINT, q BIGINT, "
        "z DOUBLE, p DOUBLE"
    )
    return df.select(
        "idx",
        "day_ms",
        "y",
        "q",
        F.round(F.col("z") - 1e-9, 4).alias("demand_level"),
        F.round(F.col("p") - 1e-9, 4).alias("interval_level"),
        F.round(F.col("z") / F.col("p") - 1e-9, 4).alias(
            "forecast_per_day"
        ),
    )


@query(
    "streaming_croston",
    _CROSTON_SQL.format(
        demand=f"""(
      SELECT CAST(l_shipdate AS DATE) AS dd,
             CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty
      FROM lineitem WHERE l_partkey % {CROSTON_PART_MOD} = 0
    )""",
        epoch_expr="epoch_ms(CAST(dd AS TIMESTAMP))",
        gap_expr="CAST(coalesce(date_diff('day', lag(dd) OVER "
        "(ORDER BY dd), dd), 0) AS BIGINT)",
    ),
)
def streaming_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method run THROUGH Structured Streaming under the SAME
    oracle as the recursive-CTE form: the nonzero-demand series feeds
    as two event-time-ordered micro-batches; :func:`..streaming.
    stateful.croston_partials` carries (z, p) ValueState across the
    boundary — including the held-first-observation base case, which
    re-emits row 0 once its successor's gap arrives (update-mode
    semantics) — and applies the identical IEEE recursion, so the
    rolled-up levels are bit-equal to the batch recursion.  The point:
    a recurrence that batch SQL needs WITH RECURSIVE for is the
    NATURAL shape of keyed streaming state."""
    from pyspark.sql.window import Window

    from ..streaming import memory_batches_stream, run_available_now
    from ..streaming.stateful import croston_partials
    from .registry import scratch_dir

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") % CROSTON_PART_MOD == 0
    )
    daily = li.groupBy(
        F.col("l_shipdate").cast("date").alias("dd")
    ).agg(
        F.sum(F.floor(F.col("l_quantity") + 0.5).cast("long"))
        .cast("long")
        .alias("y")
    )
    wo = Window.orderBy("dd")
    nz = (
        daily.select(
            "dd",
            "y",
            (F.row_number().over(wo) - 1).cast("long").alias("idx"),
            F.coalesce(
                F.datediff("dd", F.lag("dd").over(wo)), F.lit(0)
            )
            .cast("long")
            .alias("q"),
        )
        .filter(F.col("idx") < CROSTON_MAX_STEPS)
        .select(
            F.lit(0).cast("long").alias("k"),
            F.col("dd").cast("timestamp").alias("d"),
            "y",
            "q",
            "idx",
        )
    )
    half = CROSTON_MAX_STEPS // 2
    batches = [
        nz.filter(F.col("idx") < half).drop("idx"),
        nz.filter(F.col("idx") >= half).drop("idx"),
    ]
    src_dir = scratch_dir("src_croston_stream_")
    sdf = memory_batches_stream(
        spark, batches, src_dir.path, files_per_trigger=1
    )
    with src_dir, conf_override(spark, {"spark.sql.shuffle.partitions": "4"}):
        with scratch_dir("ck_croston_stream_") as ck:
            got = run_available_now(
                croston_partials(sdf, alpha=0.2), ck, "update"
            )
    agg = got.groupBy("idx").agg(
        F.max("day_ms").alias("day_ms"),
        F.max("y").alias("y"),
        F.max("q").alias("q"),
        F.max("z").alias("z"),
        F.max("p").alias("p"),
    )
    return agg.select(
        "idx",
        "day_ms",
        "y",
        "q",
        F.round(F.col("z") - 1e-9, 4).alias("demand_level"),
        F.round(F.col("p") - 1e-9, 4).alias("interval_level"),
        F.round(F.col("z") / F.col("p") - 1e-9, 4).alias(
            "forecast_per_day"
        ),
    ).orderBy("idx")


# --------------------------------------------------------------------------
# token-bucket rate limiting (two-sided clamped recurrence)
# --------------------------------------------------------------------------
RL_CAP = 600_000  # bucket capacity, micro-tokens (6 requests)
RL_COST = 300_000  # micro-tokens per admitted request
RL_RATE = 1  # refill, micro-tokens per elapsed second
RL_MAX_REPLAY = 12  # batch replay window (recursion depth bound)

_RATE_LIMITER_SQL = f"""
WITH RECURSIVE req AS (
  SELECT * FROM (
    SELECT user_id,
           CAST(row_number() OVER w AS BIGINT) AS idx,
           {{epoch}} AS ts_ms,
           CAST(coalesce(({{epoch}} - lag({{epoch}}) OVER w) {{idiv}} 1000, 0)
                AS BIGINT) AS gap_s
    FROM {{events}} WHERE event_type = 'click'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
  ) WHERE idx <= {{max_idx}}
),
rl (user_id, idx, tok, allowed) AS (
  SELECT user_id, idx,
         CAST({RL_CAP} - {RL_COST} AS BIGINT), {RL_CAP} >= {RL_COST}
  FROM req WHERE idx = 1
  UNION ALL
  SELECT n.user_id, n.idx,
         least({RL_CAP}, r.tok + n.gap_s * {RL_RATE})
           - CASE WHEN least({RL_CAP}, r.tok + n.gap_s * {RL_RATE})
                       >= {RL_COST}
                  THEN {RL_COST} ELSE 0 END,
         least({RL_CAP}, r.tok + n.gap_s * {RL_RATE}) >= {RL_COST}
  FROM rl r JOIN req n
    ON n.user_id = r.user_id AND n.idx = r.idx + 1
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_requests,
       CAST(sum(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT)
         AS n_allowed,
       CAST(sum(CASE WHEN allowed THEN 0 ELSE 1 END) AS BIGINT)
         AS n_denied,
       CAST(max_by(tok, idx) AS BIGINT) AS final_tokens
FROM rl GROUP BY user_id ORDER BY user_id
"""


@query(
    "rate_limiter_replay",
    _RATE_LIMITER_SQL.format(
        events="events", epoch="epoch_ms(ts)", idiv="//",
        max_idx=RL_MAX_REPLAY,
    ),
)
def rate_limiter_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-bucket rate-limiter replay (the API-gateway / quota-audit
    primitive): per user, each click request refills ⌊Δt⌋·rate
    micro-tokens capped at {RL_CAP}, is admitted iff the bucket holds
    {RL_COST}, and admitted requests drain it (replay bounded to the
    first {RL_MAX_REPLAY} requests per user — recursion depth IS the
    cost driver; the streaming twin replays unbounded).  The recurrence
    ``tok ← min(cap, tok + refill) − cost·allowed`` is clamped on BOTH
    sides — unlike the one-sided Lindley ledger
    (``lindley_clamped_balance``), it provably has NO prefix-sum
    flattening, so both engines run the SAME native recursive CTE
    (per-user recursion in lockstep, depth = max clicks/user).
    All-integer arithmetic makes every step exact.

    Scale shape: the recursion is depth-bounded (Spark's recursion
    level limit), which is fine for bounded per-key replay windows;
    the UNBOUNDED path is the streaming twin
    (``streaming_rate_limiter``), whose keyed ValueState replays the
    identical recurrence forever — the pairing demonstrates when
    batch SQL recursion stops scaling and keyed stream state takes
    over.

    The request frame feeding the recursion is MATERIALIZED once
    (localCheckpoint): the recursive execution otherwise re-inlines
    the non-recursive ``req`` CTE — a full events scan plus the
    user-keyed window — into every recursion level (≤{RL_MAX_REPLAY}
    re-scans).  The recursion itself, the demonstration, is
    unchanged."""
    load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "click"
    ).createOrReplaceTempView("rate_limiter_clicks")
    req = spark.sql(
        f"""
        SELECT * FROM (
          SELECT user_id,
                 CAST(row_number() OVER w AS BIGINT) AS idx,
                 unix_millis(ts) AS ts_ms,
                 CAST(coalesce((unix_millis(ts) - lag(unix_millis(ts))
                                OVER w) DIV 1000, 0) AS BIGINT) AS gap_s
          FROM rate_limiter_clicks
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ) WHERE idx <= {RL_MAX_REPLAY}
        """
    ).localCheckpoint()
    req.createOrReplaceTempView("rate_limiter_req_mat")
    rec_tail = _RATE_LIMITER_SQL[_RATE_LIMITER_SQL.index("rl (user_id") :]
    return spark.sql(
        "WITH RECURSIVE req AS (SELECT user_id, idx, ts_ms, gap_s"
        " FROM rate_limiter_req_mat),\n" + rec_tail
    )


@query(
    "streaming_rate_limiter",
    _RATE_LIMITER_SQL.format(
        events="events", epoch="epoch_ms(ts)", idiv="//",
        max_idx=10**9,
    ),
)
def streaming_rate_limiter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The token bucket run THROUGH Structured Streaming under the SAME
    oracle as the recursive-CTE form: clicks feed as two
    event-time-ordered micro-batches;
    :func:`..streaming.stateful.token_bucket_partials` carries
    (idx, tokens, last_ts) ValueState across the boundary and applies
    the identical integer recurrence, so the per-user decision log —
    and therefore the admitted/denied rollup — is bit-equal to the
    batch recursion.  The point: the two-sided clamp that forces batch
    SQL into depth-bounded recursion is ONE comparison per event in
    keyed stream state, with no depth limit — this is the 100 TB
    shape."""
    from ..streaming import memory_batches_stream, run_available_now
    from ..streaming.stateful import token_bucket_partials
    from .registry import scratch_dir

    clicks = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select("user_id", "ts", "event_id")
    )
    cut = clicks.agg(
        F.expr("percentile_approx(unix_millis(ts), 0.5)")
    ).collect()[0][0]
    batches = [
        clicks.filter(F.unix_millis("ts") <= cut),
        clicks.filter(F.unix_millis("ts") > cut),
    ]
    src_dir = scratch_dir("src_rate_limiter_stream_")
    sdf = memory_batches_stream(
        spark, batches, src_dir.path, files_per_trigger=1
    )
    with src_dir, conf_override(spark, {"spark.sql.shuffle.partitions": "4"}):
        with scratch_dir("ck_rate_limiter_stream_") as ck:
            got = run_available_now(
                token_bucket_partials(
                    sdf, cap=RL_CAP, cost=RL_COST, rate_per_s=RL_RATE
                ),
                ck,
                "update",
            )
    return (
        got.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_requests"),
            F.sum(F.when(F.col("allowed"), 1).otherwise(0))
            .cast("long")
            .alias("n_allowed"),
            F.sum(F.when(F.col("allowed"), 0).otherwise(1))
            .cast("long")
            .alias("n_denied"),
            F.max_by("tok", "idx").cast("long").alias("final_tokens"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# historical VaR / CVaR of daily revenue changes
# --------------------------------------------------------------------------
_VAR_SQL = """
WITH days AS (
  SELECT dd, cents,
         cents - lag(cents) OVER (ORDER BY dd) AS d
  FROM (
    SELECT CAST(o_orderdate AS DATE) AS dd,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS cents
    FROM {orders} GROUP BY 1
  )
),
diffs AS (
  SELECT dd, d FROM days WHERE d IS NOT NULL
),
ranked AS {MAT}(
  SELECT d,
         row_number() OVER (ORDER BY d, dd) AS rn,
         row_number() OVER (ORDER BY d DESC, dd DESC) AS rn_hi,
         count(*) OVER () AS n
  FROM diffs
),
k AS (SELECT CAST(max(n) AS BIGINT) AS n,
             (CAST(max(n) AS BIGINT) + 19) {IDIV} 20 AS k
      FROM ranked)
SELECT k.n AS n_days,
       round(-(SELECT d FROM ranked, k WHERE rn = k.k) / 100.0
             - 1e-9, 2) + 0.0 AS var95_usd,
       round(-(SELECT sum(d) FROM ranked, k WHERE rn <= k.k)
             / (k.k * 100.0) - 1e-9, 2) + 0.0 AS cvar95_usd,
       round((SELECT d FROM ranked, k WHERE rn_hi = k.k) / 100.0
             - 1e-9, 2) + 0.0 AS var95_gain_usd
FROM k
"""


@query(
    "var_cvar_daily_revenue",
    _VAR_SQL.replace("{orders}", "orders").replace("{IDIV}", "//").replace(
        "{MAT}", "MATERIALIZED "
    ),
)
def var_cvar_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical 95% Value-at-Risk and CVaR (expected shortfall) of
    the day-over-day revenue CHANGE — "on a bad day (1-in-20), how
    much does revenue drop, and how bad is the average such day?"
    CVaR is the coherent-risk upgrade of VaR (subadditive; it sees
    how heavy the tail is, not just where it starts).

    Determinism: the 5% cut is the POSITIONAL order statistic at
    k = ⌈n/20⌉ computed by integer arithmetic ((n+19) div 20) and a
    (diff, day) tie-broken row_number — no percentile interpolation
    semantics to disagree on — and CVaR is the exact integer mean of
    the cent diffs at rank ≤ k.  One fact rollup to days, one lag,
    one sort of the day frame."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "var_orders"
    )
    return spark.sql(
        _VAR_SQL.replace("{orders}", "var_orders")
        .replace("{IDIV}", "DIV")
        .replace("{MAT}", "")
    )


# --------------------------------------------------------------------------
# newsvendor: critical-fractile stocking for the sparse-part demand
# --------------------------------------------------------------------------
NV_CU = 9  # unit underage cost (lost margin)
NV_CO = 1  # unit overage cost (holding/scrap)

_NV_SQL = f"""
WITH demand AS (
  SELECT dd, CAST(sum(qty) AS BIGINT) AS y
  FROM (
    SELECT CAST(l_shipdate AS DATE) AS dd,
           CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty
    FROM {{lineitem}} WHERE l_partkey % {CROSTON_PART_MOD} = 0
  ) GROUP BY dd
),
ranked AS {{MAT}}(
  SELECT y, row_number() OVER (ORDER BY y, dd) AS rn,
         count(*) OVER () AS n, sum(y) OVER () AS s
  FROM demand
),
q AS (
  SELECT CAST(max(n) AS BIGINT) AS n,
         CAST(max(s) AS BIGINT) AS s,
         (SELECT y FROM ranked
          WHERE rn = ({NV_CU} * (SELECT max(n) FROM ranked)
                      + {NV_CU + NV_CO} - 1) {{IDIV}} {NV_CU + NV_CO})
           AS q_star
  FROM ranked
),
costs AS {{MAT}}(
  SELECT q.n, q.s, q.q_star, q.s {{IDIV}} q.n AS q_mean,
         CAST(sum(greatest(r.y - q.q_star, 0)) AS BIGINT) AS under_star,
         CAST(sum(greatest(q.q_star - r.y, 0)) AS BIGINT) AS over_star,
         CAST(sum(greatest(r.y - q.s {{IDIV}} q.n, 0)) AS BIGINT)
           AS under_mean,
         CAST(sum(greatest(q.s {{IDIV}} q.n - r.y, 0)) AS BIGINT)
           AS over_mean
  FROM ranked r CROSS JOIN q
  GROUP BY q.n, q.s, q.q_star
)
SELECT n AS n_days, q_star, q_mean,
       round(({NV_CU}.0 * under_star + {NV_CO}.0 * over_star) / n
             - 1e-9, 4) + 0.0 AS exp_cost_star,
       round(({NV_CU}.0 * under_mean + {NV_CO}.0 * over_mean) / n
             - 1e-9, 4) + 0.0 AS exp_cost_mean_stock,
       round(CAST(1 AS DOUBLE)
             - ({NV_CU}.0 * under_star + {NV_CO}.0 * over_star)
               / ({NV_CU}.0 * under_mean + {NV_CO}.0 * over_mean)
             - 1e-9, 4) + 0.0 AS savings_share
FROM costs
"""


@query(
    "newsvendor_stock_level",
    _NV_SQL.replace("{lineitem}", "lineitem").replace("{IDIV}", "//").replace(
        "{MAT}", "MATERIALIZED "
    ),
)
def newsvendor_stock_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newsvendor critical-fractile stocking for the intermittent-part
    daily demand (the SAME sparse slice ``croston_intermittent``
    forecasts): with underage cost {NV_CU} and overage cost {NV_CO},
    the optimal stock is the cu/(cu+co) = 0.9 empirical demand
    quantile — and the query also prices the naive stock-the-mean
    policy to show the asymmetric-cost gap (``savings_share``), which
    is the entire reason the newsvendor model exists.

    Determinism: the quantile is the positional order statistic at
    ⌈0.9·n⌉ via pure integer arithmetic; both policies' expected
    costs are exact integer sums of one-sided deviations.  Tests pin
    the optimality law: the fractile stock's cost is minimal on the
    empirical distribution, so ≤ the mean-stock cost."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "nv_lineitem"
    )
    return spark.sql(
        _NV_SQL.replace("{lineitem}", "nv_lineitem")
        .replace("{IDIV}", "DIV")
        .replace("{MAT}", "")
    )


# --------------------------------------------------------------------------
# Weibull reliability fit on interpurchase intervals (median-rank regression)
# --------------------------------------------------------------------------
_WEIBULL_SQL = """
WITH iv AS (
  SELECT {DD} AS t
  FROM (
    SELECT CAST(o_orderdate AS DATE) AS d,
           lag(CAST(o_orderdate AS DATE)) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS dl
    FROM {orders}
  ) WHERE dl IS NOT NULL AND {DD} >= 1
),
ranked AS (
  SELECT t,
         row_number() OVER (ORDER BY t) AS i,
         count(*) OVER () AS n
  FROM iv
),
q AS {MAT}(
  -- 1e-4-quantized logs -> exact BIGINT regression moments (ties share
  -- x, and the multiset of plotting positions per tie group is fixed,
  -- so within-tie rank order can never change any moment)
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(xq) AS BIGINT) AS sx, CAST(sum(yq) AS BIGINT) AS sy,
         CAST(sum(xq * yq) AS BIGINT) AS sxy,
         CAST(sum(xq * xq) AS BIGINT) AS sxx,
         CAST(sum(yq * yq) AS BIGINT) AS syy
  FROM (
    SELECT CAST(floor(ln(CAST(t AS DOUBLE)) * 10000 + 0.5) AS BIGINT)
             AS xq,
           CAST(floor(ln(-ln(1.0 - (i - 0.3) / (n + 0.4))) * 10000 + 0.5)
                AS BIGINT) AS yq
    FROM ranked
  )
),
fit AS {MAT}(
  SELECT n,
         (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS k,
         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
         CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd,
         CAST(sxy AS DOUBLE) AS sxyd
  FROM q
)
SELECT n AS n_intervals,
       round(k - 1e-9, 4) + 0.0 AS shape_k,
       -- intercept b = (Σy − kΣx)/n in 1e-4 units; scale λ = exp(−b/k)
       round(exp(-((syd - k * sxd) / n / 10000.0) / k) - 1e-9, 2) + 0.0
         AS scale_days,
       round((n * sxyd - sxd * syd) * (n * sxyd - sxd * syd)
             / ((n * sxxd - sxd * sxd) * (n * syyd - syd * syd))
             - 1e-9, 4) + 0.0 AS r2
FROM fit
"""


@query(
    "weibull_interpurchase_fit",
    _WEIBULL_SQL.replace("{orders}", "orders")
    .replace("{DD}", "date_diff('day', dl, d)")
    .replace("{MAT}", "MATERIALIZED "),
)
def weibull_interpurchase_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull reliability fit of customer interpurchase times by
    median-rank regression — the classic probability-plot estimator:
    sort the n intervals, assign Bernard plotting positions
    F̂ᵢ = (i−0.3)/(n+0.4), and regress ln(−ln(1−F̂)) on ln t; the slope
    is the Weibull shape k (k < 1 ⇒ reorder hazard FALLS with time —
    churn risk concentrates early; k > 1 ⇒ wear-out buying) and
    exp(−b/k) is the scale in days.  ``r2`` reports how Weibull the
    data actually is.

    Determinism: both log coordinates are quantized to exact 1e-4
    integer units BEFORE the moments, so all five regression sums are
    exact BIGINT (xq ≤ 9e4 ⇒ Σxq² ≈ 1e16 at sf10 — under 2^63); ties
    share x and the multiset of ranks within a tie group is fixed, so
    the window's within-tie order cannot affect any sum.  Slope and R²
    are fixed IEEE trees; λ's single exp() lands on a 2-dp round with
    the standing −1e-9 guard.

    Scale shape: one orders scan with a per-customer lag window (same
    partitioning as ``interpurchase_interval_stats``), one global rank
    sort (the percentile pattern), O(1) estimation."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "weib_orders"
    )
    return spark.sql(
        _WEIBULL_SQL.replace("{orders}", "weib_orders")
        .replace("{DD}", "datediff(d, dl)")
        .replace("{MAT}", "")
    )


# --------------------------------------------------------------------------
# Erlang-C staffing: agents needed so P(wait) <= SLA at the peak hour
# --------------------------------------------------------------------------
ERLANG_C_MAX = 40
ERLANG_SLA = 0.2  # max acceptable P(wait); exact binary fraction
# service time = 1/16 hour (3.75 min): exact binary fraction, so the
# offered load a = lambda/16 is an exact double for any integer lambda

_ERLANG_TAIL = """
erlc AS {MAT}(
  SELECT b.c, b.bq,
         CASE WHEN CAST(b.c AS DOUBLE) > CAST(p.lam AS DOUBLE) / 16.0
              THEN round((b.bq / 1000000000000.0)
                         / (1.0 - (CAST(p.lam AS DOUBLE) / 16.0 / b.c)
                                  * (1.0 - b.bq / 1000000000000.0))
                         - 1e-9, 6) + 0.0
              ELSE NULL END AS p_wait
  FROM btab b CROSS JOIN peak p
),
sel AS (
  SELECT min(c) AS cstar FROM erlc
  WHERE p_wait IS NOT NULL AND p_wait <= {SLA}
)
SELECT p.lam AS peak_arrivals_per_hr,
       round(CAST(p.lam AS DOUBLE) / 16.0 - 1e-9, 4) + 0.0
         AS offered_load_erlangs,
       CAST(coalesce(s.cstar, -1) AS BIGINT) AS agents_needed,
       (SELECT e.p_wait FROM erlc e CROSS JOIN sel s2
        WHERE e.c = s2.cstar) AS p_wait_at_staffing,
       CASE WHEN s.cstar IS NOT NULL
            THEN round(CAST(p.lam AS DOUBLE) / 16.0 / s.cstar - 1e-9, 4)
                 + 0.0
            ELSE CAST(NULL AS DOUBLE) END AS utilization
FROM peak p CROSS JOIN sel s
"""


def _erlang_oracle() -> str:
    rounds = ["b0 AS (SELECT CAST(1000000000000 AS BIGINT) AS bq)"]
    for c in range(1, ERLANG_C_MAX + 1):
        # Erlang-B recursion B(c) = aB/(c + aB), re-quantized to exact
        # 1e-12 ints each step so both engines walk identical states
        rounds.append(f"""b{c} AS (
  SELECT CAST(floor(CAST(p.lam AS DOUBLE) / 16.0 * b.bq
                    / ({c} * 1000000000000.0
                       + CAST(p.lam AS DOUBLE) / 16.0 * b.bq)
                    * 1000000000000.0 + 0.5) AS BIGINT) AS bq
  FROM b{c - 1} b CROSS JOIN peak p
)""")
    btab = " UNION ALL ".join(
        f"SELECT {c} AS c, bq FROM b{c}" for c in range(1, ERLANG_C_MAX + 1)
    )
    return (
        """
    WITH hours AS (
      SELECT date_trunc('hour', ts) AS h, count(*) AS c
      FROM events GROUP BY 1
    ),
    peak AS (SELECT CAST(max(c) AS BIGINT) AS lam FROM hours),
    """
        + ",\n".join(rounds)
        + f",\nbtab AS MATERIALIZED ({btab}),\n"
        + _ERLANG_TAIL.replace("{MAT}", "MATERIALIZED ").replace(
            "{SLA}", str(ERLANG_SLA)
        )
    )


@query("erlang_c_staffing", _erlang_oracle())
def erlang_c_staffing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erlang-C staffing: given the PEAK hourly event arrival rate and
    a 3.75-minute mean handle time (1/16 h — an exact binary fraction,
    so the offered load a = λ/16 is an exact double), how many agents
    c are needed so the probability an arrival waits, C(c, a), is ≤
    20%?  Classic M/M/c: Erlang-B by the stable recursion
    B(c) = aB(c−1)/(c + aB(c−1)), then C = B/(1 − ρ(1−B)), scanning
    c = 1..40 for the smallest compliant staffing (−1 if the table is
    exhausted — the bounded-recursion honesty flag).

    Determinism: B re-quantizes to an exact 1e-12 integer each step —
    the recursion is a walk through identical integer states in the
    driver-side loop here and the oracle's 40 unrolled CTEs; the SLA
    compare uses the ROUNDED P(wait) on both sides.  Complements
    ``concurrency_littles_law`` (measured L = λW) with the normative
    staffing answer.

    Scale shape: the corpus work is one hourly count rollup; the
    recursion runs on a single scalar — driver-side per the
    bounded-frame pattern (``croston_intermittent`` lesson: recursion
    ROUNDS, not data, are the cost of the SQL form)."""
    import math

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "erl_events"
    )
    lam = spark.sql(
        "SELECT CAST(max(c) AS BIGINT) AS lam FROM ("
        "SELECT date_trunc('hour', ts) AS h, count(*) AS c "
        "FROM erl_events GROUP BY 1)"
    ).collect()[0]["lam"]
    if lam is None:
        # empty event stream: the oracle's staffing scan still emits
        # its single row — NULL load/probability columns and the
        # sentinel agents_needed = -1 (no staffing level evaluated) —
        # mirror it exactly (round-12 degenerate sweep)
        return spark.createDataFrame(
            [(None, None, -1, None, None)],
            "peak_arrivals_per_hr double, offered_load_erlangs double, "
            "agents_needed long, p_wait_at_staffing double, "
            "utilization double",
        )
    bq, vals = 1_000_000_000_000, []
    for c in range(1, ERLANG_C_MAX + 1):
        bq = math.floor(
            float(lam) / 16.0 * bq
            / (c * 1000000000000.0 + float(lam) / 16.0 * bq)
            * 1000000000000.0
            + 0.5
        )
        vals.append(f"({c}, {bq})")
    return spark.sql(
        f"WITH peak AS (SELECT CAST({lam} AS BIGINT) AS lam),\n"
        f"btab AS (SELECT * FROM VALUES {', '.join(vals)} AS t(c, bq)),\n"
        + _ERLANG_TAIL.replace("{MAT}", "").replace(
            "{SLA}", str(ERLANG_SLA)
        )
    )


# --------------------------------------------------------------------------
# Aalen-Johansen cumulative incidence: returned vs fulfilled, competing
# --------------------------------------------------------------------------
CIF_CENSOR_AT = 60

_CIF_SQL = f"""
WITH obs AS {{MAT}}(
  SELECT CASE WHEN dly > {CIF_CENSOR_AT} THEN {CIF_CENSOR_AT}
              ELSE dly END AS t,
         CASE WHEN dly > {CIF_CENSOR_AT} THEN 0
              WHEN has_r = 1 THEN 1 ELSE 2 END AS ev
  FROM (
    SELECT CAST({{DD}} AS BIGINT) AS dly, li.has_r
    FROM {{orders}} o
    JOIN (SELECT l_orderkey,
                 min(CAST(l_shipdate AS DATE)) AS first_ship,
                 max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                   AS has_r
          FROM {{lineitem}} GROUP BY l_orderkey) li
      ON li.l_orderkey = o.o_orderkey
  )
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n0 FROM obs),
risk AS {{MAT}}(
  SELECT t,
         CAST(sum(CASE WHEN ev = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
         CAST(sum(CASE WHEN ev = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
         CAST(count(*) AS BIGINT) AS c_all
  FROM obs GROUP BY t
),
atrisk AS {{MAT}}(
  SELECT r.t, r.d1, r.d2,
         nn.n0 - CAST(coalesce(sum(r.c_all) OVER (
           ORDER BY r.t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS n_at
  FROM risk r CROSS JOIN nn
),
surv AS {{MAT}}(
  -- S(t-) as exp of the ln-sum over strictly-earlier factors, with
  -- the kaplan_meier zero-factor flag pinning exact zeros
  SELECT t, d1, d2, n_at,
         CASE WHEN coalesce(sum(CASE WHEN n_at = d1 + d2 THEN 1 ELSE 0
                                END) OVER w1, 0) > 0 THEN 0.0
              ELSE exp(coalesce(sum(CASE WHEN n_at > d1 + d2 THEN
                         ln(1.0 - CAST(d1 + d2 AS DOUBLE) / n_at)
                         ELSE 0.0 END) OVER w1, 0.0)) END AS s_minus
  FROM atrisk
  WINDOW w1 AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                AND 1 PRECEDING)
),
inc AS {{MAT}}(
  -- 1e-9-quantized increments: cumulative incidence is then an exact
  -- ordered integer cumsum in both engines
  SELECT t,
         CAST(floor(s_minus * d1 / n_at * 1000000000 + 0.5) AS BIGINT)
           AS i1,
         CAST(floor(s_minus * d2 / n_at * 1000000000 + 0.5) AS BIGINT)
           AS i2,
         CAST(floor(s_minus * (1.0 - CAST(d1 + d2 AS DOUBLE) / n_at)
                    * 1000000000 + 0.5) AS BIGINT) AS sq
  FROM surv
),
cif AS {{MAT}}(
  SELECT t,
         CAST(sum(i1) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS c1,
         CAST(sum(i2) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS c2,
         sq
  FROM inc
),
grid AS (
  SELECT 7 AS g UNION ALL SELECT 14 UNION ALL SELECT 30
  UNION ALL SELECT 45 UNION ALL SELECT {CIF_CENSOR_AT}
),
pick AS {{MAT}}(
  SELECT g.g, max(c.t) AS t FROM grid g JOIN cif c ON c.t <= g.g
  GROUP BY g.g
)
SELECT p.g AS horizon_days,
       round(c.c1 / 1000000000.0 - 1e-9, 6) + 0.0 AS cif_returned,
       round(c.c2 / 1000000000.0 - 1e-9, 6) + 0.0 AS cif_fulfilled,
       round(c.sq / 1000000000.0 - 1e-9, 6) + 0.0 AS surviving,
       round((c.c1 + c.c2 + c.sq) / 1000000000.0 - 1e-9, 4) + 0.0
         AS mass_check
FROM pick p JOIN cif c ON c.t = p.t
ORDER BY p.g
"""


@query(
    "competing_risks_cif",
    _CIF_SQL.replace("{orders}", "orders")
    .replace("{lineitem}", "lineitem")
    .replace(
        "{DD}",
        "date_diff('day', CAST(o.o_orderdate AS DATE), li.first_ship)",
    )
    .replace("{MAT}", "MATERIALIZED "),
)
def competing_risks_cif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aalen-Johansen cumulative incidence under COMPETING RISKS: from
    order placement, an order's first shipment resolves either as
    "contains a returned line" (risk 1) or "clean fulfilment" (risk
    2), censored at 60 days; CIF_k(t) = Σ_{{s≤t}} S(s−)·d_ks/n_s is
    the probability of resolving BY WAY OF risk k by day t.  The
    textbook error this query exists to prevent: 1−KM per risk
    ("cause-specific KM") overstates each incidence because it treats
    the other risk as censoring — AJ increments share ONE overall
    survival factor, so CIF₁ + CIF₂ + S(t) = 1 exactly
    (``mass_check``, pinned by tests/test_wave15.py).

    Determinism: the survival prefix product rides the
    ``kaplan_meier_reorder`` exp-sum-ln + zero-factor-flag pattern;
    every AJ increment quantizes to an exact 1e-9 integer, so the
    cumulative incidences are ordered integer cumsums — identical in
    both engines.  Scale shape: one lineitem rollup + orders join,
    then all survival math on the O(61)-row day frame."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "cif_orders"
    )
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "cif_lineitem"
    )
    return spark.sql(
        _CIF_SQL.replace("{orders}", "cif_orders")
        .replace("{lineitem}", "cif_lineitem")
        .replace(
            "{DD}",
            "datediff(li.first_ship, CAST(o.o_orderdate AS DATE))",
        )
        .replace("{MAT}", "")
    )


# --------------------------------------------------------------------------
# Kalman local-level filter over monthly revenue (the Croston/Holt
# recursion idiom: recursive-CTE oracle, bounded-frame driver recursion)
# --------------------------------------------------------------------------
KALMAN_Q = 0.1  # process-noise / R ratio: gain ladder is data-independent
KALMAN_R = 1.0
KALMAN_MAX_STEPS = 96  # TPC-H spans ~80 months; bound by construction

_KALMAN_SQL = f"""
WITH RECURSIVE series AS (
  SELECT * FROM (
    SELECT CAST(row_number() OVER (ORDER BY mth) AS BIGINT) - 1 AS idx,
           {{epoch_expr}} AS month_ms,
           CAST(cents AS DOUBLE) / 100.0 AS y
    FROM (
      SELECT {{month_expr}} AS mth,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM {{orders}} GROUP BY 1
    )
  ) WHERE idx < {KALMAN_MAX_STEPS}
),
kf (idx, month_ms, y, level, p, gain, innov) AS (
  SELECT idx, month_ms, y, y, CAST({KALMAN_R!r} AS DOUBLE),
         CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)
  FROM series WHERE idx = 0
  UNION ALL
  SELECT s.idx, s.month_ms, s.y,
         k.level + ((k.p + {KALMAN_Q!r}) / (k.p + {KALMAN_Q!r}
                    + {KALMAN_R!r})) * (s.y - k.level),
         (1 - (k.p + {KALMAN_Q!r}) / (k.p + {KALMAN_Q!r}
               + {KALMAN_R!r})) * (k.p + {KALMAN_Q!r}),
         (k.p + {KALMAN_Q!r}) / (k.p + {KALMAN_Q!r} + {KALMAN_R!r}),
         s.y - k.level
  FROM kf k JOIN series s ON s.idx = k.idx + 1
)
SELECT idx, month_ms,
       round(y - 1e-9, 4) + 0.0 AS y_usd,
       round(level - 1e-9, 4) + 0.0 AS level_usd,
       round(gain, 6) + 0.0 AS gain,
       round(innov - 1e-9, 4) + 0.0 AS innovation_usd
FROM kf
"""


@query(
    "kalman_local_level",
    _KALMAN_SQL.format(
        orders="orders",
        month_expr="date_trunc('month', CAST(o_orderdate AS DATE))",
        epoch_expr="epoch_ms(CAST(mth AS TIMESTAMP))",
    ),
)
def kalman_local_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kalman filter (local-level / random-walk-plus-noise model) over
    the monthly revenue series: predict P⁻ = P + Q, gain K =
    P⁻/(P⁻ + R), update level += K·innovation — the optimal recursive
    estimator every streaming anomaly detector and forecast system
    builds on, and the probabilistic upgrade of ``ewma_smoothing``
    (an EWMA is exactly the STEADY-STATE Kalman gain; here the early
    rows show the transient where the filter still trusts data more).
    With literal (Q, R) the gain ladder is data-independent and
    converges geometrically; innovations are the one-step-ahead
    forecast errors a monitoring rule pages on.

    Determinism: y is exact integer cents cast once to double; every
    recursion step applies the identical IEEE expression tree in both
    engines (the Croston/Holt precedent).  The DuckDB oracle runs the
    native recursive CTE; Spark runs the SAME recursion driver-side on
    the collected month frame — bounded at KALMAN_MAX_STEPS=96 rows BY
    CONSTRUCTION (TPC-H spans ~80 months), never by row count, so the
    collect is O(1) while the only fact-sized work is the distributed
    monthly rollup that produces it.  Scale shape at 100 TB: the
    rollup is one map-side-combinable aggregate; the filter itself is
    O(months) regardless of corpus size — or swaps to the ValueState
    twin pattern (``streaming_croston``) for unbounded series."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "kalman_orders"
    )
    series = spark.sql(
        f"""
        SELECT * FROM (
          SELECT CAST(row_number() OVER (ORDER BY mth) AS BIGINT) - 1
                   AS idx,
                 unix_millis(CAST(mth AS TIMESTAMP)) AS month_ms,
                 CAST(cents AS DOUBLE) / 100.0 AS y
          FROM (
            SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS mth,
                   CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
                                 AS BIGINT)) AS BIGINT) AS cents
            FROM kalman_orders GROUP BY 1
          )
        ) WHERE idx < {KALMAN_MAX_STEPS}
        """
    ).collect()  # bounded by KALMAN_MAX_STEPS, never by row count
    rows = sorted(series, key=lambda r: r.idx)
    out = []
    level, p = None, None
    for r in rows:
        if r.idx == 0:
            level, p, gain, innov = float(r.y), KALMAN_R, 0.0, 0.0
        else:
            p_pred = p + KALMAN_Q
            gain = p_pred / (p_pred + KALMAN_R)
            innov = r.y - level
            level = level + gain * innov
            p = (1 - gain) * p_pred
        out.append((r.idx, r.month_ms, float(r.y), level, gain, innov))
    df = spark.createDataFrame(
        out,
        "idx BIGINT, month_ms BIGINT, y DOUBLE, level DOUBLE,"
        " gain DOUBLE, innov DOUBLE",
    )
    return df.select(
        "idx",
        "month_ms",
        (F.round(F.col("y") - 1e-9, 4) + 0.0).alias("y_usd"),
        (F.round(F.col("level") - 1e-9, 4) + 0.0).alias("level_usd"),
        (F.round(F.col("gain"), 6) + 0.0).alias("gain"),
        (F.round(F.col("innov") - 1e-9, 4) + 0.0).alias(
            "innovation_usd"
        ),
    )


@query(
    "streaming_kalman_level",
    _KALMAN_SQL.format(
        orders="orders",
        month_expr="date_trunc('month', CAST(o_orderdate AS DATE))",
        epoch_expr="epoch_ms(CAST(mth AS TIMESTAMP))",
    ),
)
def streaming_kalman_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Kalman local-level filter run THROUGH Structured Streaming
    under the SAME oracle as the recursive-CTE form: the monthly
    revenue series feeds as two event-time-ordered micro-batches;
    :func:`..streaming.stateful.kalman_partials` carries
    (idx, level, P) ValueState across the boundary and applies the
    identical IEEE predict/gain/update tree, so every filtered level
    and innovation is bit-equal to the batch recursion.  The point —
    same as ``streaming_croston`` — is that the recurrence batch SQL
    needs WITH RECURSIVE for is the NATURAL shape of keyed streaming
    state; a production anomaly pager IS this query with an alert sink
    on the innovation column."""
    from ..streaming import memory_batches_stream, run_available_now
    from ..streaming.stateful import kalman_partials
    from .registry import scratch_dir

    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "skalman_orders"
    )
    series = spark.sql(
        f"""
        SELECT * FROM (
          SELECT CAST(row_number() OVER (ORDER BY mth) AS BIGINT) - 1
                   AS idx,
                 CAST(mth AS TIMESTAMP) AS d,
                 CAST(cents AS DOUBLE) / 100.0 AS y
          FROM (
            SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS mth,
                   CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
                                 AS BIGINT)) AS BIGINT) AS cents
            FROM skalman_orders GROUP BY 1
          )
        ) WHERE idx < {KALMAN_MAX_STEPS}
        """
    ).select(F.lit(0).cast("long").alias("k"), "d", "y", "idx")
    half = KALMAN_MAX_STEPS // 2
    batches = [
        series.filter(F.col("idx") < half).drop("idx"),
        series.filter(F.col("idx") >= half).drop("idx"),
    ]
    src_dir = scratch_dir("src_kalman_stream_")
    sdf = memory_batches_stream(
        spark, batches, src_dir.path, files_per_trigger=1
    )
    with src_dir, conf_override(spark, {"spark.sql.shuffle.partitions": "4"}):
        with scratch_dir("ck_kalman_stream_") as ck:
            got = run_available_now(
                kalman_partials(sdf, q_var=KALMAN_Q, r_var=KALMAN_R),
                ck,
                "update",
            )
    return got.select(
        "idx",
        "month_ms",
        (F.round(F.col("y") - 1e-9, 4) + 0.0).alias("y_usd"),
        (F.round(F.col("level") - 1e-9, 4) + 0.0).alias("level_usd"),
        (F.round(F.col("gain"), 6) + 0.0).alias("gain"),
        (F.round(F.col("innov") - 1e-9, 4) + 0.0).alias(
            "innovation_usd"
        ),
    ).orderBy("idx")


# --------------------------------------------------------------------------
# UCB1 bandit replay: deterministic offline policy evaluation
# --------------------------------------------------------------------------
UCB_ARMS = ["click", "error", "purchase", "signup", "view"]
UCB_MAX_REPLAY = 60  # bounded replay window (recursion depth bound)
UCB_REWARD_CENTS = 5000  # reward = 1 iff event value > $50 exactly


def _ucb_chosen_sql() -> str:
    """UCB1 arm choice as dialect-free SQL over the state columns
    n_<a>/w_<a>: unplayed arms first (fixed order — the standard init),
    then argmax of mean + sqrt(2 ln t / n) with a >=-chain tie-break in
    arm order.  Every score is ONE division + one sqrt/ln over exact
    ints, so the comparison doubles are bit-identical cross-engine."""
    t = "CAST(" + " + ".join(f"n_{a[0]}" for a in UCB_ARMS) + " + 1 AS DOUBLE)"
    ucb = {
        a: f"(w_{a[0]} * 1.0 / n_{a[0]}"
        f" + sqrt(2.0 * ln({t}) / n_{a[0]}))"
        for a in UCB_ARMS
    }
    cases = [
        f"WHEN n_{a[0]} = 0 THEN '{a[0]}'" for a in UCB_ARMS
    ]
    for k, a in enumerate(UCB_ARMS[:-1]):
        geq = " AND ".join(
            f"{ucb[a]} >= {ucb[b]}" for b in UCB_ARMS[k + 1:]
        )
        cases.append(f"WHEN {geq} THEN '{a[0]}'")
    return (
        "CASE " + " ".join(cases) + f" ELSE '{UCB_ARMS[-1][0]}' END"
    )


def _ucb_oracle() -> str:
    st = ", ".join(f"n_{a[0]}" for a in UCB_ARMS) + ", " + ", ".join(
        f"w_{a[0]}" for a in UCB_ARMS
    )
    zeros = ", ".join(["CAST(0 AS BIGINT)"] * 11)
    upd_n = ", ".join(
        f"x.n_{a[0]} + CASE WHEN x.arm = '{a[0]}' AND x.chosen = '{a[0]}'"
        f" THEN 1 ELSE 0 END"
        for a in UCB_ARMS
    )
    upd_w = ", ".join(
        f"x.w_{a[0]} + CASE WHEN x.arm = '{a[0]}' AND x.chosen = '{a[0]}'"
        f" THEN x.reward ELSE 0 END"
        for a in UCB_ARMS
    )
    carry = ", ".join(
        [f"r.n_{a[0]}" for a in UCB_ARMS]
        + [f"r.w_{a[0]}" for a in UCB_ARMS]
    )
    outs = "\n      UNION ALL ".join(
        f"SELECT '{a}' AS arm, n_{a[0]} AS n_plays, w_{a[0]} AS n_wins,"
        f" round(w_{a[0]} * 1.0 / n_{a[0]} - 1e-9, 4) + 0.0 AS win_rate,"
        f" mt AS matched_rounds, steps FROM fin"
        for a in UCB_ARMS
    )
    return f"""
    WITH RECURSIVE ev AS (
      SELECT * FROM (
        SELECT CAST(row_number() OVER (ORDER BY ts, event_id) AS BIGINT)
                 - 1 AS i,
               substr(event_type, 1, 1) AS arm,
               CASE WHEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                         > {UCB_REWARD_CENTS} THEN 1 ELSE 0 END AS reward
        FROM events
        WHERE event_type IN ({", ".join(f"'{a}'" for a in UCB_ARMS)})
      ) WHERE i < {UCB_MAX_REPLAY}
    ),
    rep (i, {st}, mt) AS (
      SELECT CAST(-1 AS BIGINT), {zeros}
      UNION ALL
      SELECT x.i, {upd_n}, {upd_w},
             x.mt + CASE WHEN x.arm = x.chosen THEN 1 ELSE 0 END
      FROM (
        SELECT e.i, e.arm, e.reward, {carry}, r.mt,
               {_ucb_chosen_sql()} AS chosen
        FROM rep r JOIN ev e ON e.i = r.i + 1
      ) x
    ),
    fin AS (
      -- coalesce to the base row (i = -1) when ev is EMPTY: a universe
      -- with no qualifying bandit events must yield the 5 zero-state
      -- arm rows (matching the driver's init state), not 0 rows
      SELECT r.*, (SELECT CAST(count(*) AS BIGINT) FROM ev) AS steps
      FROM rep r
      WHERE r.i = coalesce((SELECT max(i) FROM ev), CAST(-1 AS BIGINT))
    )
    SELECT * FROM (
      {outs}
    ) ORDER BY arm
    """


@query("ucb1_bandit_replay", _ucb_oracle())
def ucb1_bandit_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1 multi-armed bandit evaluated OFFLINE by the replay method
    (Li et al. 2011, the standard unbiased way to test a bandit policy
    on logged data): stream the first {UCB_MAX_REPLAY} logged events in
    event-time order; whenever the policy's choice (unplayed-first,
    then argmax of mean + sqrt(2 ln t / n), arm-order tie-break)
    matches the logged arm, the round counts and the arm's (plays,
    wins) update — reward = value > $50 exactly, in integer cents.
    Emits each arm's replayed plays/wins/rate plus the matched-round
    total — the exploration/exploitation audit every experimentation
    platform runs before going online.

    The recurrence (state feeds the NEXT choice) is the rate-limiter
    class: depth-bounded WITH RECURSIVE in the DuckDB oracle, the
    identical float steps driver-side here on the collected
    {UCB_MAX_REPLAY}-row frame (bounded BY CONSTRUCTION — the
    croston/kalman idiom; the unbounded path is a ValueState twin).
    Every UCB score is one division + sqrt/ln over exact ints, so both
    engines compare bit-identical doubles."""
    import math

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "ucb_events"
    )
    ev = spark.sql(
        f"""
        SELECT * FROM (
          SELECT CAST(row_number() OVER (ORDER BY ts, event_id) AS BIGINT)
                   - 1 AS i,
                 substr(event_type, 1, 1) AS arm,
                 CASE WHEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                           > {UCB_REWARD_CENTS} THEN 1 ELSE 0 END AS reward
          FROM ucb_events
          WHERE event_type IN ({", ".join(f"'{a}'" for a in UCB_ARMS)})
        ) WHERE i < {UCB_MAX_REPLAY}
        """
    ).collect()  # bounded by UCB_MAX_REPLAY, never by row count
    ev = sorted(ev, key=lambda r: r.i)
    initials = [a[0] for a in UCB_ARMS]
    n = {c: 0 for c in initials}
    w = {c: 0 for c in initials}
    mt = 0
    for r in ev:
        chosen = None
        for c in initials:
            if n[c] == 0:
                chosen = c
                break
        if chosen is None:
            t = float(sum(n.values()) + 1)
            ucb = {
                c: w[c] * 1.0 / n[c] + math.sqrt(2.0 * math.log(t) / n[c])
                for c in initials
            }
            for k, c in enumerate(initials[:-1]):
                if all(ucb[c] >= ucb[b] for b in initials[k + 1:]):
                    chosen = c
                    break
            if chosen is None:
                chosen = initials[-1]
        if r.arm == chosen:
            n[chosen] += 1
            w[chosen] += int(r.reward)
            mt += 1
    rows = [
        (
            a,
            n[a[0]],
            w[a[0]],
            (round(w[a[0]] * 1.0 / n[a[0]] - 1e-9, 4) + 0.0)
            if n[a[0]] > 0
            else None,
            mt,
            len(ev),
        )
        for a in UCB_ARMS
    ]
    return spark.createDataFrame(
        rows,
        "arm string, n_plays long, n_wins long, win_rate double,"
        " matched_rounds long, steps long",
    ).orderBy("arm")


# --------------------------------------------------------------------------
# Theta method (M3 winner): trend line + SES on the theta-2 line
# --------------------------------------------------------------------------
THETA_ALPHA = 0.5
THETA_HORIZONS = 6

_THETA_SQL = f"""
WITH RECURSIVE series AS (
  SELECT * FROM (
    SELECT CAST(row_number() OVER (ORDER BY mth) AS BIGINT) - 1 AS t,
           cents
    FROM (
      SELECT {{month_expr}} AS mth,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM {{orders}} GROUP BY 1
    )
  ) WHERE t < {KALMAN_MAX_STEPS}
),
ols AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(t) AS BIGINT) AS st,
         CAST(sum(t * t) AS BIGINT) AS stt,
         CAST(sum(cents) AS BIGINT) AS sy,
         CAST(sum(t * cents) AS BIGINT) AS sty
  FROM series
),
coefs AS (
  SELECT n,
         (n * CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * sy)
         / (n * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st) AS b,
         (CAST(sy AS DOUBLE) - (n * CAST(sty AS DOUBLE)
            - CAST(st AS DOUBLE) * sy)
           / (n * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st) * st)
         / n AS a
  FROM ols
),
th AS (
  SELECT s.t,
         2.0 * (s.cents / CAST(100.0 AS DOUBLE))
         - (c.a + c.b * s.t) / CAST(100.0 AS DOUBLE) AS y2
  FROM series s CROSS JOIN coefs c
),
ses (t, s) AS (
  SELECT t, y2 FROM th WHERE t = 0
  UNION ALL
  SELECT n.t,
         CAST({THETA_ALPHA!r} AS DOUBLE) * n.y2
         + (1 - CAST({THETA_ALPHA!r} AS DOUBLE)) * p.s
  FROM ses p JOIN th n ON n.t = p.t + 1
),
last_s AS (
  SELECT s FROM ses WHERE t = (SELECT max(t) FROM series)
),
hs AS (SELECT * FROM (VALUES {", ".join(f"({h})" for h in range(1, THETA_HORIZONS + 1))}) v(h))
SELECT CAST(h.h AS INT) AS horizon,
       round((c.a + c.b * (c.n - 1 + h.h)) / CAST(100.0 AS DOUBLE)
             - 1e-9, 4) + 0.0 AS trend_usd,
       round(l.s - 1e-9, 4) + 0.0 AS ses_theta2_usd,
       round(0.5 * ((c.a + c.b * (c.n - 1 + h.h))
                    / CAST(100.0 AS DOUBLE)) + 0.5 * l.s - 1e-9, 4)
         + 0.0 AS forecast_usd
FROM hs h CROSS JOIN coefs c CROSS JOIN last_s l
"""


@query(
    "theta_method_forecast",
    _THETA_SQL.format(
        orders="orders",
        month_expr="date_trunc('month', CAST(o_orderdate AS DATE))",
    ),
)
def theta_method_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Theta method (Assimakopoulos & Nikolopoulos 2000 — winner of
    the M3 forecasting competition and still the to-beat classical
    baseline): decompose the monthly revenue series into the θ=0 line
    (the OLS linear trend, carrying long-run direction) and the θ=2
    line (2y − trend, doubling local curvature), smooth the θ=2 line
    with SES (α=0.5), and forecast each horizon as the 50/50 combination
    of extrapolated trend and the flat SES level.  Sits beside
    ``holt_smoothing_monthly`` / ``kalman_local_level`` as the third
    classical-forecasting recursion.

    Determinism: the OLS coefficients come from exact int64 sums
    (t ≤ 96, cents ~1e9 — t·y sums stay < 2^63); the SES recursion is
    the Croston/Kalman recursive-CTE idiom (identical IEEE tree,
    driver-side on the bounded month frame here); every float literal
    is CAST AS DOUBLE (the round-10 dialect rule)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "theta_orders"
    )
    series = spark.sql(
        f"""
        SELECT * FROM (
          SELECT CAST(row_number() OVER (ORDER BY mth) AS BIGINT) - 1
                   AS t, cents
          FROM (
            SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS mth,
                   CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
                                 AS BIGINT)) AS BIGINT) AS cents
            FROM theta_orders GROUP BY 1
          )
        ) WHERE t < {KALMAN_MAX_STEPS}
        """
    ).collect()  # bounded by KALMAN_MAX_STEPS months
    rows = sorted(series, key=lambda r: r.t)
    n = len(rows)
    schema = (
        "horizon int, trend_usd double, ses_theta2_usd double,"
        " forecast_usd double"
    )
    # degenerate-universe parity with the oracle (empty-view checked):
    # no months -> the oracle's ses anchor selects nothing -> 0 rows;
    # one month -> the OLS denominator is 0 -> DuckDB NULLs every
    # derived column; mirror both instead of dividing by zero
    if n == 0:
        return spark.createDataFrame([], schema)
    den = n * sum(int(r.t) * int(r.t) for r in rows) - sum(
        int(r.t) for r in rows
    ) * sum(int(r.t) for r in rows)
    if den == 0:
        return spark.createDataFrame(
            [(h, None, None, None) for h in range(1, THETA_HORIZONS + 1)],
            schema,
        )
    st = sum(int(r.t) for r in rows)
    stt = sum(int(r.t) * int(r.t) for r in rows)
    sy = sum(int(r.cents) for r in rows)
    sty = sum(int(r.t) * int(r.cents) for r in rows)
    b = (n * float(sty) - float(st) * sy) / (
        n * float(stt) - float(st) * st
    )
    a = (
        float(sy)
        - (n * float(sty) - float(st) * sy)
        / (n * float(stt) - float(st) * st)
        * st
    ) / n
    s = None
    for r in rows:
        y2 = 2.0 * (int(r.cents) / 100.0) - (a + b * int(r.t)) / 100.0
        if r.t == 0:
            s = y2
        else:
            s = THETA_ALPHA * y2 + (1 - THETA_ALPHA) * s
    out = []
    for h in range(1, THETA_HORIZONS + 1):
        trend = (a + b * (n - 1 + h)) / 100.0
        out.append(
            (
                h,
                round(trend - 1e-9, 4) + 0.0,
                round(s - 1e-9, 4) + 0.0,
                round(0.5 * trend + 0.5 * s - 1e-9, 4) + 0.0,
            )
        )
    return spark.createDataFrame(out, schema)


# --------------------------------------------------------------------------
# Elo rating replay over paired logged events
# --------------------------------------------------------------------------
ELO_PLAYERS = ["click", "error", "purchase", "signup", "view"]
ELO_MAX_MATCHES = 30  # bounded replay (60 events paired, recursion depth)
ELO_K = 32.0
ELO_INIT = 1000.0
_ELO_LN10_400 = "0.005756462732485614"  # ln(10)/400 as an exact double


def _elo_oracle() -> str:
    st = ", ".join(f"r_{p[0]}" for p in ELO_PLAYERS)
    cnt = ", ".join(
        [f"m_{p[0]}" for p in ELO_PLAYERS]
        + [f"w_{p[0]}" for p in ELO_PLAYERS]
    )
    init_r = ", ".join(
        [f"CAST({ELO_INIT!r} AS DOUBLE)"] * len(ELO_PLAYERS)
    )
    init_c = ", ".join(["CAST(0 AS BIGINT)"] * (2 * len(ELO_PLAYERS)))
    r_of = lambda side: (  # noqa: E731
        "CASE x.arm_" + side + " "
        + " ".join(
            f"WHEN '{p[0]}' THEN x.r_{p[0]}" for p in ELO_PLAYERS
        )
        + " END"
    )
    upd_r = ", ".join(
        f"x.r_{p[0]} + CASE WHEN x.arm_a = x.arm_b THEN CAST(0 AS DOUBLE)"
        f" WHEN x.arm_a = '{p[0]}' THEN CAST({ELO_K!r} AS DOUBLE)"
        f" * (x.s_a - x.e_a)"
        f" WHEN x.arm_b = '{p[0]}' THEN CAST({ELO_K!r} AS DOUBLE)"
        f" * (x.e_a - x.s_a)"
        f" ELSE CAST(0 AS DOUBLE) END"
        for p in ELO_PLAYERS
    )
    upd_m = ", ".join(
        f"x.m_{p[0]} + CASE WHEN x.arm_a <> x.arm_b AND"
        f" (x.arm_a = '{p[0]}' OR x.arm_b = '{p[0]}')"
        f" THEN 1 ELSE 0 END"
        for p in ELO_PLAYERS
    )
    upd_w = ", ".join(
        f"x.w_{p[0]} + CASE WHEN x.arm_a <> x.arm_b AND"
        f" ((x.arm_a = '{p[0]}' AND x.s_a = 1.0)"
        f"  OR (x.arm_b = '{p[0]}' AND x.s_a = 0.0))"
        f" THEN 1 ELSE 0 END"
        for p in ELO_PLAYERS
    )
    carry = ", ".join(
        [f"r.r_{p[0]}" for p in ELO_PLAYERS]
        + [f"r.m_{p[0]}" for p in ELO_PLAYERS]
        + [f"r.w_{p[0]}" for p in ELO_PLAYERS]
    )
    outs = "\n      UNION ALL ".join(
        f"SELECT '{p}' AS player,"
        f" round(r_{p[0]} - 1e-9, 4) + 0.0 AS rating,"
        f" m_{p[0]} AS n_matches, w_{p[0]} AS n_wins, steps FROM fin"
        for p in ELO_PLAYERS
    )
    return f"""
    WITH RECURSIVE ev AS (
      SELECT CAST(row_number() OVER (ORDER BY ts, event_id) AS BIGINT)
               - 1 AS j,
             substr(event_type, 1, 1) AS arm,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
      WHERE event_type IN ({", ".join(f"'{p}'" for p in ELO_PLAYERS)})
    ),
    mt AS (
      SELECT a.j / 2 AS i, a.arm AS arm_a, b.arm AS arm_b,
             CASE WHEN a.cents > b.cents THEN CAST(1.0 AS DOUBLE)
                  WHEN a.cents < b.cents THEN CAST(0.0 AS DOUBLE)
                  ELSE CAST(0.5 AS DOUBLE) END AS s_a
      FROM ev a JOIN ev b ON b.j = a.j + 1
      WHERE a.j % 2 = 0 AND a.j / 2 < {ELO_MAX_MATCHES}
    ),
    rep (i, {st}, {cnt}) AS (
      SELECT CAST(-1 AS BIGINT), {init_r}, {init_c}
      UNION ALL
      SELECT x.i, {upd_r}, {upd_m}, {upd_w}
      FROM (
        SELECT y.*,
               CAST(1.0 AS DOUBLE)
               / (CAST(1.0 AS DOUBLE)
                  + exp(({r_of("b").replace("x.", "y.")}
                         - {r_of("a").replace("x.", "y.")})
                        * CAST({_ELO_LN10_400} AS DOUBLE))) AS e_a
        FROM (
          SELECT e.i, e.arm_a, e.arm_b, e.s_a, {carry}
          FROM rep r JOIN mt e ON e.i = r.i + 1
        ) y
      ) x
    ),
    fin AS (
      SELECT r.*, (SELECT CAST(count(*) AS BIGINT) FROM mt) AS steps
      FROM rep r
      WHERE r.i = coalesce((SELECT max(i) FROM mt), CAST(-1 AS BIGINT))
    )
    SELECT * FROM (
      {outs}
    ) ORDER BY player
    """


@query("elo_ratings_replay", _elo_oracle())
def elo_ratings_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elo ratings replayed over logged event pairs: consecutive
    qualifying events (event-time order) form a match between their
    two event types, the higher exact-cents value wins (tie = draw),
    and ratings update sequentially with the classic K=32 rule
    ``R' = R + K(S − E)``, ``E = 1/(1 + 10^((R_b − R_a)/400))`` — the
    pairwise-comparison rating engine behind matchmaking, LLM arena
    leaderboards, and preference-data curation.  Self-matches (same
    type on both sides) consume the pair but move nothing.

    The state-feeds-next-match recurrence rides the rate-limiter /
    UCB1 replay class: depth-bounded WITH RECURSIVE oracle (expected
    score computed in a subquery so both arms' updates reference ONE
    double, symmetry exact by construction: Δ_b = −Δ_a), identical
    float steps driver-side on the bounded collected frame.
    10^(x/400) is evaluated as ``exp(x · LN10/400)`` with the
    ln(10)/400 constant pinned as the same decimal literal in both
    engines (the mmd/kalman exp-trust precedent).  Emits each
    player's final rating, matches, wins, and the replayed step
    count."""
    import math

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "elo_events"
    )
    ev = spark.sql(
        f"""
        SELECT * FROM (
          SELECT CAST(row_number() OVER (ORDER BY ts, event_id) AS BIGINT)
                   - 1 AS j,
                 substr(event_type, 1, 1) AS arm,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
          FROM elo_events
          WHERE event_type IN (
            {", ".join(f"'{p}'" for p in ELO_PLAYERS)})
        ) WHERE j < {2 * ELO_MAX_MATCHES}
        """
    ).collect()  # bounded by 2*ELO_MAX_MATCHES, never by row count
    ev = sorted(ev, key=lambda r: r.j)
    ln10_400 = float(_ELO_LN10_400)
    initials = [p[0] for p in ELO_PLAYERS]
    r = {c: ELO_INIT for c in initials}
    m = {c: 0 for c in initials}
    w = {c: 0 for c in initials}
    steps = 0
    for i in range(0, len(ev) - 1, 2):
        a, b = ev[i], ev[i + 1]
        steps += 1
        if a.arm == b.arm:
            continue
        s_a = 1.0 if a.cents > b.cents else (0.0 if a.cents < b.cents else 0.5)
        e_a = 1.0 / (1.0 + math.exp((r[b.arm] - r[a.arm]) * ln10_400))
        r[a.arm] = r[a.arm] + ELO_K * (s_a - e_a)
        r[b.arm] = r[b.arm] + ELO_K * (e_a - s_a)
        m[a.arm] += 1
        m[b.arm] += 1
        if s_a == 1.0:
            w[a.arm] += 1
        elif s_a == 0.0:
            w[b.arm] += 1
    rows = [
        (
            p,
            round(r[p[0]] - 1e-9, 4) + 0.0,
            m[p[0]],
            w[p[0]],
            steps,
        )
        for p in ELO_PLAYERS
    ]
    return spark.createDataFrame(
        rows,
        "player string, rating double, n_matches long, n_wins long,"
        " steps long",
    ).orderBy("player")


@query("streaming_elo_ratings", _elo_oracle())
def streaming_elo_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Elo replay run THROUGH Structured Streaming under the SAME
    recursive-CTE oracle as ``elo_ratings_replay``: the bounded match
    log feeds as two event-order micro-batches;
    :func:`..streaming.stateful.elo_partials` carries the 5 ratings +
    counters as ValueState across the boundary and applies the
    identical IEEE update tree (one expected-score double per match,
    Δ_b = −Δ_a exact), so the final standings are bit-equal to the
    batch recursion.  The point — the croston/kalman twin argument —
    is that sequential rating updates ARE keyed streaming state: a
    live leaderboard is this query with a sink on every snapshot,
    and the depth-bounded WITH RECURSIVE form is only the batch
    replay of it."""
    from ..streaming import memory_batches_stream, run_available_now
    from ..streaming.stateful import elo_partials
    from .registry import scratch_dir

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "selo_events"
    )
    mt = spark.sql(
        f"""
        SELECT * FROM (
          SELECT a.j DIV 2 AS i, a.arm AS arm_a, b.arm AS arm_b,
                 CASE WHEN a.cents > b.cents THEN CAST(1.0 AS DOUBLE)
                      WHEN a.cents < b.cents THEN CAST(0.0 AS DOUBLE)
                      ELSE CAST(0.5 AS DOUBLE) END AS s_a
          FROM (
            SELECT CAST(row_number() OVER (ORDER BY ts, event_id)
                        AS BIGINT) - 1 AS j,
                   substr(event_type, 1, 1) AS arm,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
            FROM selo_events
            WHERE event_type IN (
              {", ".join(f"'{p}'" for p in ELO_PLAYERS)})
          ) a JOIN (
            SELECT CAST(row_number() OVER (ORDER BY ts, event_id)
                        AS BIGINT) - 1 AS j,
                   substr(event_type, 1, 1) AS arm,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
            FROM selo_events
            WHERE event_type IN (
              {", ".join(f"'{p}'" for p in ELO_PLAYERS)})
          ) b ON b.j = a.j + 1
          WHERE a.j % 2 = 0
        ) WHERE i < {ELO_MAX_MATCHES}
        """
    ).select(F.lit(0).cast("long").alias("k"), "i", "arm_a", "arm_b", "s_a")
    half = ELO_MAX_MATCHES // 2
    batches = [
        mt.filter(F.col("i") < half),
        mt.filter(F.col("i") >= half),
    ]
    src_dir = scratch_dir("src_elo_stream_")
    sdf = memory_batches_stream(
        spark, batches, src_dir.path, files_per_trigger=1
    )
    with src_dir, conf_override(spark, {"spark.sql.shuffle.partitions": "4"}):
        with scratch_dir("ck_elo_stream_") as ck:
            got = run_available_now(
                elo_partials(
                    sdf,
                    k_factor=ELO_K,
                    init_rating=ELO_INIT,
                    ln10_400=float(_ELO_LN10_400),
                ),
                ck,
                "update",
            )
    final = got.groupBy("player_c").agg(
        F.max_by(
            F.struct("rating", "n_matches", "n_wins", "steps"), F.col("i")
        ).alias("st")
    )
    names = spark.createDataFrame(
        [(p[0], p) for p in ELO_PLAYERS], "player_c string, player string"
    )
    return (
        names.join(final, "player_c", "left")
        .select(
            "player",
            (
                F.round(
                    F.coalesce(F.col("st.rating"), F.lit(ELO_INIT))
                    - 1e-9,
                    4,
                )
                + 0.0
            ).alias("rating"),
            F.coalesce(F.col("st.n_matches"), F.lit(0))
            .cast("long")
            .alias("n_matches"),
            F.coalesce(F.col("st.n_wins"), F.lit(0))
            .cast("long")
            .alias("n_wins"),
            F.coalesce(F.col("st.steps"), F.lit(0))
            .cast("long")
            .alias("steps"),
        )
        .orderBy("player")
    )
