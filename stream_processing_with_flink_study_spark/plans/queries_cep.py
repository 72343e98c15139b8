"""Generic CEP sequence-pattern queries (``정리/1주차.md:22-25``).

``funnel_conversions`` (queries_stateful) is the fixed 3-step funnel;
these exercise the GENERIC ``operators.cep.match_pattern`` — arbitrary
step count, relaxed (followedBy) and strict (next) contiguity, and a
``within`` timeout — with the chained-window / lag-battery batch plans
whose shuffle topology is one exchange + one sort regardless of N.
Streaming twins are equivalence-tested in tests/test_cep.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.cep import match_pattern, match_pattern_stream
from ..sources import load_table
from .registry import query

_W48_US = 48 * 3600 * 1_000_000
_RELAXED_WIN = (
    "PARTITION BY user_id ORDER BY o, r, event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
)


@query(
    "cep_relaxed_4step",
    oracle=f"""
    WITH s AS (
      SELECT user_id, event_id, epoch_us(ts) AS o, epoch_ms(ts) AS ts_ms,
             event_type,
             CASE event_type WHEN 'signup' THEN 0 WHEN 'view' THEN 1
                  WHEN 'click' THEN 2 WHEN 'purchase' THEN 3 ELSE 4 END AS r
      FROM events
    ),
    w0 AS (
      SELECT *, max(CASE WHEN event_type = 'signup' THEN o END)
                OVER ({_RELAXED_WIN}) AS l0 FROM s),
    w1 AS (
      SELECT *, max(CASE WHEN event_type = 'view'
                              AND l0 >= o - {_W48_US} THEN o END)
                OVER ({_RELAXED_WIN}) AS l1 FROM w0),
    w2 AS (
      SELECT *, max(CASE WHEN event_type = 'click'
                              AND l1 >= o - {_W48_US} THEN o END)
                OVER ({_RELAXED_WIN}) AS l2 FROM w1)
    SELECT user_id, event_id, ts_ms
    FROM w2
    WHERE event_type = 'purchase' AND l2 >= o - {_W48_US}
    """,
)
def cep_relaxed_4step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-step relaxed pattern signup → view → click → purchase, each
    step ≤ 48 h after the previous — one step longer than the funnel to
    prove N generalizes.  Plan: 3 chained conditional running-max
    Windows sharing one (user, time) sort → ONE exchange total; the
    correlated-EXISTS alternative would be 3 self-joins of events."""
    events = load_table(spark, sf_dir, "events")
    return match_pattern(
        events, "user_id", "ts",
        steps=("signup", "view", "click", "purchase"),
        within="48 hours",
    )


@query(
    "cep_strict_next",
    oracle=f"""
    WITH s AS (
      SELECT user_id, event_id, epoch_us(ts) AS o, epoch_ms(ts) AS ts_ms,
             event_type
      FROM events
    ),
    w AS (
      SELECT *,
             lag(event_type, 1) OVER win AS t1, lag(o, 1) OVER win AS o1,
             lag(event_type, 2) OVER win AS t2, lag(o, 2) OVER win AS o2
      FROM s
      WINDOW win AS (PARTITION BY user_id ORDER BY o, event_id)
    )
    SELECT user_id, event_id, ts_ms
    FROM w
    WHERE event_type = 'purchase'
      AND t1 = 'click' AND o - o1 <= {_W48_US}
      AND t2 = 'view' AND o1 - o2 <= {_W48_US}
    """,
)
def cep_strict_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-contiguity (CEP ``next``) view → click → purchase: the
    three events must be CONSECUTIVE in the user's stream — any
    interleaved event of any type breaks the match.  Plan: a single lag
    battery over one (user, time) sort; N only widens the projection."""
    events = load_table(spark, sf_dir, "events")
    return match_pattern(
        events, "user_id", "ts",
        steps=("view", "click", "purchase"),
        within="48 hours",
        contiguity="strict",
    )


@query(
    "streaming_cep_relaxed",
    oracle=f"""
    WITH s AS (
      SELECT user_id, event_id, epoch_us(ts) AS o, epoch_ms(ts) AS ts_ms,
             event_type,
             CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1
                  WHEN 'purchase' THEN 2 ELSE 3 END AS r
      FROM events
    ),
    w0 AS (
      SELECT *, max(CASE WHEN event_type = 'view' THEN o END)
                OVER ({_RELAXED_WIN}) AS l0 FROM s),
    w1 AS (
      SELECT *, max(CASE WHEN event_type = 'click'
                              AND l0 >= o - {_W48_US} THEN o END)
                OVER ({_RELAXED_WIN}) AS l1 FROM w0)
    SELECT user_id, event_id, ts_ms
    FROM w1
    WHERE event_type = 'purchase' AND l1 >= o - {_W48_US}
    """,
)
def streaming_cep_relaxed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The generic CEP operator run THROUGH Structured Streaming under
    the oracle gate itself (the streaming sibling of
    ``streaming_flagship_avg``): file-source the events table via the
    encoding-aware ``events_stream``, run ``match_pattern_stream``
    (view → click → purchase, relaxed, 48 h) with
    ``Trigger.AvailableNow`` into a memory sink, and hash-match the
    emitted matches against the chained-window batch SQL.  Proves the
    O(1)-state streaming scan emits bit-identical matches to the batch
    plan on the scale-factor tables, not just on test fixtures.  The
    scan runs once per hash bucket of ``user_id``
    (``spark.sql.shuffle.partitions`` buckets), so a micro-batch makes
    that many pandas calls and keeps that many state rows, not one per
    user: on 40k events over 600 users with 4 partitions, 600 state
    rows became 4 and the query's executor time fell from 11.1 to 2.2 s
    (4-vCPU VM)."""
    from ..streaming import events_stream, run_available_now
    from .registry import scratch_dir

    sdf = events_stream(spark, sf_dir)
    matched = match_pattern_stream(
        sdf, "user_id", "ts", ("view", "click", "purchase"), within="48 hours"
    )
    with scratch_dir("ck_cep_stream_") as ck:
        return run_available_now(matched, ck, "append")


@query(
    "cep_times_quantifier",
    oracle=f"""
    WITH s AS (
      SELECT user_id, event_id, epoch_us(ts) AS o, epoch_ms(ts) AS ts_ms,
             event_type,
             CASE event_type WHEN 'view' THEN 0
                  WHEN 'purchase' THEN 2 ELSE 3 END AS r
      FROM events
    ),
    w0 AS (
      SELECT *, max(CASE WHEN event_type = 'view' THEN o END)
                OVER ({_RELAXED_WIN}) AS l0 FROM s),
    w1 AS (
      SELECT *, max(CASE WHEN event_type = 'view'
                              AND l0 >= o - {_W48_US} THEN o END)
                OVER ({_RELAXED_WIN}) AS l1 FROM w0)
    SELECT user_id, event_id, ts_ms
    FROM w1
    WHERE event_type = 'purchase' AND l1 >= o - {_W48_US}
    """,
)
def cep_times_quantifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP ``times(2)`` quantifier (view.times(2) → purchase): step
    repetition IS the quantifier under ``match_pattern``'s
    strictly-earlier-predecessor rule — each repeated step must bind a
    DISTINCT earlier event, so ('view','view','purchase') demands two
    views within the timeout chain before the purchase.  (``oneOrMore``
    collapses to a single step in completion-emission semantics: the
    match fires on the latest qualified occurrence either way.)  Same
    single-exchange plan; the quantifier only lengthens the
    chained-window projection."""
    events = load_table(spark, sf_dir, "events")
    return match_pattern(
        events, "user_id", "ts",
        steps=("view", "view", "purchase"),
        within="48 hours",
    )


@query(
    "cep_condition_pattern",
    oracle=f"""
    WITH s AS (
      SELECT user_id, event_id, epoch_us(ts) AS o, epoch_ms(ts) AS ts_ms,
             event_type, value,
             CASE WHEN value > 75 THEN 0
                  WHEN event_type = 'purchase' THEN 2 ELSE 3 END AS r
      FROM events
    ),
    w0 AS (
      SELECT *, max(CASE WHEN value > 75 THEN o END)
                OVER ({_RELAXED_WIN}) AS l0 FROM s),
    w1 AS (
      SELECT *, max(CASE WHEN value > 75
                              AND l0 >= o - {_W48_US} THEN o END)
                OVER ({_RELAXED_WIN}) AS l1 FROM w0)
    SELECT user_id, event_id, ts_ms
    FROM w1
    WHERE event_type = 'purchase' AND l1 >= o - {_W48_US}
    """,
)
def cep_condition_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate-based CEP (Flink ``SimpleCondition``): two HIGH-VALUE
    events (``value > 75`` — any type) within 48 h of each other, then
    a purchase within 48 h — the reference's 'temperature rising twice
    then alert' shape (``정리/5주차.md:24-54``) generalized to arbitrary
    SQL predicates per step.  Predicates evaluate in Catalyst (boolean
    projection before the windows); the pattern scan itself is
    identical to the event-type form — same single exchange."""
    events = load_table(spark, sf_dir, "events")
    return match_pattern(
        events, "user_id", "ts",
        conditions=("value > 75", "value > 75", "event_type = 'purchase'"),
        within="48 hours",
    )


@query(
    "cep_match_chain",
    oracle=f"""
    WITH s AS (
      SELECT user_id, event_id, epoch_us(ts) AS o, epoch_ms(ts) AS ts_ms,
             event_type,
             CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1
                  WHEN 'purchase' THEN 2 ELSE 3 END AS r
      FROM events
    ),
    w0 AS (
      SELECT *, max(CASE WHEN event_type = 'view'
                         THEN struct_pack(o := o, i := event_id) END)
                OVER ({_RELAXED_WIN}) AS s0 FROM s),
    w1 AS (
      SELECT *, max(CASE WHEN event_type = 'click'
                              AND s0['o'] >= o - {_W48_US}
                         THEN struct_pack(o := o, i := event_id) END)
                OVER ({_RELAXED_WIN}) AS s1 FROM w0)
    SELECT user_id, event_id, ts_ms,
           s0['i']::VARCHAR || '>' || s1['i']::VARCHAR || '>'
             || event_id::VARCHAR AS match_chain
    FROM w1
    WHERE event_type = 'purchase' AND s1['o'] >= o - {_W48_US}
    """,
)
def cep_match_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-match emission (Flink ``PatternSelectFunction`` parity):
    every view → click → purchase completion reports the whole matched
    chain as ``"view_id>click_id>purchase_id"`` — the latest qualifying
    event per stage, the exact binding a per-record CEP loop would
    make.  The chained windows max a (ts, id) STRUCT instead of the
    bare timestamp (same lexicographic order, the id rides along), so
    chain emission costs zero extra shuffles — still one exchange."""
    events = load_table(spark, sf_dir, "events")
    return match_pattern(
        events, "user_id", "ts",
        steps=("view", "click", "purchase"),
        within="48 hours",
        emit="chain",
    )


@query(
    "cep_optional_step",
    oracle=f"""
    WITH s AS (
      SELECT user_id, event_id, epoch_us(ts) AS o, epoch_ms(ts) AS ts_ms,
             event_type,
             CASE event_type WHEN 'signup' THEN 0 WHEN 'view' THEN 1
                  WHEN 'purchase' THEN 2 ELSE 3 END AS r
      FROM events
    ),
    w0 AS (
      SELECT *, max(CASE WHEN event_type = 'signup'
                         THEN struct_pack(o := o, i := event_id) END)
                OVER ({_RELAXED_WIN}) AS s0 FROM s),
    w1 AS (
      SELECT *, max(CASE WHEN event_type = 'view'
                              AND s0['o'] >= o - {_W48_US}
                         THEN struct_pack(o := o, i := event_id) END)
                OVER ({_RELAXED_WIN}) AS s1 FROM w0)
    SELECT user_id, event_id, ts_ms,
           s0['i']::VARCHAR || '>' ||
           CASE WHEN s1['o'] >= o - {_W48_US}
                THEN s1['i']::VARCHAR || '>' ELSE '' END ||
           event_id::VARCHAR AS match_chain
    FROM w1
    WHERE event_type = 'purchase'
      AND (s1['o'] >= o - {_W48_US} OR s0['o'] >= o - {_W48_US})
    """,
)
def cep_optional_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink ``Pattern.optional()`` (``정리/1주차.md:22-25``): signup →
    view? → purchase, the view step skippable — a purchase connects
    through the latest in-window view when one exists, else directly to
    the signup; a skipped view leaves no slot in the chain
    (``concat_ws`` drops the null).  Same one-exchange chained-window
    plan — the skip path is one extra OR in the qualifier."""
    events = load_table(spark, sf_dir, "events")
    return match_pattern(
        events, "user_id", "ts",
        steps=("signup", "view", "purchase"),
        within="48 hours",
        emit="chain",
        quantifiers=("one", "optional", "one"),
    )


@query(
    "cep_one_or_more_reluctant",
    oracle=f"""
    WITH s AS (
      SELECT user_id, event_id, epoch_us(ts) AS o, epoch_ms(ts) AS ts_ms,
             event_type
      FROM events
    ),
    w0 AS (
      SELECT *, min(CASE WHEN event_type = 'view'
                         THEN struct_pack(o := o, i := event_id,
                                          c := event_id::VARCHAR) END)
                OVER (PARTITION BY user_id ORDER BY o
                      RANGE BETWEEN {_W48_US} PRECEDING AND 1 PRECEDING)
                AS s0 FROM s),
    w1 AS (
      SELECT *, min(CASE WHEN event_type = 'click' AND s0['o'] IS NOT NULL
                         THEN struct_pack(o := o, i := event_id,
                                          c := s0['c'] || '>'
                                               || event_id::VARCHAR) END)
                OVER (PARTITION BY user_id ORDER BY o
                      RANGE BETWEEN {_W48_US} PRECEDING AND 1 PRECEDING)
                AS s1 FROM w0)
    SELECT user_id, event_id, ts_ms,
           s1['c'] || '>' || event_id::VARCHAR AS match_chain
    FROM w1
    WHERE event_type = 'purchase' AND s1['o'] IS NOT NULL
    """,
)
def cep_one_or_more_reluctant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``oneOrMore`` + RELUCTANT binding (Flink greedy/reluctant
    quantifier modes): view → click+ → purchase where every level binds
    its EARLIEST in-window qualifier — of a click burst, the first
    repetition enters the chain (greedy, the default, binds the last).
    The binding flips from a running max over a ROWS frame to a min
    over a RANGE frame ``(-within, -1)``; validity becomes plain
    non-nullness because the frame IS the timeout window.  The
    streaming twin runs the same quantifier vector since round 10
    (capped earliest-K state, ``oneOrMore`` collapsing to ``one``
    exactly as here; equivalence in
    tests/test_cep_reluctant_stream.py)."""
    events = load_table(spark, sf_dir, "events")
    return match_pattern(
        events, "user_id", "ts",
        steps=("view", "click", "purchase"),
        within="48 hours",
        emit="chain",
        quantifiers=("one", "oneOrMore", "one"),
        mode="reluctant",
    )


_W60_US = 60 * 3600 * 1_000_000


@query(
    "cep_within_total",
    oracle=f"""
    WITH s AS (
      SELECT user_id, event_id, epoch_us(ts) AS o, epoch_ms(ts) AS ts_ms,
             event_type,
             CASE event_type WHEN 'signup' THEN 0 WHEN 'view' THEN 1
                  WHEN 'click' THEN 2 WHEN 'purchase' THEN 3 ELSE 4 END AS r
      FROM events
    ),
    w0 AS (
      SELECT *, max(CASE WHEN event_type = 'signup' THEN o END)
                OVER ({_RELAXED_WIN}) AS l0 FROM s),
    w1 AS (
      SELECT *, max(CASE WHEN event_type = 'view'
                              AND l0 >= o - {_W48_US} THEN o END)
                OVER ({_RELAXED_WIN}) AS l1 FROM w0),
    w2 AS (
      SELECT *, max(CASE WHEN event_type = 'click'
                              AND l1 >= o - {_W48_US} THEN o END)
                OVER ({_RELAXED_WIN}) AS l2 FROM w1)
    SELECT user_id, event_id, ts_ms
    FROM w2
    WHERE event_type = 'purchase' AND l2 >= o - {_W48_US}
      AND l0 >= o - {_W60_US}
    """,
)
def cep_within_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-pattern ``Pattern.within`` (``정리/1주차.md:22-25``): the
    4-step funnel with per-step gaps ≤ 48 h AND total span ≤ 60 h,
    measured on the emitted binding (completion ts − bound first-step
    ts) — one extra predicate on the already-computed level-0 fill,
    zero extra window passes."""
    events = load_table(spark, sf_dir, "events")
    return match_pattern(
        events, "user_id", "ts",
        steps=("signup", "view", "click", "purchase"),
        within="48 hours",
        within_total="60 hours",
    )
