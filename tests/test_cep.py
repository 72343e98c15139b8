"""Generic CEP match_pattern: batch/stream equivalence (with
out-of-order input), timeout and contiguity semantics, plan shape."""

from __future__ import annotations

import re
from datetime import datetime, timezone

import pandas as pd
import pytest
from pyspark.sql import functions as F

from stream_processing_with_flink_study_spark import streaming as S
from stream_processing_with_flink_study_spark.operators.cep import (
    match_pattern,
    match_pattern_stream,
)
from stream_processing_with_flink_study_spark.sources import load_table

from .conftest import SF_SMALL


def _sorted(df) -> pd.DataFrame:
    p = df.toPandas() if not isinstance(df, pd.DataFrame) else df
    p = p[sorted(p.columns)]
    return p.sort_values(list(p.columns), ignore_index=True)


@pytest.fixture(scope="module")
def events(spark):
    return load_table(spark, SF_SMALL, "events").cache()


def _scrambled_two_batch(spark, events, tmp_path):
    """Median-ts split into two micro-batches, rows SHUFFLED inside each
    batch — the out-of-order arrival the handler must sort out."""
    mid = events.selectExpr("percentile_approx(ts, 0.5) AS m").first().m
    b0 = events.filter(F.col("ts") <= F.lit(mid)).orderBy(F.rand(seed=1))
    b1 = events.filter(F.col("ts") > F.lit(mid)).orderBy(F.rand(seed=2))
    return S.memory_batches_stream(
        spark, [b0, b1], str(tmp_path / "src"), files_per_trigger=1
    )


@pytest.mark.parametrize("contiguity", ["relaxed", "strict"])
def test_stream_matches_batch_out_of_order(spark, events, tmp_path, contiguity):
    steps = ("signup", "view", "click", "purchase") if contiguity == "relaxed" else (
        "view", "click", "purchase"
    )
    sdf = _scrambled_two_batch(spark, events, tmp_path)
    got = S.run_available_now(
        match_pattern_stream(
            sdf, "user_id", "ts", steps, within="48 hours", contiguity=contiguity
        ),
        str(tmp_path / "ck"),
        "append",
    )
    want = match_pattern(
        events, "user_id", "ts", steps, within="48 hours", contiguity=contiguity
    )
    assert want.count() > 0, "fixture must actually produce matches"
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want), check_dtype=False)


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    )


def test_relaxed_timeout_and_same_instant_cascade(spark):
    t = lambda s: datetime(2024, 1, 1, 0, 0, s, tzinfo=timezone.utc)
    df = _mk(spark, [
        # u1: a same-instant a→b cascade then c inside the window: match
        (1, 10, t(0), "a"), (1, 11, t(0), "b"), (1, 12, t(5), "c"),
        # u2: b arrives 11s after a (> 10s timeout): no match
        (2, 20, t(0), "a"), (2, 21, t(11), "b"), (2, 22, t(12), "c"),
        # u3: interleaved noise is fine under relaxed contiguity
        (3, 30, t(0), "a"), (3, 31, t(1), "x"), (3, 32, t(2), "b"),
        (3, 33, t(3), "x"), (3, 34, t(4), "c"),
        # u4: single event can NOT satisfy two steps (b-only, no a)
        (4, 40, t(0), "b"), (4, 41, t(1), "c"),
    ])
    got = _sorted(
        match_pattern(df, "user_id", "ts", ("a", "b", "c"), within="10 seconds")
    )
    assert list(got["event_id"]) == [12, 34]


def test_strict_breaks_on_interleave(spark):
    t = lambda s: datetime(2024, 1, 1, 0, 0, s, tzinfo=timezone.utc)
    df = _mk(spark, [
        (1, 10, t(0), "a"), (1, 11, t(1), "b"),            # consecutive: match
        (2, 20, t(0), "a"), (2, 21, t(1), "x"), (2, 22, t(2), "b"),  # broken
        (3, 30, t(0), "a"), (3, 31, t(20), "b"),           # within exceeded
    ])
    got = _sorted(
        match_pattern(
            df, "user_id", "ts", ("a", "b"), within="10 seconds",
            contiguity="strict",
        )
    )
    assert list(got["event_id"]) == [11]


def test_strict_stream_match_spans_batch_boundary(spark, tmp_path):
    """The last N-1 events carry in state, so a strict match whose
    earlier steps arrived in the PREVIOUS micro-batch still completes."""
    t = lambda s: datetime(2024, 1, 1, 0, 0, s, tzinfo=timezone.utc)
    b0 = _mk(spark, [(1, 10, t(0), "a"), (1, 11, t(1), "b")])
    b1 = _mk(spark, [(1, 12, t(2), "c")])
    sdf = S.memory_batches_stream(spark, [b0, b1], str(tmp_path / "src"))
    got = S.run_available_now(
        match_pattern_stream(
            sdf, "user_id", "ts", ("a", "b", "c"), within="10 seconds",
            contiguity="strict",
        ),
        str(tmp_path / "ck"),
        "append",
    )
    assert list(_sorted(got)["event_id"]) == [12]


@pytest.mark.parametrize("contiguity", ["relaxed", "strict"])
def test_stream_null_key_is_one_key(spark, tmp_path, contiguity):
    """Null keys form one key, as in the batch form's partitionBy: its
    rows share one segment and its state crosses the batch boundary."""
    t = lambda s: datetime(2024, 1, 1, 0, 0, s, tzinfo=timezone.utc)
    df = _mk(spark, [
        (None, 1, t(0), "a"), (None, 2, t(1), "b"),
        (1, 3, t(0), "a"), (1, 4, t(2), "b"), (None, 5, t(3), "b"),
    ])
    kw = dict(within="10 seconds", contiguity=contiguity)
    sdf = S.memory_batches_stream(
        spark, [df.filter("event_id <= 2"), df.filter("event_id > 2")],
        str(tmp_path / "src"),
    )
    got = S.run_available_now(
        match_pattern_stream(sdf, "user_id", "ts", ("a", "b"), **kw),
        str(tmp_path / "ck"),
        "append",
    )
    want = match_pattern(df, "user_id", "ts", ("a", "b"), **kw)
    assert want.filter("user_id IS NULL").count() > 0
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want), check_dtype=False)


@pytest.mark.parametrize("contiguity", ["relaxed", "strict"])
def test_plan_has_single_exchange(spark, events, contiguity):
    """Pattern length widens the projection, never the shuffle topology:
    N-1 chained windows (or one lag battery) share one sort."""
    from .test_plans import fplan

    steps = ("signup", "view", "click", "purchase", "error")
    plan = fplan(
        match_pattern(events, "user_id", "ts", steps, contiguity=contiguity)
    )
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_times_quantifier_requires_distinct_events(spark, tmp_path):
    """('a','a','b') = CEP a.times(2) → b: a single 'a' must NOT satisfy
    both repetitions; two distinct 'a's within the timeout must."""
    t = lambda s: datetime(2024, 1, 1, 0, 0, s, tzinfo=timezone.utc)
    df = _mk(spark, [
        (1, 10, t(0), "a"), (1, 11, t(2), "a"), (1, 12, t(4), "b"),  # match
        (2, 20, t(0), "a"), (2, 21, t(1), "b"),                      # one a: no
        (3, 30, t(0), "a"), (3, 31, t(20), "a"), (3, 32, t(21), "b"),  # gap>10s
    ])
    got = _sorted(
        match_pattern(df, "user_id", "ts", ("a", "a", "b"), within="10 seconds")
    )
    assert list(got["event_id"]) == [12]
    # streaming twin agrees, with the batch boundary between the two a's
    b0 = _mk(spark, [(1, 10, t(0), "a")])
    b1 = _mk(spark, [(1, 11, t(2), "a"), (1, 12, t(4), "b")])
    sdf = S.memory_batches_stream(spark, [b0, b1], str(tmp_path / "src"))
    stream_got = S.run_available_now(
        match_pattern_stream(
            sdf, "user_id", "ts", ("a", "a", "b"), within="10 seconds"
        ),
        str(tmp_path / "ck"),
        "append",
    )
    assert list(_sorted(stream_got)["event_id"]) == [12]


def test_condition_steps_stream_matches_batch(spark, events, tmp_path):
    """Predicate steps (SimpleCondition): 'value > 75' twice then a
    purchase — streaming twin over pre-evaluated boolean columns must
    equal the batch chained-window plan, out-of-order input included."""
    conds = ("value > 75", "value > 75", "event_type = 'purchase'")
    sdf = _scrambled_two_batch(spark, events, tmp_path)
    got = S.run_available_now(
        match_pattern_stream(
            sdf, "user_id", "ts", conditions=conds, within="48 hours"
        ),
        str(tmp_path / "ck"),
        "append",
    )
    want = match_pattern(
        events, "user_id", "ts", conditions=conds, within="48 hours"
    )
    assert want.count() > 0
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want), check_dtype=False)


def test_steps_conditions_red_paths(spark, events):
    with pytest.raises(ValueError, match="exactly one"):
        match_pattern(events, "user_id", "ts")
    with pytest.raises(ValueError, match="exactly one"):
        match_pattern(
            events, "user_id", "ts", steps=("a", "b"), conditions=("x > 1",)
        )
    with pytest.raises(ValueError, match="at least 2"):
        match_pattern(events, "user_id", "ts", steps=("a",))
    with pytest.raises(ValueError, match="quotes"):
        match_pattern(events, "user_id", "ts", steps=("a'; drop", "b"))


def test_chain_emission_hand_case(spark):
    """emit='chain' reports the LATEST qualifying event per stage —
    exactly the events the per-record loop would bind."""
    t = lambda s: datetime(2024, 1, 1, 0, 0, s, tzinfo=timezone.utc)
    df = _mk(spark, [
        (1, 10, t(0), "a"), (1, 11, t(1), "a"),   # second a supersedes
        (1, 12, t(2), "b"), (1, 13, t(4), "c"),
    ])
    got = _sorted(
        match_pattern(
            df, "user_id", "ts", ("a", "b", "c"), within="10 seconds",
            emit="chain",
        )
    )
    assert list(got["match_chain"]) == ["11>12>13"]


@pytest.mark.parametrize("contiguity", ["relaxed", "strict"])
def test_chain_stream_matches_batch(spark, events, tmp_path, contiguity):
    steps = ("view", "click", "purchase")
    sdf = _scrambled_two_batch(spark, events, tmp_path)
    got = S.run_available_now(
        match_pattern_stream(
            sdf, "user_id", "ts", steps, within="48 hours",
            contiguity=contiguity, emit="chain",
        ),
        str(tmp_path / "ck"),
        "append",
    )
    want = match_pattern(
        events, "user_id", "ts", steps, within="48 hours",
        contiguity=contiguity, emit="chain",
    )
    assert want.count() > 0
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want), check_dtype=False)


def test_strict_same_instant_tie_stream_matches_batch(spark, tmp_path):
    """Same-timestamp ties: strict batch orders by (_ord, tiebreak)
    with NO step-rank key, so the streaming twin must sort identically.
    With ids (1,'b') and (2,'a') at one instant, tiebreak order is
    'b','a' — no strict 'a'->'b' match in either form.  (Regression:
    the stream handler used to add _rank to the sort and emitted a
    phantom match.)"""
    t0 = datetime(2024, 1, 1, 0, 0, 0, tzinfo=timezone.utc)
    df = _mk(spark, [(1, 1, t0, "b"), (1, 2, t0, "a")])
    want = match_pattern(
        df, "user_id", "ts", ("a", "b"), within="10 seconds",
        contiguity="strict",
    )
    assert want.count() == 0
    sdf = S.memory_batches_stream(spark, [df], str(tmp_path / "src"))
    got = S.run_available_now(
        match_pattern_stream(
            sdf, "user_id", "ts", ("a", "b"), within="10 seconds",
            contiguity="strict",
        ),
        str(tmp_path / "ck"),
        "append",
    )
    assert len(_sorted(got)) == 0


def test_chain_ids_above_float53_survive(spark, tmp_path):
    """Chain emission must not round-trip event ids through float64:
    ids above 2**53 would silently corrupt.  (Regression: the relaxed
    ffill used to cast ids to float64.)"""
    big = (1 << 60) + 1  # not representable in float64
    t = lambda s: datetime(2024, 1, 1, 0, 0, s, tzinfo=timezone.utc)
    rows = [
        (1, big, t(0), "a"),
        (1, big + 2, t(1), "b"),
        (1, big + 4, t(2), "c"),
    ]
    df = _mk(spark, rows)
    want = _sorted(
        match_pattern(
            df, "user_id", "ts", ("a", "b", "c"), within="10 seconds",
            emit="chain",
        )
    )
    assert list(want["match_chain"]) == [f"{big}>{big + 2}>{big + 4}"]
    # the streaming scan carries (ts, id) seeds across batches — split
    # mid-pattern so the corrupted path would surface in the carry
    b0 = _mk(spark, rows[:2])
    b1 = _mk(spark, rows[2:])
    sdf = S.memory_batches_stream(spark, [b0, b1], str(tmp_path / "src"))
    got = S.run_available_now(
        match_pattern_stream(
            sdf, "user_id", "ts", ("a", "b", "c"), within="10 seconds",
            emit="chain",
        ),
        str(tmp_path / "ck"),
        "append",
    )
    assert list(_sorted(got)["match_chain"]) == [f"{big}>{big + 2}>{big + 4}"]


@pytest.mark.parametrize(
    "kwargs",
    [
        dict(steps=("signup", "view", "purchase"),
             quantifiers=("one", "optional", "one"), emit="chain"),
        dict(steps=("signup", "view", "purchase"),
             quantifiers=("one", "optional", "one")),
        dict(steps=("signup", "view", "click", "purchase"),
             within_total="60 hours"),
        dict(steps=("view", "click", "purchase"),
             within_total="60 hours", emit="chain"),
        dict(steps=("view", "click", "purchase"),
             within_total="60 hours", contiguity="strict"),
    ],
    ids=["optional-chain", "optional-completion", "total-4step",
         "total-chain", "total-strict"],
)
def test_quantifier_stream_matches_batch(spark, events, tmp_path, kwargs):
    want = match_pattern(events, "user_id", "ts", within="48 hours", **kwargs)
    assert want.count() > 0, "fixture must actually produce matches"
    sdf = _scrambled_two_batch(spark, events, tmp_path)
    got = S.run_available_now(
        match_pattern_stream(sdf, "user_id", "ts", within="48 hours", **kwargs),
        str(tmp_path / "ck"),
        "append",
    )
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want), check_dtype=False)


def test_optional_step_skip_and_take(spark):
    t = lambda s: datetime(2024, 1, 1, 0, 0, s, tzinfo=timezone.utc)
    df = _mk(spark, [
        # key 1: a -> b -> c, optional b present: chain takes it
        (1, 10, t(0), "a"), (1, 11, t(1), "b"), (1, 12, t(2), "c"),
        # key 2: a -> c with no b: skip path fires, 2-element chain
        (2, 20, t(0), "a"), (2, 21, t(2), "c"),
        # key 3: c alone never fires (first step is not optional)
        (3, 30, t(2), "c"),
    ])
    got = _sorted(
        match_pattern(
            df, "user_id", "ts", ("a", "b", "c"), within="10 seconds",
            emit="chain", quantifiers=("one", "optional", "one"),
        )
    )
    assert list(got["user_id"]) == [1, 2]
    assert list(got["match_chain"]) == ["10>11>12", "20>21"]


def test_within_total_bounds_whole_pattern(spark):
    t = lambda s: datetime(2024, 1, 1, 0, 0, s, tzinfo=timezone.utc)
    df = _mk(spark, [
        # spans 12s first->last: per-step gaps pass 10s, total fails
        (1, 10, t(0), "a"), (1, 11, t(6), "b"), (1, 12, t(12), "c"),
        # spans 4s: passes both
        (2, 20, t(0), "a"), (2, 21, t(2), "b"), (2, 22, t(4), "c"),
    ])
    kw = dict(within="10 seconds", within_total="8 seconds")
    got = _sorted(match_pattern(df, "user_id", "ts", ("a", "b", "c"), **kw))
    assert list(got["user_id"]) == [2]
    strict = _sorted(match_pattern(
        df, "user_id", "ts", ("a", "b", "c"), contiguity="strict", **kw
    ))
    assert list(strict["user_id"]) == [2]


def test_reluctant_binds_earliest_repetition(spark):
    t = lambda s: datetime(2024, 1, 1, 0, 0, s, tzinfo=timezone.utc)
    df = _mk(spark, [
        (1, 10, t(0), "a"),
        (1, 11, t(1), "b"), (1, 12, t(2), "b"), (1, 13, t(3), "b"),
        (1, 14, t(4), "c"),
    ])
    greedy = _sorted(match_pattern(
        df, "user_id", "ts", ("a", "b", "c"), within="10 seconds", emit="chain",
        quantifiers=("one", "oneOrMore", "one"),
    ))
    reluctant = _sorted(match_pattern(
        df, "user_id", "ts", ("a", "b", "c"), within="10 seconds", emit="chain",
        quantifiers=("one", "oneOrMore", "one"), mode="reluctant",
    ))
    assert list(greedy["match_chain"]) == ["10>13>14"]
    assert list(reluctant["match_chain"]) == ["10>11>14"]


def test_reluctant_streaming_strict_rejected(spark, events):
    """Reluctant streaming exists since round 8 (capped qualifier
    lists — see test_cep_reluctant_stream.py); what stays rejected is
    the combination with strict contiguity (no binding choice) and
    non-'one' quantifiers."""
    with pytest.raises(ValueError, match="relaxed"):
        match_pattern_stream(
            events, "user_id", "ts", ("a", "b"),
            mode="reluctant", contiguity="strict",
        )


def test_quantifier_red_paths(spark, events):
    with pytest.raises(ValueError, match="middle-steps-only"):
        match_pattern(events, "user_id", "ts", ("a", "b"),
                      quantifiers=("optional", "one"))
    with pytest.raises(ValueError, match="adjacent optional"):
        match_pattern(events, "user_id", "ts", ("a", "b", "c", "d"),
                      quantifiers=("one", "optional", "optional", "one"))
    with pytest.raises(ValueError, match="relaxed"):
        match_pattern(events, "user_id", "ts", ("a", "b", "c"),
                      contiguity="strict",
                      quantifiers=("one", "oneOrMore", "one"))
    with pytest.raises(ValueError, match=r"3 entries"):
        match_pattern(events, "user_id", "ts", ("a", "b", "c"),
                      quantifiers=("one", "one"))


def test_quantified_plan_still_single_exchange(spark, events):
    from .test_plans import fplan
    import re as _re

    for kw in (
        dict(quantifiers=("one", "optional", "one"), emit="chain"),
        dict(quantifiers=("one", "oneOrMore", "one"), mode="reluctant",
             emit="chain"),
        dict(within_total="60 hours"),
    ):
        plan = fplan(match_pattern(
            events, "user_id", "ts", ("signup", "view", "purchase"),
            within="48 hours", **kw,
        ))
        n_ex = len(_re.findall(r"^\(\d+\) Exchange", plan, _re.M))
        assert n_ex <= 1, f"{kw}: {n_ex} exchanges"


def test_optional_completions_are_union_of_both_paths(spark, events):
    """Semantic invariant on real data: the completion SET of
    (a, b?, c) equals the union of (a, b, c) and (a, c) completions —
    an optional step only ever widens the qualifier with the skip
    path's disjunct."""
    kw = dict(within="48 hours")
    rows = lambda df: set(
        map(tuple, df.select("user_id", "event_id").collect())
    )
    with_b = rows(match_pattern(
        events, "user_id", "ts", ("signup", "view", "purchase"), **kw
    ))
    without_b = rows(match_pattern(
        events, "user_id", "ts", ("signup", "purchase"), **kw
    ))
    optional_b = rows(match_pattern(
        events, "user_id", "ts", ("signup", "view", "purchase"),
        quantifiers=("one", "optional", "one"), **kw
    ))
    assert optional_b == with_b | without_b
    assert with_b - without_b, "fixture must exercise the through path"
    assert without_b - with_b, "fixture must exercise the skip path"
