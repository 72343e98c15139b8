"""Generic CEP sequence-pattern matching (``정리/1주차.md:22-25`` — the
book's complex-event-processing surface, of which ``funnel_conversions``
is the fixed 3-step instance).

``match_pattern`` detects an N-step event sequence per key with a
``within`` timeout between consecutive steps.  Steps are either
event-type names (``steps=``, the common sugar) or ARBITRARY SQL
boolean predicates (``conditions=``, Flink CEP ``SimpleCondition`` —
e.g. ``"value > 75"`` twice then ``"event_type = 'purchase'"``).
Predicates always evaluate JVM-side (Catalyst expressions projected
before any stateful scan), never in Python.  Two contiguity modes
mirror Flink CEP:

- ``relaxed`` (CEP ``followedBy``): other events may interleave; each
  step matches the LATEST qualified previous-step event within the
  timeout.
- ``strict`` (CEP ``next``): the N events must be consecutive in the
  key's stream — any interleaved event breaks the match.

Quantifiers: ``times(n)`` is step repetition (each repetition must
bind a DISTINCT earlier event — see below); ``optional`` steps add a
skip path to the level below (middle steps, non-adjacent);
``oneOrMore`` collapses to a single step in completion-emission
semantics but becomes observable through ``mode`` — ``greedy`` binds
each level's LATEST in-window qualifier, ``reluctant`` its EARLIEST
(batch-only; chain-carrying structs, see :func:`match_pattern`).
``within`` bounds each step gap; ``within_total`` the whole-pattern
span (Flink ``Pattern.within``).

Both contiguities have a batch form (chained conditional running-max
windows / lag battery — ONE exchange + ONE sort regardless of N,
linear in events, the 100 TB shape; the naive alternative is N-1
self-joins) and a streaming twin over ``applyInPandasWithState`` with
O(1) state per key (``relaxed``: N-1 timestamps; ``strict``: the last
N-1 events), so per-key state is independent of history length.  The
greedy twins run once per hash bucket of the key, not once per key
(:func:`..streaming.stateful.bucketed_keyed_scan`): per-key state lives
in typed arrays of one state row per bucket, the stateful stage makes
at most ``B`` (build-time ``spark.sql.shuffle.partitions``) pandas
calls per micro-batch, and a touched bucket rewrites O(keys per
bucket) of state per batch — the price of the columnar bucket row
against a per-key ``transformWithStateInPandas`` MapState layout,
which would write only the touched keys.

Match ordering is (ts, step-rank, tiebreak); predecessors are taken
from STRICTLY earlier positions, so one event never satisfies two
steps of the same match, while same-instant cascades (view, click at
one timestamp) still match — update-before-test, exactly the loop
semantics of a per-record ProcessFunction.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..streaming.stateful import bucketed_keyed_scan


def _step_conditions(
    steps: tuple[str, ...] | None,
    conditions: tuple[str, ...] | None,
    type_col: str,
) -> list[str]:
    """Normalize the two pattern spellings into SQL boolean predicates."""
    if (steps is None) == (conditions is None):
        raise ValueError("exactly one of steps/conditions required")
    if steps is not None:
        for s in steps:
            if "'" in s:
                raise ValueError(f"event-type step may not contain quotes: {s!r}")
        out = [f"{type_col} = '{s}'" for s in steps]
    else:
        out = list(conditions)
    if len(out) < 2:
        raise ValueError("a pattern needs at least 2 steps")
    return out


def _normalize_quantifiers(
    quantifiers: tuple[str, ...] | None, n: int, contiguity: str
) -> list[str]:
    """Validate the per-step quantifier vector.  ``optional`` is
    middle-steps-only (the first step anchors the match, the last emits
    it) and relaxed-only; ``oneOrMore`` collapses to ``one`` in
    completion-emission semantics (every repetition refreshes the
    step's binding — see the module docstring) and is accepted in
    relaxed mode as documentation of intent."""
    if quantifiers is None:
        return ["one"] * n
    q = list(quantifiers)
    if len(q) != n:
        raise ValueError(f"quantifiers must have {n} entries, got {len(q)}")
    for i, x in enumerate(q):
        if x not in ("one", "oneOrMore", "optional"):
            raise ValueError(f"unknown quantifier: {x!r}")
        if x != "one" and contiguity != "relaxed":
            raise ValueError(f"{x} requires relaxed contiguity")
        if x == "optional" and (i == 0 or i == n - 1):
            raise ValueError("optional is middle-steps-only")
        if x == "optional" and q[i - 1] == "optional":
            raise ValueError(
                "adjacent optional steps are not supported — fold them "
                "into one step predicate or run two patterns"
            )
    return q


def _rank_expr(conds: list[str]):
    """First-matching-step index (sort tiebreak so earlier stages of a
    same-instant cascade update state before later stages test it)."""
    expr = F.lit(len(conds))
    for i in range(len(conds) - 1, -1, -1):
        expr = F.when(F.expr(conds[i]), F.lit(i)).otherwise(expr)
    return expr


def _with_step_cols(df: DataFrame, conds: list[str]) -> DataFrame:
    """Project one boolean column per step predicate + the sort rank —
    the Catalyst-evaluated pattern alphabet every scan below consumes."""
    out = df
    for i, c in enumerate(conds):
        out = out.withColumn(f"_c{i}", F.coalesce(F.expr(c), F.lit(False)))
    return out.withColumn("_rank", _rank_expr(conds))


def match_pattern(
    df: DataFrame,
    key: str,
    ts: str,
    steps: tuple[str, ...] | None = None,
    within: str = "12 hours",
    type_col: str = "event_type",
    tiebreak: str = "event_id",
    contiguity: str = "relaxed",
    conditions: tuple[str, ...] | None = None,
    emit: str = "completion",
    quantifiers: tuple[str, ...] | None = None,
    mode: str = "greedy",
    within_total: str | None = None,
) -> DataFrame:
    """Batch sequence-pattern match: emit ``(key, tiebreak, ts_ms)`` of
    every event completing the pattern; with ``emit="chain"`` also a
    ``match_chain`` column — the full matched event chain as
    ``"id0>id1>...>idN"`` (Flink ``PatternSelectFunction`` parity: the
    chain is the bound qualifying event per stage, exactly the events
    the per-record loop would have bound; a canonical string, not an
    array, so DuckDB oracles compare it byte-for-byte).

    ``relaxed``: N-1 conditional running-max Window expressions share
    one (key, order) sort — level k's qualifier is "latest
    level-(k-1)-qualified timestamp within ``within``", evaluated over
    a ROWS frame ending 1 PRECEDING so a step never self-satisfies its
    predecessor (chain mode maxes a (ts, id) struct instead of the bare
    ts: same ordering, the id rides along).  ``strict``: one lag battery
    checks the N-1 immediately preceding events' step predicates and
    pairwise gaps.  Either way Catalyst plans a single exchange + sort —
    pattern length N changes only the projection, never the shuffle
    topology.

    Quantifiers (Flink ``Pattern.oneOrMore()/optional()``,
    ``정리/1주차.md:22-25``): ``quantifiers`` is a per-step vector of
    ``"one" | "oneOrMore" | "optional"`` (relaxed-only beyond "one").
    ``optional`` lets the next step connect directly to the previous
    level when the optional step has no in-window binding (its chain
    slot is then absent — ``concat_ws`` skips the null).  ``oneOrMore``
    collapses to ``one`` in completion-emission semantics — every
    repetition refreshes the binding — but becomes OBSERVABLE through
    ``mode``: ``"greedy"`` (default) binds each level to its LATEST
    in-window qualifier, ``"reluctant"`` to its EARLIEST (a range-frame
    min over ``(-within, -1)``; same-instant cascades need greedy —
    RANGE frames cannot split ties).  ``within_total`` bounds the
    whole-pattern span (Flink ``Pattern.within``): completion ts minus
    the bound first-step ts, measured on the EMITTED binding.
    """
    if emit not in ("completion", "chain"):
        raise ValueError(f"unknown emit mode: {emit}")
    if mode not in ("greedy", "reluctant"):
        raise ValueError(f"unknown mode: {mode}")
    conds = _step_conditions(steps, conditions, type_col)
    n = len(conds)
    quant = _normalize_quantifiers(quantifiers, n, contiguity)
    step_us = int(pd.Timedelta(within).total_seconds() * 1_000_000)
    total_us = (
        int(pd.Timedelta(within_total).total_seconds() * 1_000_000)
        if within_total is not None
        else None
    )
    base = _with_step_cols(df.withColumn("_ord", F.unix_micros(ts)), conds)
    if contiguity == "strict":
        if mode != "greedy":
            raise ValueError("strict contiguity has no binding choice")
        w = Window.partitionBy(key).orderBy("_ord", tiebreak)
        cond = F.col(f"_c{n - 1}")
        prev_ord = F.col("_ord")
        for m in range(1, n):
            cond = cond & F.lag(f"_c{n - 1 - m}", m).over(w)
            lagged = F.lag("_ord", m).over(w)
            cond = cond & (prev_ord - lagged <= step_us)
            prev_ord = lagged
        if total_us is not None:
            cond = cond & (F.col("_ord") - F.lag("_ord", n - 1).over(w) <= total_us)
        out_cols = [key, tiebreak, F.unix_millis(ts).alias("ts_ms")]
        if emit == "chain":
            chain = [
                F.lag(tiebreak, m).over(w).cast("string")
                for m in range(n - 1, 0, -1)
            ] + [F.col(tiebreak).cast("string")]
            base = base.withColumn("_chain", F.concat_ws(">", *chain))
            out_cols.append(F.col("_chain").alias("match_chain"))
        return base.withColumn("_m", cond).filter("_m").select(*out_cols)
    if contiguity != "relaxed":
        raise ValueError(f"unknown contiguity: {contiguity}")
    out_cols = [key, tiebreak, F.unix_millis(ts).alias("ts_ms")]
    if mode == "reluctant":
        # Reluctant binds each level to its EARLIEST in-window
        # qualifier: a min over a RANGE frame (-within, -1), so
        # in-window validity is non-nullness by construction.  Unlike
        # greedy (below), bindings carry their chain-so-far and
        # first-step ts INSIDE the struct, captured at qualification
        # time — the earliest binding can expire from the completion
        # row's frame, so at-completion re-evaluation (greedy's trick)
        # would mis-report the chain.  The (o, i) prefix makes struct
        # order total; c/f ride along.  Same-instant cascades need
        # greedy — a RANGE frame cannot split ties.
        wr = Window.partitionBy(key).orderBy("_ord").rangeBetween(-step_us, -1)
        out = base
        for m in range(n - 1):
            if m == 0:
                b = F.when(
                    F.col("_c0"),
                    F.struct(
                        F.col("_ord").alias("o"),
                        F.col(tiebreak).alias("i"),
                        F.col(tiebreak).cast("string").alias("c"),
                        F.col("_ord").alias("f"),
                    ),
                )
            else:
                pred = F.col(f"_s{m - 1}")
                ok = pred["o"].isNotNull()
                if quant[m - 1] == "optional":
                    pred = F.when(ok, pred).otherwise(F.col(f"_s{m - 2}"))
                    ok = ok | F.col(f"_s{m - 2}.o").isNotNull()
                b = F.when(
                    F.col(f"_c{m}") & ok,
                    F.struct(
                        F.col("_ord").alias("o"),
                        F.col(tiebreak).alias("i"),
                        F.concat_ws(
                            ">", pred["c"], F.col(tiebreak).cast("string")
                        ).alias("c"),
                        pred["f"].alias("f"),
                    ),
                )
            out = out.withColumn(f"_s{m}", F.min(b).over(wr))
        pred = F.col(f"_s{n - 2}")
        ok = pred["o"].isNotNull()
        if quant[n - 2] == "optional":
            pred = F.when(ok, pred).otherwise(F.col(f"_s{n - 3}"))
            ok = ok | F.col(f"_s{n - 3}.o").isNotNull()
        qual = F.col(f"_c{n - 1}") & ok
        if total_us is not None:
            qual = qual & (F.col("_ord") - pred["f"] <= total_us)
        if emit == "chain":
            out_cols.append(
                F.concat_ws(
                    ">", pred["c"], F.col(tiebreak).cast("string")
                ).alias("match_chain")
            )
        return out.filter(qual).select(*out_cols)
    w = (
        Window.partitionBy(key)
        .orderBy("_ord", "_rank", tiebreak)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = base
    qual = F.col("_c0")
    valid: list = [None] * n  # in-window validity of level k's binding
    for i in range(1, n):
        if emit == "chain":
            bound = F.when(
                qual,
                F.struct(F.col("_ord").alias("o"), F.col(tiebreak).alias("i")),
            )
            out = out.withColumn(f"_s{i - 1}", F.max(bound).over(w))
            valid[i - 1] = F.col(f"_s{i - 1}.o") >= F.col("_ord") - step_us
        else:
            bound = F.when(qual, F.col("_ord"))
            out = out.withColumn(f"_l{i - 1}", F.max(bound).over(w))
            valid[i - 1] = F.col(f"_l{i - 1}") >= F.col("_ord") - step_us
        q = valid[i - 1]
        if quant[i - 1] == "optional":
            # skip path: connect to the level BELOW the optional step
            q = q | valid[i - 2]
        qual = F.col(f"_c{i}") & q
    if total_us is not None:
        first = F.col("_s0.o") if emit == "chain" else F.col("_l0")
        qual = qual & (F.col("_ord") - first <= total_us)
    if emit == "chain":
        slots = []
        for i in range(n - 1):
            s = F.col(f"_s{i}.i").cast("string")
            if quant[i] == "optional":
                # an optional step rides in the chain only when its
                # binding exists AND is in-window of the completion —
                # otherwise the match skipped it
                s = F.when(valid[i], s)
            slots.append(s)
        out_cols.append(
            F.concat_ws(
                ">", *slots, F.col(tiebreak).cast("string")
            ).alias("match_chain")
        )
    return out.filter(qual).select(*out_cols)


def _segments(starts: np.ndarray, n_rows: int) -> tuple[np.ndarray, np.ndarray]:
    """Per-row key-segment index, and each segment's last row."""
    ends = np.append(starts[1:], n_rows) - 1
    return np.repeat(np.arange(len(starts)), ends - starts + 1), ends


def _relaxed_scan(
    ords: np.ndarray,
    flags: list[np.ndarray],
    starts: np.ndarray,
    seed_ts: np.ndarray,
    seed_has: np.ndarray,
    step_us: int,
    quant: list[str] | None = None,
    total_us: int | None = None,
    ids: np.ndarray | None = None,
    seed_ids: np.ndarray | None = None,
) -> tuple[np.ndarray, list[list[int]] | None, tuple[np.ndarray, ...]]:
    """Segmented relaxed-contiguity scan over a bucket's rows, sorted by
    key then (ts, rank, tiebreak); ``starts`` are the first rows of the
    key segments.  Level k's binding at a row is the latest level-k
    qualifier at a STRICTLY EARLIER position of the same key — a
    forward-fill of qualifying positions (``np.maximum.accumulate``)
    masked by the row's segment start, falling back to the key's
    carried ``(seed_ts, seed_has)`` (shape ``(N-1, keys)``).  ``quant``
    marks optional steps (skip path to the level below); ``total_us``
    bounds completion minus bound-first-step span.  With ``ids`` (chain
    mode) every hit also reports the bound id per level; ids stay int64
    end to end, so ids above 2**53 survive, and an optional step's slot
    is kept only when its binding is in-window of the completion — the
    batch form's ``concat_ws`` null-skip.  Returns hit rows, chains
    (or None) and the new per-key ``(ts, has, ids)`` state."""
    n = len(flags)
    rows = np.arange(len(ords))
    seg, ends = _segments(starts, len(ords))
    seg_start = starts[seg]
    new_ts, new_has = np.empty_like(seed_ts), np.empty_like(seed_has)
    new_ids = None if ids is None else np.empty_like(seed_ids)
    bound_ts, bound_has, bound_ids, valid = [], [], [], []
    qual = flags[0]
    for lvl in range(n - 1):
        last = np.maximum.accumulate(np.where(qual, rows, -1))
        before = np.append(-1, last[:-1])
        own = before >= seg_start
        at = np.where(own, before, 0)
        b_ts = np.where(own, ords[at], seed_ts[lvl][seg])
        b_has = own | seed_has[lvl][seg]
        # state carried out: latest qualifier up to the segment's last row
        end = last[ends]
        e_own = end >= starts
        new_ts[lvl] = np.where(e_own, ords[np.maximum(end, 0)], seed_ts[lvl])
        new_has[lvl] = e_own | seed_has[lvl]
        if ids is not None:
            bound_ids.append(np.where(own, ids[at], seed_ids[lvl][seg]))
            new_ids[lvl] = np.where(e_own, ids[np.maximum(end, 0)], seed_ids[lvl])
        bound_ts.append(b_ts)
        bound_has.append(b_has)
        valid.append(b_has & (b_ts >= ords - step_us))
        q = valid[lvl]
        if quant is not None and quant[lvl] == "optional":
            q = q | valid[lvl - 1]  # skip path: connect to the level below
        qual = flags[lvl + 1] & q
    hits = np.flatnonzero(qual)
    if total_us is not None:
        hits = hits[bound_has[0][hits] & (ords[hits] - bound_ts[0][hits] <= total_us)]
    chains = None
    if ids is not None:
        chains = [
            [
                int(bound_ids[m][h])
                for m in range(n - 1)
                if quant is None or quant[m] != "optional" or valid[m][h]
            ]
            + [int(ids[h])]
            for h in hits
        ]
    return hits, chains, (new_ts, new_has, new_ids)


def _strict_scan(
    ords: np.ndarray,
    flags: np.ndarray,
    ids: np.ndarray,
    starts: np.ndarray,
    tail: tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray],
    step_us: int,
    total_us: int | None = None,
) -> tuple[np.ndarray, list[list[int]], tuple[np.ndarray, ...]]:
    """Segmented strict-contiguity scan: each key's carried last N-1
    events (``tail`` = ``(ts, id, step-flag bitmask, present)``, shape
    ``(N-1, keys)``, oldest slot first) are prepended inside the key's
    own segment, then one lag battery checks the N-1 immediately
    preceding events' step flags and pairwise gaps, masked at segment
    boundaries.  ``flags`` is ``(rows, N)``.  Returns the completing
    batch rows, their chains and the new tail."""
    n = flags.shape[1]
    t_o, t_i, t_f, t_has = tail
    t_seg, slot = np.nonzero(t_has.T)  # key-major, oldest slot first
    seg, _ = _segments(starts, len(ords))
    order = np.argsort(np.concatenate([t_seg, seg]), kind="stable")
    t_flags = ((t_f[slot, t_seg][:, None] >> np.arange(n)) & 1).astype(bool)
    e_seg = np.concatenate([t_seg, seg])[order]
    e_ord = np.concatenate([t_o[slot, t_seg], ords])[order]
    e_ids = np.concatenate([t_i[slot, t_seg], ids])[order]
    e_flags = np.concatenate([t_flags, flags])[order]
    e_row = np.concatenate([np.full(len(slot), -1), np.arange(len(ords))])[order]
    e_starts = np.flatnonzero(np.append(True, e_seg[1:] != e_seg[:-1]))
    e_seg_start = e_starts[e_seg]
    pos = np.arange(len(e_ord))
    cond = e_flags[:, n - 1] & (e_row >= 0)  # completions in THIS batch
    for m in range(1, n):
        ok = pos - m >= e_seg_start
        lag = np.where(ok, pos - m, 0)
        nxt = np.where(ok, pos - m + 1, 0)
        cond &= ok & e_flags[lag, n - 1 - m] & (e_ord[nxt] - e_ord[lag] <= step_us)
    g = np.flatnonzero(cond)
    if total_us is not None:
        g = g[e_ord[g] - e_ord[g - (n - 1)] <= total_us]
    chains = [[int(e_ids[x - m]) for m in range(n - 1, -1, -1)] for x in g]
    # new tail: slot j holds the segment's (n-1-j)-th last row, if any
    e_ends = np.append(e_starts[1:], len(e_ord)) - 1
    r = e_ends - np.arange(n - 2, -1, -1)[:, None]
    new_has = r >= e_starts
    r = np.maximum(r, 0)
    bits = (e_flags.astype("int64") << np.arange(n)).sum(axis=1)
    return e_row[g], chains, (e_ord[r], e_ids[r], bits[r], new_has)


def match_pattern_stream(
    df: DataFrame,
    key: str,
    ts: str,
    steps: tuple[str, ...] | None = None,
    within: str = "12 hours",
    type_col: str = "event_type",
    tiebreak: str = "event_id",
    contiguity: str = "relaxed",
    conditions: tuple[str, ...] | None = None,
    emit: str = "completion",
    quantifiers: tuple[str, ...] | None = None,
    mode: str = "greedy",
    within_total: str | None = None,
    reluctant_cap: int = 64,
) -> DataFrame:
    """Streaming twin of :func:`match_pattern` (P1 ProcessFunction
    shape): per key, ``relaxed`` keeps N-1 last-qualified timestamps
    (plus their event ids in chain mode), ``strict`` the last N-1
    events — O(1) state either way, which is what lets the pattern run
    over millions of keys with state in the executor state store.  Step
    predicates and the µs event time are projected JVM-side BEFORE the
    stateful scan, so the Python handler only reads pre-evaluated
    columns.

    Greedy mode runs through
    :func:`..streaming.stateful.bucketed_keyed_scan`: one pandas call
    per hash bucket of the key (at most ``B`` = build-time
    ``spark.sql.shuffle.partitions`` per micro-batch, so at most ``B``
    stateful tasks do work), sorted by key then (ts, rank, tiebreak),
    with one segmented numpy scan over all of the bucket's keys
    (:func:`_relaxed_scan`, :func:`_strict_scan`).  Each key still sees
    only its own rows and state.  That state sits in the bucket's
    state row as typed per-key arrays; a touched bucket rewrites
    O(keys per bucket) per batch, where a per-key
    ``transformWithStateInPandas`` MapState would write only the
    touched keys.  Out-of-order arrival WITHIN a micro-batch is sorted
    out; cross-batch order relies on the source's event-time alignment
    (same contract as every handler in :mod:`..streaming.stateful`).

    Quantifiers and ``within_total`` match the batch form.

    ``mode="reluctant"`` (earliest-in-window binding) inherently needs
    the qualifying-event window in state — O(events per window), not
    O(1) like greedy — because when the earliest qualifier expires the
    binding falls to the NEXT earliest, which must have been retained.
    It keeps one handler call and one state row per key.  The streaming
    form caps that state at ``reluctant_cap`` qualifiers
    per (key, level): qualifiers beyond the cap are dropped (keeping
    the EARLIEST ``reluctant_cap``, which preserves every binding the
    retained window can prove) and the emitted ``overflow`` flag turns
    true for that key from then on.  The post-overflow guarantee is
    scoped to COMPLETION IDENTITY: every emitted (key, event) completion
    is a real batch-reluctant completion (false negatives only, never a
    spurious completion), but a post-overflow ``match_chain`` may bind
    a later retained qualifier than the batch form's (dropped) earliest
    one, so chain CONTENT after overflow is best-effort and flagged.
    ``within_total`` is measured on the earliest binding's first-step
    timestamp, which a cap cannot lower-bound once that binding is
    dropped — a capped run could emit a completion the batch form
    rejects.  To keep the no-false-positive contract exact,
    ``within_total`` therefore DISABLES the cap: state falls back to
    the full qualifying window (still pruned by ``within``, i.e. the
    inherent O(events per window) reluctant cost) and ``overflow``
    stays false.  Restricted to relaxed contiguity; quantifiers match
    the batch reluctant form exactly (``oneOrMore`` collapses to
    ``one``; ``optional`` middle steps take the skip-path fallback);
    equivalence to the batch reluctant form is pinned by
    tests/test_cep_reluctant_stream.py."""
    if emit not in ("completion", "chain"):
        raise ValueError(f"unknown emit mode: {emit}")
    if mode not in ("greedy", "reluctant"):
        raise ValueError(f"unknown mode: {mode}")
    conds = _step_conditions(steps, conditions, type_col)
    n = len(conds)
    quant = _normalize_quantifiers(quantifiers, n, contiguity)
    step_us = int(pd.Timedelta(within).total_seconds() * 1_000_000)
    total_us = (
        int(pd.Timedelta(within_total).total_seconds() * 1_000_000)
        if within_total is not None
        else None
    )
    chain = emit == "chain"
    out_schema = f"{key} long, {tiebreak} long, ts_ms long" + (
        ", match_chain string" if chain else ""
    )
    cols = [f"_c{i}" for i in range(n)]
    prepared = _with_step_cols(df.withColumn("_ord", F.unix_micros(ts)), conds)

    if mode == "reluctant":
        if contiguity != "relaxed":
            raise ValueError("reluctant streaming requires relaxed contiguity")
        # quantifiers mirror the batch reluctant form exactly:
        # ``oneOrMore`` collapses to ``one`` (completion-emission
        # semantics, see _normalize_quantifiers) and ``optional``
        # middle steps take the skip path — a qualification whose
        # predecessor level holds no in-window binding falls back to
        # the level BELOW the optional step, the batch
        # `when(ok, pred).otherwise(_s{m-2})` fallback (closed the
        # round-9 NotImplementedError; equivalence pinned in
        # tests/test_cep_reluctant_stream.py)
        # within_total is checked against the EARLIEST binding's
        # first-step ts; once the cap drops that binding the check runs
        # on a LATER first-ts and can pass where batch rejects (a false
        # positive).  Exactness wins: within_total disables the cap —
        # state stays bounded by the `within` window-floor prune, the
        # inherent reluctant cost.
        cap = None if total_us is not None else int(reluctant_cap)
        rel_out_schema = out_schema + ", overflow boolean"
        # struct-min order in the batch form is (o, i): sort ties on the
        # tiebreak so list insertion order reproduces it exactly
        rel_sort = ["_ord", tiebreak]

        def handle(
            k: tuple[Any, ...],
            pdfs: Iterator[pd.DataFrame],
            state: GroupState,
        ) -> Iterator[pd.DataFrame]:
            pdf = pd.concat(list(pdfs), ignore_index=True)
            pdf = pdf.sort_values(rel_sort, ignore_index=True)
            if state.exists:
                raw, ov = state.get
                lists = json.loads(raw)
                ov = bool(ov)
            else:
                lists, ov = [[] for _ in range(n - 1)], False
            flags = [pdf[c].to_numpy(dtype=bool) for c in cols]
            ords = pdf["_ord"].to_numpy()
            ids = pdf[tiebreak].to_numpy(dtype="int64")
            out_rows: list[tuple] = []

            def _bind(pred_level: int, o: int):
                # earliest in-window binding at the predecessor level;
                # when that level is an OPTIONAL step with no binding,
                # skip to the level below it (batch reluctant's
                # `when(ok, pred).otherwise(_s{m-2})` fallback —
                # _normalize_quantifiers guarantees optionals are
                # middle-only and never adjacent, so level-1 exists)
                b = next(
                    (e for e in lists[pred_level] if e[0] <= o - 1), None
                )
                if b is None and quant[pred_level] == "optional":
                    b = next(
                        (
                            e
                            for e in lists[pred_level - 1]
                            if e[0] <= o - 1
                        ),
                        None,
                    )
                return b

            for r in range(len(pdf)):
                o, i = int(ords[r]), int(ids[r])
                lo = o - step_us
                # ascending scan: entries below the window floor can
                # never bind this or any later event — prune them (this
                # is what frees cap slots over time)
                for lst in lists:
                    while lst and lst[0][0] < lo:
                        lst.pop(0)
                # completion: earliest retained level-(n-2) binding that
                # is STRICTLY earlier (the batch RANGE frame ends at -1)
                if flags[n - 1][r]:
                    b = _bind(n - 2, o)
                    if b is not None and (
                        total_us is None or o - b[3] <= total_us
                    ):
                        row = (k[0], i, o // 1_000)
                        if chain:
                            row += (f"{b[2]}>{i}",)
                        out_rows.append(row + (ov,))
                # qualification: bindings capture chain-so-far + first
                # ts at qualification time (batch parity); same-event
                # entries can't feed the same event (o' <= o-1)
                for m in range(n - 1):
                    if not flags[m][r]:
                        continue
                    if m == 0:
                        entry = (o, i, str(i) if chain else "", o)
                    else:
                        b = _bind(m - 1, o)
                        if b is None:
                            continue
                        entry = (
                            o,
                            i,
                            f"{b[2]}>{i}" if chain else "",
                            b[3],
                        )
                    if cap is not None and len(lists[m]) >= cap:
                        # keep the earliest `cap` qualifiers: every
                        # binding provable from retained state stays
                        # correct; dropped later qualifiers can only
                        # cause false NEGATIVES after expiries
                        ov = True
                    else:
                        lists[m].append(entry)
            state.update((json.dumps(lists), ov))
            if out_rows:
                names = [key, tiebreak, "ts_ms"] + (
                    ["match_chain"] if chain else []
                ) + ["overflow"]
                yield pd.DataFrame(out_rows, columns=names)

        return prepared.groupBy(key).applyInPandasWithState(
            handle,
            rel_out_schema,
            "buf string, ov boolean",
            "append",
            GroupStateTimeout.NoTimeout,
        )

    def _emit(pdf, hits, chains):
        if not len(hits):
            return None
        out = {
            key: pdf[key].to_numpy()[hits],
            tiebreak: pdf[tiebreak].to_numpy(dtype="int64")[hits],
            "ts_ms": pdf["_ord"].to_numpy()[hits] // 1_000,
        }
        if chain:
            out["match_chain"] = [">".join(str(i) for i in c) for c in chains]
        return pd.DataFrame(out)

    # strict batch orders by (_ord, tiebreak) — no _rank — so the
    # streaming twin must sort identically or same-instant ties diverge
    # between the two forms (relaxed keeps the _rank key: earlier
    # stages of a same-instant cascade update state before later
    # stages test it)
    if contiguity == "relaxed":
        sort_keys = ["_ord", "_rank", tiebreak]
        fields = [f"l{j}" for j in range(n - 1)]
        if chain:
            fields += [f"i{j}" for j in range(n - 1)]

        def kernel(pdf, starts, vals, has):
            hits, chains, (ts_, has, ids) = _relaxed_scan(
                pdf["_ord"].to_numpy(),
                [pdf[c].to_numpy(dtype=bool) for c in cols],
                starts,
                vals[: n - 1],
                has[: n - 1],
                step_us,
                quant,
                total_us,
                pdf[tiebreak].to_numpy(dtype="int64") if chain else None,
                vals[n - 1 :] if chain else None,
            )
            if chain:
                ts_, has = np.vstack([ts_, ids]), np.vstack([has, has])
            return _emit(pdf, hits, chains), ts_, has

    elif contiguity == "strict":
        sort_keys = ["_ord", tiebreak]
        # the carried last n-1 events, oldest slot first: ts, id and the
        # step-predicate bitmask
        fields = [f"{f}{j}" for f in ("o", "i", "f") for j in range(n - 1)]

        def kernel(pdf, starts, vals, has):
            hits, chains, (*vals, has) = _strict_scan(
                pdf["_ord"].to_numpy(),
                pdf[cols].to_numpy(dtype=bool),
                pdf[tiebreak].to_numpy(dtype="int64"),
                starts,
                (*np.split(vals, 3), has[: n - 1]),
                step_us,
                total_us,
            )
            return _emit(pdf, hits, chains), np.vstack(vals), np.vstack([has] * 3)

    else:
        raise ValueError(f"unknown contiguity: {contiguity}")

    return bucketed_keyed_scan(
        prepared.select(key, tiebreak, "_ord", "_rank", *cols),
        key,
        sort_keys,
        fields,
        kernel,
        out_schema,
    )
