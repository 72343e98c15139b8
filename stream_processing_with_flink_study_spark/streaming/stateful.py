"""Keyed stateful streaming operators (SURVEY.md §2.5 P1-P7) via
``applyInPandasWithState`` — the engine's ProcessFunction surface.

Each operator is the streaming twin of an oracle-checked batch query in
:mod:`..plans.queries_stateful`; tests/test_streaming.py asserts the
equivalence at micro-batch granularity.  Handlers receive each key's
rows per micro-batch as Arrow-backed pandas frames (never row-at-a-time
Python), sort by event time *inside* the handler (intra-batch order is
not guaranteed), and keep O(1) state per key — the properties that let
the same code run over millions of keys on a cluster where per-key state
lives in the executor state store, not on the driver.
:func:`bucketed_keyed_scan` makes one call per hash bucket of keys
instead of one per key (the greedy CEP twins and :func:`funnel_matches`
run on it); the other operators here still make one call per key.

Flink mapping: ValueState pattern ``정리/5주차.md:24-59``; state
primitives ``정리/5주차.md:7-13``; TTL ``정리/5주차.md:142-148`` →
``GroupStateTimeout.ProcessingTimeTimeout`` + ``state.remove()``.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _ts_ms(col: pd.Series) -> np.ndarray:
    """Datetime series → epoch-millis int64, robust to the pandas
    resolution (ns under classic conversion, us under Arrow types)."""
    return col.to_numpy().astype("datetime64[ms]").astype("int64")


def _delta_alerts_core(
    vals: np.ndarray,
    ts_ms: np.ndarray,
    last_value: float | None,
    threshold: float,
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized per-key-batch body of :func:`temp_delta_alerts`: each
    row compares against the immediately preceding value (state carries
    the last value across the micro-batch boundary), so the recurrence
    is a pure ``shift`` — no sequential dependence beyond lag-1."""
    prev = np.empty_like(vals)
    prev[0] = np.nan if last_value is None else last_value
    prev[1:] = vals[:-1]
    delta = vals - prev
    with np.errstate(invalid="ignore"):
        mask = np.abs(delta) > threshold  # NaN first-row compares False
    return np.flatnonzero(mask), np.round(delta, 4)


def _count_window_core(
    vals: np.ndarray,
    buf_sum: float,
    buf_n: int,
    next_idx: int,
    n: int,
) -> tuple[list[tuple[int, float]], float, int, int]:
    """Vectorized count-window fold: boundary positions fall where the
    carried-in count crosses a multiple of ``n``; per-window sums are
    cumsum differences at those boundaries."""
    cs = np.cumsum(vals)
    idx = np.flatnonzero((buf_n + np.arange(1, len(vals) + 1)) % n == 0)
    wins: list[tuple[int, float]] = []
    if len(idx):
        sums = cs[idx] - np.concatenate(([0.0], cs[idx[:-1]]))
        sums[0] += buf_sum
        wins = [(next_idx + j, round(float(s), 4)) for j, s in enumerate(sums)]
        buf_sum = float(cs[-1] - cs[idx[-1]])
        next_idx += len(idx)
    else:
        buf_sum = float(buf_sum + (cs[-1] if len(cs) else 0.0))
    buf_n = (buf_n + len(vals)) % n
    return wins, buf_sum, buf_n, next_idx


_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


def bucketed_keyed_scan(
    df: DataFrame,
    key: str,
    sort_cols: list[str],
    fields: list[str],
    kernel: Callable[
        [pd.DataFrame, np.ndarray, np.ndarray, np.ndarray],
        tuple[pd.DataFrame | None, np.ndarray, np.ndarray],
    ],
    out_schema: str,
) -> DataFrame:
    """Run a keyed stateful scan once per hash bucket of ``key``, not
    once per key.

    Rows group by ``pmod(xxhash64(key), B)`` with ``B`` the session's
    ``spark.sql.shuffle.partitions`` at build time — the count Spark
    pins in the checkpoint — so a micro-batch makes at most ``B``
    pandas calls whatever the key count.  Each call sorts its bucket's
    rows by ``(key, *sort_cols)`` and calls ``kernel(pdf, starts, vals,
    has)`` with the sorted rows, the first row of each key segment, and
    the segments' carried state as int64 ``vals`` and bool ``has``
    arrays of shape ``(len(fields), keys)`` (``has`` False: no value).
    The kernel returns its output frame (or None) and the new ``vals``
    and ``has`` in the same shape.

    The per-key contract of ``mapGroupsWithState`` holds: a key sees
    only its own rows and state.  The bucket's state row stores the
    real key values, one nullable ``array<long>`` per field, and ``B``;
    keys present in the batch are rewritten, every other key's state is
    kept.  A touched bucket therefore rewrites O(keys per bucket) per
    batch.  State written under a different ``B`` raises: its keys
    would sit in the wrong buckets and silently lose their state."""
    buckets = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    key_type = df.schema[key].dataType.simpleString()
    state_schema = ", ".join(
        [f"keys array<{key_type}>"]
        + [f"{f} array<long>" for f in fields]
        + ["buckets int"]
    )
    order = [key, *sort_cols]

    def handle(
        k: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
            order, ignore_index=True
        )
        if key_type in _INTEGRAL and pdf[key].dtype.kind == "f":
            # Arrow hands an integral key holding nulls over as float64
            pdf[key] = pdf[key].astype("Int64")
        codes = pd.factorize(pdf[key], use_na_sentinel=False)[0]  # null: a key
        starts = np.flatnonzero(np.append(True, codes[1:] != codes[:-1]))
        seg_keys = pdf[key].iloc[starts].astype(object)
        seg_keys = pd.Index(seg_keys.where(seg_keys.notna(), None), dtype=object)
        if state.exists:
            stored_keys, *stored, stored_buckets = state.get
            if stored_buckets != buckets:
                raise RuntimeError(
                    f"key bucket {k[0]} holds state hashed into "
                    f"{stored_buckets} buckets, but this query hashes keys "
                    f"into {buckets} (spark.sql.shuffle.partitions at "
                    "build time); rebuild with the checkpoint's "
                    "partition count or start a new checkpoint"
                )
        else:
            stored_keys, stored = [], [[] for _ in fields]
        # a trailing all-None column is what keys new to state (-1) read
        held = np.empty((len(fields), len(stored_keys) + 1), dtype=object)
        held[:, :-1] = stored
        at = pd.Index(stored_keys, dtype=object).get_indexer(seg_keys)
        mine = held[:, at]
        known = mine != None  # noqa: E711 (elementwise on objects)
        out, vals, has = kernel(
            pdf, starts, np.where(known, mine, 0).astype("int64"), known
        )
        # the batch's keys overwrite their column, new keys take the None
        # column's place and beyond: every absent key's state is kept
        new = at < 0
        at[new] = len(stored_keys) + np.arange(new.sum())
        held = np.concatenate(
            [held[:, :-1], np.empty((len(fields), new.sum()), dtype=object)], axis=1
        )
        held[:, at] = np.where(has, vals, None)
        state.update(
            (list(stored_keys) + seg_keys[new].tolist(), *held.tolist(), buckets)
        )
        if out is not None and len(out):
            yield out

    return (
        df.withColumn("_bucket", F.pmod(F.xxhash64(key), F.lit(buckets)))
        .groupBy("_bucket")
        .applyInPandasWithState(
            handle, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )


def temp_delta_alerts(
    df: DataFrame,
    key: str = "id",
    ts: str = "ts",
    value: str = "temperature",
    threshold: float = 1.7,
    order_by: list[str] | None = None,
) -> DataFrame:
    """ValueState showcase (P4, ``정리/5주차.md:24-54``): remember the
    last value per key, emit ``(key, ts, value, delta)`` whenever
    ``|value - last| > threshold``.  ``order_by`` breaks event-time ties
    deterministically (default: event time only).  Batch twin: ``lag``
    window fn (plans.queries_stateful.temp_delta_alert)."""
    out_schema = f"{key} string, ts_ms long, value double, delta double"
    state_schema = "last_value double, last_ts_ms long"
    sort_cols = order_by or [ts]

    def handle(
        k: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        last_value, last_ts = state.get if state.exists else (None, None)
        # a key's micro-batch rows may arrive as several Arrow chunks:
        # concat before sorting or the event-time order is per-chunk only
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(sort_cols)
        vals = pdf[value].to_numpy(dtype="float64")
        t_ms = _ts_ms(pdf[ts])
        hit, delta = _delta_alerts_core(vals, t_ms, last_value, threshold)
        state.update((float(vals[-1]), int(t_ms[-1])))
        if len(hit):
            yield pd.DataFrame(
                {
                    key: [k[0]] * len(hit),
                    "ts_ms": t_ms[hit],
                    "value": vals[hit],
                    "delta": delta[hit],
                }
            )

    return df.groupBy(key).applyInPandasWithState(
        handle, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def dedup_first(
    df: DataFrame,
    key_cols: list[str],
    ts: str = "ts",
    ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming exact dedup: emit only the first event per key (min
    event time), suppress the rest.  ``ttl_ms`` bounds state per key
    (P7 leak prevention, ``정리/5주차.md:142-148``): after the TTL the
    key's seen-marker is dropped and a later duplicate would pass —
    the standard windowed-dedup trade-off at 100 TB key cardinality."""
    out_schema = ", ".join(f"{c} string" for c in key_cols) + ", first_ts_ms long"
    state_schema = "seen boolean"
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )

    def handle(
        k: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        if not state.exists:
            first_ts = None
            for pdf in pdfs:
                m = pdf[ts].min()
                if first_ts is None or m < first_ts:
                    first_ts = m
            state.update((True,))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
            yield pd.DataFrame(
                [(*[str(x) for x in k], int(first_ts.value // 1_000_000))],
                columns=[*key_cols, "first_ts_ms"],
            )
        else:
            for _ in pdfs:  # drain: duplicates suppressed
                pass
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)

    return df.groupBy(*key_cols).applyInPandasWithState(
        handle, out_schema, state_schema, "append", timeout
    )


def count_window_sum(
    df: DataFrame,
    key: str,
    ts: str,
    value: str,
    n: int,
) -> DataFrame:
    """Count window (W5, ``정리/1주차.md:152``): per key, every ``n``
    events emit ``(key, window_idx, sum, n)``; the partial bucket stays
    in state (ListState semantics folded into a scalar accumulator —
    sum+count, not the raw rows, so state is O(1) not O(n))."""
    out_schema = f"{key} string, window_idx long, win_sum double, win_n long"
    state_schema = "buf_sum double, buf_n long, next_idx long"

    def handle(
        k: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        buf_sum, buf_n, next_idx = state.get if state.exists else (0.0, 0, 0)
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(ts)
        vals = pdf[value].to_numpy(dtype="float64")
        wins, buf_sum, buf_n, next_idx = _count_window_core(
            vals, buf_sum, buf_n, next_idx, n
        )
        state.update((buf_sum, buf_n, next_idx))
        if wins:
            yield pd.DataFrame(
                [(k[0], i, s, n) for i, s in wins],
                columns=[key, "window_idx", "win_sum", "win_n"],
            )

    return df.groupBy(key).applyInPandasWithState(
        handle, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def keyed_rolling_reduce(
    df: DataFrame,
    key: str,
    ts: str,
    value: str,
) -> DataFrame:
    """Rolling reduce (K5, ``KeyedTransformations.java:55-62``): keep the
    per-key max-so-far and emit the updated ``(key, max_value)`` once per
    micro-batch in which it changed — Flink's per-record emission
    micro-batched (SURVEY §7.3 gap 1); final state identical."""
    out_schema = f"{key} string, max_value double"
    state_schema = "max_value double"

    def handle(
        k: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (cur,) = state.get if state.exists else (None,)
        changed = False
        for pdf in pdfs:
            m = float(pdf[value].max())
            if cur is None or m > cur:
                cur, changed = m, True
        state.update((cur,))
        if changed:
            yield pd.DataFrame([(k[0], cur)], columns=[key, "max_value"])

    return df.groupBy(key).applyInPandasWithState(
        handle, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def funnel_matches(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    steps: tuple[str, str, str] = ("view", "click", "purchase"),
    step_us: int = 12 * 3600 * 1_000_000,
) -> DataFrame:
    """Streaming CEP funnel (P1 ProcessFunction pattern): emit the final
    step of a ``steps`` sequence whose consecutive stages each occur
    within ``step_us`` — the stateful twin of the batch
    ``funnel_conversions`` chained-window query.  It is the 3-step
    relaxed pattern of :func:`..operators.cep.match_pattern_stream`
    (same ``(ts, stage rank, event_id)`` order, so same-instant
    cascades update state before later stages test it), with two
    timestamps of state per key."""
    from ..operators.cep import match_pattern_stream

    return match_pattern_stream(
        df, key, ts, steps, within=f"{step_us}us", type_col=type_col
    )


def topk_counts(
    df: DataFrame, key: str, term_col: str, k: int = 5
) -> DataFrame:
    """Streaming heavy hitters (MapState semantics on the GroupState
    API): per key, term counts accumulate across micro-batches as a
    dict-valued state; after each batch the key's current top-k
    (count desc, term asc) re-emits in update mode, so the final
    emission equals the batch top-k.  State is vocabulary-bounded per
    key — an entry per distinct term, never per event.  The
    transformWithState twin is ``process.topk_counts_tws`` (true
    per-entry MapState instead of a serialized dict)."""
    import json

    out_schema = "key string, term string, cnt long, rank long"
    state_schema = "counts string"

    def handle(
        k_: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        counts: dict[str, int] = (
            json.loads(state.get[0]) if state.exists else {}
        )
        batch = pd.concat(list(pdfs), ignore_index=True)
        for term, n in batch[term_col].astype(str).value_counts().items():
            counts[term] = counts.get(term, 0) + int(n)
        state.update((json.dumps(counts),))
        top = sorted(counts.items(), key=lambda tc: (-tc[1], tc[0]))[:k]
        yield pd.DataFrame(
            {
                "key": [str(k_[0])] * len(top),
                "term": [t for t, _ in top],
                "cnt": [c for _, c in top],
                "rank": list(range(1, len(top) + 1)),
            }
        )

    return df.groupBy(key).applyInPandasWithState(
        handle, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def session_sum_event_timers(
    df: DataFrame,
    key: str,
    ts: str,
    value: str,
    gap_seconds: float,
) -> DataFrame:
    """W4 session windows via EVENT-TIME TIMERS — the Flink timer
    mechanism itself (``정리/5주차.md:57-66``: register a timer at
    last-event-time + gap; the window emits when the WATERMARK passes
    it), rather than the built-in ``session_window`` aggregate.  The
    handler keeps (start, last, sum, n) per key, merges in-batch
    events, closes a session inline when a batch's own events already
    jump the gap, and arms ``setTimeoutTimestamp(last + gap)`` for the
    cross-batch case: if nothing more arrives before the watermark
    passes the deadline, Spark invokes the handler with
    ``state.hasTimedOut`` — Flink's ``onTimer`` — and the session
    flushes.  Requires ``withWatermark`` on ``ts`` upstream (the
    EventTimeTimeout clock IS the watermark).  O(1) state per key.

    Emits ``(key, start_ms, end_ms, win_sum, n)`` per closed session;
    sessions still open at end-of-input stay in state (a stream never
    knows it ended — AvailableNow equivalence tests compare against the
    batch twin's CLOSED sessions only)."""
    out_schema = (
        f"{key} string, start_ms long, end_ms long, win_sum double, n long"
    )
    state_schema = "start_us long, last_us long, s double, n long"
    gap_us = int(gap_seconds * 1_000_000)

    def handle(
        k: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            start_us, last_us, s, n = state.get
            state.remove()
            yield pd.DataFrame(
                [(k[0], start_us // 1_000, last_us // 1_000, round(s, 4), n)],
                columns=[key, "start_ms", "end_ms", "win_sum", "n"],
            )
            return
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf["_ord"] = pdf[ts].to_numpy().astype("datetime64[us]").astype("int64")
        pdf = pdf.sort_values("_ord", ignore_index=True)
        ords = pdf["_ord"].to_numpy()
        vals = pdf[value].to_numpy(dtype="float64")
        cur = list(state.get) if state.exists else None
        # vectorized session scan: gap boundaries via diff, per-segment
        # sums via reduceat — the Python loop below runs per SESSION,
        # never per row
        bnd = np.flatnonzero(np.diff(ords) > gap_us) + 1
        starts = np.concatenate([[0], bnd])
        ends = np.concatenate([bnd, [len(ords)]])
        seg_sum = np.add.reduceat(vals, starts)
        segs = [
            (int(ords[s]), int(ords[e - 1]), float(seg_sum[i]), int(e - s))
            for i, (s, e) in enumerate(zip(starts, ends))
        ]
        if cur is not None:
            if ords[0] - cur[1] <= gap_us:
                s0 = segs[0]
                segs[0] = (cur[0], s0[1], cur[2] + s0[2], cur[3] + s0[3])
            else:
                segs.insert(0, tuple(cur))
        closed = [
            (k[0], a // 1_000, b // 1_000, round(s, 4), n)
            for a, b, s, n in segs[:-1]
        ]
        cur = list(segs[-1])
        state.update(tuple(cur))
        # Flink: timer at last event time + gap; fires when the
        # watermark passes it (micro-second floor to millis)
        state.setTimeoutTimestamp(cur[1] // 1_000 + int(gap_seconds * 1_000))
        if closed:
            yield pd.DataFrame(
                closed, columns=[key, "start_ms", "end_ms", "win_sum", "n"]
            )

    return df.groupBy(key).applyInPandasWithState(
        handle, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )


# --------------------------------------------------------------------------
# streaming SimHash near-dup candidates (band-keyed Hamming matching)
# --------------------------------------------------------------------------
def _popcount32(x: np.ndarray) -> np.ndarray:
    """Vectorized 32-bit popcount (SWAR) for int64 arrays holding
    uint32 values — no Python loop over bits."""
    x = x - ((x >> 1) & 0x55555555)
    x = (x & 0x33333333) + ((x >> 2) & 0x33333333)
    x = (x + (x >> 4)) & 0x0F0F0F0F
    # int64 lanes don't wrap like uint32: the multiply's >32-bit bytes
    # survive the shift, so mask back to the low byte (the 4-byte sum)
    return ((x * 0x01010101) >> 24) & 0xFF


def simhash_near_dup_stream(
    df: DataFrame,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    bands: int = 4,
    max_hd: int = 3,
    max_bucket: int = 4096,
) -> DataFrame:
    """Streaming near-duplicate candidate detector — the stateful twin
    of :func:`...functions.dedup.simhash_band_pairs`.

    Input: a stream of (id, 32-char '0'/'1' simhash).  Each document is
    fanned out to ``bands`` band-bucket keys (stateless explode); each
    bucket keeps the fingerprints it has seen (ListState: two aligned
    arrays) and emits a ``(doc_a, doc_b, hd)`` candidate event whenever
    a new fingerprint lands within ``max_hd`` of a seen one.  Same
    pigeonhole recall as the batch twin: every pair with hd <= bands-1
    shares at least one band, so no true candidate is missed while no
    bucket ever does an all-pairs corpus scan.

    A pair that matches in k bands is emitted k times (buckets are
    independent keys and cannot coordinate); consumers dedupe with
    ``dropDuplicates`` — candidate STREAMS are at-least-once by design.
    State per bucket is capped at ``max_bucket`` fingerprints (oldest
    evicted first, the windowed-dedup trade-off): 12 bytes × cap bounds
    every key regardless of stream length.
    """
    bits = 32 // bands

    banded = df.select(
        F.col(id_col).alias("_id"),
        F.conv(F.col(sim_col), 2, 10).cast("long").alias("_fp"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.substring(sim_col, b * bits + 1, bits).alias("bkey"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bh"),
    ).select("_id", "_fp", "bh.band_idx", "bh.bkey")

    out_schema = "doc_a long, doc_b long, hd integer"
    state_schema = "ids array<long>, fps array<long>"

    def handle(
        k: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        seen_ids, seen_fps = ([], []) if not state.exists else [
            list(v) for v in state.get
        ]
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values("_id")
        new_ids = pdf["_id"].to_numpy(dtype="int64")
        new_fps = pdf["_fp"].to_numpy(dtype="int64")
        out_a: list[int] = []
        out_b: list[int] = []
        out_hd: list[int] = []
        ids_arr = np.asarray(seen_ids, dtype="int64")
        fps_arr = np.asarray(seen_fps, dtype="int64")
        for i in range(len(new_ids)):
            if len(fps_arr):
                hd = _popcount32(np.bitwise_xor(fps_arr, new_fps[i]))
                hits = np.flatnonzero(hd <= max_hd)
                for j in hits:
                    a, b = ids_arr[j], new_ids[i]
                    lo, hi = (a, b) if a < b else (b, a)
                    out_a.append(int(lo))
                    out_b.append(int(hi))
                    out_hd.append(int(hd[j]))
            ids_arr = np.append(ids_arr, new_ids[i])
            fps_arr = np.append(fps_arr, new_fps[i])
        if len(ids_arr) > max_bucket:
            ids_arr = ids_arr[-max_bucket:]
            fps_arr = fps_arr[-max_bucket:]
        state.update((ids_arr.tolist(), fps_arr.tolist()))
        if out_a:
            yield pd.DataFrame({"doc_a": out_a, "doc_b": out_b, "hd": out_hd})

    return banded.groupBy("band_idx", "bkey").applyInPandasWithState(
        handle, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


# --------------------------------------------------------------------------
# streaming running z-score alerts (expanding per-key moments in state)
# --------------------------------------------------------------------------
def zscore_alerts(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    value: str = "value",
    threshold: float = 3.0,
    min_prior: int = 5,
    order_by: list[str] | None = None,
) -> DataFrame:
    """Self-calibrating anomaly alerts: score each event against the
    expanding mean/stddev of its key's strictly prior events and emit
    when |z| > ``threshold`` (with at least ``min_prior`` priors).
    State per key is three doubles (n, sum, sum-of-squares) — O(1)
    forever, mergeable, no sample retention; the sample stddev is
    ``sqrt((s2 - n·mu²)/(n-1))``, identical in exact arithmetic to the
    batch twin's ``stddev_samp`` expanding window
    (``plans.queries_quality.running_zscore_alerts``).  Within a
    micro-batch the prefix moments are vectorized cumsums — no Python
    loop per row."""
    out_schema = (
        f"{key} long, event_id long, ts_ms long, value double, z double"
    )
    state_schema = "n long, s1 double, s2 double"
    sort_cols = order_by or [ts, "event_id"]

    def handle(
        k: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n0, s1_0, s2_0 = state.get if state.exists else (0, 0.0, 0.0)
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(sort_cols)
        v = pdf[value].to_numpy(dtype="float64")
        # prefix moments EXCLUDING the current row: state + cumsum
        # shifted by one
        cnt = n0 + np.arange(len(v), dtype="int64")
        s1 = s1_0 + np.concatenate(([0.0], np.cumsum(v)[:-1]))
        s2 = s2_0 + np.concatenate(([0.0], np.cumsum(v * v)[:-1]))
        with np.errstate(invalid="ignore", divide="ignore"):
            mu = s1 / cnt
            var = (s2 - cnt * mu * mu) / (cnt - 1)
            sd = np.sqrt(np.maximum(var, 0.0))
            z = (v - mu) / sd
            hit = np.flatnonzero(
                (cnt >= min_prior) & (sd > 0) & (np.abs(z) > threshold)
            )
        state.update(
            (
                int(n0 + len(v)),
                float(s1_0 + v.sum()),
                float(s2_0 + (v * v).sum()),
            )
        )
        if len(hit):
            yield pd.DataFrame(
                {
                    key: [k[0]] * len(hit),
                    "event_id": pdf["event_id"].to_numpy("int64")[hit],
                    "ts_ms": _ts_ms(pdf[ts])[hit],
                    "value": v[hit],
                    "z": np.round(z[hit], 4),
                }
            )

    return df.groupBy(key).applyInPandasWithState(
        handle, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


# --------------------------------------------------------------------------
# streaming exponentially-decayed per-key counts (forward decay, O(1) state)
# --------------------------------------------------------------------------
def decayed_counts(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    half_life_ms: int = 7 * 86_400_000,
) -> DataFrame:
    """Time-decayed activity counter per key — the streaming twin of
    ``plans.queries_mlops.decayed_topk_users``.  State is TWO numbers
    per key: the decayed score REFERENCED AT the key's last event time,
    plus that time.  On each micro-batch the old score is re-based with
    one ``exp`` and the batch contributes a vectorized
    ``sum(exp(-λ·(t_last − t_i)))`` — no unbounded history, no window
    cutoff, no per-row Python.  Emissions (update-per-batch) carry
    (key, score, last_ms); a consumer re-bases any row to a common
    reference time T with ``score · exp(-λ·(T − last_ms))`` — scores at
    different reference times are directly comparable after that."""
    lam = math.log(2.0) / half_life_ms
    out_schema = f"{key} long, score double, last_ms long"
    state_schema = "score double, last_ms long"

    def handle(
        k: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        score, last_ms = state.get if state.exists else (0.0, None)
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(ts)
        t = _ts_ms(pdf[ts])
        t_new = int(t[-1])
        batch = float(np.exp(-lam * (t_new - t.astype("float64"))).sum())
        if last_ms is not None:
            score = score * math.exp(-lam * (t_new - last_ms)) + batch
        else:
            score = batch
        state.update((float(score), t_new))
        yield pd.DataFrame(
            {key: [k[0]], "score": [score], "last_ms": [t_new]}
        )

    return df.groupBy(key).applyInPandasWithState(
        handle, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )

# --------------------------------------------------------------------------
# streaming event-type transition counts (Markov matrix deltas, O(1) state)
# --------------------------------------------------------------------------
def transition_counts(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    etype: str = "event_type",
    order_col: str = "event_id",
) -> DataFrame:
    """Per-key event-type transition deltas — the streaming twin of
    ``plans.queries_mining.markov_transitions``.  State is ONE value
    per key: the last event type seen, which seeds the first transition
    of the next micro-batch, so cross-batch transitions are never lost
    and state never grows with history.  Each batch emits aggregated
    (prev_t, next_t, delta) counts for the key; a consumer (or the
    equivalence test) sums deltas by pair to recover the global
    transition matrix and row-normalizes for probabilities.  Per-batch
    work is a vectorized pandas shift + groupby — no per-row Python.

    Ordering contract: rows sort by (ts, order_col) WITHIN a batch, and
    the state carries the seed's event time so a straggler arriving in
    a LATER batch with an EARLIER event time is dropped rather than
    appended in arrival order (which would emit transitions the
    event-time-ordered batch oracle never saw).  Same-timestamp events
    split across batches still resolve in arrival order — the one
    residual delta vs the batch twin, matching Flink's own behavior for
    equal-timestamp records across checkpoints."""
    out_schema = f"{key} long, prev_t string, next_t string, delta long"
    state_schema = "last_t string, last_ms long"

    def handle(
        k: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
            [ts, order_col]
        )
        seed, seed_ms = state.get if state.exists else (None, None)
        if seed_ms is not None:
            pdf = pdf[_ts_ms(pdf[ts]) >= seed_ms]
        if not len(pdf):
            return  # every row predated the committed seed: no change
        types = pdf[etype].reset_index(drop=True)
        state.update((str(types.iloc[-1]), int(_ts_ms(pdf[ts])[-1])))
        if seed is not None:
            types = pd.concat(
                [pd.Series([seed]), types], ignore_index=True
            )
        if len(types) < 2:
            return
        pairs = pd.DataFrame(
            {"prev_t": types.iloc[:-1].values, "next_t": types.iloc[1:].values}
        )
        counts = (
            pairs.groupby(["prev_t", "next_t"], as_index=False)
            .size()
            .rename(columns={"size": "delta"})
        )
        counts.insert(0, key, k[0])
        yield counts

    return df.groupBy(key).applyInPandasWithState(
        handle, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def gap_deltas(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    order_col: str = "event_id",
) -> DataFrame:
    """Per-key inter-event-gap PARTIALS — the streaming twin of
    ``plans.queries_mlops.event_gap_stats`` (burstiness/cadence
    profile).  State is ONE value per key: the last committed event
    time, which seeds the first gap of the next micro-batch, so gaps
    STRADDLING batch boundaries are never lost and state never grows.
    Each batch emits an algebraic partial (n, Σgap, Σgap², min, max)
    per key; the consumer merges partials by key and derives
    mean / stddev / CV — the same partial-aggregation shape Spark's
    own map-side combine uses, so the stream stays mergeable at any
    fan-in.  Σgap² rides a double — immune to BIGINT overflow at
    production volumes at the cost of ulp-level drift once the sum
    passes 2⁵³ (the derived stddev is unaffected at any realistic
    precision; the equivalence test pins rtol = 1e-12).

    Ordering contract matches :func:`transition_counts`: rows sort by
    (ts, order_col) within the batch; a straggler older than the
    committed seed is dropped rather than spliced in arrival order."""
    out_schema = (
        f"{key} long, delta_n long, delta_sum double, delta_sumsq double,"
        " gap_min long, gap_max long"
    )
    state_schema = "last_ms long"

    def handle(
        k: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
            [ts, order_col]
        )
        (seed_ms,) = state.get if state.exists else (None,)
        ms = _ts_ms(pdf[ts])
        if seed_ms is not None:
            keep = ms >= seed_ms
            pdf, ms = pdf[keep], ms[keep]
        if not len(pdf):
            return  # every row predated the committed seed
        state.update((int(ms[-1]),))
        if seed_ms is not None:
            ms = np.concatenate([[seed_ms], ms])
        if len(ms) < 2:
            return
        gaps = np.diff(ms).astype(np.float64)
        yield pd.DataFrame(
            {
                key: [k[0]],
                "delta_n": [len(gaps)],
                "delta_sum": [float(gaps.sum())],
                "delta_sumsq": [float((gaps * gaps).sum())],
                "gap_min": [int(gaps.min())],
                "gap_max": [int(gaps.max())],
            }
        )

    return df.groupBy(key).applyInPandasWithState(
        handle, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def drawdown_partials(
    df: DataFrame,
    key: str = "yr",
    day_col: str = "d_days",
    amount_col: str = "price_c",
) -> DataFrame:
    """Per-key running-peak drawdown PARTIALS — the streaming twin of
    ``plans.queries_eval.max_drawdown_yearly``.  State is four scalars
    per key: committed running peak, max drawdown so far, day count,
    and the last committed day — so the peak carries across micro-batch
    boundaries and a drop measured against a PREVIOUS batch's high is
    never missed (the bug a naive per-batch max would have).

    Rows arrive as (key, epoch-day, integer cents); each batch groups
    them to a daily series in pandas, extends the running maximum from
    the seeded peak (``np.maximum.accumulate`` over ints — exact), and
    emits the CUMULATIVE (n_days, peak, max_dd) per key, so the
    consumer folds batches with a plain max (every emitted field is
    monotone).  Drawdown ratios are ``1 - rev/peak`` over exact int64
    operands — bit-identical to the batch SQL's division.  Days never
    straddle batches when the source splits on a date boundary; a
    straggler older than the committed day is dropped, matching the
    :func:`gap_deltas` ordering contract."""
    out_schema = f"{key} long, n_days long, peak_c long, max_dd double"
    state_schema = "peak_c long, max_dd double, n_days long, last_d long"

    def handle(
        k: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if state.exists:
            peak_c, max_dd, n_days, last_d = state.get
        else:
            peak_c, max_dd, n_days, last_d = 0, 0.0, 0, -(1 << 40)
        pdf = pdf[pdf[day_col] > last_d]
        if not len(pdf):
            return
        daily = pdf.groupby(day_col)[amount_col].sum().sort_index()
        rev = daily.to_numpy(dtype=np.int64)
        peaks = np.maximum.accumulate(np.maximum(rev, peak_c))
        dd = 1.0 - rev * 1.0 / peaks
        max_dd = max(max_dd, float(dd.max()))
        peak_c = int(peaks[-1])
        n_days += len(rev)
        last_d = int(daily.index[-1])
        state.update((peak_c, max_dd, n_days, last_d))
        yield pd.DataFrame(
            {
                key: [k[0]],
                "n_days": [n_days],
                "peak_c": [peak_c],
                "max_dd": [max_dd],
            }
        )

    return df.groupBy(key).applyInPandasWithState(
        handle, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def scd2_version_resolve(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    order_col: str = "event_id",
    kind_col: str = "kind",
    value_col: str = "value",
) -> DataFrame:
    """Streaming fact-to-SCD2 resolution — the stateful twin of
    ``plans.queries_corpus.scd2_asof_fact_resolve``: state is ONE
    counter per key (how many dimension versions committed so far, plus
    the last committed order position), each ``kind=0`` row advances it,
    each ``kind=1`` row emits itself stamped with the current version —
    Flink's keyed ValueState enrichment (``정리/5주차.md:24-59``)
    without ever materializing validity intervals or range-joining.

    Rows sort by (ts, kind, order_col) inside the batch — the dimension
    row wins a timestamp tie, matching the batch window's ordering —
    and rows at-or-before the committed position are dropped (feed
    event-time-ordered splits, as the driver query does)."""
    out_schema = f"{key} long, version integer, {value_col} double"
    state_schema = "n_versions integer, last_ms long"

    def handle(
        k: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
            [ts, kind_col, order_col]
        )
        n_ver, last_ms = state.get if state.exists else (0, None)
        ms = _ts_ms(pdf[ts])
        if last_ms is not None:
            keep = ms > last_ms
            pdf, ms = pdf[keep], ms[keep]
        if not len(pdf):
            return
        kinds = pdf[kind_col].to_numpy()
        # version at each row = committed count + signups seen so far
        # in-batch (cumsum BEFORE the row for facts: a tie-sorted
        # dimension row at the same instant already counted)
        vers = n_ver + np.cumsum(kinds == 0)
        facts = kinds == 1
        state.update((int(vers[-1]), int(ms[-1])))
        if facts.any():
            yield pd.DataFrame(
                {
                    key: pdf[key].to_numpy()[facts],
                    "version": vers[facts].astype("int32"),
                    value_col: pdf[value_col].to_numpy()[facts],
                }
            )

    return df.groupBy(key).applyInPandasWithState(
        handle, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def page_hinkley_partials(
    df: DataFrame,
    key: str = "k",
    ts: str = "d",
    value_col: str = "cents",
    delta: float = 0.0,
) -> DataFrame:
    """Streaming Page–Hinkley — the stateful twin of
    ``plans.queries_tsfeat.page_hinkley_drift``: state per key is the
    committed (t, Σx, Σ running-means, running-min PH, last event
    time); each batch
    extends the cumulative statistic vectorized (cumsum — the
    recurrence is algebraic, see the batch twin) and emits every
    point's PH excursion over the carried running minimum.  Emission is
    per-point (not pre-thresholded), so the consumer applies whatever
    λ/top-k policy the batch query uses and the results coincide on
    event-time-ordered feeds.

    Ordering contract matches :func:`gap_deltas`: rows sort by the
    event-time column inside the batch; rows at-or-before the committed
    time are dropped."""
    out_schema = f"{key} long, t long, ts_ms long, ph_exc double"
    state_schema = "t long, cs double, a double, ph_min double, last_ms long"

    def handle(
        k: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(ts)
        if state.exists:
            t0, cs0, a0, ph_min, last_ms = state.get
        else:
            t0, cs0, a0, ph_min, last_ms = 0, 0.0, 0.0, None, None
        ms = _ts_ms(pdf[ts])
        if last_ms is not None:
            keep = ms > last_ms
            pdf, ms = pdf[keep], ms[keep]
        if not len(pdf):
            return
        x = pdf[value_col].to_numpy(dtype="float64")
        t = t0 + np.arange(1, len(x) + 1, dtype="float64")
        cs = cs0 + np.cumsum(x)
        # PH_T = CS_T - Σ_{t<=T}(CS_t/t) - T·δ; the running-mean sum A
        # is itself cumulative, so it carries in state like CS
        a = a0 + np.cumsum(cs / t)
        ph = cs - a - t * delta
        seeded = ph if ph_min is None else np.concatenate(([ph_min], ph))
        run_min = np.minimum.accumulate(seeded)
        if ph_min is not None:
            run_min = run_min[1:]
        state.update(
            (
                int(t[-1]),
                float(cs[-1]),
                float(a[-1]),
                float(run_min[-1]),
                int(ms[-1]),
            )
        )
        yield pd.DataFrame(
            {
                key: [k[0]] * len(x),
                "t": t.astype("int64"),
                "ts_ms": ms,
                "ph_exc": ph - run_min,
            }
        )

    return df.groupBy(key).applyInPandasWithState(
        handle, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def lindley_balance_partials(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    order_col: str = "event_id",
    delta_col: str = "delta",
) -> DataFrame:
    """Streaming clamped ledger — the ValueState twin of
    ``plans.queries_ledger.lindley_clamped_balance``: state per user is
    the committed (cumulative sum, running min of the cumulative sum,
    last (ts_ms, order)) triple; each batch extends the Lindley
    reflection form ``bal = cs − min(0, running_min(cs))`` vectorized
    over the batch and carries both accumulators forward, so the
    balance continues EXACTLY where the previous batch committed.
    Integer-cent deltas make every state transition exact — the batch
    and streaming forms are bit-equal on event-time-ordered feeds.

    Ordering contract: rows sort by (ts, order_col) inside the batch;
    rows at-or-before the committed (ts_ms, order) are dropped."""
    out_schema = f"{key} long, t long, ts_ms long, bal long"
    state_schema = "t long, cs long, runmin long, last_ms long, last_ord long"

    def handle(
        k: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
            [ts, order_col]
        )
        if state.exists:
            t0, cs0, runmin0, last_ms, last_ord = state.get
        else:
            t0, cs0, runmin0, last_ms, last_ord = 0, 0, 0, None, None
        ms = _ts_ms(pdf[ts])
        if last_ms is not None:
            keep = (ms > last_ms) | (
                (ms == last_ms) & (pdf[order_col].to_numpy() > last_ord)
            )
            pdf, ms = pdf[keep], ms[keep]
        if not len(pdf):
            return
        d = pdf[delta_col].to_numpy(dtype="int64")
        cs = cs0 + np.cumsum(d)
        runmin = np.minimum.accumulate(
            np.minimum(cs, runmin0)
        )  # runmin0 <= 0 always (seeded at 0), so the clamp floor carries
        bal = cs - np.minimum(runmin, 0)
        t = t0 + np.arange(1, len(d) + 1, dtype="int64")
        state.update(
            (
                int(t[-1]),
                int(cs[-1]),
                int(runmin[-1]),
                int(ms[-1]),
                int(pdf[order_col].iloc[-1]),
            )
        )
        yield pd.DataFrame(
            {
                key: [k[0]] * len(d),
                "t": t,
                "ts_ms": ms,
                "bal": bal,
            }
        )

    return df.groupBy(key).applyInPandasWithState(
        handle, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def cusum_partials(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    order_col: str = "event_id",
    value_col: str = "y_hi",
    value_lo_col: str = "y_lo",
) -> DataFrame:
    """Streaming two-sided tabular CUSUM — the ValueState twin of
    ``plans.queries_ledger.cusum_control_chart``: the slack-adjusted
    deviations (x−μ−kσ and μ−x−kσ, computed batch-side from exact
    moments and joined into the feed) arrive per event; state per key
    carries BOTH Lindley pairs (cumsum, running min) so the high and
    low pages continue exactly where the previous micro-batch
    committed.  Cumsums here are doubles, but they accumulate the SAME
    addends in the SAME ascending (ts, order) sequence as the batch
    window, so the emitted pages are bit-equal to the batch form.

    Ordering contract matches :func:`lindley_balance_partials`."""
    out_schema = f"{key} long, t long, ts_ms long, sh double, sl double"
    state_schema = (
        "t long, cs_hi double, mn_hi double, cs_lo double, mn_lo double, "
        "last_ms long, last_ord long"
    )

    def handle(
        k: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
            [ts, order_col]
        )
        if state.exists:
            t0, ch0, mh0, cl0, ml0, last_ms, last_ord = state.get
        else:
            t0, ch0, mh0, cl0, ml0, last_ms, last_ord = (
                0, 0.0, 0.0, 0.0, 0.0, None, None,
            )
        ms = _ts_ms(pdf[ts])
        if last_ms is not None:
            keep = (ms > last_ms) | (
                (ms == last_ms) & (pdf[order_col].to_numpy() > last_ord)
            )
            pdf, ms = pdf[keep], ms[keep]
        if not len(pdf):
            return
        ch = ch0 + np.cumsum(pdf[value_col].to_numpy(dtype="float64"))
        cl = cl0 + np.cumsum(pdf[value_lo_col].to_numpy(dtype="float64"))
        mh = np.minimum.accumulate(np.minimum(ch, mh0))
        ml = np.minimum.accumulate(np.minimum(cl, ml0))
        sh = ch - np.minimum(mh, 0.0)
        sl = cl - np.minimum(ml, 0.0)
        t = t0 + np.arange(1, len(ch) + 1, dtype="int64")
        state.update(
            (
                int(t[-1]),
                float(ch[-1]),
                float(mh[-1]),
                float(cl[-1]),
                float(ml[-1]),
                int(ms[-1]),
                int(pdf[order_col].iloc[-1]),
            )
        )
        yield pd.DataFrame(
            {key: [k[0]] * len(ch), "t": t, "ts_ms": ms, "sh": sh, "sl": sl}
        )

    return df.groupBy(key).applyInPandasWithState(
        handle, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def croston_partials(
    df: DataFrame,
    alpha: float,
    key: str = "k",
    ts: str = "d",
    value_col: str = "y",
    gap_col: str = "q",
) -> DataFrame:
    """Streaming Croston — the ValueState twin of
    ``plans.queries_queueing.croston_intermittent``: state per key is
    (step idx, demand level z, interval level p, and the held first
    observation); the recursion ``z ← αy + (1−α)z`` / ``p ← αq +
    (1−α)p`` initializes exactly like the recursive CTE's base case
    (z₀ = y₀, p₀ = q₁ — the first gap arrives with the SECOND
    observation, so row 0 is emitted immediately with NULL levels and
    RE-EMITTED corrected when row 1 lands, per update-mode semantics)
    and applies the same IEEE ops in the same order — bit-equal to the
    batch recursive CTE on ordered feeds."""
    out_schema = (
        f"{key} long, idx long, day_ms long, y long, q long, "
        "z double, p double"
    )
    state_schema = (
        "idx long, z double, p double, "
        "y0 long, q0 long, day0_ms long, last_ms long"
    )

    def handle(
        k: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(ts)
        if state.exists:
            idx, z, p, y0, q0, day0_ms, last_ms = state.get
        else:
            idx, z, p, y0, q0, day0_ms, last_ms = (
                -1, None, None, None, None, None, None,
            )
        ms = _ts_ms(pdf[ts])
        if last_ms is not None:
            keep = ms > last_ms
            pdf, ms = pdf[keep], ms[keep]
        if not len(pdf):
            return
        out = []
        for day_ms, y, q in zip(
            ms, pdf[value_col].astype("int64"), pdf[gap_col].astype("int64")
        ):
            if idx == -1:
                # hold the first observation until its successor's gap
                idx, y0, q0, day0_ms = 0, int(y), int(q), int(day_ms)
                out.append((k[0], 0, int(day_ms), int(y), int(q), None, None))
                continue
            if idx == 0:
                # base case: re-emit row 0 with (z0=y0, p0=q1)
                z, p = float(y0), float(q)
                out.append((k[0], 0, day0_ms, y0, q0, z, p))
            idx += 1
            z = alpha * float(y) + (1 - alpha) * z
            p = alpha * float(q) + (1 - alpha) * p
            out.append((k[0], idx, int(day_ms), int(y), int(q), z, p))
        state.update(
            (
                int(idx),
                float(z) if z is not None else None,
                float(p) if p is not None else None,
                int(y0) if y0 is not None else None,
                int(q0) if q0 is not None else None,
                int(day0_ms) if day0_ms is not None else None,
                int(ms[-1]),
            )
        )
        yield pd.DataFrame(
            out,
            columns=[key, "idx", "day_ms", "y", "q", "z", "p"],
        )

    return df.groupBy(key).applyInPandasWithState(
        handle, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def kalman_partials(
    df: DataFrame,
    q_var: float,
    r_var: float,
    key: str = "k",
    ts: str = "d",
    value_col: str = "y",
) -> DataFrame:
    """Streaming Kalman local-level filter — the ValueState twin of
    ``plans.queries_queueing.kalman_local_level``: state per key is
    (step idx, filtered level, error variance P); each observation
    applies predict P⁻ = P + Q, gain K = P⁻/(P⁻ + R), update
    level += K·(y − level), P = (1−K)·P⁻ — the identical IEEE
    expression tree as the batch recursive CTE, so levels are
    bit-equal on ordered feeds.  Unlike Croston there is no held
    base case: row 0 seeds (level = y₀, P = R) and emits final
    immediately."""
    out_schema = (
        f"{key} long, idx long, month_ms long, y double, "
        "level double, gain double, innov double"
    )
    state_schema = "idx long, level double, p double, last_ms long"

    def handle(
        k: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(ts)
        if state.exists:
            idx, level, p, last_ms = state.get
        else:
            idx, level, p, last_ms = -1, None, None, None
        ms = _ts_ms(pdf[ts])
        if last_ms is not None:
            keep = ms > last_ms
            pdf, ms = pdf[keep], ms[keep]
        if not len(pdf):
            return
        out = []
        for month_ms, y in zip(ms, pdf[value_col].astype("float64")):
            y = float(y)
            if idx == -1:
                idx, level, p = 0, y, r_var
                gain, innov = 0.0, 0.0
            else:
                idx += 1
                p_pred = p + q_var
                gain = p_pred / (p_pred + r_var)
                innov = y - level
                level = level + gain * innov
                p = (1 - gain) * p_pred
            out.append(
                (k[0], idx, int(month_ms), y, level, gain, innov)
            )
        state.update((int(idx), float(level), float(p), int(ms[-1])))
        yield pd.DataFrame(
            out,
            columns=[
                key, "idx", "month_ms", "y", "level", "gain", "innov",
            ],
        )

    return df.groupBy(key).applyInPandasWithState(
        handle, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def token_bucket_partials(
    df: DataFrame,
    cap: int,
    cost: int,
    rate_per_s: int,
    key: str = "user_id",
    ts: str = "ts",
    order_col: str = "event_id",
) -> DataFrame:
    """Streaming token-bucket rate limiter — the ValueState twin of
    ``plans.queries_queueing.rate_limiter_replay``: state per key is
    (request idx, remaining micro-tokens, last (ts_ms, order)); each
    request refills ``⌊Δt_s⌋·rate`` micro-tokens capped at ``cap``,
    then admits iff the bucket holds ``cost``.  The recurrence
    ``tok ← min(cap, tok + refill) − cost·allowed`` is clamped on BOTH
    sides, so unlike the Lindley ledger it has no prefix-sum
    flattening — batch SQL needs WITH RECURSIVE (depth-bounded), while
    keyed state replays it unbounded: the streaming form IS the scale
    path.  All-integer arithmetic makes batch and streaming bit-equal
    on event-time-ordered feeds.

    Ordering contract: rows sort by (ts, order_col) inside the batch;
    rows at-or-before the committed (ts_ms, order) are dropped."""
    out_schema = f"{key} long, idx long, ts_ms long, tok long, allowed boolean"
    state_schema = "idx long, tok long, last_ms long, last_ord long"

    def handle(
        k: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
            [ts, order_col]
        )
        if state.exists:
            idx, tok, last_ms, last_ord = state.get
        else:
            idx, tok, last_ms, last_ord = 0, None, None, None
        ms = _ts_ms(pdf[ts])
        if last_ms is not None:
            keep = (ms > last_ms) | (
                (ms == last_ms) & (pdf[order_col].to_numpy() > last_ord)
            )
            pdf, ms = pdf[keep], ms[keep]
        if not len(pdf):
            return
        ords = pdf[order_col].to_numpy(dtype="int64")
        out_idx, out_ms, out_tok, out_allowed = [], [], [], []
        for i in range(len(pdf)):
            t_ms = int(ms[i])
            if tok is None:  # very first request: bucket starts full
                avail = cap
            else:
                avail = min(cap, tok + ((t_ms - last_ms) // 1000) * rate_per_s)
            allowed = avail >= cost
            tok = avail - cost if allowed else avail
            last_ms = t_ms
            idx += 1
            out_idx.append(idx)
            out_ms.append(t_ms)
            out_tok.append(tok)
            out_allowed.append(allowed)
        state.update((int(idx), int(tok), int(last_ms), int(ords[-1])))
        yield pd.DataFrame(
            {
                key: [k[0]] * len(out_idx),
                "idx": out_idx,
                "ts_ms": out_ms,
                "tok": out_tok,
                "allowed": out_allowed,
            }
        )

    return df.groupBy(key).applyInPandasWithState(
        handle, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


ELO_STATE_PLAYERS = ["c", "e", "p", "s", "v"]  # arm initials, fixed order


def elo_partials(
    df: DataFrame,
    k_factor: float,
    init_rating: float,
    ln10_400: float,
    key: str = "k",
) -> DataFrame:
    """Streaming Elo rating engine — the ValueState twin of
    ``plans.queries_queueing.elo_ratings_replay``: state per key is
    (last match idx, 5 ratings, 5 match counts, 5 win counts); each
    (i, arm_a, arm_b, s_a) match row applies the identical IEEE
    update ``R += K·(S − E)``, ``E = 1/(1 + exp((R_b − R_a)·ln10/400))``
    as the batch recursive CTE — Δ_b = −Δ_a exactly because E is
    computed once per match.  After each micro-batch the CURRENT
    5-player snapshot emits stamped with the last consumed idx, so the
    final standings are the max-idx rows and every intermediate
    snapshot is a consistent leaderboard."""
    ps = ELO_STATE_PLAYERS
    out_schema = (
        f"{key} long, i long, player_c string, rating double,"
        " n_matches long, n_wins long, steps long"
    )
    state_schema = (
        "i long, "
        + ", ".join(f"r_{p} double" for p in ps)
        + ", "
        + ", ".join(f"m_{p} long" for p in ps)
        + ", "
        + ", ".join(f"w_{p} long" for p in ps)
    )

    def handle(
        kk: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values("i")
        if state.exists:
            vals = list(state.get)
            i = vals[0]
            r = dict(zip(ps, vals[1:6]))
            m = dict(zip(ps, vals[6:11]))
            w = dict(zip(ps, vals[11:16]))
        else:
            i = -1
            r = {p: init_rating for p in ps}
            m = {p: 0 for p in ps}
            w = {p: 0 for p in ps}
        pdf = pdf[pdf["i"] > i]
        if not len(pdf):
            return
        for _, row in pdf.iterrows():
            i = int(row["i"])
            a, b, s_a = row["arm_a"], row["arm_b"], float(row["s_a"])
            if a == b:
                continue
            e_a = 1.0 / (1.0 + math.exp((r[b] - r[a]) * ln10_400))
            r[a] = r[a] + k_factor * (s_a - e_a)
            r[b] = r[b] + k_factor * (e_a - s_a)
            m[a] += 1
            m[b] += 1
            if s_a == 1.0:
                w[a] += 1
            elif s_a == 0.0:
                w[b] += 1
        state.update(
            (int(i),)
            + tuple(float(r[p]) for p in ps)
            + tuple(int(m[p]) for p in ps)
            + tuple(int(w[p]) for p in ps)
        )
        yield pd.DataFrame(
            [
                (kk[0], i, p, r[p], m[p], w[p], i + 1)
                for p in ps
            ],
            columns=[
                key, "i", "player_c", "rating", "n_matches", "n_wins",
                "steps",
            ],
        )

    return df.groupBy(key).applyInPandasWithState(
        handle, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout,
    )
