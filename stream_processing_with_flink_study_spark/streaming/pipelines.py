"""Streaming twins of the headline batch queries + the AvailableNow
runner used by the streaming–batch equivalence tests (SURVEY.md §5.3:
Structured Streaming's core invariant replaces Flink's "event time ⇒
deterministic results", ``정리/4주차.md:8-9``).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.batch import read_parquet

# Bound on one run_available_now drain: far above any registry twin (a
# few seconds at sf0.1), so only a hung query reaches it.
AVAILABLE_NOW_TIMEOUT_S = 3600.0


def run_available_now(
    sdf: DataFrame,
    checkpoint_dir: str,
    output_mode: str = "append",
) -> DataFrame:
    """Run a streaming DataFrame to completion with
    ``Trigger.AvailableNow`` (PROCESS_ONCE semantics) into a memory sink
    and return the sink table as a bounded DataFrame.

    The memory sink is the engine's test oracle boundary: what it holds
    after termination is exactly the stream's emitted output, so
    ``run_available_now(streaming_twin) == batch_query`` is the
    equivalence contract.  A query still running after
    ``AVAILABLE_NOW_TIMEOUT_S`` is stopped and raises ``TimeoutError``.
    """
    name = f"mem_{uuid.uuid4().hex[:12]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(AVAILABLE_NOW_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"streaming query {name} did not finish within "
            f"{AVAILABLE_NOW_TIMEOUT_S} s"
        )
    return sdf.sparkSession.table(name)


def windowed_avg_stream(
    events: DataFrame,
    ts: str = "ts",
    key: str = "user_id",
    value: str = "amount",
    size: str = "5 seconds",
    watermark: str = "5 seconds",
    slide: str | None = None,
) -> DataFrame:
    """Flagship streaming twin (``AverageSensorReadings.java:67-76``):
    watermarked keyed tumbling-window average.  State: one accumulator
    per (key, window), evicted when the watermark passes window end —
    the same fire-and-purge lifecycle as ``정리/4주차.md:293-297``.

    ``slide`` < ``size`` turns it into the W3 sliding window
    (``SlidingEventTimeWindows``, ``정리/4주차.md:164-166``): each row
    lands in size/slide overlapping windows, state is still one
    accumulator per (key, window) copy.
    """
    return (
        events.withWatermark(ts, watermark)
        .groupBy(F.window(ts, size, slide or size), key)
        .agg(
            F.avg(value).alias("avg_value"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.unix_millis(F.col("window.start")).alias("w_start"),
            F.unix_millis(F.col("window.end")).alias("w_end"),
            key,
            F.round("avg_value", 4).alias("avg_value"),
            "n",
        )
    )


def session_window_stream(
    events: DataFrame,
    ts: str = "ts",
    key: str = "user_id",
    value: str = "value",
    gap: str = "30 minutes",
    watermark: str = "1 minute",
) -> DataFrame:
    """W4 session windows (``EventTimeSessionWindows.withGap``,
    ``정리/4주차.md:168-171``), streaming form: ``session_window``
    merges a key's overlapping [ts, ts+gap) intervals in the state
    store as rows arrive; a session finalizes (fires and evicts) once
    the watermark passes its close.  Matches the batch
    ``operators/windows.py:session`` twin row-for-row under
    Trigger.AvailableNow — asserted in tests."""
    return (
        events.withWatermark(ts, watermark)
        .groupBy(F.session_window(ts, gap), key)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(value), 4).alias("sum_value"),
        )
        .select(
            F.unix_millis(F.col("session_window.start")).alias("w_start"),
            F.unix_millis(F.col("session_window.end")).alias("w_end"),
            key,
            "n",
            "sum_value",
        )
    )


def rolling_sum_stream(df: DataFrame, keys: list[str], value: str) -> DataFrame:
    """Rolling per-key sum (K2, ``RollingSum.java:39``), streaming form:
    ``groupBy(keys).sum`` in **update** output mode emits a refreshed
    running total per key per micro-batch — Flink's per-record emission
    micro-batched; the final value is identical (SURVEY §7.3 gap 1).
    Run with ``output_mode="update"``; the last row per key is the
    rolling result.
    """
    return df.groupBy(*keys).agg(
        F.sum(value).alias("rolling_sum"), F.count(F.lit(1)).alias("n")
    )


def dedup_within_watermark_stream(
    df: DataFrame, keys: list[str], ts: str = "ts", delay: str = "1 hour"
) -> DataFrame:
    """Streaming exact dedup with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps the FIRST row per key and
    drops later duplicates arriving within the watermark delay; state
    for a key evicts once the watermark passes its first-seen time +
    delay.  This is the 100 TB-stream shape of ``exact_dedup_docs`` —
    per-key state is one timestamp, eviction is automatic, and the only
    exchange is the hash partition on the dedup keys.  (Contrast
    ``stateful.dedup_first``, which implements the same semantic
    manually with applyInPandasWithState TTL state.)"""
    return df.withWatermark(ts, delay).dropDuplicatesWithinWatermark(keys)


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    key_left: str,
    ts_left: str,
    ts_right: str,
    lower: str,
    upper: str,
    watermark: str = "10 seconds",
    key_right: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """M5 stream–stream interval join (``정리/4주차.md:313-323``): same
    key and ``right.ts ∈ [left.ts + lower, left.ts + upper]``.  Both
    sides carry watermarks and the range condition bounds join state —
    rows older than (watermark − |lower|) evict, exactly Flink's
    interval-join state lifecycle.

    ``how='left_outer'`` emits unmatched left rows with nulls — but only
    once the watermark passes their match window (the engine must prove
    no future right row can match before emitting the null), so outer
    results trail the watermark; rows still in state when a bounded run
    ends never emit.  Tested with a watermark-advancing spacer batch."""
    key_right = key_right or key_left
    lw = left.withWatermark(ts_left, watermark)
    rw = right.withWatermark(ts_right, watermark)
    cond = (
        (lw[key_left] == rw[key_right])
        & (rw[ts_right] >= lw[ts_left] + F.expr(f"INTERVAL {lower}"))
        & (rw[ts_right] <= lw[ts_left] + F.expr(f"INTERVAL {upper}"))
    )
    return lw.join(rw, cond, how)


def window_join_stream(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts_left: str,
    ts_right: str,
    size: str = "1 hour",
    watermark: str = "1 minute",
) -> DataFrame:
    """M4 stream–stream window join (``정리/4주차.md:325-333``): rows of
    the two streams pair when they share the key AND land in the same
    tumbling window.  Expressed as an equi-join on (key, window-struct):
    Spark bounds both sides' join state by the watermark + window
    equality, evicting a window's rows once the watermark passes its
    end — Flink's window-join buffer lifecycle.

    Scale shape: one hash exchange per side on (key, window); no range
    scan — the equality condition keeps the state store point-lookup.
    """
    # each side may carry at most ONE event-time column into the join —
    # the window struct inherits the watermark, so the raw timestamp is
    # demoted to plain epoch-millis here
    lw = left.withWatermark(ts_left, watermark).select(
        F.col(key).alias("k"),
        F.window(ts_left, size).alias("w"),
        F.unix_millis(ts_left).alias("ts_l_ms"),
    )
    rw = right.withWatermark(ts_right, watermark).select(
        F.col(key).alias("k"),
        F.window(ts_right, size).alias("w"),
        F.unix_millis(ts_right).alias("ts_r_ms"),
    )
    return lw.join(rw, ["k", "w"]).select(
        "k",
        F.unix_millis(F.col("w.start")).alias("w_start"),
        "ts_l_ms",
        "ts_r_ms",
    )


def smoke_alert_stream(
    readings: DataFrame,
    smoke: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    temp_threshold: float = 100.0,
):
    """M2 streaming form of the reference's two-stream alert
    (``MultiStreamTransformations.java:50-74``): the broadcast-side-input
    pattern — each readings micro-batch joins the (tiny, global) smoke
    control table as broadcast as-of validity intervals inside
    ``foreachBatch``, so the unbounded reading stream NEVER shuffles and
    per-batch work is a map-side broadcast join + filter.

    This is the Spark-idiomatic replacement for Flink's
    ``connect(broadcast())`` operator state: the control side lives as a
    table (refreshable between batches), not as replicated per-task
    state.  Returns the started query; results append to ``out_dir``.
    """
    from ..operators import joins

    def write(batch_df: DataFrame, batch_id: int) -> None:
        out = joins.smoke_alert(batch_df, smoke, temp_threshold)
        out.write.mode("append").parquet(out_dir)

    return (
        readings.writeStream.foreachBatch(write)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def basic_pipeline_stream(readings: DataFrame) -> DataFrame:
    """Streaming form of BasicTransformations (filter ≥25 °F→°C map →
    id-split flatMap; ``BasicTransformations.java:47-81``) — fully
    stateless, so append mode and a 1:1 match with the batch twin."""
    return (
        readings.filter(F.col("temperature") >= 25.0)
        .withColumn("celsius", F.round((F.col("temperature") - 32.0) * 5.0 / 9.0, 4))
        .select(
            F.explode(F.split(F.col("id"), "_")).alias("token"),
            "ts",
            "celsius",
        )
    )


def dynamic_rules_stream(
    sdf: DataFrame,
    rules_path: str,
    out_dir: str,
    checkpoint_dir: str,
    key: str = "event_type",
):
    """Flink broadcast state WITH UPDATES
    (``processBroadcastElement``, ``정리/5주차.md:87-99``): the control
    side is not fixed at query start — every micro-batch re-reads the
    CURRENT rules table and broadcast-joins it, so a rules change
    between batches re-routes all subsequent records, exactly like a
    control-stream element updating every task's broadcast state.

    Spark-first shape: rules live as a (tiny) parquet table, the
    re-read happens inside ``foreachBatch`` (driver-side plan build,
    executor-side broadcast), and the unbounded data stream never
    shuffles — per batch it is one map-side broadcast join.  Rows with
    no matching rule pass through with a NULL route (Flink's
    no-rule-yet case).  Output gains the deciding ``batch_id`` so tests
    can pin WHICH rules version routed each record."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        rules = read_parquet(spark, rules_path)
        out = batch_df.join(F.broadcast(rules), key, "left").withColumn(
            "batch_id", F.lit(batch_id)
        )
        out.write.mode("append").parquet(out_dir)

    return (
        sdf.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def psi_drift_stream(
    sdf: DataFrame,
    ref: DataFrame,
    ts: str = "ts",
    value: str = "value",
    window: str = "1 day",
    watermark: str = "1 day",
    bins: int = 10,
) -> DataFrame:
    """Streaming PSI drift monitor — the twin of
    ``plans.queries_quality.windowed_psi_drift``: per tumbling window,
    score the value distribution against a REFERENCE table's bin
    fractions.

    The reference stats (min/max + ``bins`` fractions) are resolved
    ONCE at plan-build time with a bounded one-row collect (the same
    pattern as IVF centroid training: constant-size, driver-side by
    nature — a drift monitor's reference is a frozen artifact, not part
    of the stream).  They enter the streaming plan as literals, so the
    whole query is ONE stateful aggregate carrying ``bins`` conditional
    counters per window — no stream-static join, no second shuffle.
    """
    vmin, vmax = ref.agg(
        F.min(value).alias("a"), F.max(value).alias("b")
    ).first()

    def bin_of(col: F.Column) -> F.Column:
        return (
            F.least(
                F.greatest(
                    F.floor((col - vmin) * float(bins) / (vmax - vmin)),
                    F.lit(0),
                ),
                F.lit(bins - 1),
            )
            .cast("int")
        )

    ref_row = (
        ref.select(bin_of(F.col(value)).alias("bin"))
        .agg(
            *[
                (
                    F.sum(F.when(F.col("bin") == b, 1).otherwise(0))
                    * 1.0
                    / F.count(F.lit(1))
                ).alias(f"p{b}")
                for b in range(bins)
            ]
        )
        .first()
    )
    ps = [float(ref_row[f"p{b}"]) for b in range(bins)]

    binned = sdf.withWatermark(ts, watermark).select(
        F.col(ts), bin_of(F.col(value)).alias("bin")
    )
    days = binned.groupBy(F.window(ts, window)).agg(
        F.count(F.lit(1)).alias("n_events"),
        *[
            F.sum(F.when(F.col("bin") == b, 1).otherwise(0)).alias(f"c{b}")
            for b in range(bins)
        ],
    )
    eps = F.lit(1e-6)
    terms = [
        (
            F.greatest(F.col(f"c{b}") * 1.0 / F.col("n_events"), eps)
            - F.greatest(F.lit(ps[b]), eps)
        )
        * F.log(
            F.greatest(F.col(f"c{b}") * 1.0 / F.col("n_events"), eps)
            / F.greatest(F.lit(ps[b]), eps)
        )
        for b in range(bins)
    ]
    psi = terms[0]
    for t in terms[1:]:
        psi = psi + t
    return days.select(
        F.unix_millis("window.start").alias("w_start"),
        "n_events",
        F.round(psi, 4).alias("psi"),
    )


def continuous_clustering_stream(
    pairs_sdf: DataFrame,
    pairs_dir: str,
    labels_dir: str,
    checkpoint_dir: str,
    src: str = "id_a",
    dst: str = "id_b",
):
    """CONTINUOUS near-dup clustering: an ITERATIVE algorithm driven by
    a stream (the combination Flink markets as iterative streaming) —
    candidate pairs arrive as a stream, every micro-batch appends them
    to the accumulated pair table and re-runs
    :func:`..operators.graph.connected_components` over the WHOLE
    accumulated graph, replacing the published cluster-label snapshot.

    Merging clusters cannot be done monotonically from per-batch labels
    alone (a late A~C edge must merge two previously-distinct clusters
    and relabel BOTH), so the recompute-over-accumulated-state shape is
    the correct one; per-batch cost is the CC rounds over accumulated
    |E| — bounded by the dedup graph's shallow diameter — and the
    label SNAPSHOT is what downstream reads (queryable-state pattern,
    same publish discipline as ``IdempotentKeyedUpsert``).  The final
    snapshot is asserted equal to batch CC over all pairs in tests.

    Pair accumulation is IDEMPOTENT per batch: each micro-batch
    overwrites its own ``batch=<id>`` subdirectory (the
    ``IdempotentKeyedUpsert`` contract) rather than appending to a flat
    directory — a foreachBatch retry after a crash between the append
    and the checkpoint commit would otherwise duplicate pair rows.  CC
    labels are duplicate-invariant, but the accumulated pair table is
    itself a published artifact and must not over-count."""
    import os as _os

    from ..operators.graph import connected_components

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df.select(src, dst).write.mode("overwrite").parquet(
            _os.path.join(pairs_dir, f"batch={batch_id}")
        )
        all_pairs = spark.read.option("basePath", pairs_dir).parquet(
            _os.path.join(pairs_dir, "batch=*")
        ).select(src, dst)
        labels = connected_components(all_pairs, src=src, dst=dst)
        (
            labels.withColumn("batch_id", F.lit(batch_id))
            .repartition(1)
            .write.mode("overwrite")
            .parquet(labels_dir)
        )

    return (
        pairs_sdf.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
