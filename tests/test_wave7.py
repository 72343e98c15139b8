"""Hand-case / invariant tests for the seventh-wave analytics queries
(recsys, robust stats, text mining, Spark 4 SQL surface) — the oracle
gate proves engine parity; these pin the SEMANTICS on inputs small
enough to verify by hand, the same strategy the reference's example
programs use (tiny known streams, eyeballable outputs).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from stream_processing_with_flink_study_spark.plans import QUERIES

from .conftest import SF_SMALL


def test_theil_sen_ignores_outlier_month(spark):
    """The median pairwise slope of a perfect line with ONE wild
    outlier must still be the line's slope (OLS would be dragged)."""
    from stream_processing_with_flink_study_spark.plans.queries_robust import (  # noqa: E501
        theil_sen_monthly_trend,
    )

    # y = 100 + 7t for t=0..9, with t=5 blown up to 10_000
    rows = [(t, 100 + 7 * t if t != 5 else 10_000) for t in range(10)]
    df = spark.createDataFrame(rows, "t long, cents long").localCheckpoint()
    a, b = df.alias("a"), df.alias("b")
    slopes = a.join(b, F.col("b.t") > F.col("a.t")).select(
        (
            (F.col("b.cents") - F.col("a.cents")) * 1.0
            / (F.col("b.t") - F.col("a.t"))
        ).alias("s")
    )
    med = slopes.agg(F.expr("percentile(s, 0.5)").alias("m")).first().m
    assert med == pytest.approx(7.0, abs=1e-9)
    # sanity: the registered query runs and returns the 1-row summary
    out = theil_sen_monthly_trend(spark, SF_SMALL).collect()
    assert len(out) == 1 and out[0].n_months > 10


def test_qini_final_decile_equals_overall_uplift(spark):
    """Qini at the last decile must equal the overall incremental
    conversions (curve endpoint identity), and cumulative counts must
    cover every customer exactly once."""
    out = QUERIES["qini_uplift_deciles"](spark, SF_SMALL).collect()
    assert [r.decile for r in out] == list(range(1, 11))
    last = out[-1]
    total_uplift = last.cy_t - last.cy_c * last.cn_t / last.cn_c
    assert last.qini == pytest.approx(round(total_uplift, 4), abs=1e-6)
    n_cust = (
        spark.read.parquet(f"{SF_SMALL}/customer.parquet").count()
    )
    assert last.cn_t + last.cn_c == n_cust


def test_conformal_coverage_near_nominal(spark):
    """Split-conformal coverage on exchangeable halves concentrates
    near the nominal 90% (finite-sample slack at sf0.001 segment
    sizes: ±10 points)."""
    for r in QUERIES["conformal_interval_eval"](spark, SF_SMALL).collect():
        assert 0.8 <= r.coverage <= 1.0, r


def test_geo_grid_join_equals_cross_join(spark):
    """The grid-bucketed radius join must return EXACTLY the pairs the
    quadratic cross join finds — the prune is lossless by cell-size
    construction."""
    from stream_processing_with_flink_study_spark.plans.queries_robust import (  # noqa: E501
        GEO_RADIUS_KM,
        _GEO_C_LAT,
        _GEO_C_LON,
        _GEO_S_LAT,
        _GEO_S_LON,
    )
    from stream_processing_with_flink_study_spark.sources import load_table

    got = {
        (r.c_custkey, r.s_suppkey)
        for r in QUERIES["geo_grid_neighbor_join"](spark, SF_SMALL).collect()
    }
    c = load_table(spark, SF_SMALL, "customer").selectExpr(
        "c_custkey", f"{_GEO_C_LAT} AS clat", f"{_GEO_C_LON} AS clon"
    )
    s = load_table(spark, SF_SMALL, "supplier").selectExpr(
        "s_suppkey", f"{_GEO_S_LAT} AS slat", f"{_GEO_S_LON} AS slon"
    )
    dist = F.round(
        2
        * 6371.0
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians(F.col("slat") - F.col("clat")) / 2), 2)
                + F.cos(F.radians("clat"))
                * F.cos(F.radians("slat"))
                * F.pow(
                    F.sin(F.radians(F.col("slon") - F.col("clon")) / 2), 2
                )
            )
        )
        - 1e-9,
        3,
    )
    want = {
        (r.c_custkey, r.s_suppkey)
        for r in c.crossJoin(s)
        .select("c_custkey", "s_suppkey", dist.alias("d"))
        .filter(F.col("d") <= GEO_RADIUS_KM)
        .collect()
    }
    assert got == want and len(got) > 0


def test_bradley_terry_dominant_brand_ranks_first(spark):
    """On a hand duel set where X beats everyone and Z loses to
    everyone, fitted strengths must order X > Y > Z."""
    import numpy as np

    # simulate the MM fit the query runs, on a 3-node wins matrix
    wins = {(1, 2): 9, (2, 1): 1, (1, 3): 9, (3, 1): 1, (2, 3): 8, (3, 2): 2}
    keys = [1, 2, 3]
    p = {k: 1 / 3 for k in keys}
    for _ in range(50):
        nxt = {}
        for i in keys:
            w_i = sum(c for (a, _), c in wins.items() if a == i)
            den = sum(
                (wins.get((i, j), 0) + wins.get((j, i), 0)) / (p[i] + p[j])
                for j in keys
                if j != i
            )
            nxt[i] = w_i / den
        tot = sum(nxt.values())
        p = {k: v / tot for k, v in nxt.items()}
    assert p[1] > p[2] > p[3]
    assert math.isclose(sum(p.values()), 1.0, rel_tol=1e-9)
    # the registered query: strengths are relative (mean 1 over brands)
    out = QUERIES["bradley_terry_brands"](spark, SF_SMALL).collect()
    rel = [r.strength_rel for r in out]
    assert abs(sum(rel) / len(rel) - 1.0) < 0.01
    assert rel == sorted(rel, reverse=True)


def test_textrank_ranks_sum_to_node_count(spark):
    """PageRank mass conservation: Σ rank_rel = N (within rounding),
    and the top word must be one of the most connected words."""
    from stream_processing_with_flink_study_spark.plans.queries_textmining import (  # noqa: E501
        TR_TOP,
    )

    out = QUERIES["textrank_keywords"](spark, SF_SMALL).collect()
    assert 0 < len(out) <= TR_TOP
    assert all(r.rank_rel > 0 for r in out)
    # rank_rel is rank·N over the top slice only; the full-mass law is
    # covered by test_graph — here assert descending order + tiebreak
    vals = [(-r.rank_rel, r.word) for r in out]
    assert vals == sorted(vals)


def test_sequential_patterns_bounded_by_gap_fanout(spark):
    """Total pair occurrences can never exceed GAP · |events| (the
    ROWS-frame fan-out bound that keeps the explode linear)."""
    from stream_processing_with_flink_study_spark.plans.queries_recsys import (  # noqa: E501
        SEQ_GAP,
    )

    out = QUERIES["sequential_pattern_pairs"](spark, SF_SMALL).collect()
    n_events = spark.read.parquet(f"{SF_SMALL}/events.parquet").count()
    assert sum(r.n_occur for r in out) <= SEQ_GAP * n_events
    assert all(r.n_users <= r.n_occur for r in out)


def test_item_item_cosine_bounds_and_symmetry(spark):
    """Cosine similarities live in (0, 1]; every listed pair must have
    co_cnt ≥ the floor; per-item lists are rank-contiguous."""
    from stream_processing_with_flink_study_spark.plans.queries_recsys import (  # noqa: E501
        ITEM_MIN_CO,
        ITEM_TOP_K,
    )

    out = QUERIES["item_item_similar_parts"](spark, SF_SMALL).collect()
    assert out, "sf0.001 should produce at least one co-purchase pair"
    for r in out:
        assert 0 < r.cosine <= 1.0001
        assert r.co_cnt >= ITEM_MIN_CO
        assert 1 <= r.rk <= ITEM_TOP_K


def test_modularity_contributions_bounded(spark):
    """Each community's modularity contribution lies in (-1, 1) and
    intra-weight can never exceed its degree mass."""
    out = QUERIES["graph_modularity_nations"](spark, SF_SMALL).collect()
    assert out
    for r in out:
        assert -1.0 < r.q_contrib < 1.0
        assert r.intra_w * 2 <= r.deg_w


def test_quantile_normalize_reference_is_cross_source_mean(spark):
    """For any tile, the reference value must lie within [min, max] of
    the per-source means at that tile (it IS their mean)."""
    rows = QUERIES["quantile_normalize_sources"](spark, SF_SMALL).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.q, []).append(r)
    for q, grp in by_q.items():
        means = [g.mean_chars for g in grp]
        ref = grp[0].norm_ref
        assert min(means) - 1e-3 <= ref <= max(means) + 1e-3, (q, grp)


def test_v_optimal_histogram_beats_equi_width(spark):
    """V-optimality: total SSE at B bins must be <= the equi-width
    B-bin SSE on the same data; bins partition the domain; counts
    conserve."""
    from stream_processing_with_flink_study_spark.plans.queries_mining import (  # noqa: E501
        VOPT_BINS,
    )
    from stream_processing_with_flink_study_spark.sources import load_table

    out = QUERIES["v_optimal_histogram"](spark, SF_SMALL).collect()
    assert len(out) <= VOPT_BINS
    # contiguous partition of the domain
    for a, b in zip(out, out[1:]):
        assert a.hi == b.lo
    ev = load_table(spark, SF_SMALL, "events")
    n_total = ev.count()
    assert sum(r.n_rows for r in out) == n_total
    sse_vopt = sum(r.sse for r in out)
    lo, hi = out[0].lo, out[-1].hi
    width = (hi - lo) / len(out)
    ew = (
        ev.selectExpr(
            f"least(CAST(floor((value - {lo}) / {width}) AS INT), "
            f"{len(out) - 1}) AS bin",
            "value",
        )
        .groupBy("bin")
        .agg(
            F.sum(F.col("value") * F.col("value")).alias("ss"),
            F.sum("value").alias("s"),
            F.count("*").alias("n"),
        )
        .selectExpr("sum(ss - s * s / n) AS sse")
        .first()
        .sse
    )
    assert sse_vopt <= ew + 1e-6, (sse_vopt, ew)


def test_boruvka_mst_matches_sequential_kruskal(spark):
    """The distributed Borůvka forest must carry the same total weight
    and edge count per component as a sequential Kruskal union-find on
    the collected sf0.001 co-supplier graph (MST weight is unique even
    under ties)."""
    from stream_processing_with_flink_study_spark.operators.graph import (
        boruvka_mst,
    )
    from stream_processing_with_flink_study_spark.plans.queries_graph import (
        _cosupplier_edges,
    )

    edges = _cosupplier_edges(spark, SF_SMALL).select(
        "src", "dst", (1.0 / F.col("w")).alias("cost")
    )
    rows = [(r.src, r.dst, r.cost) for r in edges.collect()]
    assert rows, "co-supplier graph should be non-empty at sf0.001"

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    kruskal_w, kruskal_n = 0.0, 0
    for a, b, w in sorted(rows, key=lambda t: (t[2], min(t[:2]), max(t[:2]))):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            kruskal_w += w
            kruskal_n += 1

    mst = boruvka_mst(edges, weight="cost").collect()
    assert len(mst) == kruskal_n
    assert sum(r.ew for r in mst) == pytest.approx(kruskal_w, rel=1e-9)


def test_boruvka_forced_distributed_equals_tail_path(spark, monkeypatch):
    """With the tail gate at 0 every round runs distributed (no driver
    Kruskal); the forest weight must match the hybrid default and the
    hand-verified MST."""
    from stream_processing_with_flink_study_spark.operators import graph
    from stream_processing_with_flink_study_spark.operators.graph import (
        boruvka_mst,
    )

    edges = spark.createDataFrame(
        [
            (1, 2, 1.0), (2, 3, 2.0), (1, 3, 4.0),
            (3, 4, 1.0), (2, 4, 5.0), (5, 6, 3.0),
        ],
        "src long, dst long, w double",
    )
    with monkeypatch.context() as m:
        m.setattr(graph, "BORUVKA_TAIL_EDGE_LIMIT", 0)
        forced = sorted((r.a, r.b, r.ew) for r in boruvka_mst(edges).collect())
    hybrid = sorted(
        (r.a, r.b, r.ew) for r in boruvka_mst(edges).collect()
    )
    assert forced == hybrid == [
        (1, 2, 1.0), (2, 3, 2.0), (3, 4, 1.0), (5, 6, 3.0)
    ]


def test_isotonic_calibration_pav_laws(spark):
    """PAV invariants: calibrated rates are non-decreasing, the
    weighted mean of calibrated == weighted mean of raw (mass
    conservation), and calibrated == raw wherever raw was already
    monotone with both neighbors."""
    out = QUERIES["isotonic_calibration"](spark, SF_SMALL).collect()
    assert len(out) > 1
    cal = [r.calibrated_rate for r in out]
    assert all(a <= b + 1e-9 for a, b in zip(cal, cal[1:]))
    wm_raw = sum(r.raw_rate * r.n for r in out) / sum(r.n for r in out)
    wm_cal = sum(r.calibrated_rate * r.n for r in out) / sum(r.n for r in out)
    assert wm_cal == pytest.approx(wm_raw, abs=1e-3)  # 4dp rounding slack


def test_page_hinkley_state_survives_checkpoint_restart(spark, tmp_path):
    """Savepoint-restore for the drift monitor: batch 1 runs through
    `page_hinkley_partials` with a checkpoint; a SECOND query started
    from the same checkpoint processes batch 2 only, and the carried
    (t, ΣX, Σ running-means, min-PH) state makes the post-restart
    excursions identical to a single-pass numpy computation over the
    full series — the drift statistic never resets on restart."""
    import os
    from datetime import datetime, timezone

    import numpy as np

    from stream_processing_with_flink_study_spark import streaming as S
    from stream_processing_with_flink_study_spark.streaming.stateful import (
        page_hinkley_partials,
    )

    vals = [100.0] * 60 + [200.0] * 40  # planted upward shift at t=61
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    rows = [
        (0, datetime(2024, 1, 1, 0, 0, 0, tzinfo=timezone.utc).replace(
            minute=i // 60, second=i % 60), v)
        for i, v in enumerate(vals)
    ]
    mk = lambda rs: spark.createDataFrame(rs, "k long, d timestamp, cents double")
    src, ck, out = (str(tmp_path / d) for d in ("src", "ck", "out"))

    def write_batch(df, i):
        d = f"{src}/b{i:05d}"
        df.coalesce(1).write.mode("append").parquet(d)
        for root, _, files in os.walk(d):
            for f_ in files:
                os.utime(
                    os.path.join(root, f_),
                    (1_600_000_000 + i, 1_600_000_000 + i),
                )

    schema = mk(rows[:1]).schema

    def run_once():
        sdf = S.file_stream(spark, f"{src}/b*", schema=schema)
        q = (
            page_hinkley_partials(sdf)
            .writeStream.outputMode("update")
            .foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write_batch(mk(rows[:70]), 0)
    run_once()
    write_batch(mk(rows[70:]), 1)
    run_once()  # restart from the same checkpoint; only batch 1 is new

    got = {
        r.t: r.ph_exc for r in spark.read.parquet(out).collect()
    }
    # single-pass reference
    x = np.array(vals)
    t = np.arange(1, len(x) + 1, dtype=float)
    cs = np.cumsum(x)
    ph = cs - np.cumsum(cs / t)
    exc = ph - np.minimum.accumulate(ph)
    assert len(got) == len(vals)
    for i in (59, 69, 70, 99):  # around the boundary and the tail
        assert got[i + 1] == pytest.approx(exc[i], rel=1e-12), i
    # the shift is detected: excursion grows after t=61, flat before
    assert got[60] < 1e-6 and got[100] > 100
