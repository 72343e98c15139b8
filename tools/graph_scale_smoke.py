"""Graph scale smoke: replicate the lineitem fact table into N disjoint
order/supplier universes and check that (a) co-occurrence edge counts
scale EXACTLY N× (each copy is an independent graph — any deviation
means pair generation leaked across copies), (b) PageRank still
conserves unit mass per copy (total rank across the N-fold graph is
N× the single-copy total after the per-copy normalization, i.e. the
iteration never mixes universes), and (c) wall clock grows sublinearly
vs the copy count (the per-round cost is |E| messages — nothing may go
quadratic in nodes or edges).

    python tools/graph_scale_smoke.py [--sf /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import json
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from stream_processing_with_flink_study_spark.operators.graph import (  # noqa: E402
    pagerank,
    sssp,
)
from stream_processing_with_flink_study_spark.plans.queries_graph import (  # noqa: E402
    EDGE_MIN_PRICE,
)
from stream_processing_with_flink_study_spark.session import get_spark  # noqa: E402
from stream_processing_with_flink_study_spark.sources import load_table  # noqa: E402


def edges_for(spark, base, mult: int):
    """Co-supplier edges over ``mult`` disjoint copies of the fact
    table (orders AND suppliers shifted into per-copy ranges)."""
    df = base
    if mult > 1:
        df = base.crossJoin(
            spark.range(mult).select(F.col("id").alias("_copy"))
        ).select(
            (F.col("okey") + F.col("_copy") * 100_000_000).alias("okey"),
            (F.col("s") + F.col("_copy") * 1_000_000).alias("s"),
        )
    grouped = df.groupBy("okey").agg(F.collect_set("s").alias("arr"))
    packed = F.flatten(
        F.transform(
            F.col("arr"),
            lambda x, i: F.transform(
                F.slice(F.col("arr"), i + 2, F.size(F.col("arr"))),
                lambda y: F.shiftleft(F.least(x, y), 32)
                + F.greatest(x, y),
            ),
        )
    )
    return (
        grouped.select(F.explode(packed).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("w"))
        .select(
            F.shiftright("k", 32).alias("src"),
            (F.col("k") - F.shiftleft(F.shiftright("k", 32), 32)).alias("dst"),
            "w",
        )
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--mults", default="1,4,16")
    ap.add_argument("--iters", type=int, default=4)
    args = ap.parse_args()

    spark = get_spark("graph-scale-smoke")
    base = (
        load_table(spark, args.sf, "lineitem")
        .filter(F.col("l_extendedprice") >= EDGE_MIN_PRICE)
        .select(
            F.col("l_orderkey").alias("okey"), F.col("l_suppkey").alias("s")
        )
        .persist()
    )
    base.count()

    out = {}
    base_edges = None
    for mult in [int(m) for m in args.mults.split(",")]:
        t0 = time.perf_counter()
        e = edges_for(spark, base, mult).persist()
        n_edges = e.count()
        sym = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )
        ranks = pagerank(sym, iters=args.iters, edge_partitions=8 * mult)
        mass = ranks.agg(F.sum("rank")).first()[0]
        # SSSP from a copy-0 source: the reachable set must be EXACTLY
        # the copy-0 universe no matter how many disjoint copies exist —
        # any growth means relaxation leaked across universes
        srcnode = int(e.agg(F.min("src")).first()[0])
        costed = sym.withColumn("cost", 1.0 / F.col("w")).select(
            "src", "dst", "cost"
        )
        n_reach = sssp(costed, source=srcnode, rounds=3).count()
        sec = round(time.perf_counter() - t0, 2)
        e.unpersist()
        if base_edges is None:
            base_edges = n_edges
        out[mult] = {
            "edges": n_edges,
            "sec": sec,
            "sssp_reach": n_reach,
            "linear": n_edges == base_edges * mult,
            # pagerank normalizes over the COMBINED node set, so total
            # mass is always 1; per-copy isolation shows as exact
            # linearity of the edge counts plus mass conservation
            "mass_ok": abs(mass - 1.0) < 1e-6,
        }
        print(json.dumps({"mult": mult, **out[mult]}))

    assert all(v["linear"] and v["mass_ok"] for v in out.values()), out
    reaches = {v["sssp_reach"] for v in out.values()}
    assert len(reaches) == 1, f"SSSP reach changed with copies: {out}"

    # Forced-shuffle-path run at the largest mult: every size gate of
    # operators.graph set to 0 flips pagerank/sssp/triangle_stats to
    # their co-partitioned shuffle paths (the billion-node regime) and
    # keeps pagerank off its driver kernel; invariants must hold there
    # too.  The gates are module constants read at call time.
    from stream_processing_with_flink_study_spark.operators import graph
    from stream_processing_with_flink_study_spark.operators.graph import (
        triangle_stats,
    )

    gates = (
        "LOCAL_CC_SYM_LIMIT",
        "BROADCAST_NODE_LIMIT",
        "BROADCAST_EDGE_LIMIT",
        "TRIANGLE_BROADCAST_EDGE_LIMIT",
    )
    saved = {g: getattr(graph, g) for g in gates}
    big = max(int(m) for m in args.mults.split(","))
    try:
        for g in gates:
            setattr(graph, g, 0)
        t0 = time.perf_counter()
        e = edges_for(spark, base, big).persist()
        n_edges = e.count()
        sym = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )
        ranks = pagerank(sym, iters=args.iters, edge_partitions=8 * big)
        mass = ranks.agg(F.sum("rank")).first()[0]
        srcnode = int(e.agg(F.min("src")).first()[0])
        costed = sym.withColumn("cost", 1.0 / F.col("w")).select(
            "src", "dst", "cost"
        )
        n_reach = sssp(costed, source=srcnode, rounds=3).count()
        sec = round(time.perf_counter() - t0, 2)
        e.unpersist()
        # triangle counting: the degree-ordered shuffle edge-iterator
        # must reproduce the broadcast path's exact count on the scaled
        # graph (disjoint copies => count scales exactly linearly too)
        tri_sh = triangle_stats(e, src="src", dst="dst").collect()[0]
    finally:
        for g, v in saved.items():
            setattr(graph, g, v)
    tri_bc = triangle_stats(e, src="src", dst="dst").collect()[0]
    forced = {
        "edges": n_edges,
        "sec": sec,
        "sssp_reach": n_reach,
        "linear": n_edges == base_edges * big,
        "mass_ok": abs(mass - 1.0) < 1e-6,
        "reach_matches_broadcast_path": n_reach == next(iter(reaches)),
        "triangles": tri_sh.n_triangles,
        "triangles_match": tri_bc.asDict() == tri_sh.asDict(),
    }
    print(json.dumps({"mult": big, "path": "forced_shuffle", **forced}))
    assert forced["linear"] and forced["mass_ok"], forced
    assert forced["reach_matches_broadcast_path"], forced
    assert forced["triangles_match"], forced

    # Graph wave 2: local clustering coefficient and link-prediction
    # scoring must be per-copy independent too — the mult-copy multiset
    # of per-node (degree, n_tri, lcc) rows is exactly mult x the
    # single-copy multiset, scored link candidates scale exactly
    # linearly, and no candidate pair ever spans two universes.
    from collections import Counter

    from stream_processing_with_flink_study_spark.plans.queries_graph import (
        lcc_from_pairs,
        link_scores_from_pairs,
    )

    def thinned(mult):
        e = edges_for(spark, base, mult).filter(F.col("w") >= 3)
        return e.select("src", "dst").persist()

    p1, pb = thinned(1), thinned(big)
    p1.count(), pb.count()
    lcc1 = Counter(
        (r["degree"], r["n_tri"], r["lcc"])
        for r in lcc_from_pairs(p1).collect()
    )
    lccb = Counter(
        (r["degree"], r["n_tri"], r["lcc"])
        for r in lcc_from_pairs(pb).collect()
    )
    lcc_ok = lccb == Counter({k: v * big for k, v in lcc1.items()})
    lp1 = link_scores_from_pairs(p1).collect()
    lpb = link_scores_from_pairs(pb).collect()
    cross = sum(
        1 for r in lpb if r["a"] // 1_000_000 != r["b"] // 1_000_000
    )
    lp_ok = len(lpb) == big * len(lp1) and cross == 0
    p1.unpersist(), pb.unpersist()
    wave2 = {
        "lcc_nodes_1x": sum(lcc1.values()),
        "lcc_multiset_scales": lcc_ok,
        "link_cands_1x": len(lp1),
        "link_cands_bigx": len(lpb),
        "link_linear_no_cross_universe": lp_ok,
    }
    print(json.dumps({"mult": big, "wave2": wave2}))
    assert lcc_ok and lp_ok, wave2

    print(json.dumps({"graph_scale_smoke": "ok", "results": out,
                      "forced_shuffle": forced, "wave2": wave2}))
    spark.stop()


if __name__ == "__main__":
    main()
