"""Connected components (operators/graph.py): multi-hop propagation,
isolated vertices, convergence on chains longer than one round."""

from __future__ import annotations

import random
import warnings

import pytest
from pyspark.sql import functions as F

from stream_processing_with_flink_study_spark.operators import graph
from stream_processing_with_flink_study_spark.operators.graph import (
    connected_components,
)


def _comps(df) -> dict[int, int]:
    return {r["id"]: r["comp"] for r in df.collect()}


def _gate_zero(monkeypatch, gate, op, *args, **kwargs):
    """``op`` called with the ``operators.graph`` size gate ``gate`` at 0
    (the gates are module constants read at call time)."""
    with monkeypatch.context() as m:
        m.setattr(graph, gate, 0)
        return op(*args, **kwargs)


def _spark_loop(monkeypatch, op, *args, **kwargs):
    """``op`` called with the local edge gate at 0 (its Spark loop)."""
    return _gate_zero(monkeypatch, "LOCAL_CC_SYM_LIMIT", op, *args, **kwargs)


def test_chain_and_isolated_vertices(spark):
    # 1-2-3-4-5 chain (min label needs 4 propagation rounds), a pair
    # 10-11, and isolated vertex 99 supplied via `vertices`
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (4, 5), (10, 11)], "id_a long, id_b long"
    )
    verts = spark.range(1).select(F.lit(99).cast("long").alias("doc_id"))
    out = connected_components(
        edges, vertices=verts, vertex_col="doc_id"
    )
    assert _comps(out) == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 99: 99}


def test_cycle_and_cross_links(spark):
    # cycle 1-2-3-1 plus bridge 3-7; all one component rooted at 1
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 7)], "id_a long, id_b long"
    )
    out = connected_components(edges)
    assert _comps(out) == {1: 1, 2: 1, 3: 1, 7: 1}


def test_max_iter_caps_rounds(spark, monkeypatch):
    # one materialized round = TWO propagation hops: with max_iter=1 the
    # far end of a 5-chain moves exactly two hops, not to convergence.
    # A local gate of 0 forces the DISTRIBUTED loop (the sequential
    # union-find tail always converges fully; round capping is a
    # distributed-path contract).
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a long, id_b long"
    )
    with pytest.warns(UserWarning, match="max_iter=1"):
        out = _comps(
            _spark_loop(monkeypatch, connected_components, edges, max_iter=1)
        )
    assert out[1] == 1 and out[2] == 1 and out[3] == 1
    assert out[5] == 3  # two hops reached 3's initial label, not 1


def test_max_iter_converged_star_does_not_warn(spark, monkeypatch):
    # a star converges within its one round: the loop runs out of
    # rounds, but no further hop lowers a label, so nothing is reported
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5)], "id_a long, id_b long"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = _comps(
            _spark_loop(monkeypatch, connected_components, edges, max_iter=1)
        )
    assert set(out.values()) == {1}
    assert not [w for w in caught if "connected_components" in str(w.message)]


def test_local_tail_matches_distributed(spark, monkeypatch):
    # the size-gated union-find tail must emit the identical
    # (id, min-reachable-id) labels as the distributed propagation,
    # isolated vertices included
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)],
        "id_a long, id_b long",
    )
    verts = spark.createDataFrame([(99,), (1,), (10,)], "doc_id long")
    local = _comps(
        connected_components(edges, vertices=verts, vertex_col="doc_id")
    )
    dist = _comps(
        _spark_loop(
            monkeypatch,
            connected_components,
            edges,
            vertices=verts,
            vertex_col="doc_id",
        )
    )
    assert local == dist == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 99: 99
    }
    # a null endpoint: Arrow would hand the driver tail a NaN, which
    # never finds its root (nan != nan), so the default gate must send
    # the frame to the distributed loop and get the same rows
    edges = spark.createDataFrame(
        [(1, 2), (2, None), (3, 4)], "id_a long, id_b long"
    )
    local = sorted(connected_components(edges).collect(), key=str)
    dist = sorted(
        _spark_loop(monkeypatch, connected_components, edges).collect(),
        key=str,
    )
    assert local == dist
    assert _comps(connected_components(edges)) == {
        1: 1, 2: 1, 3: 3, 4: 3, None: 1
    }


def _sym(spark, undirected):
    """Symmetric weighted edge list from canonical (a, b, w) tuples."""
    rows = [(a, b, w) for a, b, w in undirected] + [
        (b, a, w) for a, b, w in undirected
    ]
    return spark.createDataFrame(rows, "src long, dst long, w long")


def test_pagerank_uniform_on_cycle(spark):
    from stream_processing_with_flink_study_spark.operators.graph import pagerank

    # 4-cycle, equal weights: PageRank is exactly uniform at every
    # iteration, and ranks must sum to 1
    edges = _sym(spark, [(1, 2, 1), (2, 3, 1), (3, 4, 1), (4, 1, 1)])
    ranks = {r["id"]: r["rank"] for r in pagerank(edges, iters=4).collect()}
    assert set(ranks) == {1, 2, 3, 4}
    for v in ranks.values():
        assert abs(v - 0.25) < 1e-12
    assert abs(sum(ranks.values()) - 1.0) < 1e-9


def test_pagerank_star_center_dominates(spark):
    from stream_processing_with_flink_study_spark.operators.graph import pagerank

    # star with center 1: leaves agree with each other, center wins,
    # total mass conserved at every iteration count
    edges = _sym(spark, [(1, 2, 1), (1, 3, 1), (1, 4, 1)])
    ranks = {r["id"]: r["rank"] for r in pagerank(edges, iters=6).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    leaves = [ranks[2], ranks[3], ranks[4]]
    assert max(leaves) - min(leaves) < 1e-12
    assert ranks[1] > leaves[0] * 1.5


def test_pagerank_weight_sensitivity(spark):
    from stream_processing_with_flink_study_spark.operators.graph import pagerank

    # triangle with one heavy edge: the two heavy-edge endpoints must
    # outrank the third node
    edges = _sym(spark, [(1, 2, 10), (2, 3, 1), (1, 3, 1)])
    ranks = {r["id"]: r["rank"] for r in pagerank(edges, iters=8).collect()}
    assert ranks[1] > ranks[3] and ranks[2] > ranks[3]
    assert abs(sum(ranks.values()) - 1.0) < 1e-9


def test_triangle_stats_complete_graphs(spark):
    from stream_processing_with_flink_study_spark.operators.graph import (
        triangle_stats,
    )

    # K4: C(4,3)=4 triangles, clustering coefficient exactly 1
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    df = spark.createDataFrame(k4, "src long, dst long")
    row = triangle_stats(df).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (4, 6, 4)
    assert row.clustering_coeff == 1.0

    # K5 minus one edge (4,5): 10-3=7 triangles
    k5 = [(a, b) for a in range(1, 6) for b in range(a + 1, 6) if (a, b) != (4, 5)]
    row = triangle_stats(
        spark.createDataFrame(k5, "src long, dst long")
    ).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (5, 9, 7)


def test_sssp_bounded_bellman_ford(spark):
    from stream_processing_with_flink_study_spark.operators.graph import sssp

    # directed path 1→2→3→4 plus a worse shortcut 1→3; K bounds hops
    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 2.0), (3, 4, 4.0), (1, 3, 5.0)],
        "src long, dst long, cost double",
    )
    d1 = {r.id: r.dist for r in sssp(edges, source=1, rounds=1).collect()}
    assert d1 == {1: 0.0, 2: 1.0, 3: 5.0}  # one hop: only direct edges
    d2 = {r.id: r.dist for r in sssp(edges, source=1, rounds=2).collect()}
    # two hops: 3 improves via 1→2→3; 4 reachable only via the shortcut
    assert d2 == {1: 0.0, 2: 1.0, 3: 3.0, 4: 9.0}
    d3 = {r.id: r.dist for r in sssp(edges, source=1, rounds=3).collect()}
    assert d3[4] == 7.0 and d3[3] == 3.0  # three hops: 1→2→3→4 wins


def test_kcore_peeling(spark):
    from stream_processing_with_flink_study_spark.operators.graph import kcore

    # K4 (every vertex degree 3) plus a pendant chain 4-5-6: the
    # 2-core is exactly the K4 — the chain peels away in two rounds
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = spark.createDataFrame(
        k4 + [(4, 5), (5, 6)], "src long, dst long"
    )
    core2 = {r.id: r.degree for r in kcore(edges, k=2).collect()}
    assert core2 == {1: 3, 2: 3, 3: 3, 4: 3}
    # 3-core of the same graph is still the K4; 4-core is empty
    core3 = {r.id: r.degree for r in kcore(edges, k=3).collect()}
    assert core3 == {1: 3, 2: 3, 3: 3, 4: 3}
    assert kcore(edges, k=4).count() == 0


def test_pagerank_shuffle_path_bit_identical(spark, monkeypatch):
    """A node gate of 0 forces the large-graph shuffle-hash path;
    ranks must be BIT-identical to the broadcast path (same edge cache
    partitioning -> same partial-sum combine order).  A local edge gate
    of 0 keeps both calls off the driver-side kernel."""
    from stream_processing_with_flink_study_spark.operators.graph import pagerank

    monkeypatch.setattr(graph, "LOCAL_CC_SYM_LIMIT", 0)
    edges = _sym(
        spark, [(1, 2, 10), (2, 3, 1), (1, 3, 1), (3, 4, 2), (4, 1, 5)]
    )
    bc = {r["id"]: r["rank"] for r in pagerank(edges, iters=6).collect()}
    sh = {
        r["id"]: r["rank"]
        for r in _gate_zero(
            monkeypatch, "BROADCAST_NODE_LIMIT", pagerank, edges, iters=6
        ).collect()
    }
    assert bc == sh  # exact float equality, not approx
    assert abs(sum(sh.values()) - 1.0) < 1e-9


def test_pagerank_shuffle_path_plan_has_no_broadcast(spark):
    """The forced-shuffle round join must not contain a broadcast
    exchange of the rank vector (broadcast of a 1-row literal stats
    frame is fine -- there is none here)."""
    from pyspark.sql.window import Window
    from pyspark.sql import functions as F

    edges = _sym(spark, [(1, 2, 1), (2, 3, 1), (3, 1, 1)])
    fedges = (
        edges.withColumn(
            "frac", F.col("w") / F.sum("w").over(Window.partitionBy("src"))
        )
        .select("src", "dst", "frac")
        .repartition(4, "src")
        .persist()
    )
    fedges.count()
    ranks = fedges.select(F.col("src").alias("id")).distinct().select(
        "id", F.lit(1.0).alias("rank")
    )
    joined = fedges.join(ranks.hint("shuffle_hash"), fedges.src == ranks.id)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan
    assert "ShuffledHashJoin" in plan
    fedges.unpersist()


def test_sssp_shuffle_path_bit_identical(spark, monkeypatch):
    from stream_processing_with_flink_study_spark.operators.graph import sssp

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 2.0), (3, 4, 4.0), (1, 3, 5.0), (2, 4, 9.5)],
        "src long, dst long, cost double",
    )
    bc = {r.id: r.dist for r in sssp(edges, source=1, rounds=3).collect()}
    sh = {
        r.id: r.dist
        for r in _gate_zero(
            monkeypatch, "BROADCAST_EDGE_LIMIT", sssp, edges, source=1, rounds=3
        ).collect()
    }
    assert bc == sh
    assert sh[4] == 7.0


def test_triangle_stats_shuffle_path_exact(spark, monkeypatch):
    """Degree-ordered shuffle edge-iterator (edge gate at 0)
    reproduces the broadcast path's exact counts on K4, K5-minus-edge,
    and a graph with skewed degrees (star + triangle)."""
    from stream_processing_with_flink_study_spark.operators.graph import (
        triangle_stats,
    )

    cases = {
        "k4": [(a, b) for a in range(1, 5) for b in range(a + 1, 5)],
        "k5m": [
            (a, b)
            for a in range(1, 6)
            for b in range(a + 1, 6)
            if (a, b) != (4, 5)
        ],
        # star center 1 -> 2..6 plus triangle 2-3 closing: exactly one
        # triangle (1,2,3); degree skew exercises the orientation
        "star_tri": [(1, x) for x in range(2, 7)] + [(2, 3)],
    }
    expect = {"k4": 4, "k5m": 7, "star_tri": 1}
    for name, es in cases.items():
        df = spark.createDataFrame(es, "src long, dst long")
        fast = triangle_stats(df).collect()[0]
        scale = _gate_zero(
            monkeypatch, "TRIANGLE_BROADCAST_EDGE_LIMIT", triangle_stats, df
        ).collect()[0]
        assert fast.asDict() == scale.asDict(), name
        assert scale.n_triangles == expect[name], name


def test_star_cc_equals_min_propagation(spark):
    """Large-star/small-star CC must produce the identical labeling as
    min-propagation on chains (deep), cliques+bridge, and a seeded
    random graph (the regime mixing both shapes)."""
    import random

    from stream_processing_with_flink_study_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    cases = {
        "chain": [(i, i + 1) for i in range(1, 12)] + [(20, 21)],
        "cliquebridge": [
            (a, b) for a in range(1, 5) for b in range(a + 1, 5)
        ] + [(4, 10), (10, 11), (11, 12), (30, 31)],
    }
    rng = random.Random(7)
    cases["random"] = list(
        {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.randrange(1, 60), rng.randrange(1, 60)) for _ in range(70)
            )
            if a != b
        }
    )
    for name, es in cases.items():
        df = spark.createDataFrame(es, "id_a long, id_b long")
        want = {r.id: r.comp for r in connected_components(df).collect()}
        got = {r.id: r.comp for r in connected_components_star(df).collect()}
        assert got == want, name


def test_edge_snapshot_fingerprint_invalidation(tmp_path):
    """Regenerating the dataset at sf_dir mid-process must change the
    snapshot cache key (round-8 advice: mtime/size fingerprint), so
    downstream graph queries never read stale edges."""
    import os
    import shutil

    from stream_processing_with_flink_study_spark.sources.snapshots import (
        _dataset_fingerprint,
    )

    sf = "/root/testdata/sf0.001"
    d = tmp_path / "sfcopy"
    d.mkdir()
    for tbl in ("lineitem.parquet", "orders.parquet"):
        src = os.path.join(sf, tbl)
        dst = str(d / tbl)
        (shutil.copytree if os.path.isdir(src) else shutil.copy)(src, dst)
    f1 = _dataset_fingerprint(str(d))
    assert f1 == _dataset_fingerprint(str(d))  # stable fixture -> hit
    # "regenerate": bump mtime on one lineitem file
    root = str(d / "lineitem.parquet")
    victim = root
    if os.path.isdir(root):
        for dirp, _, files in os.walk(root):
            if files:
                victim = os.path.join(dirp, files[0])
                break
    st = os.stat(victim)
    os.utime(victim, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert _dataset_fingerprint(str(d)) != f1


# ---------------------------------------------------------------------------
# Driver-side kernels under the local edge gate (pagerank, katz, LPA):
# a gate of 0 forces the Spark loops, so every test below runs both
# sides of the gate on the same hand graph.
# ---------------------------------------------------------------------------


def _random_sym(spark, seed=7, n=40, m=90):
    rng = random.Random(seed)
    und = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.randrange(n), rng.randrange(n)) for _ in range(m)
            )
            if a != b
        }
    )
    return _sym(spark, [(a, b, rng.randint(1, 5)) for a, b in und])


def _by_id(df) -> dict:
    return {r[0]: r[1] for r in df.collect()}


def _assert_close(local, dist):
    assert local.keys() == dist.keys()
    for k, v in dist.items():
        assert local[k] == pytest.approx(v, rel=1e-12), k


@pytest.mark.parametrize("seeds", [None, [1, 5, 7]])
def test_pagerank_local_matches_distributed(spark, monkeypatch, seeds):
    from stream_processing_with_flink_study_spark.operators.graph import pagerank

    edges = _random_sym(spark)
    local = pagerank(edges, iters=6, seeds=seeds)
    dist = _spark_loop(monkeypatch, pagerank, edges, iters=6, seeds=seeds)
    assert local.schema == dist.schema
    _assert_close(_by_id(local), _by_id(dist))


def test_katz_local_matches_distributed(spark, monkeypatch):
    from stream_processing_with_flink_study_spark.operators.graph import (
        katz_centrality,
    )

    edges = _random_sym(spark)
    local = katz_centrality(edges, iters=6)
    dist = _spark_loop(monkeypatch, katz_centrality, edges, iters=6)
    assert local.schema == dist.schema
    _assert_close(_by_id(local), _by_id(dist))


def test_lpa_local_matches_distributed(spark, monkeypatch):
    from stream_processing_with_flink_study_spark.operators.graph import (
        label_propagation,
    )

    edges = _random_sym(spark, seed=11).select("src", "dst")
    for rounds in (1, 4):
        local = label_propagation(edges, rounds=rounds)
        dist = _spark_loop(monkeypatch, label_propagation, edges, rounds=rounds)
        assert local.schema == dist.schema
        assert _by_id(local) == _by_id(dist), rounds


def test_lpa_two_triangles_and_tie_break(spark, monkeypatch):
    """Triangles 1-2-3 and 4-5-6 joined by the bridge 3-4, plus node 7
    adjacent to both bridge ends.  After 4 rounds each triangle is one
    community, and 7 sees labels 1 and 3 once each: the tie goes to the
    smaller label.  After 1 round every node's neighbour labels tie
    (node 1 sees 2 and 3 -> 2), so round one pins the rule on its own."""
    from stream_processing_with_flink_study_spark.operators.graph import (
        label_propagation,
    )

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4), (7, 3), (7, 4)],
        "src long, dst long",
    )
    for gate in (graph.LOCAL_CC_SYM_LIMIT, 0):
        monkeypatch.setattr(graph, "LOCAL_CC_SYM_LIMIT", gate)
        one = _by_id(label_propagation(edges, rounds=1))
        assert one == {1: 2, 2: 1, 3: 1, 4: 3, 5: 4, 6: 4, 7: 3}
        four = _by_id(label_propagation(edges, rounds=4))
        assert four == {1: 1, 2: 1, 3: 1, 4: 3, 5: 3, 6: 3, 7: 1}


def test_pagerank_string_ids_local_matches_distributed(spark, monkeypatch):
    """Word ids (the textrank shape) ride the same kernel."""
    from stream_processing_with_flink_study_spark.operators.graph import pagerank

    und = [("graph", "rank", 3), ("rank", "word", 1), ("graph", "word", 2),
           ("word", "text", 4)]
    rows = und + [(b, a, w) for a, b, w in und]
    edges = spark.createDataFrame(rows, "src string, dst string, w long")
    local = pagerank(edges, iters=6)
    dist = _spark_loop(monkeypatch, pagerank, edges, iters=6)
    assert local.schema == dist.schema
    assert set(_by_id(local)) == {"graph", "rank", "word", "text"}
    _assert_close(_by_id(local), _by_id(dist))


def test_iterative_operators_empty_edge_list(spark, monkeypatch):
    from stream_processing_with_flink_study_spark.operators.graph import (
        katz_centrality,
        label_propagation,
        pagerank,
    )

    empty = spark.createDataFrame([], "src long, dst long, w long")
    for op in (pagerank, katz_centrality, label_propagation):
        local = op(empty)
        dist = _spark_loop(monkeypatch, op, empty)
        assert local.count() == 0 and dist.count() == 0, op.__name__
        # same names and types (the Spark path's literal rank/score
        # column is non-nullable; nullability is not compared)
        assert [(f.name, f.dataType) for f in local.schema] == [
            (f.name, f.dataType) for f in dist.schema
        ], op.__name__
    # seeded PageRank returns before building its (here empty) teleport
    assert pagerank(empty, seeds=[]).count() == 0
    assert _spark_loop(monkeypatch, pagerank, empty, seeds=[]).count() == 0


# Every registered query behind a size gate.  Each runs at the default
# gates and with every gate at 0; the PageRank/Katz queries also run
# with only the local gate at 0, which is their broadcast regime.
GATED_QUERIES = [
    "pagerank_cosupplier",
    "personalized_pagerank",
    "katz_centrality_cosupplier",
    "lpa_communities",
    "textrank_keywords",
    "near_dup_clusters",
    "embedding_dedup_clusters",
    "graph_robustness_attack",
    "identity_stitch_components",
    "dbscan_grid_clusters",
    "triangle_count_graph",
    "sssp_cosupplier",
    "mst_cosupplier",
    "closeness_bfs_seeds",
    "eccentricity_seeds",
    "betweenness_fixed_point",
]
BROADCAST_REGIME_QUERIES = GATED_QUERIES[:3]
GATE_CONSTANTS = [
    "LOCAL_CC_SYM_LIMIT",
    "BROADCAST_NODE_LIMIT",
    "BROADCAST_EDGE_LIMIT",
    "TRIANGLE_BROADCAST_EDGE_LIMIT",
    "BORUVKA_TAIL_EDGE_LIMIT",
]


@pytest.mark.parametrize(
    "name,gate",
    [(n, g) for n in GATED_QUERIES for g in ("default", "forced_distributed")]
    + [(n, "broadcast") for n in BROADCAST_REGIME_QUERIES],
)
def test_graph_queries_match_oracle_both_sides_of_gate(
    spark, duck_medium, monkeypatch, name, gate
):
    from stream_processing_with_flink_study_spark import plans
    from stream_processing_with_flink_study_spark.plans import queries_graphdist
    from stream_processing_with_flink_study_spark.sources import snapshots

    from .conftest import SF_MEDIUM
    from .util import assert_matches_oracle

    if gate == "broadcast":
        monkeypatch.setattr(graph, "LOCAL_CC_SYM_LIMIT", 0)
    elif gate == "forced_distributed":
        for const in GATE_CONSTANTS:
            monkeypatch.setattr(graph, const, 0)
        monkeypatch.setattr(queries_graphdist, "BFS_LOCAL_EDGE_GATE", 0)
        # snapshots built at the default gates (the BFS levels) must not
        # stand in for the forced run
        monkeypatch.setattr(snapshots, "_EDGE_SNAPSHOTS", {})
        monkeypatch.setattr(snapshots, "_SCRATCH", [])
    try:
        assert_matches_oracle(
            plans.QUERIES[name](spark, SF_MEDIUM),
            duck_medium,
            plans.ORACLES[name],
        )
    finally:
        spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# The per-process memo of ``_collect_under_gate``: only frames that read
# nothing but edge snapshots, deterministically, are collected once.
# ---------------------------------------------------------------------------


def _next_job(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _jobs(spark, fn, *args):
    before = _next_job(spark)
    out = fn(*args)
    return out, _next_job(spark) - before


def _cosupplier(spark):
    from stream_processing_with_flink_study_spark.plans.queries_graph import (
        _cosupplier_edges,
    )

    from .conftest import SF_MEDIUM

    return _cosupplier_edges(spark, SF_MEDIUM).select("src", "dst")


def test_second_lpa_build_launches_no_job(spark):
    from stream_processing_with_flink_study_spark import plans

    from .conftest import SF_MEDIUM

    lpa = plans.QUERIES["lpa_communities"]
    first, _ = _jobs(spark, lpa, spark, SF_MEDIUM)
    second, jobs = _jobs(spark, lpa, spark, SF_MEDIUM)
    assert jobs == 0
    assert sorted(second.collect()) == sorted(first.collect())


def test_collect_memo_skips_table_and_nondeterministic_frames(spark, monkeypatch):
    from stream_processing_with_flink_study_spark.sources import load_table

    from .conftest import SF_SMALL

    monkeypatch.setattr(graph, "_COLLECTED", {})
    table = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_partkey")
    noisy = _cosupplier(spark).withColumn("r", F.rand(7))
    for frame in (table, noisy):
        for _ in range(2):
            pdf, jobs = _jobs(spark, graph._collect_under_gate, frame, 10**9)
            assert pdf is not None and jobs > 0  # counted and collected again
    assert graph._COLLECTED == {}


def test_collect_memo_gate_rows_are_part_of_the_key(spark, monkeypatch):
    monkeypatch.setattr(graph, "_COLLECTED", {})
    edges = _cosupplier(spark)
    pdf, jobs = _jobs(spark, graph._collect_under_gate, edges, 10**9)
    assert pdf is not None and jobs > 0
    # a gate below the row count takes a fresh verdict
    small, jobs = _jobs(spark, graph._collect_under_gate, edges, len(pdf) - 1)
    assert small is None and jobs > 0
    # both verdicts are kept, also for a new frame of the same plan
    again, jobs = _jobs(spark, graph._collect_under_gate, _cosupplier(spark), 10**9)
    assert again is pdf and jobs == 0
    small, jobs = _jobs(spark, graph._collect_under_gate, edges, len(pdf) - 1)
    assert small is None and jobs == 0
    # a gate of 0 decides before any job
    assert _jobs(spark, graph._collect_under_gate, edges, 0) == (None, 0)


# ---------------------------------------------------------------------------
# Below the gates the query tails finish on the driver: local relations,
# no Spark job after the kernels.
# ---------------------------------------------------------------------------
LOCAL_TAIL_QUERIES = [
    "pagerank_cosupplier",
    "personalized_pagerank",
    "katz_centrality_cosupplier",
    "closeness_bfs_seeds",
    "eccentricity_seeds",
    "betweenness_fixed_point",
]


@pytest.mark.parametrize("name", LOCAL_TAIL_QUERIES)
def test_warm_local_tail_launches_no_job(spark, name):
    from stream_processing_with_flink_study_spark import plans

    from .conftest import SF_MEDIUM

    q = plans.QUERIES[name]
    first = q(spark, SF_MEDIUM).collect()  # fills the snapshots and memo
    rows, jobs = _jobs(spark, lambda: q(spark, SF_MEDIUM).collect())
    assert jobs == 0
    assert rows == first


def _local_nodes(spark, rows):
    import pandas as pd

    frame = spark.createDataFrame(
        pd.DataFrame.from_records(rows, columns=["id", "s"]), "id long, s double"
    )
    assert frame.isLocal()
    return frame


def _scored(nodes, count):
    return nodes.select(
        F.col("id").alias("k"), F.col("s").alias("score"), F.lit(count()).alias("n")
    )


def _bits(rows):
    import struct

    return [
        (r.k, None if r.score is None else struct.pack(">d", r.score), r.n)
        for r in rows
    ]


def _spark_top(nodes, n):
    count = nodes.count()
    return (
        _scored(nodes, lambda: count)
        .orderBy(F.desc("score"), F.asc("k"))
        .limit(n)
        .collect()
    )


def test_top_by_score_matches_spark_order_on_ties(spark):
    # tie groups cut by n, and -0.0 interleaved with 0.0: Spark treats
    # them as equal, so the id decides
    rows = [
        (5, 1.0), (3, 1.0), (9, 0.0), (2, -0.0), (7, -0.0),
        (4, 0.0), (1, 2.5), (8, 1.0), (6, -1.0), (10, -0.0),
    ]
    nodes = _local_nodes(spark, rows)
    for n in (1, 2, 4, 6, 20):
        got, jobs = _jobs(
            spark,
            lambda: graph.top_by_score(nodes, _scored, "score", "k", n).collect(),
        )
        assert jobs == 0, n
        assert _bits(got) == _bits(_spark_top(nodes, n)), n
    assert [r.k for r in got] == [1, 3, 5, 8, 2, 4, 7, 9, 10, 6]


@pytest.mark.parametrize(
    "rows",
    [
        [(1, float("nan")), (2, 1.0), (3, 1.0)],
        [(1, None), (2, 1.0), (3, 0.5)],
        [(None, 1.0), (2, 1.0), (3, 0.5)],
    ],
    ids=["nan-score", "null-score", "null-key"],
)
def test_top_by_score_null_or_nan_takes_spark_sort(spark, rows):
    nodes = _local_nodes(spark, rows)
    got, jobs = _jobs(
        spark, lambda: graph.top_by_score(nodes, _scored, "score", "k", 2).collect()
    )
    assert jobs > 0  # Spark's orderBy().limit() ran
    assert repr(got) == repr(_spark_top(nodes, 2))


def test_rank_tails_on_empty_edge_list(spark, monkeypatch):
    from stream_processing_with_flink_study_spark.plans import queries_graph

    empty = spark.createDataFrame([], "src long, dst long, w long")
    tails = {
        "pagerank": lambda: graph.top_by_score(
            graph.pagerank(empty), queries_graph._rank_rel, "rank_rel", "s_suppkey"
        ),
        "katz": lambda: graph.top_by_score(
            graph.katz_centrality(empty),
            lambda sc, _: sc.select(
                F.col("id").alias("s_suppkey"),
                F.round(F.col("score") - 1e-9, 5).alias("katz_score"),
            ),
            "katz_score",
            "s_suppkey",
        ),
    }
    for name, tail in tails.items():
        local = tail()
        dist = _spark_loop(monkeypatch, tail)
        assert local.collect() == [] and dist.collect() == [], name
        assert [(f.name, f.dataType) for f in local.schema] == [
            (f.name, f.dataType) for f in dist.schema
        ], name


def _persisted_rdd_ids(spark) -> set[int]:
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().keys().iterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next())
    return ids


def test_link_prediction_eval_releases_what_it_persists(spark):
    from stream_processing_with_flink_study_spark import plans

    from .conftest import SF_SMALL

    # compared as ids, not counts: the context cleaner may drop RDDs
    # that earlier tests left behind while this one runs
    before = _persisted_rdd_ids(spark)
    rows = plans.QUERIES["link_prediction_eval"](spark, SF_SMALL).collect()
    assert len(rows) == 1
    assert _persisted_rdd_ids(spark) - before == set()
