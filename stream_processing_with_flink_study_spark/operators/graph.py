"""Iterative graph operators — connected components for near-dup
clustering.

Near-dup *pairs* (MinHash/LSH output) are not yet a dedup decision:
A~B and B~C must collapse to ONE surviving document even when A~C was
never emitted.  That transitive closure is connected components, the
canonical iterative algorithm a training-data pipeline needs on top of
the pair stage.

The implementation is min-label propagation (the dataflow form of
union-find): every vertex starts labeled with its own id; each round
every vertex takes the min of its label and its neighbors' labels;
converged when no label changes.  Rounds = graph diameter (near-dup
clusters are shallow — typically 2-4 rounds).  Each round is one
shuffle join + one aggregation; lineage is truncated per round with
``localCheckpoint`` so the plan does not grow with the iteration count
(on a real cluster with a checkpoint dir, ``checkpoint`` — same call
shape).  Labels only ever decrease, so convergence is monotone and the
changed-check is a cheap anti-semi probe (`limit(1).count()`).

Connected components, PageRank, Katz and label propagation share one
local size gate: below it the edge list is collected once and solved
on the driver (union-find, or the fixed rounds as numpy scatter-adds —
same outputs, no per-round Spark jobs).  Every gate is a module
constant read at call time, and every collect-to-driver decision goes
through :func:`_collect_under_gate`: count first, then collect, and
only once per process for a frame that reads nothing but the immutable
edge snapshots of :mod:`..sources.snapshots`.

The driver kernels hand their output back as a local relation
(:func:`_local_frame`: an Arrow ``createDataFrame`` of a non-empty
pandas frame).  Spark folds a projection over a local relation into a
new one at optimization time, so the query tails finish on the driver
with Spark's own expression semantics and launch no job:
:func:`top_by_score` cuts the top-k of a local result in Python, and
the BFS-family tails in ``plans/queries_graphdist.py`` count and sort
their levels in numpy.  Above the gates every tail stays a Spark plan.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import conf_override
from ..sources import snapshots


# Size gates.  Each is read at call time, so a test that sets one to 0
# forces every operator behind it onto its distributed path.
#
# Local (collect-to-driver) gate for connected components, PageRank,
# Katz and label propagation: symmetrized edge lists at or under this
# row count (≈500k undirected edges, ~16 MB as two int64 pandas
# columns) are collected and solved on the driver — union-find for CC
# (min-label propagation needs diameter/2 rounds of ~8 scheduled jobs
# each, pure scheduling wall at small sizes, while a driver union-find
# is O(E α(E))), numpy scatter-add rounds for the others.  Graphs over
# the gate (the 100 TB regime) keep the distributed loops unchanged.
LOCAL_CC_SYM_LIMIT = 1_000_000
# Above this many nodes the per-round rank/distance frontier no longer
# fits a broadcast (2M rows × 16 B ≈ 32 MB serialized, at the edge of
# spark.sql.autoBroadcastJoinThreshold territory once task-deserialized
# per core); the iteration flips to a co-partitioned shuffle join
# against the src-partitioned persisted edge cache.
BROADCAST_NODE_LIMIT = 2_000_000
# SSSP gates on edge count (|V| ≤ 2|E|, and the edge count is already
# materialized to pin the cache — no extra distinct-count job).
BROADCAST_EDGE_LIMIT = 4_000_000
# Above this many edges the full edge list no longer broadcasts; the
# triangle join flips to the degree-ordered shuffle edge-iterator.
TRIANGLE_BROADCAST_EDGE_LIMIT = 2_000_000
# Borůvka's driver Kruskal tail takes over once the contracted component
# graph holds at most this many cross-edges (~25 MB collected).
BORUVKA_TAIL_EDGE_LIMIT = 500_000

# Conf for materializing a lazily chained damped iteration (pagerank,
# katz): AQE off, and since each round's broadcast is built from the
# whole multi-round prefix, the 300 s broadcast-future timeout is lifted
# to an hour — large, but never infinite.
CHAINED_ITER_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.broadcastTimeout": "3600",
}


# Process-lifetime memo of :func:`_collect_under_gate` verdicts on
# snapshot-only frames: key -> (the frame, its pandas rows or None).
_COLLECTED: dict[tuple, tuple[DataFrame, object]] = {}


def _collect_under_gate(frame: DataFrame, gate: int | None, sym_per_row: int = 1):
    """``frame`` as pandas if its ``sym_per_row`` × rows symmetric edge
    rows fit ``gate`` and it holds no nulls, else None.  Callers pass a
    module gate constant read at call time; a gate of 0 forces the Spark
    path without a job, and ``None`` collects without a count (for a
    frame bounded by one already gated).  A count decides first, so a
    graph above the gate is never pulled to the driver.  Null ids or
    weights go to the distributed path, whose null semantics (null
    group keys, skipped join keys) the driver kernels do not replay —
    Arrow would hand them over as NaN, and ``nan != nan`` never
    terminates a union-find.

    The verdict is memoized for the life of the process when ``frame``
    reads only edge snapshots (every ``inputFiles()`` entry lies under
    the :mod:`..sources.snapshots` scratch dir) and its analyzed plan
    is deterministic: snapshot files are written once, under a path
    that embeds the source fingerprint, and never change, so the same
    plan over them always yields the same rows.  The key is (semantic
    hash, sorted input files, gate rows), and a hit is confirmed with
    ``sameSemantics`` against the stored frame, so a hash collision
    never returns another plan's rows.  Every other frame is counted
    and collected on each call.  The returned pandas frame may be
    shared between callers: read it, never mutate it."""
    max_rows = None if gate is None else gate // sym_per_row
    if max_rows is not None and max_rows <= 0:
        return None
    key, files = None, frame.inputFiles()
    if snapshots.reads_only_snapshots(files) and (
        frame._jdf.queryExecution().analyzed().deterministic()
    ):
        key = (frame.semanticHash(), tuple(sorted(files)), max_rows)
        hit = _COLLECTED.get(key)
        if hit is not None and hit[0].sameSemantics(frame):
            return hit[1]
    if max_rows is not None and frame.count() > max_rows:
        pdf = None
    else:
        pdf = frame.toPandas()
        if max_rows is not None and pdf.isna().to_numpy().any():
            pdf = None
    if key is not None:
        _COLLECTED[key] = (frame, pdf)
    return pdf


def _find(parent: dict, x):
    """Root of ``x`` in a dict union-find, halving the path on the way."""
    while parent.setdefault(x, x) != x:
        parent[x] = parent[parent[x]]
        x = parent[x]
    return x


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    vertices: DataFrame | None = None,
    vertex_col: str = "id",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over an undirected edge list.

    Returns (id, comp) where ``comp`` is the min vertex id reachable
    from ``id``.  ``vertices`` (one column ``vertex_col``) optionally
    adds isolated vertices, which come back as singleton components.

    Scale shape: each round shuffles |E| label messages keyed by vertex
    — never materializes pairwise reachability.  For power-law dedup
    graphs the large-star/small-star variant halves rounds, but plain
    min-propagation is optimal for the shallow clusters dedup produces.

    Each materialized round propagates TWO hops (two join+min steps
    fused into one lineage before the ``localCheckpoint``): label reach
    doubles per round, so a diameter-d graph converges in ⌈d/2⌉+1
    rounds — at the dedup corpus's shallow diameters that halves the
    sequential job launches (checkpoint + convergence probe), which at
    small scale ARE the wall clock, without changing per-round shuffle
    volume at 100 TB (2×|E| messages per round either way).

    Note on ``max_iter``: the sequential union-find tail (symmetric
    edge lists at or under :data:`LOCAL_CC_SYM_LIMIT`, read at call
    time) always converges FULLY — it ignores ``max_iter`` because full
    closure is the operator's contract and every registered caller
    wants it.  ``max_iter`` bounds the rounds of the distributed loop,
    which runs above the gate, on edge lists holding nulls, and when
    the gate is set to 0."""
    sym = edges.select(
        F.col(src).cast("long").alias("id"), F.col(dst).cast("long").alias("nbr")
    ).unionByName(
        edges.select(
            F.col(dst).cast("long").alias("id"), F.col(src).cast("long").alias("nbr")
        )
    )
    sym = sym.localCheckpoint()  # pin the edge list; reused every round
    pdf = _collect_under_gate(sym, LOCAL_CC_SYM_LIMIT)
    if pdf is not None:
        labels = _union_find_labels(edges.sparkSession, pdf)
    else:
        labels = _propagated_labels(sym, max_iter)
    if vertices is not None:
        isolated = (
            vertices.select(F.col(vertex_col).cast("long").alias("id"))
            .distinct()
            .join(labels.select("id"), "id", "left_anti")
            .select("id", F.col("id").alias("comp"))
        )
        labels = labels.unionByName(isolated)
    return labels


def _union_find_labels(spark, pdf) -> DataFrame:
    """(id, comp) from the collected (id, nbr) rows — the exact output
    of the propagation: union-by-min-root keeps every root the minimum
    of its tree, so find(x) IS the min label the rounds converge to."""
    parent: dict[int, int] = {}
    for a, b in zip(pdf["id"].tolist(), pdf["nbr"].tolist()):
        ra, rb = _find(parent, a), _find(parent, b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    ids = sorted(parent)
    return _local_frame(
        spark, {"id": ids, "comp": [_find(parent, x) for x in ids]}, "id long, comp long"
    )


def _propagated_labels(sym: DataFrame, max_iter: int) -> DataFrame:
    """Distributed min-label propagation over the checkpointed (id, nbr)
    edge list, two hops per materialized round."""
    # only EDGE-ENDPOINT vertices ride the iteration: an isolated
    # vertex is a singleton component by definition, so it joins the
    # result afterwards as (id, id) instead of being shuffled through
    # every round — on dedup/stitch graphs the overwhelming majority of
    # vertices are isolated, so this shrinks every per-round shuffle
    # from |V| + 2|E| to touched-vertices + 2|E| (round-12 rework)
    labels = (
        sym.select("id")
        .distinct()
        .select("id", F.col("id").alias("comp"))
        .localCheckpoint()
    )

    def step(lbl: DataFrame) -> DataFrame:
        msgs = sym.join(
            lbl.withColumnRenamed("id", "nbr"), "nbr"
        ).select("id", "comp")
        return (
            lbl.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
        )

    def lowered(new: DataFrame, old: DataFrame) -> bool:
        return (
            new.alias("n")
            .join(old.alias("o"), "id")
            .filter(F.col("n.comp") < F.col("o.comp"))
            .limit(1)
            .count()
            > 0
        )

    for rnd in range(max_iter):
        new_labels = step(step(labels)).localCheckpoint()
        # round 0 always changes labels on any non-empty edge list, so
        # the convergence probe (an extra job) starts at round 1
        if rnd > 0 and not lowered(new_labels, labels):
            return new_labels
        labels = new_labels
    # out of rounds: warn only if one more hop would still lower a
    # label (a round that changed labels may have been the last one)
    if lowered(step(labels), labels):
        warnings.warn(
            f"connected_components: labels still changing after "
            f"max_iter={max_iter} rounds; returning unconverged labels",
            stacklevel=3,
        )
    return labels


def _factorize(*cols):
    """Shared dense codes for several id columns (pandas Series or numpy
    arrays): (codes per column, sorted ids).  Sorted, so code order is
    id order (LPA's smaller-label tie-break, the BFS tails' id order),
    and any hashable id type works (textrank's words)."""
    import numpy as np
    import pandas as pd

    codes, ids = pd.factorize(
        np.concatenate([np.asarray(c) for c in cols]), sort=True
    )
    bounds = np.cumsum([len(c) for c in cols])[:-1]
    return np.split(codes, bounds), ids


def _linear_rounds(s, d, coef, x, n, iters, base, scale):
    """``iters`` synchronous rounds of ``x[v] ← base + scale · Σ_{u→v}
    x[u]·coef`` as bincount scatter-adds, on the rows the Spark path
    would carry: the rounds start from the source nodes, only edges out
    of a node that holds a value contribute (the join on ``src``), and
    only nodes that received a message hold one afterwards (the
    ``groupBy(dst)``).  Returns (alive mask, x)."""
    import numpy as np

    alive = np.zeros(n, dtype=bool)
    alive[s] = True
    for _ in range(iters):
        m = alive[s]
        acc = np.bincount(d[m], x[s[m]] * coef[m], minlength=n)
        alive = np.zeros(n, dtype=bool)
        alive[d[m]] = True
        x = np.where(alive, base + scale * acc, 0.0)
    return alive, x


def _node_values(spark, ids, alive, x, id_type, col: str) -> DataFrame:
    """(id, ``col``) rows for the alive nodes, typed like the Spark path."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = StructType(
        [StructField("id", id_type), StructField(col, DoubleType())]
    )
    return _local_frame(spark, {"id": ids[alive], col: x[alive]}, schema)


def _local_frame(spark, columns: dict, schema) -> DataFrame:
    """A frame of ``columns`` (name -> array or list, in ``schema`` order).
    With Arrow on and at least one row it is a local relation: its
    collect, and that of any projection over it, launches no job.  An
    empty frame takes the row path with the explicit schema, so Arrow
    never infers types from empty columns."""
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(columns), schema)


def top_by_score(
    nodes: DataFrame, project, score: str, key: str, n: int = 20
) -> DataFrame:
    """The first ``n`` rows of ``project(nodes, count)`` ordered by
    (``score`` desc, ``key`` asc), as Spark's
    ``orderBy(desc(score), asc(key)).limit(n)``; ``count`` is a
    zero-argument callable giving the row count of ``nodes``.

    When ``nodes`` is a local relation (a driver kernel's output), no
    step launches a Spark job: the count is the length of its collect,
    the projection's collect is folded into a local relation at
    optimization (so ``round`` and the other expressions keep Spark's
    semantics), and the rows are sorted in Python and handed back as a
    new local relation, which the caller's collect reads without a job.
    Python's sort agrees with Spark's on every non-null, non-NaN value:
    ``-0.0`` and ``0.0`` tie in both and fall through to ``key``.  A
    null or NaN in either sort column, or a frame that is not local
    (above the gates, or a non-Arrow session), takes Spark's sort."""
    if nodes.isLocal():
        out = project(nodes, lambda: len(nodes.collect()))
        rows = out.collect()
        if all(_sortable(r[score]) and _sortable(r[key]) for r in rows):
            rows.sort(key=lambda r: (-r[score], r[key]))
            return _local_rows(nodes.sparkSession, rows[:n], out.schema)
    else:
        out = project(nodes, nodes.count)
    return out.orderBy(F.desc(score), F.asc(key)).limit(n)


def _sortable(v) -> bool:
    return v is not None and v == v  # NaN != NaN


def _local_rows(spark, rows: list, schema) -> DataFrame:
    """Collected ``rows`` back as a frame of ``schema``; local as in
    :func:`_local_frame`."""
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame.from_records([tuple(r) for r in rows], columns=schema.names),
        schema,
    )


def _chained_rounds(fedges, x, n_nodes, iters, col, coef, base, scale):
    """The Spark form of :func:`_linear_rounds`: ``iters`` rounds of
    ``col[v] ← base + scale · Σ_{u→v} col[u]·coef`` over the persisted,
    src-partitioned (src, dst, ``coef``) edge cache, starting from the
    (id, ``col``) frame ``x``.  The vector joins as a BROADCAST while
    ``n_nodes`` fits :data:`BROADCAST_NODE_LIMIT` (read now), else as a
    SHUFFLE-HASH join that reuses the cache's ``src`` partitioning.
    The vector is referenced exactly once per round (the join), so the
    rounds chain into one lazy plan that materializes ONCE (round-12
    rework: per-round persist+count drove 2 driver round trips per
    round for the same shuffle/broadcast volume).  ``base`` is a Column
    over the round's ``dst``; ``fedges`` is unpersisted on return."""
    use_broadcast = n_nodes <= BROADCAST_NODE_LIMIT
    try:
        for _ in range(iters):
            rhs = F.broadcast(x) if use_broadcast else x.hint("shuffle_hash")
            acc = (
                fedges.join(rhs, fedges.src == x.id)
                .groupBy("dst")
                .agg(F.sum(F.col(col) * F.col(coef)).alias("acc"))
            )
            x = acc.select(
                F.col("dst").alias("id"),
                (base + F.lit(scale) * F.col("acc")).alias(col),
            )
        # one materialization pins the result so multi-action callers
        # never re-run the chain (and lineage is truncated)
        with conf_override(fedges.sparkSession, CHAINED_ITER_CONF):
            return x.localCheckpoint()
    finally:
        fedges.unpersist()


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iters: int = 6,
    damping: float = 0.85,
    edge_partitions: int = 8,
    seeds: list[int] | None = None,
) -> DataFrame:
    """Weighted PageRank over a DIRECTED edge list; returns (id, rank)
    with Σ rank = 1 after any number of iterations.

    ``seeds`` switches to PERSONALIZED PageRank: the teleport mass
    (1 − damping) is restarted uniformly over the seed set instead of
    all nodes, and the walk starts from the seeds — rank becomes
    proximity TO THE SEEDS, the recommendation/expansion primitive.
    Same iteration, same three execution regimes; only the teleport
    vector changes (a tiny isin predicate, never a join).

    Requires every node to appear as a source (symmetrize an undirected
    graph before calling) — then every node also receives contributions
    and there is no dangling-mass correction term.

    Scale shape: three regimes, selected by size.

    * ``|E| <= LOCAL_CC_SYM_LIMIT`` (read at call time) — LOCAL: one
      count decides, one job collects the edge list, and the rounds run
      on the driver as numpy ``bincount`` scatter-adds (``frac = w /
      wout[src]``, ``acc = bincount(dst, rank[src]·frac)``).  Same rows
      and types as the Spark path; the sums differ from it only in
      summation order (~1e-16 relative).
    * ``n_nodes <= BROADCAST_NODE_LIMIT`` (read at call time) —
      BROADCAST: the outdegree-normalized edge list is persisted once,
      HASH-PARTITIONED ON ``src`` (normalization is a window over the
      src partitioning — one exchange, no aggregate + join-back); each
      round joins the BROADCAST rank vector map-side against that cache
      and runs a partial-agg'd keyed sum.
    * ``n_nodes > BROADCAST_NODE_LIMIT`` (billion-node graphs) — SHUFFLE:
      the rank vector is SHUFFLE-HASH-joined: the edge cache's persisted
      ``src`` partitioning is reused as-is, so the only per-round data
      movement is one exchange of the |V|-row rank vector plus the
      keyed-sum shuffle.  No broadcast of anything O(|V|).

    The two Spark paths share the same edge cache and aggregation
    expression (:func:`_chained_rounds`, shared with Katz), so
    per-partition partial sums combine in the same order — results are
    bit-identical (asserted in tests/test_graph.py).  The rounds chain
    into ONE lazy plan that materializes once via a final
    ``localCheckpoint``.  AQE is temporarily disabled (small cached
    jobs; per-stage re-planning costs more latency than it saves) and
    ``spark.sql.broadcastTimeout`` is lifted for the chained execution:
    on the broadcast path each round's broadcast build runs its whole
    multi-round prefix inside one broadcast-exchange future, which the
    default 300 s timeout was never sized for.  The edge cache is
    dropped before returning, so repeated calls never accumulate cached
    blocks."""
    from pyspark.sql.window import Window

    spark = edges.sparkSession
    frame = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), F.col(weight).alias("w")
    )
    pdf = _collect_under_gate(frame, LOCAL_CC_SYM_LIMIT)
    if pdf is not None:
        import numpy as np

        (s, d), ids = _factorize(pdf["src"], pdf["dst"])
        n = len(ids)
        w = pdf["w"].to_numpy(dtype=np.float64)
        frac = w / np.bincount(s, w, minlength=n)[s]
        n_nodes = len(np.unique(s))
        if n_nodes == 0:  # empty graph: 0 rows, seeds unused (Spark path)
            x0, tele = np.zeros(0), 0.0
        elif seeds is None:
            x0 = np.full(n, 1.0 / n_nodes)
            tele = (1.0 - damping) / n_nodes
        else:
            in_seeds = np.isin(ids, seeds)
            x0 = np.where(in_seeds, 1.0 / len(seeds), 0.0)
            tele = np.where(in_seeds, (1.0 - damping) / len(seeds), 0.0)
        alive, x = _linear_rounds(s, d, frac, x0, n, iters, tele, damping)
        return _node_values(
            spark, ids, alive, x, frame.schema[1 if iters else 0].dataType, "rank"
        )
    # repartition(edge_partitions, src), not coalesce: the shuffle-path
    # join reuses this hash partitioning every round, and 6 rounds of
    # 32-task jobs over a coalesced-partitioning-free cache measured
    # ~30% slower than 8 aligned tasks (the window's own hash(src, 32)
    # partitioning survives the cache but over-parallelizes tiny
    # per-round jobs; the one extra build-time exchange amortizes)
    fedges = (
        edges.withColumn(
            "frac",
            F.col(weight) / F.sum(weight).over(Window.partitionBy(src)),
        )
        .select(F.col(src).alias("src"), F.col(dst).alias("dst"), "frac")
        .repartition(edge_partitions, "src")
        .persist()
    )
    nodes = fedges.select(F.col("src").alias("id")).distinct()
    n_nodes = nodes.count()
    if n_nodes == 0:
        # empty graph: zero nodes rank (mirrors the oracle's 0 rows);
        # guard the 1/n_nodes init below (round-12 degenerate sweep)
        fedges.unpersist()
        return nodes.select("id", F.lit(0.0).alias("rank"))
    if seeds is None:
        ranks = nodes.select("id", F.lit(1.0 / n_nodes).alias("rank"))
        tele = F.lit((1.0 - damping) / n_nodes)
    else:
        ranks = nodes.select(
            "id",
            F.when(F.col("id").isin(seeds), F.lit(1.0 / len(seeds)))
            .otherwise(F.lit(0.0))
            .alias("rank"),
        )
        tele = F.when(
            F.col("dst").isin(seeds), F.lit((1.0 - damping) / len(seeds))
        ).otherwise(F.lit(0.0))
    return _chained_rounds(
        fedges, ranks, n_nodes, iters, "rank", "frac", tele, damping
    )


def triangle_stats(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Triangle count + global clustering coefficient over a CANONICAL
    (src < dst) undirected edge list.  One row out: (n_nodes, n_edges,
    n_triangles, clustering_coeff = 3·triangles / wedges).

    Two regimes, selected by edge count against
    :data:`TRIANGLE_BROADCAST_EDGE_LIMIT` (read at call time):

    * at or under it — canonical edges enumerate each triangle exactly
      once via two equi-joins (the edge-iterator algorithm) with both
      probe sides broadcast, so the wedge blow-up stays map-side.
    * above it — degree-ordered orientation + shuffle edge-iterator
      (the standard scalable algorithm): every edge is pointed from its
      lower-(degree, id) endpoint to the higher one, capping per-node
      out-degree at O(√|E|); wedges are generated by a self-join
      partitioned on the pivot node and closed by a shuffle hash join
      keyed on the (b, c) endpoint pair.  No broadcast of anything
      O(|E|); peak shuffle is the wedge set, Σ out-deg² ≤ |E|^1.5 rows
      — the arboricity bound, not the naive Σ deg² one.

    Both paths count each triangle exactly once (a triangle's three
    edges orient into exactly one out-degree-2 pivot under any strict
    total order), verified against each other and against hand graphs
    in tests/test_graph.py.  The one-row result is materialized eagerly
    so the edge cache can be dropped before returning (no cached-block
    accumulation across repeated calls)."""
    spark = pairs.sparkSession
    pairs = pairs.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).persist()
    n_edges = pairs.count()
    deg = (
        pairs.select(F.col("src").alias("s"))
        .union(pairs.select(F.col("dst").alias("s")))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    if n_edges <= TRIANGLE_BROADCAST_EDGE_LIMIT:
        e1, e2, e3 = pairs.alias("e1"), pairs.alias("e2"), pairs.alias("e3")
        tri = (
            e1.join(F.broadcast(e2), F.col("e2.src") == F.col("e1.dst"))
            .join(
                F.broadcast(e3),
                (F.col("e3.src") == F.col("e1.src"))
                & (F.col("e3.dst") == F.col("e2.dst")),
            )
            .agg(F.count(F.lit(1)).alias("n_tri"))
        )
    else:
        # Degree-ordered orientation: attach each endpoint's degree,
        # point the edge at the higher (degree, id) endpoint.  Ordering
        # keys ride along as structs so the wedge join can canonicalize
        # its output pair under the SAME total order — the closing edge
        # is then guaranteed to exist in oriented form.
        ds = deg.withColumnRenamed("s", "src").withColumnRenamed("d", "ds")
        dd = deg.withColumnRenamed("s", "dst").withColumnRenamed("d", "dd")
        attached = pairs.join(ds, "src").join(dd, "dst")
        ks = F.struct(F.col("ds").alias("d"), F.col("src").alias("n"))
        kd = F.struct(F.col("dd").alias("d"), F.col("dst").alias("n"))
        fwd = ks < kd
        oriented = attached.select(
            F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("u"),
            F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("v"),
            F.when(fwd, kd).otherwise(ks).alias("kv"),
        )
        w1, w2 = oriented.alias("w1"), oriented.alias("w2")
        wedges = (
            w1.join(w2, F.col("w1.u") == F.col("w2.u"))
            .filter(F.col("w1.kv") < F.col("w2.kv"))
            .select(
                F.col("w1.v").alias("b"), F.col("w2.v").alias("c")
            )
        )
        closing = oriented.select(
            F.col("u").alias("b"), F.col("v").alias("c")
        ).hint("shuffle_hash")
        tri = wedges.join(closing, ["b", "c"]).agg(
            F.count(F.lit(1)).alias("n_tri")
        )
    stats = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("wedges"),
    )
    row = (
        stats.crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            F.lit(n_edges).cast("long").alias("n_edges"),
            F.col("n_tri").cast("long").alias("n_triangles"),
            F.round(3.0 * F.col("n_tri") / F.col("wedges"), 4).alias(
                "clustering_coeff"
            ),
        )
        .collect()[0]
    )
    pairs.unpersist()
    return spark.createDataFrame(
        [row],
        "n_nodes long, n_edges long, n_triangles long, "
        "clustering_coeff double",
    )


def sssp(
    edges: DataFrame,
    source: int,
    rounds: int = 6,
    src: str = "src",
    dst: str = "dst",
    cost: str = "cost",
    edge_partitions: int = 8,
) -> DataFrame:
    """Bounded Bellman-Ford single-source shortest paths over a
    DIRECTED weighted edge list: after K rounds the result is the exact
    shortest distance among paths of ≤ K edges (the K-hop truncation is
    the deterministic, oracle-checkable contract; graphs with small
    effective diameter — co-occurrence graphs — converge within it).

    Returns (id, dist) for every node reached within K hops.

    Scale shape: same two-regime iterate skeleton as :func:`pagerank` —
    the edge list is persisted once, hash-partitioned on ``src``; each
    round relaxes every out-edge against the current distance frontier
    and takes a keyed MIN (partial-agg'd).  At or under
    :data:`BROADCAST_EDGE_LIMIT` edges (read at call time; |V| ≤ 2|E|,
    so edge count — already materialized to pin the cache — bounds the
    frontier too) the frontier is broadcast and the
    relax is map-side; above it the frontier is shuffle-hash-joined
    against the src-partitioned cache, so the only per-round movement
    is one exchange of the frontier itself — nothing O(|V|) ever lands
    on the driver or in a broadcast.  Distances are pure min-plus
    values, so every per-node result is an exact min over
    identically-computed path sums — bit-stable across engines,
    partitionings, and join strategies (both paths asserted identical
    in tests/test_graph.py).  Per-round caches are dropped as soon as
    superseded; the edge cache before returning."""
    spark = edges.sparkSession
    e = (
        edges.select(src, dst, cost)
        .repartition(edge_partitions, src)
        .persist()
    )
    n_edges = e.count()
    use_broadcast = n_edges <= BROADCAST_EDGE_LIMIT
    dist = spark.createDataFrame([(source, 0.0)], "id long, dist double")
    try:
        with conf_override(spark, {"spark.sql.adaptive.enabled": "false"}):
            for _ in range(rounds):
                rhs = F.broadcast(dist) if use_broadcast else dist.hint(
                    "shuffle_hash"
                )
                relaxed = (
                    e.join(rhs, e[src] == dist.id)
                    .select(
                        F.col(dst).alias("id"),
                        (F.col("dist") + F.col(cost)).alias("dist"),
                    )
                )
                # the frontier is referenced TWICE per round (join + union)
                # so each round must materialize — but ONE localCheckpoint
                # is one driver barrier where persist()+count() would be
                # two (per-round shuffle volume is the same either way)
                dist = (
                    dist.unionByName(relaxed)
                    .groupBy("id")
                    .agg(F.min("dist").alias("dist"))
                    .localCheckpoint()
                )
    finally:
        e.unpersist()
    return dist


def kcore(
    edges: DataFrame,
    k: int,
    rounds: int = 8,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Bounded k-core peeling over a CANONICAL (src < dst) undirected
    edge list: repeatedly drop vertices with degree < k (and their
    edges).  After R rounds the survivors are the fixpoint for any
    graph whose peeling cascade is ≤ R deep — the bounded-round
    contract (same style as :func:`sssp`) that an unrolled SQL oracle
    can replay; R=8 covers co-occurrence graphs whose cascades are
    shallow.  Returns (id, degree) for surviving vertices with their
    in-core degree.

    Scale shape: each round is one degree count over 2|E'| rows plus a
    semi-join filtering the edge list by surviving endpoints (the
    survivor set is dimension-bounded → broadcast); edges only ever
    shrink, and ``localCheckpoint`` truncates lineage per round like
    :func:`connected_components`."""
    e = edges.select(src, dst).localCheckpoint()
    for _ in range(rounds):
        deg = (
            e.select(F.col(src).alias("id"))
            .union(e.select(F.col(dst).alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("id")
        e = (
            e.join(
                F.broadcast(keep.withColumnRenamed("id", src)), src
            )
            .join(F.broadcast(keep.withColumnRenamed("id", dst)), dst)
            .select(src, dst)
            .localCheckpoint()
        )
    return (
        e.select(F.col(src).alias("id"))
        .union(e.select(F.col(dst).alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Community detection by synchronous label propagation over an
    undirected edge list (symmetrized internally): every node starts in
    its own community; each round every node adopts its neighbors'
    MODE label, ties broken by the smaller label — the deterministic
    variant (classic LPA breaks ties randomly, which no oracle could
    replay).  Fixed ``rounds`` is the bounded-iteration contract that
    an unrolled SQL oracle can replay, same style as :func:`sssp`.

    Returns (id, community) for every node with at least one edge.

    Scale shape: three regimes, as :func:`pagerank`.  LOCAL (2|E|
    symmetric rows <= :data:`LOCAL_CC_SYM_LIMIT`, read at call time):
    one count decides and one job collects the edge list; each round is
    one ``np.unique`` over (node, neighbour label) pairs with counts and
    a ``lexsort`` on (node, −count, label) whose first row per node is
    the mode label with the smaller-label tie-break — exact integer
    work, so the labels equal the Spark path's.  Above the gate, one
    shuffle of 2|E| label messages per round (join on the neighbor's
    current label + a two-level count/argmax aggregate, both map-side
    combinable), rounds chained lazily over a localCheckpointed edge
    list.  There is no separate BROADCAST regime: label joins are keyed
    on the full node set, so the SHUFFLE form serves every size above
    the gate — nothing O(|V|) is ever broadcast."""
    pdf = _collect_under_gate(
        edges.select(
            F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
        ),
        LOCAL_CC_SYM_LIMIT,
        sym_per_row=2,
    )
    if pdf is not None:
        import numpy as np

        (a, b), ids = _factorize(pdf["a"], pdf["b"])
        n = len(ids)
        node, nbr = np.concatenate([a, b]), np.concatenate([b, a])
        lab = np.arange(n)  # codes are sorted: code order is label order
        for _ in range(rounds):
            keys, cnt = np.unique(node * n + lab[nbr], return_counts=True)
            v, lv = np.divmod(keys, n)
            order = np.lexsort((lv, -cnt, v))
            v, lv = v[order], lv[order]
            first = np.diff(v, prepend=-1) != 0
            lab = np.empty_like(lab)
            lab[v[first]] = lv[first]
        return _local_frame(
            edges.sparkSession,
            {"id": ids, "community": ids[lab]},
            "id long, community long",
        )
    sym = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    ).unionByName(
        edges.select(
            F.col(dst).cast("long").alias("a"),
            F.col(src).cast("long").alias("b"),
        )
    ).localCheckpoint()
    labels = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("community"))
    )
    # the label frame is referenced exactly ONCE per round (the join),
    # so the rounds chain lazily over the checkpointed edge list and
    # materialize ONCE — same per-round shuffles, one driver barrier
    # instead of `rounds` (the pagerank round-12 rework)
    for _ in range(rounds):
        msgs = sym.join(
            labels.withColumnRenamed("id", "b"), "b"
        ).select(F.col("a").alias("id"), "community")
        counted = msgs.groupBy("id", "community").agg(
            F.count(F.lit(1)).alias("n")
        )
        best = counted.groupBy("id").agg(
            F.max_by(
                "community",
                F.struct(
                    F.col("n"), (-F.col("community")).alias("neg")
                ),
            ).alias("community")
        )
        labels = best
    return labels.localCheckpoint()


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components by ALTERNATING large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the variant whose round count is O(log²) in component size rather
    than O(diameter), i.e. the scale path for DEEP graphs where
    :func:`connected_components`' min-propagation would need
    diameter-many rounds (long chains, social graphs).  Both return
    identical (id, comp) labelings — asserted against each other on
    hand and random graphs in tests/test_graph.py.

    Per phase: one keyed min-aggregate over the current edge multiset
    plus a join — exactly the shuffle cost of a propagation round, but
    the edge set CONTRACTS toward stars instead of staying fixed, so
    late rounds are nearly free.  Edges are deduplicated and
    localCheckpointed per round; convergence = the small-star output is
    already a star forest (every edge points directly at a root), which
    the large-star phase detects as a fixpoint."""
    e = (
        edges.select(
            F.col(src).cast("long").alias("u"),
            F.col(dst).cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def phase(cur: DataFrame, large: bool) -> DataFrame:
        sym = cur.unionByName(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        joined = sym.join(mins, "u")
        if large:
            out = joined.filter(F.col("v") > F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            )
        else:
            out = joined.filter(F.col("v") <= F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            ).unionByName(
                mins.select(F.col("u"), F.col("m").alias("v"))
            )
        return (
            out.filter(F.col("u") != F.col("v")).distinct().localCheckpoint()
        )

    prev = e
    for _ in range(max_iter):
        ls = phase(prev, large=True)
        ss = phase(ls, large=False)
        ls.unpersist()
        # fixpoint: edge multiset unchanged by the full round
        changed = (
            ss.unionByName(prev).distinct().count() != prev.count()
            or ss.count() != prev.count()
        )
        if prev is not e:
            prev.unpersist()
        prev = ss
        if not changed:
            break
    # star forest -> labels: leaves point at their root; roots label
    # themselves (isolated-in-output nodes are their own component)
    nodes = e.select("u").unionByName(e.select(F.col("v").alias("u"))).distinct()
    labels = nodes.join(prev, "u", "left").select(
        F.col("u").alias("id"),
        F.coalesce(F.col("v"), F.col("u")).alias("comp"),
    )
    out = labels.localCheckpoint()
    if prev is not e:
        prev.unpersist()
    e.unpersist()
    return out


def boruvka_mst(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    max_rounds: int = 16,
) -> DataFrame:
    """Minimum spanning forest via PARALLEL BORŮVKA — the MST
    algorithm that survives distribution (Kruskal's sorted-edge scan
    and Prim's frontier are inherently sequential; Borůvka's rounds
    are pure per-component min-aggregations).

    Each round: (1) label every edge with its endpoints' current
    components, (2) every component picks its minimum outgoing edge —
    a keyed ``min_by`` with a deterministic (w, lo, hi) tie-break, so
    equal-weight graphs still yield one reproducible forest, (3) the
    picked edges contract via :func:`connected_components` ON THE
    COMPONENT GRAPH (component-count-sized, shrinking geometrically —
    the recursive CC runs on an ever-smaller frame, not on |V|).
    Components at least halve per round, so ⌈log₂V⌉ rounds suffice;
    every shuffle is |E| keyed messages or smaller.

    HYBRID TAIL (standard practice — each round costs a fixed number
    of jobs, so the log-depth tail of tiny rounds is pure scheduling
    overhead): once the CONTRACTED component graph holds ≤
    :data:`BORUVKA_TAIL_EDGE_LIMIT` (read at call time) cross-edges, it
    is collected and finished with a sequential Kruskal union-find
    keyed on component ids — bounded by the gate, never by |V| or |E|,
    and decided by a count so a graph that is still big keeps iterating
    distributed.  The gate is 500k one-cross-edge-per-component-pair rows
    (~25 MB collected — comfortably inside the 1 GB
    ``spark.driver.maxResultSize`` and a sub-second driver sort);
    raised from 100k in round 12 because the log-depth distributed
    tail it replaces costs ~5 jobs per round, which at bench scale IS
    the MST wall, while the output is invariant to which regime picks
    the edges.

    Returns the chosen edges ``(src, dst, w)``; Σw and the edge
    multiset are MST-invariants (identical for every valid MST even
    under weight ties), which is what the tests pin."""
    e = (
        edges.select(
            F.col(src).cast("long").alias("a"),
            F.col(dst).cast("long").alias("b"),
            F.col(weight).alias("ew"),
        )
        .filter(F.col("a") != F.col("b"))
        .localCheckpoint()
    )
    comp = (
        e.select(F.col("a").alias("id"))
        .unionByName(e.select(F.col("b").alias("id")))
        .distinct()
        .select("id", F.col("id").alias("comp"))
        .localCheckpoint()
    )
    chosen: DataFrame | None = None
    spark = edges.sparkSession
    for _ in range(max_rounds):
        lab = (
            e.join(
                comp.select(
                    F.col("id").alias("a"), F.col("comp").alias("ca")
                ),
                "a",
            )
            .join(
                comp.select(
                    F.col("id").alias("b"), F.col("comp").alias("cb")
                ),
                "b",
            )
            .filter(F.col("ca") != F.col("cb"))
            .localCheckpoint()
        )
        # one cross-edge per (component-pair) suffices for the MST: the
        # cheapest — shrinks the frame the tail-check counts
        lab = (
            lab.groupBy("ca", "cb")
            .agg(
                F.min_by(
                    F.struct("ew", "a", "b"),
                    F.struct("ew", F.least("a", "b"), F.greatest("a", "b")),
                ).alias("e")
            )
            .select(F.col("e.a").alias("a"), F.col("e.b").alias("b"),
                    F.col("e.ew").alias("ew"), "ca", "cb")
            .localCheckpoint()
        )
        # bounded driver tail: Kruskal union-find on COMPONENT ids.
        # Kruskal's total order is computed by SPARK (a distributed sort
        # beats a driver sort of Row objects ~5x at the 500k gate) and
        # the rows land as Arrow-backed pandas columns — plain int
        # arrays, not Row objects, for the tight loop.  An empty frame
        # lands here too and returns the forest chosen so far.
        pdf = _collect_under_gate(
            lab.orderBy("ew", F.least("a", "b"), F.greatest("a", "b"))
            .select("a", "b", "ew", "ca", "cb"),
            BORUVKA_TAIL_EDGE_LIMIT,
        )
        if pdf is not None:
            parent: dict[int, int] = {}
            picked_rows = []
            for a_, b_, ew_, ca_, cb_ in zip(
                pdf["a"].tolist(),
                pdf["b"].tolist(),
                pdf["ew"].tolist(),
                pdf["ca"].tolist(),
                pdf["cb"].tolist(),
            ):
                ra, rb = _find(parent, ca_), _find(parent, cb_)
                if ra != rb:
                    parent[ra] = rb
                    picked_rows.append((a_, b_, ew_))
            tail_df = spark.createDataFrame(
                picked_rows, schema=lab.select("a", "b", "ew").schema
            )
            chosen = (
                tail_df if chosen is None else chosen.unionByName(tail_df)
            )
            return chosen.localCheckpoint()
        if lab.isEmpty():  # a gate of 0 decides without counting
            break
        cand = F.struct("ew", "a", "b", "ca", "cb")
        order = F.struct(
            F.col("ew"), F.least("a", "b"), F.greatest("a", "b")
        )
        halves = lab.select(
            F.col("ca").alias("c"), cand.alias("e"), order.alias("o")
        ).unionByName(
            lab.select(F.col("cb").alias("c"), cand.alias("e"), order.alias("o"))
        )
        sel = (
            halves.groupBy("c")
            .agg(F.min_by("e", "o").alias("e"))
            .select("e.a", "e.b", "e.ew", "e.ca", "e.cb")
            .dropDuplicates(["a", "b"])
            .localCheckpoint()
        )
        picked = sel.select("a", "b", "ew")
        chosen = picked if chosen is None else chosen.unionByName(picked)
        merged = connected_components(
            sel.select(
                F.col("ca").alias("id_a"), F.col("cb").alias("id_b")
            )
        )
        comp = (
            comp.join(
                merged.select(
                    F.col("id").alias("comp"), F.col("comp").alias("newc")
                ),
                "comp",
                "left",
            )
            .select("id", F.coalesce("newc", F.col("comp")).alias("comp"))
            .localCheckpoint()
        )
    if chosen is None:
        return e.select("a", "b", "ew").limit(0)
    return chosen.localCheckpoint()


def katz_centrality(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iters: int = 6,
    beta: float = 1.0,
) -> DataFrame:
    """Katz centrality over a DIRECTED weighted edge list: ``x ←
    β·1 + α·Aᵀx`` for ``iters`` synchronous rounds from x₀ = 0 —
    the truncated Katz series Σ_k α^k (Aᵀ)^k β1, i.e. influence that
    counts ALL walks with geometric attenuation, not just the
    stationary-visit mass PageRank measures (a node next to one
    well-connected hub scores high under Katz even with tiny
    stationary probability).

    α is set DATA-DEPENDENTLY to ``0.5 / max weighted in-degree`` —
    the max in-degree bounds the spectral radius of A, so the series
    provably converges; the bound is an exact integer aggregate,
    making α a bit-identical double in any engine.

    Scale shape: the same three regimes as :func:`pagerank`.  LOCAL
    (``|E| <= LOCAL_CC_SYM_LIMIT``, read at call time): one count
    decides, one job collects the edge list and the rounds run as
    driver-side ``bincount`` scatter-adds, α from the same weighted
    in-degree maximum.  BROADCAST (``n_nodes <= BROADCAST_NODE_LIMIT``)
    and SHUFFLE (above it): PageRank's :func:`_chained_rounds` over one
    persisted, src-hash-partitioned edge cache, dropped before
    returning, so repeated calls never accumulate cached blocks."""
    spark = edges.sparkSession
    frame = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        F.col(weight).cast("double").alias("ew"),
    )
    pdf = _collect_under_gate(frame, LOCAL_CC_SYM_LIMIT)
    if pdf is not None:
        import numpy as np

        (s, d), ids = _factorize(pdf["src"], pdf["dst"])
        n = len(ids)
        ew = pdf["ew"].to_numpy(dtype=np.float64)
        wdeg = np.bincount(d, ew, minlength=n)[np.unique(d)]
        # empty edge set: 0 rows, as on the Spark path
        alpha = 0.5 / float(wdeg.max()) if len(wdeg) else 0.0
        alive, x = _linear_rounds(s, d, ew, np.zeros(n), n, iters, beta, alpha)
        return _node_values(
            spark, ids, alive, x, frame.schema[1 if iters else 0].dataType, "score"
        )
    fedges = frame.repartition(8, "src").persist()
    dmax = (
        fedges.groupBy("dst").agg(F.sum("ew").alias("wdeg"))
        .agg(F.max("wdeg"))
        .first()[0]
    )
    if dmax is None:
        # empty edge set: no spectral bound to derive and no nodes to
        # score — 0 rows, schema preserved (round-12 degenerate sweep)
        fedges.unpersist()
        return fedges.select(
            F.col("src").alias("id"), F.lit(0.0).alias("score")
        )
    alpha = 0.5 / float(dmax)
    nodes = fedges.select(F.col("src").alias("id")).distinct()
    scores = nodes.select("id", F.lit(0.0).alias("score"))
    return _chained_rounds(
        fedges, scores, nodes.count(), iters, "score", "ew", F.lit(beta), alpha
    )
