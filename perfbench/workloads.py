"""The benchmark's workloads: which registry queries run, over which
generated inputs.

Every query of a workload reads only the tables the workload generates
(checked against its oracle SQL by the tests).  A pass runs the queries
in the order listed, and must fit well inside one run (``run_seconds``
in BENCHMARK.json), so each workload keeps a representative subset of
its family.  Every member of those families that README.md names
matched its oracle on the default inputs, so none is left out for
correctness.
"""

from __future__ import annotations

from dataclasses import dataclass

from gen import EventsDims, LineitemDims


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    events: EventsDims | None = None
    lineitem: LineitemDims | None = None


EVENTS = Workload(
    name="events",
    why=(
        "events-only windows, joins and CEP as batch queries, and the "
        "flagship window and relaxed CEP again as run_available_now twins: "
        "Catalyst, shuffle, file source, state store, applyInPandasWithState "
        "workers, memory sink; graph bypassed"
    ),
    queries=(
        "flagship_window_avg",
        "sliding_window_avg",
        "session_window_agg",
        "window_join_pairs",
        "cep_relaxed_4step",
        "streaming_flagship_avg",
        "streaming_cep_relaxed",
    ),
    events=EventsDims(),
)

GRAPH_ITER = Workload(
    name="graph_iter",
    why=(
        "lineitem-only graph iterations: driver round trips, eager "
        "count/localCheckpoint, chained broadcasts and the size gates; "
        "streaming bypassed"
    ),
    queries=(
        "pagerank_cosupplier",
        "closeness_bfs_seeds",
        "betweenness_fixed_point",
        "lpa_communities",
    ),
    lineitem=LineitemDims(),
)

WORKLOADS = {w.name: w for w in (EVENTS, GRAPH_ITER)}
