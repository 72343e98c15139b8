"""Tracer checks that need no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

from spans import Tracer, self_times


def test_self_time_excludes_children():
    t = Tracer(next_job_id=lambda: 0)
    with t.span("query"):
        with t.span("plans.build"):
            with t.span("sources.load_table"):
                pass
        with t.span("exec.collect"):
            pass
    own = self_times(t.spans)
    by_name = {s.name: s for s in t.spans}
    q = by_name["query"]
    assert [s.parent for s in t.spans] == [None, q.id, by_name["plans.build"].id, q.id]
    assert all(0 <= own[s.id] <= s.end - s.start for s in t.spans)
    total = sum(own.values())
    assert abs(total - (q.end - q.start)) < 1e-9


def test_install_wraps_every_binding_and_remove_restores():
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from stream_processing_with_flink_study_spark.operators import graph
    from stream_processing_with_flink_study_spark.plans import queries_core
    from stream_processing_with_flink_study_spark.sources import batch

    load, pagerank, start = batch.load_table, graph.pagerank, DataStreamWriter.start
    t = Tracer(next_job_id=lambda: 0)
    t.install()
    try:
        assert queries_core.load_table is not load
        assert queries_core.load_table.__wrapped__ is load
        assert graph.pagerank.__wrapped__ is pagerank
        assert DataStreamWriter.start is not start
    finally:
        t.remove()
    assert queries_core.load_table is load and batch.load_table is load
    assert graph.pagerank is pagerank and DataStreamWriter.start is start
