"""Generator checks: determinism, round trip through the engine's
readers, and the recorded edge counts beside the graph gates.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

import gen
from run import gate_constants

SMALL_EVENTS = gen.EventsDims(rows=3_000, users=200, files=3)
SMALL_EVENTS_ONE_FILE = gen.EventsDims(rows=2_000, users=30, out_of_order=0.05)
SMALL_LINEITEM = gen.LineitemDims(rows=4_000, suppliers=100, parts=500)


def test_same_seed_same_rows():
    gates = gate_constants()
    a = gen.make_events(7, SMALL_EVENTS)
    b = gen.make_events(7, SMALL_EVENTS)
    pd.testing.assert_frame_equal(a, b)
    assert not a.equals(gen.make_events(8, SMALL_EVENTS))
    la = gen.make_lineitem(7, SMALL_LINEITEM, gates["EDGE_MIN_PRICE"])
    lb = gen.make_lineitem(7, SMALL_LINEITEM, gates["EDGE_MIN_PRICE"])
    pd.testing.assert_frame_equal(la, lb)


def test_dimensions_shape_the_rows():
    ev = gen.make_events(1, gen.EventsDims(rows=20_000, users=500, zipf_s=1.2, out_of_order=0.1))
    assert len(ev) == 20_000 and ev["user_id"].nunique() <= 500
    # Zipf skew: the hottest user is far above the uniform share
    assert ev["user_id"].value_counts().iloc[0] > 10 * 20_000 / 500
    late = (ev["ts"].diff().dt.total_seconds() < 0).mean()
    assert 0.05 < late < 0.15
    li = gen.make_lineitem(1, gen.LineitemDims(rows=20_000, edge_share=0.25), 50_000)
    assert abs((li["l_extendedprice"] >= 50_000).mean() - 0.25) < 0.02
    assert (li.groupby("l_orderkey")["l_linenumber"].max() == li.groupby("l_orderkey").size()).all()


def test_defaults_match_measured_driver_tables():
    """The default dims reproduce what README.md records of the
    driver's sf0.01 / sf0.1 tables."""
    ev = gen.make_events(1, gen.EventsDims())
    assert abs(len(ev) / ev["user_id"].nunique() - 66.7) < 1
    assert (ev["ts"].diff().dt.total_seconds() >= 0).iloc[1:].all()
    mix = ev["event_type"].value_counts(normalize=True)
    assert len(mix) == 5 and (abs(mix - 0.2) < 0.01).all()
    li = gen.make_lineitem(1, gen.LineitemDims(), 50_000)
    assert abs(len(li) / li["l_orderkey"].nunique() - 4.07) < 0.02
    assert abs((li["l_extendedprice"] >= 50_000).mean() - 0.53) < 0.01
    assert li["l_suppkey"].nunique() == 100 and li["l_partkey"].nunique() == 2_000


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    sf_dir = str(tmp_path_factory.mktemp("sf"))
    gates = gate_constants()
    gen.write_inputs(sf_dir, 3, SMALL_EVENTS, SMALL_LINEITEM, gates["EDGE_MIN_PRICE"])
    return sf_dir, gen.record_edges(sf_dir, gates)


@pytest.fixture(scope="module")
def one_file_events(tmp_path_factory):
    """Events in a single file, the driver tables' layout."""
    sf_dir = str(tmp_path_factory.mktemp("sf1"))
    manifest = gen.write_in_child(sf_dir, 4, SMALL_EVENTS_ONE_FILE, None, 0.0)
    assert os.path.isfile(os.path.join(sf_dir, "events.parquet"))
    return sf_dir, manifest


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from stream_processing_with_flink_study_spark.session import get_spark

    s = get_spark("perfbench-tests", extra_conf={"spark.driver.memory": "1g"})
    yield s
    s.stop()


def _sorted(df: pd.DataFrame, key: str) -> pd.DataFrame:
    return df.sort_values(key, ignore_index=True)


def test_load_table_reads_generated_rows_unchanged(spark, inputs):
    from stream_processing_with_flink_study_spark.sources import load_table

    sf_dir, _ = inputs
    want_ev = gen.make_events(3, SMALL_EVENTS)
    got_ev = load_table(spark, sf_dir, "events").toPandas()
    got_ev["ts"] = got_ev["ts"].astype("datetime64[us]")
    pd.testing.assert_frame_equal(_sorted(got_ev, "event_id"), want_ev, check_dtype=False)

    want_li = gen.make_lineitem(3, SMALL_LINEITEM, gate_constants()["EDGE_MIN_PRICE"])
    got_li = load_table(spark, sf_dir, "lineitem").toPandas()
    got_li["l_shipdate"] = got_li["l_shipdate"].astype("datetime64[us]")
    keys = ["l_orderkey", "l_linenumber"]
    pd.testing.assert_frame_equal(
        got_li.sort_values(keys, ignore_index=True),
        want_li.sort_values(keys, ignore_index=True),
        check_dtype=False,
    )


@pytest.mark.parametrize("layout", ["inputs", "one_file_events"])
def test_events_stream_reads_generated_rows_unchanged(spark, layout, request, tmp_path):
    from stream_processing_with_flink_study_spark.sources import load_table
    from stream_processing_with_flink_study_spark.streaming import events_stream, run_available_now

    sf_dir, manifest = request.getfixturevalue(layout)
    streamed = run_available_now(events_stream(spark, sf_dir), str(tmp_path / "ckpt"))
    batch = load_table(spark, sf_dir, "events")
    assert streamed.count() == manifest["tables"]["events"]["rows"]
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_edge_counts_recorded_beside_gates(inputs):
    sf_dir, manifest = inputs
    li = manifest["tables"]["lineitem"]
    gates = gate_constants()
    assert li["gates"]["LOCAL_CC_SYM_LIMIT"] == gates["LOCAL_CC_SYM_LIMIT"]
    assert li["gates"]["BFS_LOCAL_EDGE_GATE"] == gates["BFS_LOCAL_EDGE_GATE"]
    con = duckdb.connect()
    path = os.path.join(sf_dir, "lineitem.parquet")

    def pairs(col: str, where: str) -> int:
        return con.execute(
            f"""WITH ok AS (SELECT DISTINCT l_orderkey AS o, {col} AS n
                             FROM '{path}' {where})
                SELECT count(*) FROM (SELECT DISTINCT a.n, b.n FROM ok a
                  JOIN ok b ON a.o = b.o AND a.n < b.n)"""
        ).fetchone()[0]

    cut = f"WHERE l_extendedprice >= {gates['EDGE_MIN_PRICE']}"
    assert li["edges"]["cosupplier_edges"] == pairs("l_suppkey", cut) > 0
    assert li["edges"]["copurchase_edges"] == pairs("l_partkey", "") > 0
