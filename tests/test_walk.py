"""The registry walker (tools/walk.py): a failing check fails the walk
and the CLI, and a query leaves no persisted RDD behind it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stream_processing_with_flink_study_spark import plans
from tools import walk as walker

from .conftest import SF_SMALL


def _persisting(spark, sf_dir):
    cached = spark.range(10).withColumn("y", F.col("id") * 2).persist()
    cached.count()
    return cached.localCheckpoint().filter("y > 4")


def _raises(name, df):
    raise ValueError("check broke")


def _finds(name, df):
    return "a finding"


@pytest.fixture
def fake_query(spark, monkeypatch):
    monkeypatch.setitem(plans.QUERIES, "_walk_fake", _persisting)
    monkeypatch.setattr(walker, "get_spark", lambda app: spark)
    return "_walk_fake"


def test_walk_reports_failing_checks(spark, fake_query, monkeypatch):
    walked = {
        check: walker.walk(spark, [fake_query], SF_SMALL, [check])[fake_query]
        for check in (_raises, _finds)
    }
    assert not walked[_raises][0] and "ValueError: check broke" in walked[_raises][1]
    assert walked[_finds][:2] == (False, "a finding")
    monkeypatch.setitem(walker.CHECKS, "raises", lambda *a: _raises)
    monkeypatch.setitem(walker.CHECKS, "finds", lambda *a: _finds)
    for check in ("raises", "finds"):
        assert walker.main(["--sf", SF_SMALL, "--checks", check, fake_query]) == 1
    assert walker.main(["--sf", SF_SMALL, "--checks", "evaluate", fake_query]) == 0


def test_walk_leaves_no_persisted_rdd(spark, fake_query):
    (ok, msg, _), = walker.walk(
        spark, [fake_query], SF_SMALL, [walker.evaluate]
    ).values()
    assert ok, msg
    rdds = spark.sparkContext._jsc.sc().getPersistentRDDs()
    assert rdds.isEmpty(), rdds.keySet().toString()
