"""Parquet reads through ``sources.batch.read_parquet``: each file set's
schema is inferred once per process, a rewritten file set is inferred
afresh, and the inference-only conf is set only around that read."""

from __future__ import annotations

import datetime
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from stream_processing_with_flink_study_spark import streaming as S
from stream_processing_with_flink_study_spark.sources import load_table

from .conftest import SF_SMALL

INFER_KEYS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZEnabled",
)


def _next_job(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_second_load_of_unchanged_table_launches_no_job(spark, tmp_path):
    shutil.copy(f"{SF_SMALL}/events.parquet", tmp_path / "events.parquet")
    first = _next_job(spark)
    df1 = load_table(spark, str(tmp_path), "events")
    assert _next_job(spark) > first  # the one inference job
    before = _next_job(spark)
    df2 = load_table(spark, str(tmp_path), "events")
    assert _next_job(spark) == before
    assert df2.schema == df1.schema
    assert sorted(df2.collect()) == sorted(df1.collect())


def test_rewritten_table_is_inferred_afresh(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(
        pa.table(
            {"a": pa.array([1, 2], pa.int64()), "b": pa.array(["x", "y"])}
        ),
        path,
    )
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y")]


def _events_file(sf_dir, unit: str) -> list[datetime.datetime]:
    """A 2-row events table whose ``ts`` is TIMESTAMP(unit); returns
    the expected UTC timestamps."""
    base_us = 1_700_000_000_123_456
    us = [base_us, base_us + 1_500_000]
    scale = 1000 if unit == "ns" else 1
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([v * scale for v in us], pa.timestamp(unit)),
            "user_id": pa.array([10, 11], pa.int64()),
            "event_type": pa.array(["a", "b"]),
            "value": pa.array([1.0, 2.0]),
            "props": pa.array(["{}", "{}"]),
        }
    )
    sf_dir.mkdir()
    pq.write_table(table, str(sf_dir / "events.parquet"))
    epoch = datetime.datetime(1970, 1, 1)
    return [epoch + datetime.timedelta(microseconds=v) for v in us]


@pytest.fixture
def infer_keys_unset(spark):
    """The shared session with both inference keys unset (as on a
    vanilla session), restored afterwards."""
    saved = {k: spark.conf.get(k, None) for k in INFER_KEYS}
    for k in INFER_KEYS:
        spark.conf.unset(k)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)


def _as_utc_naive(ts: datetime.datetime) -> datetime.datetime:
    # collected TimestampType values come back in the driver's local tz
    return ts.astimezone(datetime.timezone.utc).replace(tzinfo=None)


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_load_table_leaves_inference_conf_unset(
    spark, tmp_path, infer_keys_unset, unit
):
    """A load on a session without the two inference keys leaves them
    unset, and the NANOS column still reads right when the plan runs
    without them."""
    sf_dir = tmp_path / f"sf_{unit}"
    want = _events_file(sf_dir, unit)
    df = load_table(spark, str(sf_dir), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = [_as_utc_naive(r.ts) for r in df.orderBy("event_id").collect()]
    assert got == want
    assert all(spark.conf.get(k, None) is None for k in INFER_KEYS)


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_events_stream_leaves_nanos_conf_unset(
    spark, tmp_path, infer_keys_unset, unit
):
    sf_dir = tmp_path / f"sf_{unit}"
    want = _events_file(sf_dir, unit)
    sdf = S.events_stream(spark, str(sf_dir))
    got = S.run_available_now(
        sdf.select("event_id", "ts"), str(tmp_path / "ck"), "append"
    )
    rows = got.orderBy("event_id").collect()
    assert [_as_utc_naive(r.ts) for r in rows] == want
    assert all(spark.conf.get(k, None) is None for k in INFER_KEYS)
