"""D1-D8 distribution operators: partition-level behavior checks
(these have no value-level oracle — the contract IS the layout)."""

from __future__ import annotations

from pyspark.sql import functions as F

from stream_processing_with_flink_study_spark.operators import distribution as D
from stream_processing_with_flink_study_spark.session import conf_override
from stream_processing_with_flink_study_spark.sources import load_table

from .conftest import SF_SMALL


def n_parts(df) -> int:
    return df.rdd.getNumPartitions()


def test_shuffle_and_rescale_partition_counts(spark):
    events = load_table(spark, SF_SMALL, "events")
    assert n_parts(D.shuffle(events, 16)) == 16
    assert n_parts(D.rescale(D.shuffle(events, 16), 4)) == 4
    assert n_parts(D.to_single_task(events)) == 1


def test_partition_by_key_colocates(spark):
    """All rows of one key land in one partition (hash partitioning) —
    the keyBy contract (D6 / K1)."""
    events = load_table(spark, SF_SMALL, "events").select("user_id", "value")
    parted = D.partition_by_key(events, "user_id", n=8)
    spread = (
        parted.withColumn("pid", F.spark_partition_id())
        .groupBy("user_id")
        .agg(F.countDistinct("pid").alias("n_pids"))
        .agg(F.max("n_pids").alias("m"))
        .first()
        .m
    )
    assert spread == 1


def test_partition_by_range_orders_partitions(spark):
    """Range partitioning: partition ids are monotone in the key — the
    layout that enables partition-pruned range scans."""
    events = load_table(spark, SF_SMALL, "events").select("user_id")
    parted = D.partition_by_range(events, "user_id", n=4)
    rows = (
        parted.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.min("user_id").alias("lo"), F.max("user_id").alias("hi"))
        .orderBy("pid")
        .collect()
    )
    for a, b in zip(rows, rows[1:]):
        assert a.hi <= b.lo


def test_broadcast_hint_plans_broadcast_join(spark):
    events = load_table(spark, SF_SMALL, "events")
    dim = load_table(spark, SF_SMALL, "customer").limit(50)
    joined = events.join(
        D.broadcast_hint(dim), events.user_id == dim.c_custkey
    )
    assert "BroadcastHashJoin" in joined._jdf.queryExecution().executedPlan().toString()


def test_salted_agg_matches_plain_groupby(spark):
    events = load_table(spark, SF_SMALL, "events")
    got = D.salted_agg(
        events,
        ["event_type"],
        {
            "n": ("count", "value"),
            "total": ("sum", "value"),
            "lo": ("min", "value"),
            "hi": ("max", "value"),
        },
        salt_buckets=8,
    )
    want = events.groupBy("event_type").agg(
        F.count("value").alias("n"),
        F.sum("value").alias("total"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    )
    g = {r.event_type: (r.n, round(r.total, 6), r.lo, r.hi) for r in got.collect()}
    w = {r.event_type: (r.n, round(r.total, 6), r.lo, r.hi) for r in want.collect()}
    assert g == w


def test_salted_join_matches_plain_join(spark):
    """Skewed fact ⋈ dim through salting must equal the plain join —
    including duplicate-key multiplicity on both sides."""
    events = load_table(spark, SF_SMALL, "events").select("user_id", "value")
    dim = (
        load_table(spark, SF_SMALL, "events")
        .select("user_id", "event_type")
        .distinct()
    )
    got = D.salted_join(events, dim, "user_id", salt_buckets=8).toPandas()
    want = events.join(dim, "user_id").toPandas()
    cols = sorted(got.columns)
    got = got[cols].sort_values(cols, ignore_index=True)
    want = want[cols].sort_values(cols, ignore_index=True)
    assert got.equals(want)


def test_salted_agg_rejects_non_algebraic(spark):
    import pytest as _pytest

    events = load_table(spark, SF_SMALL, "events")
    with _pytest.raises(ValueError):
        D.salted_agg(events, ["event_type"], {"m": ("median", "value")})


def test_bucketed_join_needs_no_exchange(spark, tmp_path):
    """Two tables bucketed on the join key: the join plan contains no
    Exchange — bucketing replaces the runtime shuffle."""
    li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, SF_SMALL, "orders").select("o_orderkey", "o_totalprice")
    D.bucketed_write(li, "li_b", ["l_orderkey"], 4)
    D.bucketed_write(orders, "ord_b", ["o_orderkey"], 4)
    try:
        # disable broadcast so the join must prove co-partitioning (at
        # real scale neither side would broadcast anyway)
        with conf_override(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            a, b = spark.table("li_b"), spark.table("ord_b")
            joined = a.join(b, a.l_orderkey == b.o_orderkey)
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange hashpartitioning" not in plan
            assert "SortMergeJoin" in plan
            assert joined.count() == li.count()  # every lineitem has its order
    finally:
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS ord_b")


def test_compact_parquet_bounds_file_count(spark, tmp_path):
    """Small-file compaction: a fragmented table (32 shuffle-partition
    files) rewrites to the byte-targeted count."""
    from stream_processing_with_flink_study_spark.operators import maintenance

    src, dst = str(tmp_path / "frag"), str(tmp_path / "compact")
    load_table(spark, SF_SMALL, "events").repartition(32).write.parquet(src)
    import glob
    assert len(glob.glob(f"{src}/*.parquet")) == 32
    n = maintenance.compact_parquet(spark, src, dst, target_file_bytes=256 * 1024)
    assert n == len(glob.glob(f"{dst}/*.parquet"))
    assert n < 32, "compaction must reduce the file count"
    # content survives byte-for-byte
    assert (
        spark.read.parquet(dst).count()
        == load_table(spark, SF_SMALL, "events").count()
    )


def test_date_partitioned_layout_prunes_directories(spark, tmp_path):
    """Partition pruning: a dt-range filter over the hive layout must
    bind to PartitionFilters (directory pruning), not data filters."""
    from stream_processing_with_flink_study_spark.operators import maintenance

    d = str(tmp_path / "by_dt")
    events = load_table(spark, SF_SMALL, "events")
    maintenance.write_date_partitioned(events, d, "ts")
    pruned = maintenance.read_pruned(spark, d, "2024-01-05", "2024-01-07")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "isnotnull(dt" in plan or "(dt" in plan
    want = events.filter(
        (F.date_format("ts", "yyyy-MM-dd") >= "2024-01-05")
        & (F.date_format("ts", "yyyy-MM-dd") <= "2024-01-07")
    ).count()
    assert pruned.count() == want > 0


def test_bucketed_write_cleans_orphan_dir_for_qualified_names(spark, tmp_path):
    """A crashed prior run can leave the warehouse dir on disk with no
    catalog entry; overwrite must clear it.  Qualified names resolve to
    <db>.db/<tbl> (regression: the cleanup used to build warehouse/
    'db.tbl' and silently no-op, so the write died with
    LOCATION_ALREADY_EXISTS)."""
    import os
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    df = load_table(spark, SF_SMALL, "region").select("r_regionkey", "r_name")
    spark.sql("CREATE DATABASE IF NOT EXISTS bw_db")
    try:
        # plant an orphan dir where the qualified table will live
        orphan = os.path.join(wh, "bw_db.db", "orphaned")
        os.makedirs(orphan, exist_ok=True)
        open(os.path.join(orphan, "junk"), "w").write("x")
        D.bucketed_write(df, "bw_db.orphaned", ["r_regionkey"], 2)
        assert spark.table("bw_db.orphaned").count() == df.count()
        # and the unqualified/default-db path still works over an orphan
        orphan2 = os.path.join(wh, "orphaned2")
        os.makedirs(orphan2, exist_ok=True)
        open(os.path.join(orphan2, "junk"), "w").write("x")
        D.bucketed_write(df, "orphaned2", ["r_regionkey"], 2)
        assert spark.table("orphaned2").count() == df.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS bw_db.orphaned")
        spark.sql("DROP DATABASE IF EXISTS bw_db")
        spark.sql("DROP TABLE IF EXISTS orphaned2")


def test_zorder_key_matches_python_reference(spark):
    """The shift/mask Morton-key expression must equal a bit-by-bit
    Python interleave for edge and random values."""
    from stream_processing_with_flink_study_spark.operators.maintenance import (
        zorder_key,
    )

    def morton(a: int, b: int) -> int:
        out = 0
        for i in range(32):
            out |= ((a >> i) & 1) << (2 * i)
            out |= ((b >> i) & 1) << (2 * i + 1)
        return out

    vals = [0, 1, 2, 3, 7, 8, 255, 256, 12345, 2**31 - 1]
    rows = [(a, b) for a in vals for b in vals]
    df = spark.createDataFrame(rows, "a long, b long")
    got = {
        (r.a, r.b): r.z
        for r in df.withColumn("z", zorder_key("a", "b")).collect()
    }
    for (a, b), z in got.items():
        assert z == morton(a, b), (a, b, z, morton(a, b))


def test_zorder_layout_tightens_both_dimensions(spark, tmp_path):
    """Z-ordered files must carry tight min/max ranges on BOTH columns:
    the per-file span of each dimension shrinks vs a single unsorted
    file, so footer stats can prune on either predicate (lexicographic
    sort only tightens the leading column)."""
    from stream_processing_with_flink_study_spark.operators.maintenance import (
        zorder_layout,
    )
    import pathlib

    n = 64
    grid = spark.createDataFrame(
        [(x, y) for x in range(n) for y in range(n)], "x long, y long"
    )
    out = str(tmp_path / "zorder")
    zorder_layout(grid, "x", "y", out, n_files=16)
    import pandas as pd

    spans_x, spans_y = [], []
    for f in sorted(pathlib.Path(out).glob("*.parquet")):
        pdf = pd.read_parquet(f)
        if len(pdf):
            spans_x.append(pdf.x.max() - pdf.x.min())
            spans_y.append(pdf.y.max() - pdf.y.min())
    assert len(spans_x) >= 8
    # 16 z-ordered files over a 64x64 grid → each file covers ~1/16 of
    # the area as a compact-ish block; both dimensions' average span
    # must be well under the full extent (a lexicographic sort on x
    # would leave every file's y-span at the full 63)
    avg_x = sum(spans_x) / len(spans_x)
    avg_y = sum(spans_y) / len(spans_y)
    assert avg_x <= 40 and avg_y <= 40, (avg_x, avg_y)


def test_incremental_rollup_equals_full_recompute(spark, tmp_path):
    """Three ingestion steps of per-type count/sum partials must merge
    to EXACTLY the one-shot aggregate over all data, re-running a step
    must be idempotent, and a fourth step must update the totals
    without touching prior steps."""
    from stream_processing_with_flink_study_spark.operators.incremental import (
        IncrementalRollup,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_type", "value", (F.col("event_id") % 4).alias("part")
    )
    roll = IncrementalRollup(str(tmp_path / "roll"), ["event_type"], ["value"])
    for step in range(3):
        roll.ingest(ev.filter(F.col("part") == step), step)
    roll.ingest(ev.filter(F.col("part") == 1), 1)  # idempotent re-run

    def canon(df):
        return {
            r.event_type: (r.n, round(r.sum_value, 4), round(r.avg_value, 4))
            for r in df.collect()
        }

    got = canon(roll.read(spark))
    want = canon(
        ev.filter(F.col("part") < 3)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_value"),
            F.avg("value").alias("avg_value"),
        )
    )
    assert got == want

    roll.ingest(ev.filter(F.col("part") == 3), 3)
    got_all = canon(roll.read(spark))
    want_all = canon(
        ev.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_value"),
            F.avg("value").alias("avg_value"),
        )
    )
    assert got_all == want_all
