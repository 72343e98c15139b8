"""Storage-layout maintenance — the operational half of a 100 TB
pipeline: small-file compaction and date-partitioned layout with
partition-pruned reads.

Neither exists in the reference (its sinks stop at rolling part files,
``정리/6주차.md:122-147``); both are what keeps a petabyte parquet lake
scannable: compaction bounds file-count (NameNode/listing pressure,
task-scheduling overhead ∝ files), and partition layout turns time
predicates into directory pruning instead of footer reads.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.batch import read_parquet


def compact_parquet(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite a parquet directory into ~``target_file_bytes`` files
    (the reference's 128 MB rolling-policy default,
    ``정리/6주차.md:143-144``, applied as after-the-fact compaction).

    Sizing uses the source's on-disk bytes — metadata only, no data
    scan — then one round-robin repartition to the target count.
    Returns the file count written.  At cluster scale the same call
    shape runs per partition-directory, parallel across partitions."""
    # on-disk size via the Hadoop FS API (driver metadata call, no scan)
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(src_dir)
    fs = path.getFileSystem(conf)
    total_bytes = fs.getContentSummary(path).getLength()
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))
    (
        read_parquet(spark, src_dir)
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(dst_dir)
    )
    out = jvm.org.apache.hadoop.fs.Path(dst_dir)
    return sum(
        1
        for f in fs.listStatus(out)
        if f.getPath().getName().endswith(".parquet")
    )


def write_date_partitioned(
    df: DataFrame, dst_dir: str, ts_col: str = "ts", mode: str = "overwrite"
) -> None:
    """Lay a stream table out as ``dt=YYYY-MM-DD/`` hive partitions so
    time-range queries prune directories before any footer is opened —
    the batch twin of the streaming file sink's DateTimeBucketAssigner
    (``정리/6주차.md:139-141``)."""
    (
        df.withColumn("dt", F.date_format(F.col(ts_col), "yyyy-MM-dd"))
        .write.mode(mode)
        .partitionBy("dt")
        .parquet(dst_dir)
    )


def read_pruned(
    spark: SparkSession, src_dir: str, start_dt: str, end_dt: str
) -> DataFrame:
    """Read a date-partitioned table with a partition-pruning predicate
    (``dt`` comparisons bind to directory names, not data)."""
    return read_parquet(spark, src_dir).filter(
        (F.col("dt") >= start_dt) & (F.col("dt") <= end_dt)
    )


# --------------------------------------------------------------------------
# Z-order layout: bit-interleaved sort key for multi-dimensional skipping
# --------------------------------------------------------------------------
_SPREAD_MASKS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _spread_bits(c):
    """Spread a 32-bit value's bits to the even positions of 64 bits
    (the standard mask-shift ladder), as a JVM column expression."""
    for shift, mask in _SPREAD_MASKS:
        c = c.bitwiseOR(F.shiftleft(c, shift)).bitwiseAND(F.lit(mask))
    return c


def zorder_key(a, b):
    """Z-order (Morton) key of two non-negative 32-bit column values:
    bits of ``a`` on even positions, ``b`` on odd.  Rows close in BOTH
    dimensions get numerically close keys, so range-partitioning +
    sorting by this key clusters multi-dimensional neighborhoods into
    the same files/row groups — min/max statistics then skip for
    predicates on EITHER column, where a lexicographic (a, b) sort
    only skips on the leading one.  Pure shift/mask expression chain —
    whole-stage-codegen'd, no Python."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return _spread_bits(a.cast("long")).bitwiseOR(
        F.shiftleft(_spread_bits(b.cast("long")), 1)
    )


def zorder_layout(
    df: DataFrame,
    col_a: str,
    col_b: str,
    dst_dir: str,
    n_files: int = 8,
) -> None:
    """Write ``df`` z-ordered on (col_a, col_b): range-partition by the
    Morton key into ``n_files`` files and sort within each — the
    OPTIMIZE ZORDER BY pattern.  Both dimensions' min/max footer stats
    stay tight per file, so scans filtered on either column prune."""
    keyed = df.withColumn("_z", zorder_key(col_a, col_b))
    (
        keyed.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(dst_dir)
    )
