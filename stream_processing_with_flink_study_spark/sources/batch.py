"""Bounded sources (SURVEY.md §2.1 S3, S5 batch half).

- ``from_elements``: the reference's in-memory collection source
  (``env.fromElements`` at ``RollingSum.java:34-35``).
- ``load_table`` / ``load_tables``: parquet table loaders for the driver
  corpus.  Parquet is the engine's canonical bounded source — columnar,
  with predicate pushdown and column pruning handled by Catalyst
  (check ``PushedFilters`` / ``ReadSchema`` in ``df.explain``).
- ``read_parquet``: every plain parquet read of the package; it infers
  each file set's schema once per process (``file_fingerprint`` keys
  the cache).
- ``read_file``: the text/csv/json/parquet file source
  (``env.readFile`` PROCESS_ONCE mode, ``정리/6주차.md:95-120``); the
  PROCESS_CONTINUOUSLY twin lives in :mod:`..streaming.sources`.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import TABLES
from ..session import conf_override

# Conf read only while a parquet schema is inferred, so it is set just
# for that read: TIMESTAMP(NANOS) columns infer as nanos longs (the
# parquet readers then scan them as bigint whatever the session says),
# and TIMESTAMP(MICROS, isAdjustedToUTC=false) columns as
# TimestampType where the footer lets it (pyarrow files still infer
# timestamp_ntz; ``load_table`` casts those).
_INFER_CONF = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZEnabled": "false",
}
# Process-lifetime schema cache of :func:`read_parquet`:
# (absolute path, file fingerprint) -> the inferred schema.
_SCHEMAS: dict[tuple[str, str], T.StructType] = {}


def from_elements(
    spark: SparkSession, rows: Iterable, schema: T.StructType | str
) -> DataFrame:
    """Bounded DataFrame from literal elements (``env.fromElements``,
    RollingSum.java:34-35)."""
    return spark.createDataFrame(list(rows), schema=schema)


def file_fingerprint(*paths: str) -> str:
    """Cheap content fingerprint of the files at or under ``paths``:
    (path, size, mtime_ns) of each one, no data read.  Rewriting a file
    in place, or adding or removing one, changes it (short of a
    same-size rewrite within one mtime tick), so a cache keyed on it is
    not served stale."""
    parts: list[str] = []
    for root in paths:
        files = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs
        )
        for p in files:
            st = os.stat(p)
            parts.append(f"{p}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:16]


def _infer_schema(spark: SparkSession, path: str) -> T.StructType:
    """The one inferring read (a Spark job over the footers)."""
    with conf_override(spark, _INFER_CONF):
        return spark.read.parquet(path).schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema inferred once per
    process: the first read of a file set runs Spark's inference job,
    every later one passes the cached schema and launches no job.  The
    key is the absolute path plus :func:`file_fingerprint`, so a
    rewritten table is inferred afresh; a path the fingerprint cannot
    see (not on the local file system) is inferred on every read."""
    key = (os.path.abspath(path), file_fingerprint(path))
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _infer_schema(spark, path)
        if os.path.exists(path):
            _SCHEMAS[key] = schema
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver parquet table; schema comes from the parquet footer.

    Timestamp columns are normalized to Spark's session-timezone
    ``TimestampType`` (session tz forced to UTC — the DuckDB oracle
    treats the same values as UTC-naive) regardless of the physical
    encoding the driver generated:

    - TIMESTAMP(NANOS) (round-1 data): read as a nanos long via
      ``spark.sql.legacy.parquet.nanosAsLong`` and floor-converted to
      micros (integer ``div`` — ns epoch values exceed double precision).
    - TIMESTAMP(MICROS, isAdjustedToUTC=false) (round-2 data): Spark 4
      infers TIMESTAMP_NTZ (``inferTimestampNTZEnabled=false`` does not
      change that for pyarrow-written files), and a cast under the UTC
      session tz reads it as the same UTC-instant TimestampType,
      keeping ``unix_millis``/watermark/window operators working
      unchanged.

    Both inference keys are set only around the inferring read
    (:func:`read_parquet`), so this works under ANY SparkSession (the
    driver's verify session included) and leaves them as it found them.

    The schema is inferred once per table per process; each later load
    launches no job.  The fingerprint behind that cache stats every file
    of the table on each call, O(files).  At 100 TB the tables belong in
    a catalog that stores the schema and the file listing, and this
    loader would read both from it.
    """
    # the ntz -> timestamp cast below reads the session time zone when
    # the plan runs, not when it is built, so this key stays set
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif field.dataType.simpleString() == "timestamp_ntz":
            # value-preserving under the UTC session tz
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load several driver tables at once (all of TESTDATA.md by default)."""
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def read_file(
    spark: SparkSession,
    path: str,
    fmt: str = "text",
    schema: T.StructType | str | None = None,
    **options,
) -> DataFrame:
    """Bounded file read — PROCESS_ONCE (``정리/6주차.md:103``)."""
    reader = spark.read.format(fmt).options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)
