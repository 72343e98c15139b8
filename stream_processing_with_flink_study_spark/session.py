"""SparkSession factory.

Mirrors the reference's environment setup
(``StreamExecutionEnvironment.getExecutionEnvironment()`` at
``example/flink-project/.../BasicTransformations.java:37``) as a single
configured entry point.  Config is chosen for correctness-vs-oracle and
for scale-out behavior:

- UTC session timezone: DuckDB oracle timestamps are UTC-naive.
- AQE on: runtime coalescing, skew-join mitigation — the knobs that keep
  the same plan viable from sf0.001 local runs up to a 1000-executor
  cluster (partition counts re-derived at runtime instead of hardcoded).
- Arrow on: every pandas-UDF operator in :mod:`.operators` rides the
  vectorized Arrow path.
- shuffle.partitions defaults to the local core count, overridable via
  ``SPARK_GRAFT_CPUS`` / ``spark.sql.shuffle.partitions`` for cluster
  deployment (where AQE coalescing makes the initial number mostly a
  ceiling, not a tuning knob).
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return int(cpus)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "stream_processing_with_flink_study_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) the configured SparkSession.

    In local mode the master is ``local[N]`` with N from
    ``SPARK_GRAFT_CPUS`` (default: all cores).  On a cluster, the caller
    submits with its own master and this factory only applies SQL conf.
    """
    n = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the driver's events.parquet stores ts as TIMESTAMP(NANOS) which
        # the vectorized reader rejects; read as long and convert on load
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # TIMESTAMP(MICROS, isAdjustedToUTC=false) columns read as UTC
        # instants, not TIMESTAMP_NTZ (load_table also sets this at runtime)
        .config("spark.sql.parquet.inferTimestampNTZEnabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if not os.environ.get("SPARK_GRAFT_CLUSTER"):
        builder = builder.master(f"local[{n}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# every query and thread in the process shares one session
_CONF_LOCK = threading.RLock()


@contextmanager
def conf_override(spark: SparkSession, conf: dict[str, str]) -> Iterator[None]:
    """Set session conf for the body of a ``with`` block, then give each
    key back as it was: its previous value, or unset if it had none
    (``set(key, default)`` would leave it set for every later query).
    One thread at a time may override; nesting on that thread is fine,
    entry from another thread raises ``RuntimeError``."""
    if not _CONF_LOCK.acquire(blocking=False):
        raise RuntimeError("conf_override: another thread holds the session conf")
    try:
        prev = {k: spark.conf.get(k, None) for k in conf}
        try:
            for k, v in conf.items():
                spark.conf.set(k, v)
            yield
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
    finally:
        _CONF_LOCK.release()
