"""Streaming sources (SURVEY.md §2.1 S4, S5, S7 — the unbounded half).

Spark's file source is inherently PROCESS_CONTINUOUSLY
(``정리/6주차.md:95-120``); ``Trigger.AvailableNow`` is the
PROCESS_ONCE twin.  Kafka options mirror the reference's consumer
start-position modes (``정리/6주차.md:50-54``); offsets live in the
Spark checkpoint, matching Flink's checkpoint-not-Kafka-commit behavior
(``정리/6주차.md:47``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def file_stream(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: T.StructType | str | None = None,
    max_files_per_trigger: int | None = None,
    **options: str,
) -> DataFrame:
    """Monitor ``path`` for new files (``env.readFile`` with
    PROCESS_CONTINUOUSLY, ``정리/6주차.md:101-120``).  Streaming file
    sources require an explicit schema — no inference race at runtime.

    ``max_files_per_trigger`` is the backpressure knob (≈ Flink
    credit-based flow control for this source, ``정리/2주차.md:70-83``)
    and, under ``Trigger.AvailableNow``, the micro-batch slicer the
    equivalence/late-data tests use to replay history in stages.
    """
    reader = spark.readStream.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-aware streaming reader for the driver's ``events`` table.

    The streaming file source requires an explicit schema, but the
    driver has shipped ``ts`` under two different physical parquet
    encodings across rounds (TIMESTAMP(NANOS) → declared and read as a
    nanos long; TIMESTAMP(MICROS) → plain TimestampType).  A
    hardcoded schema silently mis-scales one of them by 1000×, so this
    helper probes the parquet footer first and declares the matching
    schema — the single entry point every streaming-over-driver-data
    query must use (batch twin: :func:`...sources.batch.load_table`,
    which does the same probe via the inferred batch schema).

    Returns a streaming DataFrame with the canonical schema
    ``(event_id long, ts timestamp, user_id long, event_type string,
    value double, props string)`` regardless of physical encoding.
    """
    import glob

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):
        probe = sorted(glob.glob(os.path.join(path, "*.parquet")))[0]
        src, opts = path, {}
    else:
        probe = path
        # the file source monitors DIRECTORIES; glob-filter the events
        # table out of the shared sf dir
        src, opts = sf_dir, {"pathGlobFilter": "events.parquet"}
    ts_type = pq.read_schema(probe).field("ts").type
    # window and watermark operators read the session time zone when the
    # plan runs, not when it is built, so this key stays set
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    cols = "event_id long, ts {}, user_id long, event_type string, value double, props string"
    if getattr(ts_type, "unit", None) == "ns" or str(ts_type) == "int64":
        # round-1 encoding: nanos epoch longs (ns exceed double precision
        # — integer div, exactly as sources/batch.py does for batch); the
        # declared bigint reads TIMESTAMP(NANOS) whatever nanosAsLong says
        sdf = file_stream(spark, src, schema=cols.format("long"), **opts)
        return sdf.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return file_stream(spark, src, schema=cols.format("timestamp"), **opts)


def kafka_source_options(
    bootstrap_servers: str,
    subscribe: str | None = None,
    assign: str | None = None,
    subscribe_pattern: str | None = None,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    fail_on_data_loss: bool | None = None,
) -> dict[str, str]:
    """Validated option map for the Kafka source (S4) — the reference's
    consumer configuration surface (``정리/6주차.md:33-54``) as a PURE
    function, so topic routing and start-position wiring are unit
    testable without a broker (the sandbox has none).

    Exactly one of ``subscribe`` (comma-separated topics) / ``assign``
    (JSON topic→partition-list) / ``subscribe_pattern`` must be given.
    ``starting_offsets`` is ``earliest`` / ``latest`` / a JSON
    topic→partition→offset map (the reference's group / earliest /
    latest / specific-offset start-mode menu, ``정리/6주차.md:50-54``);
    malformed JSON fails HERE, not minutes later on the cluster.
    """
    import json

    chosen = {
        k: v
        for k, v in (
            ("subscribe", subscribe),
            ("assign", assign),
            ("subscribePattern", subscribe_pattern),
        )
        if v is not None
    }
    if len(chosen) != 1:
        raise ValueError(
            "exactly one of subscribe/assign/subscribe_pattern required, "
            f"got {sorted(chosen) or 'none'}"
        )
    opts = {"kafka.bootstrap.servers": bootstrap_servers, **chosen}
    if starting_offsets not in ("earliest", "latest"):
        try:
            parsed = json.loads(starting_offsets)
            assert isinstance(parsed, dict) and all(
                isinstance(p, dict) for p in parsed.values()
            )
        except (ValueError, AssertionError) as exc:
            raise ValueError(
                "starting_offsets must be 'earliest', 'latest', or a JSON "
                f"topic->partition->offset map: {starting_offsets!r}"
            ) from exc
    opts["startingOffsets"] = starting_offsets
    if max_offsets_per_trigger is not None:
        if int(max_offsets_per_trigger) <= 0:
            raise ValueError("max_offsets_per_trigger must be positive")
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    if fail_on_data_loss is not None:
        opts["failOnDataLoss"] = "true" if fail_on_data_loss else "false"
    return opts


def decode_json_value(df: DataFrame, value_schema: T.StructType | str) -> DataFrame:
    """Kafka-record JSON deserialization (≈ Flink's
    ``DeserializationSchema``, ``정리/6주차.md:38-44``): project a
    (key, value[, timestamp]) record frame into typed columns.  Works on
    batch AND streaming frames — the unit tests run it over an
    in-memory batch with the Kafka wire schema, no broker needed."""
    ts = ["timestamp"] if "timestamp" in df.columns else []
    return df.select(
        F.col("key").cast("string").alias("key"),
        F.from_json(F.col("value").cast("string"), value_schema).alias("v"),
        *ts,
    ).select("key", "v.*", *ts)


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    value_schema: T.StructType | None = None,
) -> DataFrame:
    """Kafka source (S4, ``정리/6주차.md:33-54``): subscribes ``topics``,
    start position per ``starting_offsets``; option wiring built (and
    unit-tested) by :func:`kafka_source_options`, deserialization by
    :func:`decode_json_value`.  Requires the spark-sql-kafka package on
    the classpath at submit time.
    """
    reader = spark.readStream.format("kafka")
    for k, v in kafka_source_options(
        bootstrap_servers,
        subscribe=topics,
        starting_offsets=starting_offsets,
        max_offsets_per_trigger=max_offsets_per_trigger,
    ).items():
        reader = reader.option(k, v)
    df = reader.load()
    if value_schema is None:
        return df
    return decode_json_value(df, value_schema)


def memory_batches_stream(
    spark: SparkSession,
    batches: list[DataFrame],
    path: str,
    schema: T.StructType | None = None,
    files_per_trigger: int = 1,
) -> DataFrame:
    """Bounded replay source: write each batch DataFrame as one parquet
    file under ``path`` (named so lexicographic order = batch order),
    then stream them back ``files_per_trigger`` at a time.  The engine's
    ``env.fromElements`` streaming twin — used by the equivalence and
    late-data tests to control micro-batch boundaries deterministically.
    """
    for i, b in enumerate(batches):
        d = f"{path}/b{i:05d}"
        # repartition(1), NOT coalesce(1): coalesce folds every upstream
        # slice into ONE task, and on a createDataFrame local relation
        # that means dragging all default-parallelism pickled slices
        # through Python workers serially (~4 s per single-row batch);
        # the narrow shuffle keeps the upstream parallel and still
        # yields exactly one file per batch dir
        b.repartition(1).write.mode("append").parquet(d)
        # the file source replays oldest-mtime-first: pin mtimes so batch
        # order is deterministic even when writes land in the same tick
        for root, _, files in os.walk(d):
            for f_ in files:
                os.utime(os.path.join(root, f_), (1_600_000_000 + i, 1_600_000_000 + i))
    first = schema or batches[0].schema
    return file_stream(
        spark,
        f"{path}/b*",
        schema=first,
        max_files_per_trigger=files_per_trigger,
    )
