"""Session, warm-up, drain and one timed query, shared by every workload.

The session comes from ``session.get_spark`` with ``local[n]`` and
``n`` shuffle partitions.  Everything the engine writes (Spark local
dirs, JVM temp files, Python ``tempfile`` scratch, the warehouse)
lands under the run's work directory inside the checkout.
"""

from __future__ import annotations

import os
import tempfile
import threading
import time
from dataclasses import dataclass, field

QUERY_TIMEOUT_S = 60.0


def confine_scratch(tmp: str, root: str) -> None:
    """Point every scratch location at ``tmp`` and let Python workers
    import the package from ``root``; call before the JVM starts."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    tempfile.tempdir = tmp
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")


def start_session(cpus: int, tmp: str):
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    from stream_processing_with_flink_study_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": "2g",
            # a fixed-size serial heap: G1's adaptive sizing and
            # concurrent threads made peak RSS and walls vary run to run
            "spark.driver.extraJavaOptions": (
                "-XX:+UseSerialGC -Xms2g -Xmn384m "
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
            ),
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def drain(spark) -> dict[str, int]:
    """Untimed inter-query hygiene, as ``bench.py::drain_leftovers``:
    drop cached frames and unpersist leftover RDDs BLOCKING, plus the
    memory-sink views streaming twins leave.  Returns what it found."""
    jsc = spark.sparkContext._jsc.sc()
    rdds = jsc.getPersistentRDDs()
    found = {"persisted_rdds": rdds.size()}
    spark.catalog.clearCache()
    it = rdds.values().iterator()
    while it.hasNext():
        it.next().unpersist(True)
    views = [t.name for t in spark.catalog.listTables() if t.isTemporary]
    found["temp_views"] = len(views)
    for v in views:
        spark.catalog.dropTempView(v)
    return found


def warm_up(spark, sf_dir: str, tables: list[str]) -> None:
    """The pandas-UDF worker pool and every input table's footer, as
    bench.py warms them.  Query codegen and the program's per-process
    caches warm in the reference pass, reported as ``first_pass_s``."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from stream_processing_with_flink_study_spark.sources import load_table

    @pandas_udf("double")
    def _warm(s):
        return s * 1.0

    n = spark.sparkContext.defaultParallelism
    spark.range(1000, numPartitions=n).select(
        F.sum(_warm(F.col("id").cast("double")))
    ).collect()
    for t in tables:
        load_table(spark, sf_dir, t).limit(1).collect()
    drain(spark)


def next_job_id(spark) -> int:
    """Id the next Spark job will get; jobs are numbered in launch order."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


@dataclass
class Outcome:
    name: str
    wall_s: float
    rows: list | None = None
    error: str | None = None
    df: object = field(default=None, repr=False)


def run_query(spark, fn, name: str, sf_dir: str, tracer=None) -> Outcome:
    """Build the frame and collect it, timed together.  A query that
    raises or outlives ``QUERY_TIMEOUT_S`` (its jobs are cancelled)
    counts as failed."""
    sc = spark.sparkContext
    timer = threading.Timer(QUERY_TIMEOUT_S, sc.cancelAllJobs)
    timer.daemon = True
    timer.start()
    t0 = time.perf_counter()
    try:
        if tracer is None:
            df = fn(spark, sf_dir)
            rows = df.collect()
        else:
            tracer.query = name
            with tracer.span("query"):
                with tracer.span("plans.build"):
                    df = fn(spark, sf_dir)
                with tracer.span("exec.collect"):
                    rows = df.collect()
        t1 = time.perf_counter()
    except Exception as exc:  # noqa: BLE001 - a failed query is a data point
        return Outcome(name, time.perf_counter() - t0, error=f"{type(exc).__name__}: {exc}"[:500])
    finally:
        timer.cancel()
    return Outcome(name, t1 - t0, rows=rows, df=df)


def digest(rows: list) -> int:
    """Order-insensitive fingerprint of a collected result."""
    return hash(tuple(sorted(map(repr, rows))))


def _jvm_pid(spark) -> int:
    return spark._jvm.java.lang.ProcessHandle.current().pid()


def reset_peak_rss(spark) -> None:
    """Restart the peak-RSS count of this driver and its JVM at their
    current RSS, so set-up and the untimed passes are left out."""
    for pid in ("self", _jvm_pid(spark)):
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")


def peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of this driver plus its JVM since
    the last ``reset_peak_rss``."""

    def hwm_kb(pid: int | str) -> int:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    return (hwm_kb("self") + hwm_kb(_jvm_pid(spark))) / 1024.0


def stop_jvm() -> None:
    """End the JVM this process launched and wait for it: the gateway
    exits when its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
