"""One walk over the query registry: build each query once, run a list
of checks on the built frame, then release what the query left behind.

    python tools/walk.py [--sf DIR] [--checks oracle,evaluate,plan,conf,time]
                         [--empty] [--dump DIR] [name ...]

``--checks`` (comma-separated, default ``oracle``):

- ``oracle``: row count, sorted column names and bitwise values against
  the query's DuckDB oracle (``check_oracle.compare``, the driver's
  check); a query without an oracle is collected for rows only.
- ``evaluate``: a ``noop`` write evaluates every column of every row
  without collecting anything (``count()`` would let Spark prune the
  projection).  At sf0.1 it is the gate for ANSI overflows, cast errors
  and crashes the sf0.01 oracle gate cannot see.
- ``plan``: audits the formatted physical plan for row-at-a-time Python
  UDFs (``BatchEvalPython``), duplicate-lineage scan blowups and scans
  that missed projection pruning.  ``--dump DIR`` also writes each plan
  to ``DIR/NAME.txt``.
- ``conf``: the build left the session conf as it found it.
- ``time``: prints the median wall of :data:`REPEATS` build + collect
  runs and the Spark jobs one run launches.

``--empty`` walks a schema-preserved empty universe (every table of
:data:`EMPTY_TEMPLATE` sliced to 0 rows) in place of ``--sf``.  The walk
prints one PASS/FAIL line per query and a summary line, and exits
non-zero on any failure.
"""

from __future__ import annotations

import argparse
import atexit
import os
import re
import shutil
import sys
import tempfile
import time
import traceback
from collections.abc import Callable

import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from stream_processing_with_flink_study_spark import plans  # noqa: E402
from stream_processing_with_flink_study_spark.schemas import TABLES  # noqa: E402
from stream_processing_with_flink_study_spark.session import get_spark  # noqa: E402
from tools.check_oracle import compare, duck_connection  # noqa: E402

#: a check takes the query name and its built frame and returns None
#: when the query passes, else a finding
Check = Callable[[str, object], "str | None"]

#: build + collect runs the ``time`` check takes the median of
REPEATS = 3
#: the scale factor whose schemas the empty universe keeps
EMPTY_TEMPLATE = "/root/testdata/sf0.001"


def drain(spark) -> None:
    """Drop cached frames, then unpersist every persisted RDD left over
    (``localCheckpoint`` RDDs are not in the cache manager) BLOCKING, so
    the cleanup completes before the next query starts."""
    spark.catalog.clearCache()
    rdds = spark.sparkContext._jsc.sc().getPersistentRDDs().values().iterator()
    while rdds.hasNext():
        rdds.next().unpersist(True)


def walk(spark, names, sf_dir: str, checks: list[Check]) -> dict:
    """Build each query of ``names`` once over ``sf_dir`` and run every
    check on the built frame.  Returns ``{name: (ok, msg, wall_s)}``:
    ``msg`` joins the findings, or holds the traceback of a build or a
    check that raised; ``wall_s`` spans the build and the checks."""
    results = {}
    for name in names:
        t0 = time.perf_counter()
        try:
            df = plans.QUERIES[name](spark, sf_dir)
            findings = [f for f in (check(name, df) for check in checks) if f]
        except Exception:
            findings = [traceback.format_exc(limit=10)]
        wall = time.perf_counter() - t0
        drain(spark)
        ok, msg = not findings, "; ".join(findings)
        results[name] = (ok, msg, wall)
        print(f"{'PASS' if ok else 'FAIL'} {name:40s} {wall:7.2f}s  {msg}")
    return results


def oracle(con) -> Check:
    """Compare with the query's DuckDB oracle on ``con``."""

    def check(name, df):
        ok, msg = compare(name, df, con, plans.ORACLES.get(name))
        return None if ok else msg

    return check


def evaluate(name, df):
    df.write.format("noop").mode("overwrite").save()


def formatted_plan(df) -> str:
    """The 'formatted' explain: one numbered entry per physical node,
    with reused exchanges/subqueries deduplicated — unlike toString,
    which re-prints the display lineage inside every InMemoryRelation."""
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def audit(plan: str) -> list[str]:
    """Scale red flags in a formatted physical plan."""
    node = re.compile(r"^\(\d+\) ([A-Za-z ]+?)(?: \[codegen.*)?$", re.M)
    nodes = [n.strip() for n in node.findall(plan)]
    flags = []
    n_file = nodes.count("Scan parquet")
    if n_file > 8:
        flags.append(f"{n_file} file scans (duplicate-lineage blowup?)")
    if "BatchEvalPython" in nodes:
        flags.append("row-at-a-time Python UDF (BatchEvalPython)")
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        if len(m.group(1).split(",")) > 8:
            flags.append("a scan reads >8 columns — projection pruning missing?")
            break
    return flags


def plan(dump: str | None = None) -> Check:
    """Audit the physical plan; write it to ``dump/NAME.txt`` if given."""

    def check(name, df):
        text = formatted_plan(df)
        if dump:
            with open(os.path.join(dump, f"{name}.txt"), "w") as fh:
                fh.write(text)
        return "; ".join(audit(text)) or None

    return check


def conf(spark) -> Check:
    """Flag a build that changed the session conf; the session is
    shared, so a leaked key changes the plan of every later query."""
    seen = dict(spark.conf.getAll)

    def check(name, df):
        nonlocal seen
        now = dict(spark.conf.getAll)
        if now == seen:
            return None
        changed = sorted(k for k in now.keys() | seen.keys() if now.get(k) != seen.get(k))
        seen = now
        return f"session conf changed: {changed}"

    return check


def timing(sf_dir: str) -> Check:
    """Print the median wall of :data:`REPEATS` build + collect runs
    and the jobs the last run launched, counted through a job group."""

    def check(name, df):
        spark = df.sparkSession
        sc = spark.sparkContext
        walls = []
        for i in range(REPEATS):
            drain(spark)
            group = f"walk-{name}-{i}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            plans.QUERIES[name](spark, sf_dir).collect()
            walls.append(time.perf_counter() - t0)
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        print(f"TIME {name:40s} median={sorted(walls)[REPEATS // 2]:7.3f}s jobs={jobs}")

    return check


def build_empty_universe(out: str) -> None:
    """Every table of :data:`EMPTY_TEMPLATE` with its schema and no rows."""
    for t in TABLES:
        tbl = pq.read_table(f"{EMPTY_TEMPLATE}/{t}.parquet").slice(0, 0)
        pq.write_table(tbl, os.path.join(out, f"{t}.parquet"))


CHECKS = {
    "oracle": lambda spark, sf_dir, dump: oracle(duck_connection(sf_dir)),
    "evaluate": lambda spark, sf_dir, dump: evaluate,
    "plan": lambda spark, sf_dir, dump: plan(dump),
    "conf": lambda spark, sf_dir, dump: conf(spark),
    "time": lambda spark, sf_dir, dump: timing(sf_dir),
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--checks", default="oracle", help=",".join(CHECKS))
    ap.add_argument("--empty", action="store_true")
    ap.add_argument("--dump", metavar="DIR")
    args = ap.parse_args(argv)
    selected = args.checks.split(",")
    unknown = [c for c in selected if c not in CHECKS]
    if unknown:
        ap.error(f"unknown checks {unknown}; choose from {','.join(CHECKS)}")

    sf_dir = args.sf
    if args.empty:
        sf_dir = tempfile.mkdtemp(prefix="walk_empty_")
        atexit.register(shutil.rmtree, sf_dir, ignore_errors=True)
        build_empty_universe(sf_dir)
    if args.dump:
        os.makedirs(args.dump, exist_ok=True)
    spark = get_spark("walk")
    checks = [CHECKS[c](spark, sf_dir, args.dump) for c in selected]
    names = args.names or sorted(plans.QUERIES)
    results = walk(spark, names, sf_dir, checks)
    failed = [n for n, (ok, _, _) in results.items() if not ok]
    print(
        f"\n{len(names) - len(failed)}/{len(names)} passed "
        f"[{','.join(selected)}] at {'empty universe' if args.empty else sf_dir}"
        + (f"; FAILURES: {failed}" if failed else "")
    )
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
