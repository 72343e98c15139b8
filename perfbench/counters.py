"""Per-query layer counters read from Spark, and a tool that compares
two recorded runs.

Execution counters come from the jobs a query launched (a job-id range,
see ``spans.py``) through ``statusTracker`` and
``statusStore().stageData``; Catalyst phase times from
``queryExecution().tracker().phases()``; streaming counters from each
``StreamingQuery.recentProgress``.

The deterministic counters (``DETERMINISTIC``) repeat exactly for the
same code, inputs and parallelism, so any change between two records is
a real plan or execution change, never host noise:

    python3 perfbench/counters.py OLD.json NEW.json

prints every changed counter and exits 1 when there is one.
"""

from __future__ import annotations

import json
import sys

DETERMINISTIC = (
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes",
    "exec.result_rows",
    "plans.eager_jobs",
)


def job_counters(spark, job0: int, job1: int) -> dict[str, int]:
    """Jobs, stages that ran, tasks and stage metrics for jobs
    ``job0 <= id < job1``.  A stage shared by several jobs counts once."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    stage_ids: set[int] = set()
    for jid in range(job0, job1):
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict.fromkeys(
        (
            "exec.stages",
            "exec.tasks",
            "exec.executor_run_ms",
            "exec.gc_ms",
            "exec.shuffle_read_bytes",
            "exec.shuffle_write_bytes",
            "exec.spill_bytes",
        ),
        0,
    )
    out["exec.jobs"] = job1 - job0
    for sid in sorted(stage_ids):
        attempts = store.stageData(sid, False, None, False, None)
        for i in range(attempts.size()):
            d = attempts.apply(i)
            if d.status().toString() == "SKIPPED":
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += d.numCompleteTasks()
            out["exec.executor_run_ms"] += d.executorRunTime()
            out["exec.gc_ms"] += d.jvmGcTime()
            out["exec.shuffle_read_bytes"] += d.shuffleReadBytes()
            out["exec.shuffle_write_bytes"] += d.shuffleWriteBytes()
            out["exec.spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
    return out


def catalyst_phases(df) -> dict[str, int]:
    phases = df._jdf.queryExecution().tracker().phases()
    return {
        f"catalyst.{p}_ms": phases.apply(p).durationMs() if phases.contains(p) else 0
        for p in ("analysis", "optimization", "planning")
    }


def streaming_counters(queries: list) -> dict[str, int]:
    """Sum of per-trigger progress over the query's streaming runs."""
    out = dict.fromkeys(
        (
            "streaming.triggers",
            "streaming.input_rows",
            "streaming.state_rows_total",
            "streaming.state_commit_ms",
            "streaming.state_memory_bytes",
        ),
        0,
    )
    for q in queries:
        progress = q.recentProgress
        for p in progress:
            out["streaming.triggers"] += 1
            out["streaming.input_rows"] += p.get("numInputRows") or 0
            for op in p.get("stateOperators") or []:
                out["streaming.state_commit_ms"] += op.get("commitTimeMs") or 0
        if progress:
            for op in progress[-1].get("stateOperators") or []:
                out["streaming.state_rows_total"] += op.get("numRowsTotal") or 0
                out["streaming.state_memory_bytes"] += op.get("memoryUsedBytes") or 0
    return out


def compare(old: dict, new: dict) -> list[str]:
    """Changed deterministic counters between two run records
    (``{"queries": {name: {counter: value}}}``)."""
    msgs = []
    oq, nq = old["queries"], new["queries"]
    for name in sorted(set(oq) | set(nq)):
        if name not in oq or name not in nq:
            msgs.append(f"{name}: only in {'new' if name in nq else 'old'}")
            continue
        for c in DETERMINISTIC:
            a, b = oq[name].get(c), nq[name].get(c)
            if a != b:
                msgs.append(f"{name}: {c} {a} -> {b}")
    return msgs


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print("usage: python3 perfbench/counters.py OLD.json NEW.json", file=sys.stderr)
        return 2
    with open(argv[0]) as fh:
        old = json.load(fh)
    with open(argv[1]) as fh:
        new = json.load(fh)
    msgs = compare(old, new)
    for m in msgs:
        print(m)
    print(f"{len(msgs)} counter change(s)")
    return 1 if msgs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
