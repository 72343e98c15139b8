"""The counter diff flags every changed deterministic counter.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

from counters import compare


def test_compare_flags_counter_changes_only():
    base = {"exec.jobs": 5, "exec.tasks": 40, "exec.executor_run_ms": 900}
    old = {"queries": {"q1": dict(base), "q2": dict(base)}}
    new = {"queries": {"q1": {**base, "exec.executor_run_ms": 1200}, "q3": dict(base)}}
    assert compare(old, old) == []
    new["queries"]["q1"]["exec.jobs"] = 6
    assert compare(old, new) == ["q1: exec.jobs 5 -> 6", "q2: only in old", "q3: only in new"]
