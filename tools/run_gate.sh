#!/usr/bin/env bash
# Full local gate in one command: N parallel pytest processes, each
# running a GATE_SHARD=i/N slice of the collected tests (item j goes to
# shard j mod N, tests/conftest.py), so every test runs exactly once
# (no pytest-xdist in this environment — each process gets its own
# Spark session; memory-bound past ~4 shards on this host).
#
#   tools/run_gate.sh [N_SHARDS]    # default 4
#
# Exit status is non-zero if ANY shard fails.  GATE_SHARD is 1-BASED.
set -u
n=${1:-4}
pids=()
for i in $(seq 1 "$n"); do
  # FULL_GATE=1: run the opt-in soak suites (state soak, chaos restart)
  # and keep every oracle in play; GATE_SHARD splits them all across
  # the n processes.
  FULL_GATE=1 GATE_SHARD="$i/$n" python -m pytest tests/ -q \
    > "/tmp/gate_shard_${i}_of_${n}.log" 2>&1 &
  pids+=($!)
done
rc=0
for i in $(seq 1 "$n"); do
  if ! wait "${pids[$((i - 1))]}"; then rc=1; fi
  echo "--- shard $i/$n: $(tail -1 "/tmp/gate_shard_${i}_of_${n}.log")"
done
exit "$rc"
