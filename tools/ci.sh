#!/usr/bin/env bash
# One-command CI: reproduces the full per-round verification evidence.
#
#   tools/ci.sh [N_SHARDS]          # default 4
#
# Chain (fail-fast — a red stage stops the run):
#   1. tools/run_gate.sh N        — full pytest gate, N parallel shards
#                                   (every registered query vs DuckDB at
#                                   sf0.01, the -0.0 sweep of every
#                                   oracle at sf0.001 and sf0.01, and
#                                   all law/property suites)
#   2. walk.py --checks evaluate  — bench-scale (sf0.1) full-evaluation
#                                   pre-pass (catches ANSI overflows the
#                                   sf0.01 gate can't see)
#   3. walk.py --checks plan      — static plan audit over every
#                                   registered query (scan blowups,
#                                   row-path Python UDFs, pruning)
#   4. walk.py --empty            — ALL registered queries + oracles on
#                                   a fully-empty schema-preserved
#                                   universe (row/schema/value parity).
#                                   Found 40 real divergences when first
#                                   run in round 12 — empty-collect
#                                   crashes, ANSI-divide asymmetries,
#                                   NULL-bool stringification, and the
#                                   Spark-vs-SQL-standard empty-rollup
#                                   gap.  Skip with DEGENERATE_SWEEP=0.
#   5. tools/overflow_sweep.py    — top-20 heaviest bench queries PLUS
#                                   every %MOD-fraction-sampled query
#                                   on a 10x-salted universe.  Since
#                                   round 11 it FAILS on superlinearity
#                                   too, not just errors: each query is
#                                   timed at 1x in-session and the run
#                                   goes red when the 10x wall exceeds
#                                   15x the 1x wall (designed-quadratic
#                                   brute tier allowlisted with written
#                                   reasons).  It caught matryoshka in
#                                   r8 and would have caught mmr in r9
#                                   and the jl/semdecon/mmd trio in
#                                   r10.  Its REPLICATION_LAW queries
#                                   must emit exactly 10x their 1x rows.
#                                   Skip with OVERFLOW_SWEEP=0.
#
# The deep -0.0 pass, `tools/signbit_sweep.py --sf /root/testdata/sf0.1`,
# runs once per round outside this chain.
#
# Keep the host quiet (no concurrent Spark/pytest) — contention slows
# the gate ~2x and pollutes any timing you take afterwards.  The bench
# itself is NOT part of CI: run `BENCH_REPEATS=3 python bench.py`
# separately on an idle host (see BASELINE.md protocol).
set -u
cd "$(dirname "$0")/.."

run() {
  echo "=== ci: $* ==="
  local t0=$SECONDS
  if ! "$@"; then
    echo "=== ci: FAILED at '$*' after $((SECONDS - t0))s ==="
    exit 1
  fi
  echo "=== ci: ok ($((SECONDS - t0))s) ==="
}

run tools/run_gate.sh "${1:-4}"
run python tools/walk.py --sf /root/testdata/sf0.1 --checks evaluate
run python tools/walk.py --checks plan
if [ "${DEGENERATE_SWEEP:-1}" = "1" ]; then
  run python tools/walk.py --empty --checks oracle
fi
if [ "${OVERFLOW_SWEEP:-1}" = "1" ]; then
  run python tools/overflow_sweep.py
fi
echo "=== ci: ALL GREEN ==="
