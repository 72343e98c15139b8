"""Negative-zero sweep over every registered DuckDB oracle.

The driver hashes raw values, and IEEE -0.0 hashes differently from
+0.0 even though ``==`` says they're equal.  The repo-wide
``round(x - 1e-9, k)`` guard produces **-0.0 in DuckDB but +0.0 in
Spark** whenever the true value pins to zero (round 6's one red driver
row, ``kaplan_meier_reorder``, was exactly this).  This sweep runs
every oracle on DuckDB only (no Spark session — seconds, not minutes)
and reports any float column containing a negative zero, so the class
can't lurk until the driver's random 50-query sample draws it.

Usage:  python tools/signbit_sweep.py [--sf DIR ...] [name ...]

Exit status is non-zero on any hit, making it CI-shaped.
"""

from __future__ import annotations

import argparse
import sys

import numpy as np

sys.path.insert(0, ".")

from stream_processing_with_flink_study_spark import plans  # noqa: E402
from tools.check_oracle import duck_connection  # noqa: E402


def negative_zero_columns(df) -> list[str]:
    hits = []
    for c in df.columns:
        if str(df[c].dtype).startswith("float"):
            v = df[c].to_numpy(dtype="float64", na_value=np.nan)
            if bool(np.any((v == 0.0) & np.signbit(v))):
                hits.append(c)
    return hits


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument(
        "--sf",
        action="append",
        default=None,
        help="scale dirs to sweep (default: sf0.001 AND sf0.01 — "
        "short-doc edge cases only surface at sf0.001).  Run the "
        "sf0.1 dir ONCE PER ROUND as the deep pass "
        "(`--sf /root/testdata/sf0.1`, ~30 min of DuckDB oracle "
        "evaluation): round 12 found a bench-scale-only -0.0 "
        "covariance cell (embedding_covariance_block) that the two "
        "smaller dirs never produce; the 3-dir sweep is clean as of "
        "that fix.",
    )
    args = ap.parse_args()
    sf_dirs = args.sf or ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
    names = args.names or sorted(plans.ORACLES)

    failures = 0
    for sf_dir in sf_dirs:
        con = duck_connection(sf_dir)
        for name in names:
            sql = plans.ORACLES.get(name)
            if sql is None:
                continue
            try:
                df = con.execute(sql).fetch_df()
            except Exception as exc:  # surface, don't mask, broken oracles
                print(f"ERROR {name} @ {sf_dir}: {exc}")
                failures += 1
                continue
            bad = negative_zero_columns(df)
            if bad:
                print(f"NEGZERO {name} @ {sf_dir}: columns {bad}")
                failures += 1
        con.close()
    print(f"\nswept {len(names)} oracles x {len(sf_dirs)} scale dirs, "
          f"{failures} findings")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
