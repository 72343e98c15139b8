"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given scale factor, then compares row count, sorted column
names, and order-insensitive values.  Usage:

    python tools/check_oracle.py [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import atexit
import shutil
import sys
import tempfile
import time
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, ".")

from stream_processing_with_flink_study_spark import plans  # noqa: E402
from stream_processing_with_flink_study_spark.schemas import TABLES  # noqa: E402
from stream_processing_with_flink_study_spark.session import get_spark  # noqa: E402


# DuckDB's cap for one oracle connection.  Above it, operators spill
# to a private temp dir (removed at exit) instead of growing the
# process: uncapped, ``sssp_cosupplier`` at sf0.1 reached 5.5 GB RSS and
# spilled into the working directory.
DUCK_MEMORY_LIMIT = "3GB"


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB connection with one view per table of
    ``sf_dir``, bounded by :data:`DUCK_MEMORY_LIMIT`."""
    spill = tempfile.mkdtemp(prefix="duck_oracle_")
    atexit.register(shutil.rmtree, spill, ignore_errors=True)
    con = duckdb.connect(
        config={"memory_limit": DUCK_MEMORY_LIMIT, "temp_directory": spill}
    )
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype("float64")
        elif str(df[c].dtype) in ("bool", "boolean"):
            df[c] = df[c].astype("bool")
    return df.sort_values(list(df.columns), ignore_index=True)


def compare(name: str, spark_df, con, sql: str | None) -> tuple[bool, str]:
    s = normalize(spark_df.toPandas())
    if sql is None:
        return len(s) >= 0, f"rows-only ({len(s)} rows)"
    o = normalize(con.execute(sql).fetch_df())
    if len(s) != len(o):
        return False, f"row count {len(s)} != {len(o)}"
    if list(s.columns) != list(o.columns):
        return False, f"columns {list(s.columns)} != {list(o.columns)}"
    for c in s.columns:
        sv, ov = s[c], o[c]
        if sv.dtype != ov.dtype:
            return False, f"col {c} dtype {sv.dtype} != {ov.dtype}"
        if str(sv.dtype).startswith("float"):
            # BITWISE equality, exactly as strict as the driver's value
            # hash: -0.0 != +0.0 and no epsilon tolerance.  Round 6's
            # `abs(diff) < 1e-12` here let 9 signed-zero divergences sit
            # locally green while the driver hashed them red.  NaNs are
            # pandas-canonical on both sides, so NaN == NaN bitwise.
            import numpy as np

            sa = sv.to_numpy(dtype="float64", na_value=np.nan)
            oa = ov.to_numpy(dtype="float64", na_value=np.nan)
            eq = pd.Series(sa.view("int64") == oa.view("int64"))
        else:
            eq = sv.fillna("␀") == ov.fillna("␀") if sv.dtype == object else sv.isna().eq(ov.isna()) & (sv.fillna(0) == ov.fillna(0))
        if not eq.all():
            bad = (~eq).idxmax()
            return False, (
                f"col {c} first mismatch at sorted row {bad}: "
                f"spark={sv[bad]!r} oracle={ov[bad]!r}"
            )
    return True, f"{len(s)} rows"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    spark = get_spark("check_oracle")
    con = duck_connection(args.sf)
    names = args.names or list(plans.QUERIES)
    failures = 0
    for name in names:
        fn = plans.QUERIES[name]
        sql = plans.ORACLES.get(name)
        t0 = time.time()
        try:
            ok, msg = compare(name, fn(spark, args.sf), con, sql)
        except Exception:
            ok, msg = False, traceback.format_exc(limit=10)
        dt = time.time() - t0
        print(f"{'PASS' if ok else 'FAIL'} {name:32s} {dt:6.2f}s  {msg}")
        failures += 0 if ok else 1
    print(f"\n{len(names) - failures}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
