"""Untimed checks on the generated inputs, run in a process of its own.

The child records the lineitem edge counts beside the graph gates
(``gen.record_edges``) and runs every oracle query in DuckDB.  The
driver then checks each query with ``tools/check_oracle.py::compare``
(row count, sorted column names, bitwise float equality), so the
benchmark applies exactly the repository's own correctness gate, but
neither DuckDB nor the oracle results ever take memory in the driver
process whose peak RSS is measured.

    python3 perfbench/oracle.py SPEC_JSON OUT_PICKLE
"""

from __future__ import annotations

import importlib.util
import json
import os
import pickle
import subprocess
import sys
from types import SimpleNamespace


def load_compare(root: str):
    path = os.path.join(root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("_perfbench_check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


def connect(sf_dir: str, tables: list[str]):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


class Answers:
    """Stands in for the DuckDB connection ``compare`` takes: hands back
    the result the child computed for each oracle SQL."""

    def __init__(self, frames: dict):
        self._frames = frames

    def execute(self, sql: str) -> SimpleNamespace:
        frame = self._frames[sql]
        return SimpleNamespace(fetch_df=lambda: frame)


def check_inputs(
    work: str, sf_dir: str, tables: list[str], sqls: list[str], gates: dict
) -> tuple[dict, Answers]:
    """Run the checks in a child process; returns the input manifest
    (with edge counts when lineitem was generated) and the answers."""
    spec = os.path.join(work, "oracle-spec.json")
    out = os.path.join(work, "oracle-answers.pkl")
    with open(spec, "w") as fh:
        json.dump({"sf_dir": sf_dir, "tables": tables, "sqls": sqls, "gates": gates}, fh)
    subprocess.run([sys.executable, os.path.abspath(__file__), spec, out], check=True)
    with open(out, "rb") as fh:
        manifest, frames = pickle.load(fh)
    os.remove(spec)
    os.remove(out)
    return manifest, Answers(frames)


def main(argv: list[str]) -> int:
    import gen

    with open(argv[0]) as fh:
        spec = json.load(fh)
    sf_dir, tables = spec["sf_dir"], spec["tables"]
    if "lineitem" in tables:
        manifest = gen.record_edges(sf_dir, spec["gates"])
    else:
        with open(os.path.join(sf_dir, "inputs.json")) as fh:
            manifest = json.load(fh)
    con = connect(sf_dir, tables)
    try:
        frames = {sql: con.execute(sql).fetch_df() for sql in spec["sqls"]}
    finally:
        con.close()
    with open(argv[1], "wb") as fh:
        pickle.dump((manifest, frames), fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
