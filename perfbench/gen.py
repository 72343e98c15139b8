"""Seeded generators for the two driver tables the benchmark reads.

Both write the driver schemas (``schemas.EVENTS`` / ``schemas.LINEITEM``,
TESTDATA.md) as parquet under ``sf_dir``, so the program sees the same
layout as the driver corpus: ``events.parquet`` is one file, as in the
driver tables, or a directory of ``files`` part files (``load_table``
and ``events_stream`` read both); ``lineitem.parquet`` is one file.
Timestamps are TIMESTAMP(MICROS) without a zone, the driver's current
encoding.

The same ``(seed, dims)`` always gives identical rows.  Every traffic
dimension (size, key count and skew, lateness, type mix, span, file
count, edge density) is a field of the dims dataclasses.  The defaults
are the figures measured on the driver's sf0.01 and sf0.1 tables (see
README.md); where a default departs from them, its comment says why.

    python3 perfbench/gen.py SF_DIR SEED DIMS_JSON

writes the tables in a process of its own, so their memory never
counts towards the benchmark driver's.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00 UTC
_DAY_US = 86_400_000_000


@dataclass(frozen=True)
class EventsDims:
    # sf0.1 has 100,000 rows; fewer keeps a pass to a few seconds
    rows: int = 40_000
    # sf0.01 and sf0.1 both have 66.7 events per user (150 / 1,500)
    users: int = 600
    # Zipf exponent of user activity; measured: uniform (0)
    zipf_s: float = 0.0
    # share of events whose ts lags an earlier event_id; measured: 0
    out_of_order: float = 0.0
    # how far a late event lags, at most (seconds)
    max_lateness_s: int = 600
    # weights of EVENT_TYPES, in that order; measured: uniform
    type_mix: tuple[float, ...] = (0.2, 0.2, 0.2, 0.2, 0.2)
    span_days: int = 30
    # the driver tables hold events in one file
    files: int = 1


@dataclass(frozen=True)
class LineitemDims:
    # sf0.01 as measured (sf0.1: 600,000 rows, 1,000 suppliers, 20,000 parts)
    rows: int = 60_000
    # mean lines drawn per order key; 4.07 per order that has lines
    lines_per_order: float = 4.0
    suppliers: int = 100
    parts: int = 2_000
    # share of lines with l_extendedprice >= EDGE_MIN_PRICE; sets the
    # co-supplier edge density (only those lines make edges); measured
    # 0.53 (prices uniform on 900..105,000)
    edge_share: float = 0.53


def _user_ids(rng: np.random.Generator, dims: EventsDims) -> np.ndarray:
    ranks = np.arange(1, dims.users + 1, dtype=np.float64)
    p = ranks ** -dims.zipf_s
    p /= p.sum()
    # hot users get random ids, not 0, 1, 2, ...
    ids = rng.permutation(dims.users)
    return ids[rng.choice(dims.users, size=dims.rows, p=p)]


def make_events(seed: int, dims: EventsDims) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 1])
    n = dims.rows
    ts = np.sort(rng.integers(0, dims.span_days * _DAY_US, n)) + _EPOCH_2024_US
    late = rng.random(n) < dims.out_of_order
    ts[late] -= rng.integers(1, dims.max_lateness_s * 1_000_000, late.sum())
    mix = np.asarray(dims.type_mix, dtype=np.float64)
    types = np.asarray(EVENT_TYPES)[rng.choice(len(EVENT_TYPES), n, p=mix / mix.sum())]
    # Full double precision: on a 2-decimal grid, sums that cancel
    # exactly and averages that land on a rounding tie are common, and
    # there the engine's summation order picks the last rounded digit.
    # At least 32: the flagship rounds avg((value - 32) * 5/9), and a
    # tiny negative average rounds to -0.0 in DuckDB but 0.0 in Spark.
    value = 32.0 + rng.exponential(50.0, n)
    k = rng.integers(0, 100, n)
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": _user_ids(rng, dims).astype(np.int64),
            "event_type": types.astype(object),
            "value": value,
            "props": [f'{{"k": {v}}}' for v in k],
        }
    )


def make_lineitem(seed: int, dims: LineitemDims, edge_min_price: float) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 2])
    n = dims.rows
    orders = max(1, round(n / dims.lines_per_order))
    okey = rng.integers(0, orders, n)
    # linenumber = 1..k within each order, in row order
    order = np.argsort(okey, kind="stable")
    sorted_keys = okey[order]
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_keys)) + 1]
    run_start = np.repeat(starts, np.diff(np.r_[starts, n]))
    linenumber = np.empty(n, dtype=np.int32)
    linenumber[order] = np.arange(n) - run_start + 1
    hi = rng.random(n) < dims.edge_share
    price = np.where(
        hi,
        rng.uniform(edge_min_price, 105_000.0, n),
        rng.uniform(900.0, edge_min_price, n),
    )
    ship_day = rng.integers(0, 2498, n)  # 1995-01-02 .. 2001-11-04
    return pd.DataFrame(
        {
            "l_orderkey": okey.astype(np.int64),
            "l_partkey": rng.integers(0, dims.parts, n).astype(np.int64),
            "l_suppkey": rng.integers(0, dims.suppliers, n).astype(np.int64),
            "l_linenumber": linenumber,
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            # below the floor keeps a rounded price under the edge cut
            "l_extendedprice": np.floor(price * 100) / 100,
            "l_discount": rng.integers(0, 11, n) / 100,
            "l_tax": rng.integers(0, 9, n) / 100,
            "l_returnflag": np.asarray(["A", "N", "R"])[rng.integers(0, 3, n)].astype(object),
            "l_linestatus": np.asarray(["F", "O"])[rng.integers(0, 2, n)].astype(object),
            "l_shipdate": (
                np.datetime64("1995-01-02", "us") + ship_day.astype("timedelta64[D]")
            ).astype("datetime64[us]"),
        }
    )


def _pair_count(li: pd.DataFrame, node_col: str) -> int:
    """Distinct unordered node pairs sharing an order, the same set the
    ``cosupplier``/``copurchase`` edge builders derive."""
    ok = li[["l_orderkey", node_col]].drop_duplicates()
    m = ok.merge(ok, on="l_orderkey")
    m = m[m[f"{node_col}_x"] < m[f"{node_col}_y"]]
    return int(len(m[[f"{node_col}_x", f"{node_col}_y"]].drop_duplicates()))


def edge_counts(li: pd.DataFrame, edge_min_price: float) -> dict[str, int]:
    """Canonical (src < dst) edge counts of the two lineitem graphs; the
    graph gates compare the symmetric row count (2x) with their limit."""
    sig = li[li["l_extendedprice"] >= edge_min_price]
    return {
        "cosupplier_edges": _pair_count(sig, "l_suppkey"),
        "copurchase_edges": _pair_count(li, "l_partkey"),
    }


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def write_inputs(
    sf_dir: str,
    seed: int,
    events: EventsDims | None,
    lineitem: LineitemDims | None,
    edge_min_price: float,
) -> dict:
    """Write the requested tables under ``sf_dir`` and an
    ``inputs.json`` manifest of their dims and row counts.  Returns the
    manifest."""
    os.makedirs(sf_dir, exist_ok=True)
    manifest: dict = {"seed": seed, "tables": {}}
    if events is not None:
        ev = make_events(seed, events)
        path = os.path.join(sf_dir, "events.parquet")
        if events.files == 1:
            _write(ev, path)
        else:
            os.makedirs(path, exist_ok=True)
            for i, part in enumerate(np.array_split(np.arange(len(ev)), events.files)):
                _write(ev.iloc[part], os.path.join(path, f"part-{i:05d}.parquet"))
        manifest["tables"]["events"] = {"rows": len(ev), "dims": asdict(events)}
    if lineitem is not None:
        li = make_lineitem(seed, lineitem, edge_min_price)
        _write(li, os.path.join(sf_dir, "lineitem.parquet"))
        manifest["tables"]["lineitem"] = {"rows": len(li), "dims": asdict(lineitem)}
    _save_manifest(sf_dir, manifest)
    return manifest


def record_edges(sf_dir: str, gates: dict[str, int | float]) -> dict:
    """Add the lineitem edge counts to ``inputs.json`` and, beside them,
    the gate constants those counts are compared with.  Returns the
    manifest."""
    with open(os.path.join(sf_dir, "inputs.json")) as fh:
        manifest = json.load(fh)
    li = pd.read_parquet(os.path.join(sf_dir, "lineitem.parquet"))
    manifest["tables"]["lineitem"]["edges"] = edge_counts(li, gates["EDGE_MIN_PRICE"])
    manifest["tables"]["lineitem"]["gates"] = dict(gates)
    _save_manifest(sf_dir, manifest)
    return manifest


def _save_manifest(sf_dir: str, manifest: dict) -> None:
    with open(os.path.join(sf_dir, "inputs.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)


def write_in_child(
    sf_dir: str,
    seed: int,
    events: EventsDims | None,
    lineitem: LineitemDims | None,
    edge_min_price: float,
) -> dict:
    """``write_inputs`` in a process of its own; returns the manifest."""
    dims = {
        "events": asdict(events) if events else None,
        "lineitem": asdict(lineitem) if lineitem else None,
        "edge_min_price": edge_min_price,
    }
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), sf_dir, str(seed), json.dumps(dims)],
        check=True,
    )
    with open(os.path.join(sf_dir, "inputs.json")) as fh:
        return json.load(fh)


def main(argv: list[str]) -> int:
    sf_dir, seed, dims = argv[0], int(argv[1]), json.loads(argv[2])
    ev, li = dims["events"], dims["lineitem"]
    if ev is not None:
        ev = EventsDims(**{**ev, "type_mix": tuple(ev["type_mix"])})
    write_inputs(sf_dir, seed, ev, li and LineitemDims(**li), dims["edge_min_price"])
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
