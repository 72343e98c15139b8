from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from stream_processing_with_flink_study_spark.session import get_spark  # noqa: E402
from tools.check_oracle import duck_connection  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # hermetic warehouse: saveAsTable tests (bucketing) must not collide
    # with leftover spark-warehouse/ dirs from prior crashed runs
    wh = tmp_path_factory.mktemp("spark-warehouse")
    s = get_spark(
        "tests",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": str(wh)},
    )
    yield s


@pytest.fixture(scope="session")
def duck_medium():
    # the driver's scale factor: local green predicts driver green
    con = duck_connection(SF_MEDIUM)
    yield con
    con.close()


def pytest_collection_modifyitems(config, items):
    """``GATE_SHARD=i/n`` (1-based) keeps every n-th collected item, so
    n pytest processes (tools/run_gate.sh) run each test exactly once."""
    shard = os.environ.get("GATE_SHARD")
    if not shard:
        return
    i, n = (int(x) for x in shard.split("/"))
    config.hook.pytest_deselected(
        items=[item for j, item in enumerate(items) if j % n != i - 1]
    )
    items[:] = items[i - 1 :: n]


def pytest_terminal_summary(terminalreporter):
    """Say when the oracle gate ran reduced, and what it skipped, so a
    green default run is never read as full coverage."""
    if os.environ.get("FULL_GATE") == "1":
        return
    from stream_processing_with_flink_study_spark import plans

    from .test_registry_oracle import _gate_names

    total, kept = len(plans.QUERIES), len(_gate_names())
    terminalreporter.write_line(
        f"REDUCED ORACLE GATE: the default subsample covers {kept} of "
        f"{total} registered queries, {total - kept} skipped "
        "(FULL_GATE=1 runs them all)",
        yellow=True,
        bold=True,
    )
