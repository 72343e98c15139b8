"""Workload definitions stay consistent with the query registry.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import re

from run import input_tables
from workloads import WORKLOADS

from stream_processing_with_flink_study_spark import plans
from stream_processing_with_flink_study_spark.schemas import TABLES


def test_every_query_reads_only_generated_tables():
    for wl in WORKLOADS.values():
        generated = set(input_tables(wl))
        for name in wl.queries:
            sql = plans.ORACLES[name]
            read = {t for t in TABLES if re.search(rf"\b{t}\b", sql)}
            assert read and read <= generated, (wl.name, name, read)

