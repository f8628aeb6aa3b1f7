"""Physical-plan inspection helpers.

Scale-correctness is asserted, not assumed: tests/test_plans.py uses these
to pin that filters reach the parquet scan (PushedFilters), small sides
broadcast (BroadcastHashJoin), aggregations are partial+final (two
HashAggregate stages), and scans prune to the referenced columns
(ReadSchema) — the properties that decide whether a plan survives a 100×
scale-up (SURVEY.md §4).
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def scan_read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema lines from every file scan in the plan."""
    return [
        line.split("ReadSchema:", 1)[1].strip()
        for line in formatted_plan(df).splitlines()
        if "ReadSchema:" in line
    ]


def pushed_filters(df: DataFrame) -> list[str]:
    return [
        line.split("PushedFilters:", 1)[1].strip()
        for line in formatted_plan(df).splitlines()
        if "PushedFilters:" in line
    ]
