"""Every registry query must hash-match its DuckDB oracle at sf0.001.

This is a fast local mirror of the driver's t2 gate (the driver runs the
same comparison at sf0.01 — tools/check_correctness.py runs that scale).
Each query must also leave nothing behind in the temp dir: scratch
files it wrote are removed before it returns.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

import __spark_entry__ as entry_mod
from admob_data_pipeline_spark.testing import diff_vs_oracle, duckdb_connection

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    c = duckdb_connection(SF)
    yield c
    c.close()


@pytest.fixture(scope="module")
def tmp_root(tmp_path_factory):
    """A fresh ``tempfile.tempdir`` for this module, so a query's leftover
    scratch is visible. ``cached_parquet_dir``'s ``spark_graft_*`` fixture
    caches are rebuilt here once and are not scratch."""
    root = str(tmp_path_factory.mktemp("oracle_tmp"))
    old, tempfile.tempdir = tempfile.tempdir, root
    yield root
    tempfile.tempdir = old


@pytest.mark.parametrize("name", sorted(entry_mod.queries().keys()))
def test_query_matches_oracle(spark, con, tmp_root, name):
    df = entry_mod.queries()[name](spark, SF)
    problems = diff_vs_oracle(df, con, entry_mod.oracle_sql()[name])
    left = sorted(
        p for p in os.listdir(tmp_root) if not p.startswith("spark_graft_")
    )
    for p in left:  # reap, so the next query is judged on its own
        shutil.rmtree(os.path.join(tmp_root, p), ignore_errors=True)
    assert not problems, f"{name}: {problems}"
    assert not left, f"{name} left scratch behind: {left}"


def test_every_query_has_an_oracle():
    assert set(entry_mod.queries()) == set(entry_mod.oracle_sql())


def test_every_bench_query_is_registered():
    import bench

    assert set(bench.HEADLINE + bench.EXTENDED) <= set(entry_mod.queries())


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert df.columns == [
        "app_name",
        "ad_unit_name",
        "today_ctr",
        "avg_ctr_7d",
        "pct_change",
        "is_alert",
    ]
