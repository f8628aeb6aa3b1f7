"""The structural-counter ledger (``tools/ledger.py``) on three registry
queries: a lazy one, an index wrapper whose work runs while its plan is
built, and a streaming one."""

from __future__ import annotations

import importlib.util
import json
import pathlib

import pytest

from admob_data_pipeline_spark.plans.registry import QUERIES
from admob_data_pipeline_spark.testing import new_jobs

_spec = importlib.util.spec_from_file_location(
    "ledger", pathlib.Path(__file__).resolve().parent.parent / "tools" / "ledger.py"
)
ledger = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ledger)

LAZY, WRAPPER, STREAMING = "ctr_anomaly_warehouse", "hybrid_index_search", "streaming_sessionize"
STRUCTURE = ("plan_jobs", "action_jobs", "stages", "executions", "scans", "exchanges", "joins")


@pytest.fixture(scope="module")
def built():
    return {}


@pytest.fixture(scope="module")
def records(spark, sf_dir, built):
    """``name → (record, jobs counted around the whole measure call)``;
    the wrapper's built DataFrame is kept in ``built``."""

    def keep(s, d):
        built[WRAPPER] = QUERIES[WRAPPER](s, d)
        return built[WRAPPER]

    fns = {LAZY: QUERIES[LAZY], WRAPPER: keep, STREAMING: QUERIES[STREAMING]}
    out = {}
    for name, fn in fns.items():
        rec, ids = new_jobs(spark, lambda: ledger.measure(spark, name, fn, sf_dir))
        out[name] = rec, len(ids)
    return out


def test_job_counts_match_an_independent_count(records):
    for name, (rec, jobs) in records.items():
        assert rec["error"] is None, rec
        assert rec["plan_jobs"] + rec["action_jobs"] == jobs, (name, rec, jobs)
        assert rec["stages"] > 0 and rec["executions"] > 0, rec


def test_wrapper_counts_its_internal_executions(records, built):
    """The index wrapper collects and drops its scratch tables while its
    plan is built; the ledger still sees those executions' shuffles and
    joins, which the post-collect plan it returns does not hold."""
    rec, _ = records[WRAPPER]
    assert rec["plan_jobs"] > rec["action_jobs"], rec
    assert rec["exchanges"] > 0 and rec["joins"].get("BroadcastHashJoin", 0) > 0, rec
    plan = built[WRAPPER]._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "BroadcastHashJoin" not in plan, plan


def test_streaming_query_counts_its_micro_batches(records):
    rec, _ = records[STREAMING]
    assert rec["plan_jobs"] + rec["action_jobs"] > 1, rec


def test_rerun_gives_identical_structure(spark, sf_dir, records):
    for name in (LAZY, WRAPPER):
        again = ledger.measure(spark, name, QUERIES[name], sf_dir)
        first = records[name][0]
        assert {k: again[k] for k in STRUCTURE} == {k: first[k] for k in STRUCTURE}, name


def test_planted_cross_join_fails_the_run(spark, sf_dir, capsys):
    def planted(s, d):
        return s.range(3).hint("shuffle_replicate_nl").crossJoin(s.range(2))

    assert ledger.run(spark, sf_dir, {"planted": planted}) == 1
    rec = json.loads(capsys.readouterr().out)
    assert rec["error"] is None and rec["joins"] == {"CartesianProduct": 1}, rec
