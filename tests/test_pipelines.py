"""End-to-end pipeline jobs against the synthetic chunk source (§3
lifecycles — flatten, union, sinks, idempotent reload, alerting)."""

from __future__ import annotations

import datetime
import glob
import os

import pytest
from pyspark.sql import functions as F

from admob_data_pipeline_spark import pipelines
from admob_data_pipeline_spark.sinks import writers
from admob_data_pipeline_spark.sources import chunks as chunks_mod
from admob_data_pipeline_spark.sources.tables import load_table


class SyntheticSource:
    """Offline ChunkSource: nested chunks synthesized from lineitem."""

    def __init__(self, sf_dir):
        self.sf_dir = sf_dir

    def fetch(self, spark, kind, spec):
        li = load_table(spark, self.sf_dir, "lineitem")
        if kind == "mediation":
            li = li.where(F.col("l_orderkey") % 2 == 0)
        return chunks_mod.synthesize_chunks_from_lineitem(li)


@pytest.fixture
def cfg(tmp_path):
    return pipelines.JobConfig(
        publisher_id="accounts/pub-123",
        staging_dir=str(tmp_path / "staging"),
        table_dir=str(tmp_path / "tables"),
        report_date=datetime.date(1998, 9, 1),
    ).validate()


def test_config_validation_fails_fast(tmp_path):
    with pytest.raises(ValueError, match="publisher_id"):
        pipelines.JobConfig(
            publisher_id="", staging_dir=str(tmp_path), table_dir=str(tmp_path)
        ).validate()


def test_publisher_normalization(cfg):
    assert cfg.normalized_publisher == "pub-123"


def test_dual_report_export_writes_jsonl(spark, sf_dir, cfg):
    src = SyntheticSource(sf_dir)
    out = pipelines.dual_report_export_job(spark, cfg, src)
    assert out is not None
    path = f"{cfg.staging_dir}/admob_19980901.jsonl"
    assert os.path.isdir(path)
    # union kept both scans: mediation is the even-orderkey half
    assert out.count() > load_table(spark, sf_dir, "lineitem").count() * 0.9
    # O3 schema alignment: network-only and mediation-only columns coexist,
    # NULL-filled on the other side
    assert "impression_rpm" in out.columns  # network-only
    assert "observed_ecpm_micros" in out.columns  # mediation-only
    net_rows = out.where(F.col("observed_ecpm_micros").isNull())
    med_rows = out.where(F.col("impression_rpm").isNull())
    assert net_rows.count() > 0 and med_rows.count() > 0


def test_alert_job_end_to_end(spark, sf_dir, cfg, tmp_path):
    """Full §3.3 lifecycle: reload table, anomaly query, Slack messages."""
    # seed the table with 9 days of per-unit history (deterministic)
    import pandas as pd

    rows = []
    for day in range(1, 10):
        for unit in ("u1", "u2"):
            clicks = 100 if (day < 9 or unit == "u2") else 500  # u1 spikes on day 9
            rows.append(
                {
                    "date": datetime.date(2024, 1, day),
                    "app_name": "app",
                    "ad_unit_name": unit,
                    "clicks": clicks,
                    "impressions": 1000,
                }
            )
    table_path = f"{cfg.table_dir}/network_report"
    writers.append_to_table(spark.createDataFrame(pd.DataFrame(rows)), table_path)

    calls = []
    sink = writers.SlackSink(
        "https://hooks.example/x", transport=lambda u, p, t: (calls.append(p), 200)[1]
    )

    class NoTodaySource:
        def fetch(self, spark_, kind, spec):
            li = load_table(spark_, sf_dir, "lineitem").limit(0)
            return chunks_mod.synthesize_chunks_from_lineitem(li)

    scored = pipelines.ctr_alert_job(spark, cfg, NoTodaySource(), slack=sink)
    got = {r.ad_unit_name: r for r in scored.collect()}
    assert got["u1"].is_alert and got["u1"].pct_change == 400.0
    assert not got["u2"].is_alert
    assert sink.sent == 1 and b"u1" in calls[0]

    # observe()-based job health: metrics ride the job's own pass
    # (accumulators), no warehouse re-scan
    metrics: dict = {}
    pipelines.ctr_alert_job(
        spark, cfg, NoTodaySource(), metrics_out=metrics
    )
    assert metrics["fact_rows"] == 18  # 9 days x 2 units
    assert metrics["zero_impression_rows"] == 0
    assert metrics["scored_pairs"] == 2
    assert metrics["alerts_fired"] == 1


def test_multi_account_fanout(cfg):
    cfg.accounts = ("accounts/pub-1", "accounts/pub-2")
    seen = []
    results = pipelines.run_for_accounts(cfg, lambda sub: seen.append(sub) or "ok")
    assert set(results) == set(cfg.accounts)
    assert {s.normalized_publisher for s in seen} == {"pub-1", "pub-2"}
    assert all("pub-" in s.staging_dir for s in seen)


def test_csv_export_header_is_the_mediation_schema(spark, sf_dir, cfg):
    """§3.2: the CSV export carries the mediation report's 7 dimensions
    and 8 metrics, in spec order."""
    out = pipelines.filtered_csv_export_job(spark, cfg, SyntheticSource(sf_dir))
    assert out is not None
    (csv,) = glob.glob(f"{cfg.staging_dir}/mediation_19980901_csv/*.csv")
    with open(csv) as f:
        header = f.readline().rstrip("\n").split(",")
    assert header == [
        *(d.out for d in chunks_mod.MEDIATION_DIMS),
        *(m.out for m in chunks_mod.MEDIATION_METRICS),
    ]
    assert len(header) == 15


def test_cli_runs_jobs_end_to_end(spark, sf_dir, tmp_path):
    """The __main__ CLI wires config, source, and jobs (X2/X3 surface)."""
    from admob_data_pipeline_spark.__main__ import main

    common = [
        "--sf-dir", sf_dir,
        "--staging-dir", str(tmp_path / "stage"),
        "--table-dir", str(tmp_path / "tables"),
        "--date", "1998-09-01",
    ]
    assert main(["--job", "export", *common], spark=spark) == 0
    assert os.path.isdir(str(tmp_path / "stage" / "admob_19980901.jsonl"))
    assert main(["--job", "network_reload", *common], spark=spark) == 0
    table = tmp_path / "tables" / "network_report"
    # the offline source honours the spec's one-day range: the reload
    # writes that day's partition only (1998-09-01 has 2 lineitem rows)
    assert sorted(p.name for p in table.glob("date=*")) == ["date=1998-09-01"]
    assert main(["--job", "alerts", *common, "--threshold", "0.0"], spark=spark) == 0
