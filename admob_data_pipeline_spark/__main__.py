"""CLI entry point — the operational surface of the reference's five
cron-driven scripts (SURVEY.md §2.10), one binary with subcommands:

    python -m admob_data_pipeline_spark --job export --sf-dir /root/testdata/sf0.001 \
        --staging-dir /tmp/stage --table-dir /tmp/tables --date 1998-09-01

Jobs: ``export`` (§3.1 dual-report JSONL), ``csv_export`` (§3.2 filtered
CSV), ``network_reload`` (save_network_CSV.py S8 reload), ``alerts``
(§3.3 anomaly query + Slack).

Parameter precedence mirrors the reference's env-driven workflows
(X2/X3): CLI flag > environment variable > default. ``REPORT_DATE``
(ISO) selects the backfill date (download-json-export.yaml:6-10);
``APPS`` is a comma/newline-separated allow-list
(native_CTR_alerts.py:22-25); ``SLACK_WEBHOOK_URL`` enables the alert
sink. Offline mode (``--sf-dir``) uses the synthetic chunk source; a
production deployment implements :class:`pipelines.ChunkSource` over the
AdMob HTTP API (auth is X5, outside the engine per SURVEY.md §2.10).
"""

from __future__ import annotations

import argparse
import datetime
import os
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


class OfflineChunkSource:
    """ChunkSource over driver testdata: nested chunks from lineitem.

    Honours the report spec like the AdMob API does: only rows whose
    ``l_shipdate`` (the DATE dimension) lies in ``spec.date_range``, and,
    given an ``APP`` filter, only apps matching a value by id
    (``l_returnflag``) or by display label (``App-<id>``)."""

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir

    def fetch(self, spark, kind, spec):
        from admob_data_pipeline_spark.sources import chunks as chunks_mod
        from admob_data_pipeline_spark.sources.tables import load_table

        li = load_table(spark, self.sf_dir, "lineitem")
        if kind == "mediation":
            li = li.where(F.col("l_orderkey") % 2 == 0)
        if spec.date_range:
            start, end = spec.date_range
            day = F.to_date("l_shipdate")
            li = li.where(day.between(F.to_date(F.lit(start)), F.to_date(F.lit(end))))
        apps = list(spec.dimension_filters.get("APP", ()))
        if apps:
            app_id = F.col("l_returnflag")
            li = li.where(app_id.isin(apps) | F.concat(F.lit("App-"), app_id).isin(apps))
        return chunks_mod.synthesize_chunks_from_lineitem(li)


def _parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="admob_data_pipeline_spark")
    p.add_argument(
        "--job",
        required=True,
        choices=("export", "csv_export", "network_reload", "alerts"),
    )
    p.add_argument("--sf-dir", required=True, help="offline source data dir")
    p.add_argument("--staging-dir", required=True)
    p.add_argument("--table-dir", required=True)
    p.add_argument(
        "--publisher", default=os.environ.get("PUBLISHER_ID", "accounts/pub-offline")
    )
    p.add_argument("--date", default=os.environ.get("REPORT_DATE"))
    p.add_argument("--apps", default=os.environ.get("APPS", ""))
    p.add_argument("--threshold", type=float, default=25.0)
    p.add_argument("--webhook", default=os.environ.get("SLACK_WEBHOOK_URL"))
    p.add_argument("--master", default=None)
    return p.parse_args(argv)


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    from admob_data_pipeline_spark import pipelines
    from admob_data_pipeline_spark.session import get_spark
    from admob_data_pipeline_spark.sinks.writers import SlackSink

    args = _parse_args(sys.argv[1:] if argv is None else argv)
    apps = tuple(a.strip() for a in args.apps.replace("\n", ",").split(",") if a.strip())
    cfg = pipelines.JobConfig(
        publisher_id=args.publisher,
        staging_dir=args.staging_dir,
        table_dir=args.table_dir,
        report_date=datetime.date.fromisoformat(args.date) if args.date else None,
        app_filter=apps,
        slack_webhook=args.webhook,
    ).validate()
    own_session = spark is None
    spark = spark or get_spark("admob-cli", master=args.master)
    source = OfflineChunkSource(args.sf_dir)
    try:
        if args.job == "export":
            out = pipelines.dual_report_export_job(spark, cfg, source)
        elif args.job == "csv_export":
            out = pipelines.filtered_csv_export_job(spark, cfg, source)
        elif args.job == "network_reload":
            out = pipelines.network_csv_reload_job(spark, cfg, source)
        else:
            slack = SlackSink(args.webhook) if args.webhook else None
            out = pipelines.ctr_alert_job(
                spark, cfg, source, slack=slack, threshold=args.threshold
            )
        n = 0 if out is None else out.count()
        print(f"job={args.job} date={cfg.effective_date} rows={n}")
        return 0
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
