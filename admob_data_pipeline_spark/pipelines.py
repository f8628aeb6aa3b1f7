"""End-to-end job pipelines — the reference's five scripts as Spark jobs
(SURVEY.md §3 lifecycles, §2.10 orchestration operators).

| reference script          | here                      |
| ------------------------- | ------------------------- |
| main.py                   | :func:`dual_report_export_job` (network+mediation → union → JSONL) |
| save_CSV.py               | :func:`filtered_csv_export_job` (app-filtered mediation → CSV) |
| save_network_CSV.py       | :func:`network_csv_reload_job` (network → CSV + idempotent per-date reload) |
| fetch_mediation_report.py | :func:`dual_report_export_job` (fixed-schema JSONL variant) |
| native_CTR_alerts.py      | :func:`ctr_alert_job` (reload → anomaly query → Slack) |

Orchestration parity:
- X2 backfill date param (default yesterday, main.py:121) → ``JobConfig.report_date``
- X3 fail-fast env validation (save_CSV.py:31-43) → ``JobConfig.validate``
- X4 multi-account fan-out (suffixed-secret workflows) → :func:`run_for_accounts`
- X5 OAuth — a source-adapter concern: ``ChunkSource`` is the seam where
  the authenticated AdMob HTTP adapter plugs in; offline, the synthetic
  chunk source (sources/chunks.py) stands in.

The cron triggers (X1) stay external (spark-submit from any scheduler) or
become ``Trigger.AvailableNow`` streaming jobs (streaming/alerts.py).
"""

from __future__ import annotations

import datetime
from dataclasses import dataclass, field
from typing import Callable, Protocol

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from admob_data_pipeline_spark.operators import alerts
from admob_data_pipeline_spark.sinks import writers
from admob_data_pipeline_spark.sources import chunks as chunks_mod
from admob_data_pipeline_spark.sources.report_spec import ReportSpec, compile_report


class ChunkSource(Protocol):
    """Source adapter seam (S1/S2): production = AdMob HTTP API returning
    chunk JSON; tests = synthetic nested chunks. Either way the engine sees
    one nested DataFrame and one flatten kernel."""

    def fetch(self, spark: SparkSession, kind: str, spec: ReportSpec) -> DataFrame: ...


@dataclass
class JobConfig:
    """X2/X3 — validated job parameters (the reference's env-var block)."""

    publisher_id: str
    staging_dir: str
    table_dir: str
    report_date: datetime.date | None = None  # X2 backfill param
    app_filter: tuple[str, ...] = ()
    slack_webhook: str | None = None
    accounts: tuple[str, ...] = ()

    def validate(self) -> "JobConfig":
        """Fail fast on missing required config (save_CSV.py:41-43,
        native_CTR_alerts.py:45-47)."""
        missing = [
            name
            for name, v in (
                ("publisher_id", self.publisher_id),
                ("staging_dir", self.staging_dir),
                ("table_dir", self.table_dir),
            )
            if not v
        ]
        if missing:
            raise ValueError(f"missing required config: {', '.join(missing)}")
        return self

    @property
    def effective_date(self) -> datetime.date:
        # default = yesterday (main.py:121)
        return self.report_date or (datetime.date.today() - datetime.timedelta(days=1))

    @property
    def normalized_publisher(self) -> str:
        # F9 — 'accounts/pub-123' → 'pub-123' (native_CTR_alerts.py:52)
        return self.publisher_id.rsplit("/", 1)[-1]


def dual_report_export_job(
    spark: SparkSession, cfg: JobConfig, source: ChunkSource
) -> DataFrame | None:
    """§3.1 (main.py:111-154): two report scans → flatten → union → JSONL.

    Returns the unioned frame (None when the empty-day guard fired).
    """
    spec = ReportSpec(
        date_range=(str(cfg.effective_date), str(cfg.effective_date)),
        sort_conditions=(("date", "ASCENDING"),),
    )
    net = chunks_mod.flatten_chunks(
        source.fetch(spark, "network", spec),
        dims=chunks_mod.NETWORK_DIMS,
        metrics=chunks_mod.NETWORK_METRICS,
    )
    med = chunks_mod.flatten_chunks(
        source.fetch(spark, "mediation", spec),
        dims=chunks_mod.MEDIATION_DIMS,
        metrics=chunks_mod.MEDIATION_METRICS,
    )
    # O3 — schemas deliberately differ (mediation carries ad-source dims +
    # observed_ecpm; network carries format/rpm): align by name, NULL-fill
    unioned = net.unionByName(med, allowMissingColumns=True)
    out_path = f"{cfg.staging_dir}/admob_{cfg.effective_date:%Y%m%d}.jsonl"
    if not writers.write_if_nonempty(
        unioned, lambda df: writers.write_jsonl(df, out_path, single_file=True)
    ):
        return None
    return unioned


def filtered_csv_export_job(
    spark: SparkSession, cfg: JobConfig, source: ChunkSource
) -> DataFrame | None:
    """§3.2 (save_CSV.py): app-filtered scan → flatten → CSV staging.

    The IN-list filter is part of the compiled plan — Catalyst pushes it
    into the scan exactly like the reference's dimensionFilters push to
    the AdMob service."""
    spec = ReportSpec(
        date_range=(str(cfg.effective_date), str(cfg.effective_date)),
        dimension_filters={"APP": cfg.app_filter} if cfg.app_filter else {},
        sort_conditions=(("date", "ASCENDING"),),
    )
    flat = chunks_mod.flatten_chunks(
        source.fetch(spark, "mediation", spec),
        dims=chunks_mod.MEDIATION_DIMS,
        metrics=chunks_mod.MEDIATION_METRICS,
    )
    if cfg.app_filter:
        flat = flat.where(F.col("app_name").isin(list(cfg.app_filter)))
    out_path = f"{cfg.staging_dir}/mediation_{cfg.effective_date:%Y%m%d}_csv"
    if not writers.write_if_nonempty(
        flat, lambda df: writers.write_csv(df, out_path, single_file=True)
    ):
        return None
    return flat


def network_csv_reload_job(
    spark: SparkSession, cfg: JobConfig, source: ChunkSource
) -> DataFrame | None:
    """save_network_CSV.py: network scan → CSV staging → idempotent
    per-date table reload (S8)."""
    flat = filtered_network_frame(spark, cfg, source)
    if flat is None:
        return None
    writers.overwrite_date_partitions(flat, f"{cfg.table_dir}/network_report")
    return flat


def filtered_network_frame(
    spark: SparkSession, cfg: JobConfig, source: ChunkSource
) -> DataFrame | None:
    spec = ReportSpec(
        date_range=(str(cfg.effective_date), str(cfg.effective_date)),
        dimension_filters={"APP": cfg.app_filter} if cfg.app_filter else {},
    )
    flat = chunks_mod.flatten_chunks(
        source.fetch(spark, "network", spec),
        dims=chunks_mod.NETWORK_DIMS,
        metrics=chunks_mod.NETWORK_METRICS,
    )
    if cfg.app_filter:
        flat = flat.where(F.col("app_name").isin(list(cfg.app_filter)))
    if flat.isEmpty():
        return None
    return flat


def ctr_alert_job(
    spark: SparkSession,
    cfg: JobConfig,
    source: ChunkSource,
    slack: writers.SlackSink | None = None,
    threshold: float = alerts.DEFAULT_THRESHOLD,
    metrics_out: dict | None = None,
) -> DataFrame:
    """§3.3 (native_CTR_alerts.py:332-345): ingest+reload today's report,
    run the anomaly query over the (date-partitioned) table, group alert
    lines per app, POST to Slack.

    Pass ``metrics_out`` (a dict) to receive job-health metrics —
    fact rows scanned, zero-impression rows, alerts fired — gathered via
    ``DataFrame.observe``: the accumulator-backed mechanism that rides
    the job's own pass instead of re-running aggregate queries (a
    separate count() would re-scan the warehouse; at 100 TB the health
    numbers must be free)."""
    from pyspark.sql import Observation

    network_csv_reload_job(spark, cfg, source)  # S8 idempotent
    table = spark.read.parquet(f"{cfg.table_dir}/network_report")
    fact = table.select(
        "date",
        "app_name",
        "ad_unit_name",
        F.col("clicks").cast("long").alias("clicks"),
        F.col("impressions").cast("long").alias("impressions"),
    )
    obs_fact = Observation("fact_health")
    fact = fact.observe(
        obs_fact,
        F.count(F.lit(1)).alias("fact_rows"),
        F.sum((F.col("impressions") == 0).cast("long")).alias(
            "zero_impression_rows"
        ),
    )
    scored = alerts.ctr_anomaly_from_fact(fact, threshold)
    obs_alerts = Observation("alert_health")
    scored = scored.observe(
        obs_alerts,
        F.count(F.lit(1)).alias("scored_pairs"),
        F.sum(F.col("is_alert").cast("long")).alias("alerts_fired"),
    )
    messages = alerts.format_alert_messages(scored)
    if slack is not None:
        if messages.isEmpty():
            slack.post_text("No native CTR anomalies today.")
        else:
            slack.post_messages(messages)
    if metrics_out is not None:
        # Observation.get blocks until an action has run the WHOLE plan;
        # the Slack isEmpty() probe may short-circuit before the observe
        # nodes complete, so drive one full (noop-sink) pass explicitly
        scored.write.format("noop").mode("overwrite").save()
        metrics_out.update(obs_fact.get)
        metrics_out.update(obs_alerts.get)
    return scored


def run_for_accounts(
    cfg: JobConfig, job: Callable[[JobConfig], object]
) -> dict[str, object]:
    """X4 — multi-account fan-out: the reference clones one workflow per
    account with suffixed secrets; here it is a parameterized loop over
    per-account configs."""
    results = {}
    for account in cfg.accounts or (cfg.publisher_id,):
        sub = JobConfig(
            publisher_id=account,
            staging_dir=f"{cfg.staging_dir}/{account.rsplit('/', 1)[-1]}",
            table_dir=f"{cfg.table_dir}/{account.rsplit('/', 1)[-1]}",
            report_date=cfg.report_date,
            app_filter=cfg.app_filter,
            slack_webhook=cfg.slack_webhook,
        ).validate()
        results[account] = job(sub)
    return results
