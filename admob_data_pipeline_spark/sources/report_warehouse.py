"""Date-partitioned report warehouse fixture (SURVEY.md §2.1 S1, §2.2 P7/P8).

The reference lands flattened report rows in BigQuery tables that are
date-partitioned and reloaded per-date (main.py:89-109 WRITE_APPEND after a
per-date DELETE; README.md "idempotent reload"). The Spark-side analogue of
that storage layout is a parquet table partitioned by ``date``: a report
spec's ``dateRange`` then becomes PARTITION PRUNING (directories never
listed) and its ``dimensionFilters`` become parquet row-group pushdown —
the scan-side behaviors a 100 TB warehouse lives or dies by.

``materialize_report_warehouse`` synthesizes the warehouse ONCE per sf_dir
from the events fact (deterministic projection, so a SQL oracle over
``events`` reproduces it exactly) and caches it in scratch, keyed by the
source file fingerprint — same contract as relational._chunk_fixture.
``compile_report`` plans read it like any fact table; tests assert the
pruning actually happens (tests/test_report_spec.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from admob_data_pipeline_spark.operators.stats import VALUE_SCALE
from admob_data_pipeline_spark.sources.scratch import cached_parquet_dir


def report_fact_from_events(events: DataFrame) -> DataFrame:
    """Flattened network-report grain derived from the events fact:
    one row per event with the report's dimension/metric columns. The
    projection is deterministic so DuckDB can re-derive the warehouse
    from ``events`` for oracle checks."""
    return events.select(
        F.col("ts").cast("date").alias("date"),
        F.col("event_type").alias("app_name"),
        F.concat(F.lit("unit-"), (F.col("user_id") % 8).cast("string")).alias(
            "ad_unit_name"
        ),
        F.floor(F.col("value") * VALUE_SCALE).cast("long").alias("clicks"),
        F.lit(1).cast("long").alias("impressions"),
    )


def materialize_report_warehouse(spark: SparkSession, sf_dir: str) -> str:
    """Write (once) and return the path of the date-partitioned report
    warehouse for ``sf_dir`` (sources/scratch.py publish contract)."""

    def write(tmp: str) -> None:
        from admob_data_pipeline_spark.sources.tables import load_table

        fact = report_fact_from_events(load_table(spark, sf_dir, "events"))
        # One file per date partition: the fixture is small and a report
        # warehouse's partition grain (date) is the unit of idempotent
        # reload — matches sinks.writers.overwrite_partitions layout.
        fact.repartition("date").write.mode("overwrite").partitionBy(
            "date"
        ).parquet(tmp)

    return cached_parquet_dir(
        "reportwh", os.path.join(sf_dir, "events.parquet"), write
    )


def read_report_warehouse(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(materialize_report_warehouse(spark, sf_dir))


# --- mediation grain -------------------------------------------------------
#
# Shared column expressions: the batch warehouse, the rollup queries, and
# the streaming eCPM monitor all derive the SAME cells — single-sourcing
# the source mapping, the micros conversion, and the eCPM formula is what
# makes their "bit-identical" claim a property of the code rather than of
# three hand-synced copies.


def mediation_source_col() -> F.Column:
    """'src' || user_id % 4 — the deterministic ad-source mapping."""
    return F.concat(F.lit("src"), (F.col("user_id") % 4).cast("string"))


def earn_micros_col() -> F.Column:
    """Money in exact integer micros (floor of the double value)."""
    return F.floor(F.col("value") * 1e6).cast("long")


def ecpm_micros_col() -> F.Column:
    """eCPM over exact integer sums, kept integral by floor division —
    ROUND at micros magnitude sits past double precision (playbook #2).
    Expects aggregated ``earn_micros`` / ``impressions`` columns."""
    return F.expr("earn_micros * 1000 DIV NULLIF(impressions, 0)").cast("long")


def mediation_fact_from_events(events: DataFrame) -> DataFrame:
    """Flattened MEDIATION-report grain (S2): the reference's mediation
    report adds the monetization dimensions — ad source, country — and the
    request-funnel metrics (AD_REQUESTS / MATCHED_REQUESTS feeding
    MATCH_RATE, OBSERVED_ECPM; fetch_mediation_report.py:79-113,
    save_CSV.py:148-186). Deterministic projection from ``events`` so a
    DuckDB oracle re-derives the warehouse exactly:

    - ``ad_source_name``  := 'src' || user_id % 4
    - ``ad_source_instance_name`` := ad_source_name || '-i' || user_id % 2
    - ``mediation_group_name``    := 'grp' || event_id % 3
    - ``country``         := 'C' || event_id % 6
    - ``ad_requests``     := 1 + event_id % 3  (funnel top, exact ints)
    - ``matched_requests``:= 1                  (each row = one matched ad)
    - ``earn_micros``     := floor(value * 1e6) (money in integer micros)

    Full FIXTURES.md §3 grain (save_CSV.py:145-152 + the BQ DDL,
    README.md:157-174): instance and mediation-group dims included so
    group/waterfall reports run against the same warehouse.
    """
    return events.select(
        F.col("ts").cast("date").alias("date"),
        F.col("event_type").alias("app_name"),
        F.concat(F.lit("unit-"), (F.col("user_id") % 8).cast("string")).alias(
            "ad_unit_name"
        ),
        mediation_source_col().alias("ad_source_name"),
        F.concat(
            mediation_source_col(),
            F.lit("-i"),
            (F.col("user_id") % 2).cast("string"),
        ).alias("ad_source_instance_name"),
        F.concat(F.lit("grp"), (F.col("event_id") % 3).cast("string")).alias(
            "mediation_group_name"
        ),
        F.concat(F.lit("C"), (F.col("event_id") % 6).cast("string")).alias(
            "country"
        ),
        (F.lit(1) + F.col("event_id") % 3).cast("long").alias("ad_requests"),
        F.lit(1).cast("long").alias("matched_requests"),
        F.lit(1).cast("long").alias("impressions"),
        earn_micros_col().alias("earn_micros"),
    )


def materialize_mediation_warehouse(spark: SparkSession, sf_dir: str) -> str:
    """Write (once) and return the date-partitioned MEDIATION warehouse —
    same per-date idempotent-reload layout as the network warehouse, so a
    spec's dateRange prunes partitions and its country/ad_source IN-lists
    push to parquet row groups (asserted in tests/test_report_spec.py)."""

    def write(tmp: str) -> None:
        from admob_data_pipeline_spark.sources.tables import load_table

        fact = mediation_fact_from_events(load_table(spark, sf_dir, "events"))
        fact.repartition("date").write.mode("overwrite").partitionBy(
            "date"
        ).parquet(tmp)

    # cache name carries a schema version: cached_parquet_dir fingerprints
    # only the SOURCE file, so a derivation change must bump the name or
    # stale cached parquet (old schema) would be served silently
    return cached_parquet_dir(
        "mediationwh_v2", os.path.join(sf_dir, "events.parquet"), write
    )


def read_mediation_warehouse(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(materialize_mediation_warehouse(spark, sf_dir))


# --- full network grain (FIXTURES.md §2) ------------------------------------

NETWORK_FORMATS = ("Banner", "Interstitial", "Native advanced", "Rewarded")

# Shared column expressions (same contract as the mediation helpers above):
# the batch warehouse and the streaming funnel monitor derive the SAME
# cells from these, so stream/batch agreement is a property of the code.


def network_format_col() -> F.Column:
    """NETWORK_FORMATS[event_id % 4] — the deterministic format mapping."""
    return F.element_at(
        F.array(*[F.lit(x) for x in NETWORK_FORMATS]),
        (F.col("event_id") % 4 + 1).cast("int"),
    )


def network_ad_requests_col() -> F.Column:
    """1 + event_id % 3 — the funnel top, exact ints."""
    return (F.lit(1) + F.col("event_id") % 3).cast("long")


def network_impressions_col() -> F.Column:
    """0 when event_id % 7 = 0 else 1 — the zero-impression rows
    FIXTURES §2 demands for the SAFE_DIVIDE path."""
    return (
        F.when(F.col("event_id") % 7 == 0, F.lit(0))
        .otherwise(F.lit(1))
        .cast("long")
    )


def network_fact_from_events(events: DataFrame) -> DataFrame:
    """Flattened NETWORK-report grain at the FULL FIXTURES.md §2 shape —
    the reference's network report (save_network_CSV.py:132-136,
    native_CTR_alerts.py:136-140) carries the ad FORMAT dimension and the
    whole request funnel (AD_REQUESTS → MATCHED_REQUESTS → IMPRESSIONS →
    CLICKS) plus earnings; the r4 ``report_fact_from_events`` fixture
    kept only the CTR columns. Deterministic projection from ``events``
    so a DuckDB oracle re-derives the warehouse exactly:

    - ``format``          := NETWORK_FORMATS[event_id % 4]
    - ``ad_requests``     := 1 + event_id % 3   (funnel top)
    - ``matched_requests``:= 1                   (row = one matched ad)
    - ``impressions``     := 0 when event_id % 7 = 0 else 1 — the
      zero-impression rows FIXTURES §2 demands for the SAFE_DIVIDE path
    - ``clicks``          := floor(value * VALUE_SCALE)
    - ``earn_micros``     := floor(value * 1e6) (money in integer micros)
    """
    return events.select(
        F.col("ts").cast("date").alias("date"),
        F.col("event_type").alias("app_name"),
        network_format_col().alias("format"),
        F.concat(F.lit("unit-"), (F.col("user_id") % 8).cast("string")).alias(
            "ad_unit_name"
        ),
        network_ad_requests_col().alias("ad_requests"),
        F.lit(1).cast("long").alias("matched_requests"),
        network_impressions_col().alias("impressions"),
        F.floor(F.col("value") * VALUE_SCALE).cast("long").alias("clicks"),
        earn_micros_col().alias("earn_micros"),
    )


def materialize_network_warehouse(spark: SparkSession, sf_dir: str) -> str:
    """Write (once) and return the date-partitioned FULL-GRAIN network
    warehouse — same per-date idempotent-reload layout as the other two,
    so a spec's dateRange prunes partitions and the format IN-list pushes
    to parquet row groups (asserted in tests/test_report_spec.py)."""

    def write(tmp: str) -> None:
        from admob_data_pipeline_spark.sources.tables import load_table

        fact = network_fact_from_events(load_table(spark, sf_dir, "events"))
        fact.repartition("date").write.mode("overwrite").partitionBy(
            "date"
        ).parquet(tmp)

    return cached_parquet_dir(
        "networkwh_v1", os.path.join(sf_dir, "events.parquet"), write
    )


def read_network_warehouse(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(materialize_network_warehouse(spark, sf_dir))
