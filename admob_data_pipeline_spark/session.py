"""SparkSession builder with scale-appropriate defaults.

The reference runs single-process Python (SURVEY.md §6); our engine targets
a real cluster. These defaults are safe on ``local[N]`` and correct on a
1000-executor cluster:

- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace hand-tuning.
- Dynamic partition overwrite: the idempotent per-date reload
  (reference ``native_CTR_alerts.py:182-212`` DELETE+append) becomes a
  single atomic-per-partition ``INSERT OVERWRITE``.
- Arrow enabled for the few Pandas-UDF operators (multimodal decode).
- Session timezone pinned to UTC so date truncation of timestamps is
  deterministic across driver environments.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Maven coordinates for the public cloud connectors (README "Cloud
# deployment"). Versions track Spark 4.x / Scala 2.13; override via env.
GCS_CONNECTOR_PACKAGE = "com.google.cloud.bigdataoss:gcs-connector:hadoop3-2.2.26"
BIGQUERY_CONNECTOR_PACKAGE = (
    "com.google.cloud.spark:spark-bigquery-with-dependencies_2.13:0.42.0"
)


def cloud_conf(env: dict[str, str] | None = None) -> dict[str, str]:
    """Assemble the GCS + BigQuery connector configuration (S6/S7 cloud
    forms) from the environment — the reference's env contract
    (main.py:10-17: GCS_BUCKET_NAME, GCP_PROJECT) mapped to Spark conf.

    Pure conf assembly, no network: unit-tested offline, applied only when
    ``SPARK_GRAFT_CLOUD=1`` so local runs never pull connector jars. With
    the returned conf on a real cluster, ``gs://`` paths work in every
    writer and ``write_bigquery`` gains a live backend — the parquet
    stand-ins and the cloud path share one writer API.
    """
    env = dict(env if env is not None else os.environ)
    conf: dict[str, str] = {
        "spark.jars.packages": ",".join(
            (
                env.get("SPARK_GRAFT_GCS_PACKAGE", GCS_CONNECTOR_PACKAGE),
                env.get("SPARK_GRAFT_BQ_PACKAGE", BIGQUERY_CONNECTOR_PACKAGE),
            )
        ),
        # GCS Hadoop filesystem bindings (public connector docs)
        "spark.hadoop.fs.gs.impl": (
            "com.google.cloud.hadoop.fs.gcs.GoogleHadoopFileSystem"
        ),
        "spark.hadoop.fs.AbstractFileSystem.gs.impl": (
            "com.google.cloud.hadoop.fs.gcs.GoogleHadoopFS"
        ),
    }
    if env.get("GCP_PROJECT"):
        conf["spark.hadoop.fs.gs.project.id"] = env["GCP_PROJECT"]
    keyfile = env.get("GOOGLE_APPLICATION_CREDENTIALS")
    if keyfile:
        conf["spark.hadoop.google.cloud.auth.service.account.enable"] = "true"
        conf["spark.hadoop.google.cloud.auth.service.account.json.keyfile"] = keyfile
    if env.get("GCS_BUCKET_NAME"):
        # indirect BigQuery writes stage through this bucket
        conf["spark.conf.temporaryGcsBucket"] = env["GCS_BUCKET_NAME"]
    return conf


def get_spark(
    app_name: str = "admob-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.session.timeZone", "UTC")
        # Naive parquet timestamps (isAdjustedToUTC=false, how the test
        # tables store ``ts``) must read as plain TIMESTAMP under the UTC
        # session zone, not TIMESTAMP_NTZ: NTZ forbids the epoch casts the
        # event-time operators rely on, and DuckDB's epoch() of the same
        # naive value agrees with the UTC interpretation bit-for-bit.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # lower()/upper() through the JVM's own case mapping, not ICU's.
        # ICU's one-time set-up (CollationAwareUTF8String, UCaseProps) is
        # paid in every fresh JVM by the first tokens() job: on 4 cores,
        # that job over the sf0.001 documents took 2.3 CPU-s with ICU and
        # 0.55 CPU-s without (three fresh sessions each). The tokens are
        # the same either way (tests/test_text.py pins a non-ASCII set).
        .config("spark.sql.icu.caseMappings.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if os.environ.get("SPARK_GRAFT_CLOUD") == "1":
        for k, v in cloud_conf().items():
            builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
