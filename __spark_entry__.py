"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship CTR-anomaly query (SURVEY.md §7.1) at
sf0.001. ``queries()`` / ``oracle_sql()`` expose the full operator
inventory with DuckDB oracles (SURVEY.md §2 + the training-data-pipeline
extensions).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from admob_data_pipeline_spark.plans import registry

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from admob_data_pipeline_spark.operators.alerts import ctr_anomaly_sql

    # Every scored row comes back at any threshold; the threshold only
    # sets the ±25% is_alert flag (the driver only smoke-checks rows>0).
    return ctr_anomaly_sql(spark, SF0001, threshold=25.0)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (ANSI; same aliases as Spark side)."""
    return dict(registry.ORACLES)
