"""The report API as a native Python DataSource — partitioning, filter
pushdown, residual semantics, stream/batch parity."""

import datetime

from pyspark.sql import functions as F

from admob_data_pipeline_spark.sources.report_datasource import (
    DEFAULT_N_DAYS,
    N_APPS,
    N_UNITS,
    AdMobReportReader,
    register_report_source,
)


def _read(spark, n_days=DEFAULT_N_DAYS):
    register_report_source(spark)
    return spark.read.format("admob_report").option("n_days", n_days).load()


def test_batch_read_shape_and_partition_grain(spark):
    df = _read(spark, 6)
    assert df.count() == 6 * N_APPS * N_UNITS
    # one InputPartition per (date, app) — the API request grain
    assert df.rdd.getNumPartitions() == 6 * N_APPS


def test_pushdown_prunes_fetch_partitions(spark):
    """A date-between + app equality must reach the reader and shrink the
    partition list to exactly the surviving (date, app) cells."""
    df = _read(spark).where(
        (F.col("date") >= F.lit(datetime.date(2024, 1, 4)))
        & (F.col("date") <= F.lit(datetime.date(2024, 1, 8)))
        & (F.col("app_name") == "app-a")
    )
    assert df.rdd.getNumPartitions() == 5  # 5 days x 1 app
    rows = df.collect()
    assert len(rows) == 5 * N_UNITS
    assert {r.app_name for r in rows} == {"app-a"}
    assert min(r.date for r in rows) == datetime.date(2024, 1, 4)
    assert max(r.date for r in rows) == datetime.date(2024, 1, 8)


def test_pushdown_strict_bounds_and_in_list(spark):
    """GreaterThan/LessThan must exclude the boundary day; an IN-list on
    app_name prunes to the named apps."""
    df = _read(spark).where(
        (F.col("date") > F.lit(datetime.date(2024, 1, 4)))
        & (F.col("date") < F.lit(datetime.date(2024, 1, 8)))
        & (F.col("app_name").isin("app-a", "app-b"))
    )
    assert df.rdd.getNumPartitions() == 3 * N_APPS
    dates = {r.date for r in df.collect()}
    assert dates == {datetime.date(2024, 1, d) for d in (5, 6, 7)}


def test_unknown_app_prunes_to_zero_and_residuals_still_apply(spark):
    empty = _read(spark).where(F.col("app_name") == "app-zz")
    assert empty.count() == 0
    # clicks predicate is NOT pushed — Spark must still apply it
    some = _read(spark, 4).where(F.col("clicks") > 0).collect()
    assert some and all(r.clicks > 0 for r in some)


def test_stream_equals_batch_row_for_row(spark):
    """availableNow over the stream reader drains the full day range and
    must reproduce the batch read exactly (the source-level
    batch/stream single-sourcing contract)."""
    from admob_data_pipeline_spark.streaming.alerts import run_available_now

    register_report_source(spark)
    stream = (
        spark.readStream.format("admob_report").option("n_days", 5).load()
    )
    got = run_available_now(stream, output_mode="append")
    batch = _read(spark, 5)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_writer_two_phase_commit_publishes_only_committed_rows(spark, tmp_path):
    """The sink must stage per-task files, publish them only at commit,
    list them in the _SUCCESS manifest with row counts, and drop
    empty-task spool files instead of publishing them."""
    import json
    import os

    register_report_source(spark)
    df = _read(spark, 3).repartition(4)  # > row groups → some empty tasks
    out = str(tmp_path / "sink")
    os.makedirs(out)
    df.write.format("admob_report").option("path", out).mode("append").save()
    with open(os.path.join(out, "_SUCCESS")) as fh:
        manifest = json.load(fh)
    assert sum(f["n_rows"] for f in manifest["files"]) == 3 * N_APPS * N_UNITS
    published = {f["file"] for f in manifest["files"]}
    on_disk = {
        f for f in os.listdir(out) if f.endswith(".jsonl")
    }
    assert published == on_disk  # nothing leaked, nothing missing
    staging = os.path.join(out, "_staging")
    assert not os.path.exists(staging) or not os.listdir(staging)


def test_stream_writer_commits_per_epoch_manifest(spark, tmp_path):
    """The streaming sink must publish each micro-batch under its own
    _SUCCESS_epoch_{id} manifest, rows covered exactly once across
    epochs, staging left empty."""
    import glob
    import json
    import os

    register_report_source(spark)
    out = str(tmp_path / "stream_sink")
    os.makedirs(out)
    stream = (
        spark.readStream.format("admob_report").option("n_days", 4).load()
    )
    q = (
        stream.writeStream.format("admob_report")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    manifests = glob.glob(os.path.join(out, "_SUCCESS_epoch_*"))
    assert manifests, "at least one epoch manifest"
    total = 0
    listed = set()
    for m in manifests:
        with open(m) as fh:
            for f in json.load(fh)["files"]:
                total += f["n_rows"]
                listed.add(f["file"])
    assert total == 4 * N_APPS * N_UNITS
    on_disk = {f for f in os.listdir(out) if f.endswith(".jsonl")}
    assert listed == on_disk
    staging = os.path.join(out, "_staging")
    assert not os.path.exists(staging) or not os.listdir(staging)


def test_writer_abort_cleans_staging(tmp_path):
    """abort() must remove every staged file the failed job left."""
    import os

    from admob_data_pipeline_spark.sources.report_datasource import (
        AdMobReportWriter,
        _SpoolCommit,
    )

    out = str(tmp_path / "sink")
    staging = os.path.join(out, "_staging")
    os.makedirs(staging)
    leftover = os.path.join(staging, "part-x.jsonl")
    open(leftover, "w").write("{}\n")
    AdMobReportWriter({"path": out}).abort([_SpoolCommit(leftover, 1), None])
    assert not os.path.exists(leftover)


def test_reader_rejects_nothing_it_cannot_honor():
    """pushFilters must return (by reference) every filter it does not
    fully honor — here an unsupported shape on a pushable column."""
    from pyspark.sql.datasource import GreaterThan, IsNotNull

    r = AdMobReportReader({"n_days": "10"})
    keep_a = IsNotNull(attribute=("date",))
    keep_b = GreaterThan(attribute=("clicks",), value=0)
    residual = list(r.pushFilters([keep_a, keep_b]))
    assert residual == [keep_a, keep_b]
    assert r.day_lo == 0 and r.day_hi == 9
