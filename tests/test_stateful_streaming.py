"""applyInPandasWithState: state must carry across micro-batches."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from admob_data_pipeline_spark.sources.tables import load_table
from admob_data_pipeline_spark.streaming.stateful import cumulative_rates_stream


def test_state_accumulates_across_microbatches(spark, sf_dir, tmp_path):
    # split events into 3 files → 3 micro-batches (maxFilesPerTrigger=1)
    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "stream_src")
    for part in range(3):  # three separate files → three micro-batches
        events.where(F.col("event_id") % 3 == part).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = cumulative_rates_stream(stream)
    name = f"mem_{uuid.uuid4().hex[:10]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table(name).collect()

    # multiple batches → several emissions per app, cumulative monotone
    by_app = {}
    for r in rows:
        by_app.setdefault(r.app_name, []).append(r)
    totals = {
        r.app_name: (r.cum_clicks, r.cum_impressions)
        for rs in by_app.values()
        for r in [max(rs, key=lambda x: x.cum_impressions)]
    }
    batch = (
        events.groupBy(F.col("event_type").alias("app_name"))
        .agg(
            F.sum(F.floor(F.col("value") * 1000).cast("long")).alias("clicks"),
            F.count(F.lit(1)).alias("impr"),
        )
        .collect()
    )
    want = {r.app_name: (r.clicks, r.impr) for r in batch}
    assert totals == want  # final state equals the batch ground truth
    assert all(len(rs) > 1 for rs in by_app.values())  # state crossed batches
    for rs in by_app.values():
        rs.sort(key=lambda x: x.cum_impressions)
        # cumulative counters are the running sum of batch deltas
        run = 0
        for r in rs:
            run += r.batch_impressions
            assert r.cum_impressions == run


def test_tws_matches_legacy_api_when_protobuf_available(spark, sf_dir):
    """transformWithStateInPandas needs google.protobuf (absent in this
    container — the TWS driver worker speaks a protobuf state protocol).
    Auto-activates when the dependency appears; until then the legacy
    applyInPandasWithState form is the registered operator."""
    import pytest

    pytest.importorskip("google.protobuf.descriptor")
    from admob_data_pipeline_spark.streaming.alerts import (
        _event_stream,
        run_available_now,
    )
    from admob_data_pipeline_spark.streaming.stateful import (
        cumulative_rates_stream,
        cumulative_rates_tws,
    )

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    new = run_available_now(
        cumulative_rates_tws(_event_stream(spark, sf_dir)), output_mode="update"
    )
    old = run_available_now(
        cumulative_rates_stream(_event_stream(spark, sf_dir)), output_mode="update"
    )
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, old.collect()))
