"""Structured Streaming rendition of the alert pipeline (SURVEY.md §2.9).

The reference has no streaming engine — its "streaming" is a twice-daily
cron re-running a batch query (Native CTR Alerts.yaml:4-6) with per-date
idempotent reload. The streaming-native equivalent expresses the same
computation over the ``events`` stream:

- :func:`daily_rates_stream` — tumbling 1-day event-time windows per
  app (event_type): the daily clicks/impressions fact the alert query
  consumes, maintained incrementally with ``withWatermark`` bounding
  state for late data.
- :func:`sessionize_stream` — gap-based ``session_window`` sessionization
  (the canonical custom stateful-op example; the built-in session window
  subsumes an ``applyInPandasWithState`` implementation for this shape).

Both run as ``trigger(availableNow=True)`` over the parquet-backed event
log, which is exactly how a production backfill replays the stream — the
same code serves continuous and catch-up execution. Complete output mode
is used for the finite-replay queries so every window is emitted
(append-mode + watermark late-data semantics are pinned separately in
tests/test_streaming.py).

Scale: state is keyed by (window, app) / (session, user) — partitioned
across executors by key; watermarks bound state size; parquet source
splits files across tasks.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from admob_data_pipeline_spark.functions.scalars import safe_divide
from admob_data_pipeline_spark.operators.util import (
    SESSION_GAP,
    SESSION_LABEL_SQL,
)
from admob_data_pipeline_spark.sources.scratch import scratch_dir
from admob_data_pipeline_spark.sources.tables import load_table

WATERMARK = "2 days"


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the parquet event log.

    A streaming source cannot infer schema, so it is taken from the RAW
    batch read (pre-normalization — the testdata's TIMESTAMP(NANOS) column
    surfaces as bigint nanos) and the same ts normalization as
    ``load_table`` is applied on the stream."""
    from admob_data_pipeline_spark.sources.tables import (
        _read_parquet_nanosafe,
        canonicalize,
    )

    raw = _read_parquet_nanosafe(spark, f"{sf_dir}/events.parquet")
    # the streaming file source requires a directory — point it at sf_dir
    # and glob-filter to the event log
    stream = (
        spark.readStream.schema(raw.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return canonicalize(stream, "events")


def daily_rates_stream(events: DataFrame, watermark: str = WATERMARK) -> DataFrame:
    """Tumbling 1-day windows per app: incremental version of the alert
    query's daily fact (clicks int-scaled exactly as the batch plan)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), F.col("event_type").alias("app_name"))
        .agg(
            F.sum(F.floor(F.col("value") * 1000).cast("long")).alias("clicks"),
            F.count(F.lit(1)).alias("impressions"),
        )
        .select(
            F.col("w.start").cast("date").alias("date"),
            "app_name",
            "clicks",
            "impressions",
            F.round(safe_divide(F.col("clicks"), F.col("impressions")), 6).alias("rate"),
        )
    )


def sessionize_stream(events: DataFrame, gap: str = SESSION_GAP) -> DataFrame:
    """Gap-based sessionization with the built-in session_window: events
    within ``gap`` of each other (per user) merge into one session."""
    return (
        events.groupBy(
            F.session_window("ts", gap).alias("w"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 1000).cast("long")).alias("value_milli"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("long").alias("session_start_epoch"),
            "n_events",
            "value_milli",
        )
    )


def run_available_now(stream_df: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Execute a finite replay of a streaming plan into a memory sink and
    return the materialized result as a (static) DataFrame. The memory
    table holds its rows on the driver and never reads the checkpoint
    again, so the checkpoint directory is removed once the replay ends."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    with scratch_dir() as checkpoint:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return stream_df.sparkSession.table(name)


def dedup_stream(events: DataFrame, watermark: str = WATERMARK) -> DataFrame:
    """Streaming deduplication: first event per (user, event_type, day),
    keyed on the projected columns so the surviving-row ambiguity of
    dropDuplicates never reaches the output (any winner yields the same
    row). The watermark bounds the dedup state: keys older than the
    watermark are evicted instead of accumulating forever — the property
    that makes streaming dedup viable on an unbounded 100 TB/day feed."""
    keyed = events.select(
        "user_id",
        "event_type",
        F.col("ts").alias("ts"),
        F.col("ts").cast("date").alias("day"),
    )
    return (
        keyed.withWatermark("ts", watermark)
        .dropDuplicates(["user_id", "event_type", "day"])
        .select("user_id", "event_type", "day")
    )


def _session_rows(events: DataFrame, gap: str = SESSION_GAP) -> DataFrame:
    """The ONE definition of batch session labeling (gap rule + running
    start count), shared by the sessionize rollup and the session-span
    builder so their session boundaries can never drift."""
    from pyspark.sql import Window as W

    gap_expr = F.expr(f"INTERVAL {gap}")
    w_lag = W.partitionBy("user_id").orderBy("ts", "event_id")
    # same total order as w_lag: with ts-only ordering, two same-timestamp
    # events where one starts a session would make assignment nondeterministic
    w_run = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    e = events.select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value") * 1000).cast("long").alias("vm"),
    ).withColumn(
        "is_new",
        (
            F.col("ts").cast("timestamp")
            - F.lag("ts").over(w_lag).cast("timestamp")
            > gap_expr
        )
        | F.lag("ts").over(w_lag).isNull(),
    )
    return e.withColumn("sess", F.sum(F.col("is_new").cast("int")).over(w_run))


def sessionize_batch(events: DataFrame, gap: str = SESSION_GAP) -> DataFrame:
    """Batch mirror of :func:`sessionize_stream` via window functions:
    a session starts when the per-user gap to the previous event exceeds
    ``gap``; session id = running count of starts. Same output schema and
    values as the streaming session_window plan — the two are
    cross-checked against the SAME oracle, pinning batch/streaming parity
    (the property that lets a backfill and the live stream share code)."""
    s = _session_rows(events, gap)
    return (
        s.groupBy("user_id", "sess")
        .agg(
            F.floor(F.min("ts").cast("double")).cast("long").alias(
                "session_start_epoch"
            ),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("vm").alias("value_milli"),
        )
        .select("user_id", "session_start_epoch", "n_events", "value_milli")
        .orderBy("user_id", "session_start_epoch")
    )


def session_spans(events: DataFrame, gap: str = SESSION_GAP) -> DataFrame:
    """Per-session [start, end] interval in exact integer microseconds —
    the interval-set view of the SAME session labeling as
    ``sessionize_batch`` (shared ``_session_rows``). Consumed by the
    interval-overlap join."""
    s = _session_rows(events, gap)
    return s.groupBy("user_id", "sess").agg(
        F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("s_start_us"),
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("s_end_us"),
    )


def stream_to_partitioned_table(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    partition_col: str = "date",
    output_mode: str = "complete",
) -> None:
    """foreachBatch sink with S8 semantics on a stream: every micro-batch
    REPLACES exactly the date partitions it contains (dynamic partition
    overwrite) instead of appending.

    This is the streaming rendition of the reference's idempotent per-date
    reload (native_CTR_alerts.py:182-212 DELETE+append): a re-delivered or
    re-run batch rewrites the same partitions, so end-to-end the sink is
    idempotent — the at-least-once delivery of foreachBatch composes to
    exactly-once table state. Checkpointing makes restarts resume from the
    last committed source offsets."""
    from admob_data_pipeline_spark.sinks.writers import overwrite_date_partitions

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        overwrite_date_partitions(batch_df, path, partition_col=partition_col)

    q = (
        stream_df.writeStream.foreachBatch(sink)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def enrich_stream(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-STATIC join + windowless aggregate: each event is enriched
    with its user's market segment from a static dimension table, then
    rolled up per segment — the lookup-enrichment shape every production
    stream runs (the reference's account-metadata lookup, main.py:59-63,
    done stream-side).

    The static side is broadcast: a stream-static join never buffers
    stream state for the static table, and the broadcast keeps the join
    map-side on every micro-batch — at cluster scale the dim refreshes
    per batch from its source, which is exactly the semantics a slowly-
    changing lookup wants. Complete-mode aggregate (finite replay)."""
    d = dim.select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    return (
        events.join(F.broadcast(d), "user_id")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 1000).cast("long")).alias("value_milli"),
            # exact count-distinct is not allowed on a stream (only
            # approx_count_distinct, whose HLL estimate an exact oracle
            # can't mirror) — last-seen epoch keeps a second, orderable
            # aggregate in the check instead
            F.floor(F.max("ts").cast("double")).cast("long").alias(
                "last_event_epoch"
            ),
        )
    )


ATTRIBUTION_WINDOW = "30 minutes"


def attribution_stream(
    events: DataFrame, window: str = ATTRIBUTION_WINDOW
) -> DataFrame:
    """Stream-stream inner join: each click joins the same user's view
    events from the preceding ``window`` (last-touch attribution).

    Both sides carry watermarks and the join predicate bounds view_ts to a
    finite interval around click_ts, so each side's buffered state is
    evicted once the watermark passes — the constraint that makes a
    stream-stream join runnable on an unbounded feed. Output is the raw
    (click, view) pair table; append mode."""
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", WATERMARK)
    )
    views = (
        events.where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", WATERMARK)
    )
    return clicks.join(
        views,
        F.expr(
            f"""
            c_user = v_user AND
            view_ts >= click_ts - INTERVAL {window} AND
            view_ts < click_ts
            """
        ),
    ).select("click_id", "view_id", F.col("c_user").alias("user_id"))


# ---------------------------------------------------------------- queries

def q_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize_batch(load_table(spark, sf_dir, "events"))


def q_streaming_sessionize_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization through the PRODUCTION sink path: the streaming plan
    runs via :func:`stream_to_partitioned_table` (foreachBatch + dynamic
    partition overwrite, streaming S8) and the query result is the TABLE
    READ BACK from disk — so the oracle checks the full write/read cycle,
    not a memory-sink shortcut.

    The partition date derives from the session-start epoch with
    ``date_from_unix_date`` (pure day arithmetic, session-TZ-independent —
    the driver compares on a vanilla session whose TZ we don't control).
    """
    sessions = sessionize_stream(_event_stream(spark, sf_dir)).withColumn(
        "date",
        F.expr("date_from_unix_date(CAST(session_start_epoch DIV 86400 AS INT))"),
    )
    with scratch_dir() as d:
        table = os.path.join(d, "table")
        stream_to_partitioned_table(sessions, table, os.path.join(d, "ckpt"))
        back = spark.read.parquet(table).select(
            "user_id",
            "session_start_epoch",
            "n_events",
            "value_milli",
            F.col("date").cast("date").alias("date"),
        )
        rows = back.collect()
    return spark.createDataFrame(rows, back.schema).orderBy(
        "user_id", "session_start_epoch"
    )


_ORACLE_SESSIONIZE_SINK = f"""
WITH {SESSION_LABEL_SQL}
SELECT user_id,
       CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS session_start_epoch,
       COUNT(*) AS n_events,
       CAST(SUM(vm) AS BIGINT) AS value_milli,
       DATE '1970-01-01'
           + CAST(CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) // 86400 AS INT) AS date
FROM slab
GROUP BY user_id, sess
ORDER BY user_id, session_start_epoch
"""


def q_streaming_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = run_available_now(
        attribution_stream(_event_stream(spark, sf_dir)), output_mode="append"
    )
    return out.orderBy("click_id", "view_id")


_ORACLE_ATTRIBUTION = """
SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id
FROM events c
JOIN events v
  ON v.user_id = c.user_id
 AND v.ts >= c.ts - INTERVAL 30 MINUTE
 AND v.ts < c.ts
WHERE c.event_type = 'click' AND v.event_type = 'view'
ORDER BY click_id, view_id
"""


def q_streaming_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) under finite
    replay: the event log is ONE file, so availableNow delivers ONE
    micro-batch and the per-key lifetime counters are deterministic
    (batch == cumulative) — which makes even the custom-state escape
    hatch oracle-checkable here. Multi-batch incremental behavior is
    pinned separately in tests/test_stateful_streaming.py."""
    from admob_data_pipeline_spark.streaming.stateful import cumulative_rates_stream

    out = run_available_now(
        cumulative_rates_stream(_event_stream(spark, sf_dir)), output_mode="update"
    )
    return out.orderBy("app_name")


_ORACLE_STATEFUL = """
SELECT event_type AS app_name,
       CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS batch_clicks,
       COUNT(*) AS batch_impressions,
       CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS cum_clicks,
       COUNT(*) AS cum_impressions,
       CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS DOUBLE) / COUNT(*) AS cum_rate
FROM events
GROUP BY event_type
ORDER BY app_name
"""


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = run_available_now(
        dedup_stream(_event_stream(spark, sf_dir)), output_mode="append"
    )
    return out.orderBy("user_id", "event_type", "day")


_ORACLE_STREAM_DEDUP = """
SELECT DISTINCT user_id, event_type, CAST(ts AS DATE) AS day
FROM events
ORDER BY user_id, event_type, day
"""


def q_streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = run_available_now(
        enrich_stream(
            _event_stream(spark, sf_dir), load_table(spark, sf_dir, "customer")
        )
    )
    return out.orderBy("segment")


_ORACLE_ENRICH = """
SELECT c_mktsegment AS segment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli,
       CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) AS last_event_epoch
FROM events JOIN customer ON user_id = c_custkey
GROUP BY segment
ORDER BY segment
"""


def q_streaming_kmv_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental sketch maintenance on a stream: every micro-batch
    computes per-group KMV partials and MERGES them into a persistent
    synopsis table via foreachBatch (read-merge-overwrite) — the pattern
    that keeps a 100 TB/day feed's distinct-count sketches current
    without ever rescanning history.

    Because the k-smallest merge is associative and the hash is
    deterministic md5, the final synopsis equals the batch sketch of the
    whole log — so the streamed, incrementally-merged estimate is
    oracle-checked EXACTLY against the from-scratch SQL computation."""
    from admob_data_pipeline_spark.operators.sketches import (
        _kmv_estimate,
        kmv_synopsis,
    )

    events = _event_stream(spark, sf_dir).select(
        F.col("event_type"), F.col("user_id").cast("string").alias("uid")
    )
    k = 64

    def merge(syn: DataFrame) -> DataFrame:
        return syn.groupBy("event_type").agg(
            F.slice(
                F.array_sort(F.array_distinct(F.flatten(F.collect_list("mins")))),
                1,
                k,
            ).alias("mins")
        )

    with scratch_dir() as d:
        syn = _merge_stream(
            events, lambda b: kmv_synopsis(b, "event_type", "uid", k), merge, d
        )
        rows = syn.select(
            "event_type",
            _kmv_estimate(F.col("mins"), k).alias("ndv_est"),
            (F.size("mins") < k).alias("is_exact"),
        ).collect()
    return spark.createDataFrame(
        rows, "event_type string, ndv_est double, is_exact boolean"
    ).orderBy("event_type")


_ORACLE_STREAM_KMV = """
WITH h AS (
    SELECT DISTINCT event_type AS g,
           CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13) AS BIGINT)
               / POWER(16, 13) AS h
    FROM events
),
ranked AS (
    SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn FROM h
),
agg AS (
    SELECT g, COUNT(*) AS n_mins, MAX(CASE WHEN rn = 64 THEN h END) AS h64
    FROM ranked WHERE rn <= 64 GROUP BY g
)
SELECT g AS event_type,
       CASE WHEN n_mins < 64 THEN CAST(n_mins AS DOUBLE)
            ELSE ROUND(63.0 / h64, 4) END AS ndv_est,
       n_mins < 64 AS is_exact
FROM agg
ORDER BY event_type
"""


def q_streaming_daily_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = run_available_now(daily_rates_stream(_event_stream(spark, sf_dir)))
    return out.orderBy("date", "app_name")


_ORACLE_DAILY_RATES = """
SELECT CAST(ts AS DATE) AS date,
       event_type AS app_name,
       CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS clicks,
       COUNT(*) AS impressions,
       ROUND(CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS DOUBLE)
             / NULLIF(COUNT(*), 0), 6) AS rate
FROM events
GROUP BY 1, 2
ORDER BY date, app_name
"""


def mediation_ecpm_stream(
    events: DataFrame, watermark: str = WATERMARK
) -> DataFrame:
    """Tumbling 1-day windows per ad source at the MEDIATION grain: the
    incremental twin of ``mediation_ecpm_rollup``'s leaf cells
    (sources/report_warehouse.py derivation — earnings in exact integer
    micros, eCPM by integer floor division so the stream and the batch
    warehouse produce bit-identical cells). Watermark bounds state per
    (day, source) key; a live mediation feed maintains the day's eCPM
    continuously instead of re-running the batch rollup."""
    from admob_data_pipeline_spark.sources.report_warehouse import (
        earn_micros_col,
        ecpm_micros_col,
        mediation_source_col,
    )

    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", "1 day").alias("w"),
            mediation_source_col().alias("ad_source"),
        )
        .agg(
            F.sum(earn_micros_col()).alias("earn_micros"),
            F.count(F.lit(1)).alias("impressions"),
        )
        .select(
            F.col("w.start").cast("date").alias("date"),
            "ad_source",
            "earn_micros",
            "impressions",
            ecpm_micros_col().alias("ecpm_micros"),
        )
    )


def q_streaming_mediation_ecpm(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = run_available_now(mediation_ecpm_stream(_event_stream(spark, sf_dir)))
    return out.orderBy("date", "ad_source")


_ORACLE_STREAM_MEDIATION_ECPM = """
SELECT CAST(ts AS DATE) AS date,
       'src' || CAST(user_id % 4 AS VARCHAR) AS ad_source,
       CAST(SUM(CAST(FLOOR(value * 1e6) AS BIGINT)) AS BIGINT) AS earn_micros,
       COUNT(*) AS impressions,
       CAST(SUM(CAST(FLOOR(value * 1e6) AS BIGINT)) * 1000
            // NULLIF(COUNT(*), 0) AS BIGINT) AS ecpm_micros
FROM events
GROUP BY 1, 2
ORDER BY date, ad_source
"""


def network_funnel_stream(
    events: DataFrame, watermark: str = WATERMARK
) -> DataFrame:
    """Tumbling 1-day windows per ad FORMAT at the NETWORK grain — the
    incremental (day, format) funnel. The batch query network_match_rate
    rolls the SAME warehouse up at the coarser (app, format) grain; what
    the two share is not the cell grid but the COLUMN DERIVATIONS
    (sources/report_warehouse.py network_*_col helpers — funnel counts
    in exact integers, match rate from the exact sums once per cell), so
    any daily cell this stream emits aggregates consistently into the
    batch rollup. Watermark bounds state per (day, format) key; a live
    report feed maintains the day's fill funnel continuously instead of
    re-running the batch rollup."""
    from admob_data_pipeline_spark.sources.report_warehouse import (
        network_ad_requests_col,
        network_format_col,
        network_impressions_col,
    )

    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", "1 day").alias("w"),
            network_format_col().alias("format"),
        )
        .agg(
            F.sum(network_ad_requests_col()).alias("ad_requests"),
            F.count(F.lit(1)).alias("matched_requests"),
            F.sum(network_impressions_col()).alias("impressions"),
        )
        .select(
            F.col("w.start").cast("date").alias("date"),
            "format",
            "ad_requests",
            "matched_requests",
            "impressions",
            F.round(
                F.col("matched_requests").cast("double")
                / F.nullif(F.col("ad_requests"), F.lit(0)),
                6,
            ).alias("match_rate"),
        )
    )


def q_streaming_network_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = run_available_now(network_funnel_stream(_event_stream(spark, sf_dir)))
    return out.orderBy("date", "format")


_ORACLE_STREAM_NETWORK_FUNNEL = """
SELECT CAST(ts AS DATE) AS date,
       (['Banner','Interstitial','Native advanced','Rewarded'])
           [CAST(event_id % 4 AS INT) + 1] AS format,
       CAST(SUM(1 + event_id % 3) AS BIGINT) AS ad_requests,
       COUNT(*) AS matched_requests,
       CAST(SUM(CASE WHEN event_id % 7 = 0 THEN 0 ELSE 1 END) AS BIGINT)
           AS impressions,
       ROUND(CAST(COUNT(*) AS DOUBLE)
             / NULLIF(SUM(1 + event_id % 3), 0), 6) AS match_rate
FROM events
GROUP BY 1, 2
ORDER BY date, format
"""


def _doc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the parquet document corpus — same
    schema-from-batch-read contract as ``_event_stream``, plus the batch
    reader's canonical-type casts so the stream twin cannot diverge from
    its batch sibling when the testdata generator changes a column's
    physical type."""
    from admob_data_pipeline_spark.sources.tables import (
        _read_parquet_nanosafe,
        canonicalize,
    )

    raw = _read_parquet_nanosafe(spark, f"{sf_dir}/documents.parquet")
    stream = (
        spark.readStream.schema(raw.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    return canonicalize(stream, "documents")


def q_streaming_curation_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite C4/Gopher curation gate run as a STREAM — the
    batch/stream single-sourcing contract proven on a third family
    (after the mediation eCPM and network funnel monitors): the gate is
    ``curation_gate_columns`` VERBATIM (operators/corpus.py), a pure
    stateless projection, so it streams in append mode with no
    watermark and no state store — the shape an ingest-time curation
    filter runs at 100 TB/day (each arriving file is gated as it lands;
    nothing accumulates). Cells are identical to the batch
    ``curation_gate`` by construction, and the oracle IS the batch
    oracle."""
    from admob_data_pipeline_spark.operators.corpus import (
        curation_gate_columns,
    )

    out = run_available_now(
        curation_gate_columns(_doc_stream(spark, sf_dir)),
        output_mode="append",
    )
    return out.orderBy("doc_id")


def q_streaming_quality_classifier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The hashed-linear quality classifier run as a STREAM — like the
    streaming curation gate, ``quality_classifier_columns`` VERBATIM
    over the document readStream in append mode (stateless inference:
    no watermark, no state store — score-at-ingest), so the cells are
    identical to the batch query by construction and the oracle IS the
    batch oracle."""
    from admob_data_pipeline_spark.operators.corpus import (
        quality_classifier_columns,
    )

    out = run_available_now(
        quality_classifier_columns(_doc_stream(spark, sf_dir)),
        output_mode="append",
    )
    return out.orderBy("doc_id")


def _curation_oracle() -> str:
    from admob_data_pipeline_spark.operators import corpus

    return corpus._ORACLE_CURATION_GATE


def _classifier_oracle() -> str:
    from admob_data_pipeline_spark.operators import corpus

    return corpus._ORACLE_QUALITY_CLASSIFIER


def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = run_available_now(sessionize_stream(_event_stream(spark, sf_dir)))
    return out.orderBy("user_id", "session_start_epoch")


# Gap-sessionization in SQL: a new session starts when the gap to the
# previous event (per user) exceeds SESSION_GAP; session id = running count
# of session starts; session start = min(ts) per (user, session id).
_ORACLE_SESSIONIZE = f"""
WITH {SESSION_LABEL_SQL}
SELECT user_id,
       CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS session_start_epoch,
       COUNT(*) AS n_events,
       CAST(SUM(vm) AS BIGINT) AS value_milli
FROM slab
GROUP BY user_id, sess
ORDER BY user_id, session_start_epoch
"""


def _merge_stream(
    stream_df: DataFrame,
    partial: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame], DataFrame],
    d: str,
) -> DataFrame:
    """Shared read-merge-overwrite foreachBatch sink: each micro-batch is
    reduced by ``partial(batch)``, unioned with the persistent parquet
    state under ``d``, reduced again by ``merge`` and overwritten. The
    stream drains with ``availableNow``; the final state is returned as a
    frame over ``d``, so the caller collects it before ``d`` goes.

    When ``merge`` is associative (a SUM, a k-smallest union) the state
    equals the from-scratch batch rollup regardless of batch boundaries
    or arrival order — which is what lets the streaming top-k / PSI /
    EWMA / KMV queries share their batch oracles verbatim. State stays
    rollup-sized by each caller's contract; a micro-batch shuffles only
    its own distinct keys."""
    table = os.path.join(d, "state")

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sp = batch_df.sparkSession
        state = partial(batch_df)
        # Merge prior state only when the table has been written: a
        # blanket except would treat a transient/corrupt read on batch N
        # as "first batch" and silently discard the accumulated state —
        # any real read error must fail the stream.
        if os.path.isdir(table) and any(
            f.name.endswith(".parquet") or f.name == "_SUCCESS"
            for f in os.scandir(table)
        ):
            state = state.unionByName(sp.read.parquet(table))
        merged = merge(state)
        rows = merged.collect()  # rollup-sized by caller contract
        sp.createDataFrame(rows, merged.schema).write.mode("overwrite").parquet(
            table
        )

    q = (
        stream_df.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", os.path.join(d, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.read.parquet(table)


def _sums(keys: list[str], cols: list[str]) -> Callable[[DataFrame], DataFrame]:
    """``groupBy(keys)`` + SUM over ``cols``: the additive partial and
    merge of :func:`_merge_stream`."""
    return lambda df: df.groupBy(*keys).agg(*[F.sum(c).alias(c) for c in cols])


def q_streaming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental top-k maintenance on a stream: each micro-batch's
    per-(app, user) counts MERGE additively into a persistent counts
    table (shared ``_merge_stream`` sink), and the final read
    ranks the top 3 users per app. Count merge is associative, so the
    streamed result is oracle-checked EXACTLY against the from-scratch
    batch ranking.

    Scale: state is the (app, user, n) table — partial-aggregated per
    batch before the merge read, so a micro-batch shuffles only its own
    distinct keys; ranking happens once at read time, not per batch."""
    events = _event_stream(spark, sf_dir).select(
        "event_type", "user_id", F.lit(1).cast("long").alias("n")
    )
    counts = _sums(["event_type", "user_id"], ["n"])
    w = Window.partitionBy("event_type").orderBy(F.desc("n"), "user_id")
    with scratch_dir() as d:
        state = _merge_stream(events, counts, counts, d)
        rows = (
            state.withColumn("rank", F.row_number().over(w).cast("int"))
            .where(F.col("rank") <= 3)
            .collect()
        )
    return spark.createDataFrame(
        rows, "event_type string, user_id long, n long, rank int"
    ).orderBy("event_type", "rank")


_ORACLE_STREAM_TOPK = """
WITH c AS (
    SELECT event_type, user_id, COUNT(*) AS n
    FROM events GROUP BY event_type, user_id
),
r AS (
    SELECT event_type, user_id, n,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY n DESC, user_id) AS rank
    FROM c
)
SELECT event_type, user_id, CAST(n AS BIGINT) AS n, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 3
ORDER BY event_type, rank
"""


def q_streaming_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the hot-key audit: per-user counts MERGE
    additively into a persistent table via foreachBatch; the scoring
    (ppm share, mean-relative ratio, top-k) runs once at read time
    through the SAME ``skew_audit_from_counts`` as the batch query —
    the fourth batch/stream single-sourcing family (after EWMA, PSI and
    the curation gate), oracle-checked against the batch oracle
    VERBATIM. Operationally this is the live form: skew is watched on
    the ingest stream so the salting decision (ATTR_SALT_BUCKETS) can
    move before the nightly batch job falls over.

    Scale: state is the (user_id, n) rollup, partial-aggregated per
    batch; top-k scoring never runs per micro-batch."""
    from admob_data_pipeline_spark.plans.analytics_ext import (
        skew_audit_from_counts,
    )

    events = _event_stream(spark, sf_dir).select(
        "user_id", F.lit(1).cast("long").alias("n_events")
    )
    counts = _sums(["user_id"], ["n_events"])
    with scratch_dir() as d:
        state = _merge_stream(events, counts, counts, d)
        rows = skew_audit_from_counts(state).collect()
    return spark.createDataFrame(
        rows,
        "user_id long, n_events long, share_ppm long, skew_ratio_x1000 long",
    ).orderBy(F.desc("n_events"), "user_id")


def q_streaming_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor: each micro-batch's per-(event_type,
    window) counts MERGE additively into a persistent counts table via
    foreachBatch (read-merge-overwrite, the KMV-synopsis sink pattern);
    PSI is computed once at read time from the merged counts
    (plans/analytics_ext.psi_from_counts). Count merge is associative,
    so the streamed PSI is oracle-checked EXACTLY against the batch
    ``drift_psi`` — same oracle SQL.

    The baseline boundary (first PSI_BASE_DAYS days) is resolved from
    the static table at query build: in production the baseline window
    is fixed config, not something a stream discovers.

    Scale: state is |event types| rows; each micro-batch shuffles only
    its own partial counts before the tiny merge."""
    from admob_data_pipeline_spark.plans.analytics_ext import (
        PSI_BASE_DAYS,
        psi_from_counts,
    )

    static = load_table(spark, sf_dir, "events")
    d0 = static.agg(F.min(F.col("ts").cast("date")).alias("d0")).collect()[0].d0
    is_base = F.datediff(F.col("ts").cast("date"), F.lit(d0)) < PSI_BASE_DAYS
    events = _event_stream(spark, sf_dir).select(
        "event_type",
        F.when(is_base, 1).otherwise(0).cast("long").alias("n_base"),
        F.when(~is_base, 1).otherwise(0).cast("long").alias("n_cur"),
    )
    counts = _sums(["event_type"], ["n_base", "n_cur"])
    with scratch_dir() as d:
        state = _merge_stream(events, counts, counts, d)
        rows = psi_from_counts(state).collect()
    return spark.createDataFrame(
        rows, "event_type string, n_base long, n_cur long, psi_e6 long"
    ).orderBy("event_type")


def q_streaming_ewma_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EWMA spike detector: each micro-batch's per-(type, day)
    int-scaled revenue sums MERGE additively into a persistent daily
    rollup via foreachBatch (read-merge-overwrite, the KMV-synopsis sink
    pattern); the truncated-EWMA finalization
    (operators/stats.ewma_from_daily) runs once at read time. Daily-sum
    merge is associative, so the streamed result is oracle-checked
    EXACTLY against the batch ``ewma_spikes`` — same oracle SQL.

    Scale: state is the (type, day) rollup — calendar-bounded; each
    micro-batch shuffles only its own partial sums before the tiny
    merge."""
    from admob_data_pipeline_spark.operators.stats import (
        VALUE_SCALE,
        ewma_from_daily,
    )

    events = _event_stream(spark, sf_dir).select(
        F.col("event_type").alias("g"),
        F.col("ts").cast("date").alias("d"),
        F.floor(F.col("value") * VALUE_SCALE).cast("long").alias("vm"),
    )
    daily = _sums(["g", "d"], ["vm"])
    with scratch_dir() as d:
        state = _merge_stream(events, daily, daily, d)
        rows = ewma_from_daily(state).collect()
    return spark.createDataFrame(
        rows,
        "event_type string, d date, vm long, ewma_num long,"
        " ratio_ppm long, is_spike int",
    ).orderBy("event_type", "d")


def _ewma_oracle() -> str:
    from admob_data_pipeline_spark.operators import stats

    return stats._ORACLE_EWMA


LATE_DELAY = "47 hours"  # deliberately NOT a whole number of days: the
# watermark never coincides with a window boundary, so the oracle's
# window_end ≤ watermark rule is robust to <=-vs-< boundary conventions
LATE_MOD = 5  # batch 2 = event_id % 5 == 0 (arrives after batch 1)


def q_streaming_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK SEMANTICS, oracle-pinned end-to-end: the exact rows a
    windowed streaming aggregation keeps vs drops under late arrivals —
    the one behavior every production streaming pipeline must be able to
    predict, here made value-hash-checkable.

    Three availableNow runs over ONE checkpoint (watermark state
    persists between runs, exactly a restarted production job):

    1. batch 1 (event_id % 5 ≠ 0) arrives → daily windows aggregate;
       append mode emits every window whose end ≤ W1 = max(ts₁) − 47h
       and EVICTS its state.
    2. batch 2 (the % 5 == 0 rows) arrives LATE: its rows for evicted
       windows are dropped (state is gone — the late-data drop), while
       rows for still-open windows join the live state.
    3. a sentinel row 5 days past the log's end pushes the watermark
       over every real window, flushing the open ones (their counts now
       INCLUDE batch 2); the sentinel's own window stays open forever
       and never emits.

    The oracle reproduces the rule in SQL: a day's count is batch-1-only
    if its window closed before batch 2 arrived, full otherwise — so a
    broken eviction (late rows resurrect a closed window), a missed
    drop, or an over-eager flush all fail the hash.

    Scale: the aggregation state is bounded by the watermark horizon
    (days within 47h of the max event time) — the property that makes
    windowed aggregation viable on an unbounded feed."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")

    def run(src: str, out: str, ck: str) -> None:
        sch = spark.read.parquet(src).schema
        q = (
            spark.readStream.schema(sch)
            .parquet(src)
            .withWatermark("ts", LATE_DELAY)
            .groupBy(F.window("ts", "1 day").alias("w"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.floor(F.col("value") * 1000).cast("long")).alias(
                    "value_milli"
                ),
            )
            .select(
                F.col("w.start").cast("date").alias("day"),
                "n_events",
                "value_milli",
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    with scratch_dir() as d:
        src, out, ck = (os.path.join(d, p) for p in ("src", "out", "ck"))
        ev.where(F.col("event_id") % LATE_MOD != 0).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        run(src, out, ck)
        ev.where(F.col("event_id") % LATE_MOD == 0).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        run(src, out, ck)
        # the sentinel: ts far past the log, value 0 — flushes every
        # real window, never emits itself
        ev.agg(
            F.lit(-1).cast("long").alias("event_id"),
            (F.max("ts") + F.expr("INTERVAL 5 DAYS")).alias("ts"),
            F.lit(0.0).alias("value"),
        ).coalesce(1).write.mode("append").parquet(src)
        run(src, out, ck)
        rows = spark.read.parquet(out).orderBy("day").collect()
    return spark.createDataFrame(
        rows, "day date, n_events bigint, value_milli bigint"
    )


_ORACLE_LATE_AUDIT = f"""
WITH w1 AS (
    SELECT MAX(ts) - INTERVAL 47 HOUR AS w FROM events
    WHERE event_id % {LATE_MOD} <> 0
),
counts AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           COUNT(*) FILTER (WHERE event_id % {LATE_MOD} <> 0) AS n_b1,
           CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT))
                FILTER (WHERE event_id % {LATE_MOD} <> 0) AS BIGINT) AS v_b1,
           COUNT(*) AS n_all,
           CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS v_all
    FROM events GROUP BY day
)
SELECT day,
       CASE WHEN day + INTERVAL 1 DAY <= (SELECT w FROM w1)
            THEN n_b1 ELSE n_all END AS n_events,
       CASE WHEN day + INTERVAL 1 DAY <= (SELECT w FROM w1)
            THEN v_b1 ELSE v_all END AS value_milli
FROM counts
ORDER BY day
"""


QUERIES = {
    "streaming_late_data_audit": q_streaming_late_data_audit,
    "streaming_ewma_spikes": q_streaming_ewma_spikes,
    "streaming_drift_psi": q_streaming_drift_psi,
    "streaming_topk": q_streaming_topk,
    "streaming_stateful_rates": q_streaming_stateful,
    "sessionize_batch": q_sessionize_batch,
    "streaming_sessionize_sink": q_streaming_sessionize_sink,
    "streaming_attribution": q_streaming_attribution,
    "streaming_dedup": q_streaming_dedup,
    "streaming_daily_rates": q_streaming_daily_rates,
    "streaming_mediation_ecpm": q_streaming_mediation_ecpm,
    "streaming_network_funnel": q_streaming_network_funnel,
    "streaming_curation_gate": q_streaming_curation_gate,
    "streaming_quality_classifier": q_streaming_quality_classifier,
    "streaming_sessionize": q_streaming_sessionize,
    "streaming_enrich": q_streaming_enrich,
    "streaming_kmv_sink": q_streaming_kmv_sink,
    "streaming_skew_audit": q_streaming_skew_audit,
}

def _psi_oracle() -> str:
    from admob_data_pipeline_spark.plans import analytics_ext

    return analytics_ext._ORACLE_PSI


def _skew_oracle() -> str:
    from admob_data_pipeline_spark.plans import analytics_ext

    return analytics_ext._ORACLE_SKEW_AUDIT


ORACLES = {
    "streaming_late_data_audit": _ORACLE_LATE_AUDIT,
    "streaming_ewma_spikes": _ewma_oracle(),
    "streaming_drift_psi": _psi_oracle(),
    "streaming_skew_audit": _skew_oracle(),
    "streaming_topk": _ORACLE_STREAM_TOPK,
    "streaming_stateful_rates": _ORACLE_STATEFUL,
    "sessionize_batch": _ORACLE_SESSIONIZE,
    "streaming_sessionize_sink": _ORACLE_SESSIONIZE_SINK,
    "streaming_attribution": _ORACLE_ATTRIBUTION,
    "streaming_dedup": _ORACLE_STREAM_DEDUP,
    "streaming_daily_rates": _ORACLE_DAILY_RATES,
    "streaming_mediation_ecpm": _ORACLE_STREAM_MEDIATION_ECPM,
    "streaming_network_funnel": _ORACLE_STREAM_NETWORK_FUNNEL,
    "streaming_curation_gate": _curation_oracle(),
    "streaming_quality_classifier": _classifier_oracle(),
    "streaming_sessionize": _ORACLE_SESSIONIZE,
    "streaming_enrich": _ORACLE_ENRICH,
    "streaming_kmv_sink": _ORACLE_STREAM_KMV,
}
