"""Extended analytics shapes beyond the reference's own query family.

The reference's only analytic query is the CTR-anomaly join
(native_CTR_alerts.py:215-268); a user replacing BigQuery with this engine
will run the rest of the warehouse-query spectrum against the same tables.
This module holds those queries: calendar GROUPING SETS and rollups, the
mediation- and network-grain report warehouses with their CTR alert,
user-journey analytics (cohorts, funnels, transitions, RFM, multi-touch
attribution), statistical audits (quantiles, drift, KS, chi-square, Gini,
changepoints), incremental view maintenance, and the report API read and
written as a Python DataSource.

Scale note (100 TB): every fact-side aggregate is an integer sum over
per-row ``FLOOR(x*100)`` cents — exact, order-independent,
partial-aggregatable map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from admob_data_pipeline_spark.operators.util import SESSION_LABEL_SQL
from admob_data_pipeline_spark.sources.scratch import scratch_dir
from admob_data_pipeline_spark.sources.tables import load_table


def _cents(col: str) -> F.Column:
    return F.floor(F.col(col) * 100).cast("long")


def _rev_cents() -> F.Column:
    return F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    )


# --- GROUPING SETS over calendar dims -------------------------------------
def q_grouping_sets_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly totals, weekly totals, and the grand total in ONE scan via
    GROUPING SETS ((month), (week), ()) — the grouping-set generalization
    of the reference's precomputed MONTH/WEEK dims (main.py:127-130).
    Spark expands the sets map-side (Expand node) before one partial+final
    aggregate; three separate group-bys would be three scans."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM").alias("month"),
        F.date_format(
            F.date_trunc("week", F.col("o_orderdate")).cast("date"), "yyyy-MM-dd"
        ).alias("week"),
        _cents("o_totalprice").alias("price_c"),
    )
    return (
        base.groupingSets(
            [[F.col("month")], [F.col("week")], []], F.col("month"), F.col("week")
        )
        .agg(
            F.grouping("month").cast("int").alias("g_month"),
            F.grouping("week").cast("int").alias("g_week"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price_c").alias("revenue_cents"),
        )
        .select("month", "week", "g_month", "g_week", "n_orders", "revenue_cents")
        .orderBy("g_month", "g_week", "month", "week")
    )


_ORACLE_GSETS = """
SELECT month, week,
       CAST(GROUPING(month) AS INTEGER) AS g_month,
       CAST(GROUPING(week) AS INTEGER) AS g_week,
       COUNT(*) AS n_orders,
       CAST(SUM(price_c) AS BIGINT) AS revenue_cents
FROM (
    SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
           strftime(CAST(date_trunc('week', o_orderdate) AS DATE), '%Y-%m-%d') AS week,
           CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_c
    FROM orders
)
GROUP BY GROUPING SETS ((month), (week), ())
ORDER BY g_month, g_week, month, week
"""


# --- runtime bloom-filter join --------------------------------------------
def q_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective dimension filter (urgent orders, one month) joined to the
    lineitem fact with Spark's runtime bloom-filter injection enabled: the
    optimizer builds a bloom filter from the filtered orders side and
    applies it to the lineitem scan BEFORE the shuffle, so at 100 TB the
    fact side ships only ~the matching 1/60th of rows. Locally the small
    side broadcasts anyway; the conf documents the at-scale plan."""
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderpriority") == "1-URGENT")
        & F.col("o_orderdate").between(F.lit("1997-03-01"), F.lit("1997-03-31 23:59:59"))
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.sum(_rev_cents()).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("o_orderstatus")
    )


_ORACLE_BLOOM = """
SELECT o_orderstatus,
       CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
            AS BIGINT) AS revenue_cents,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
  AND o_orderdate BETWEEN TIMESTAMP '1997-03-01 00:00:00'
                      AND TIMESTAMP '1997-03-31 23:59:59'
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


# --- heavy hitters (frequent items) ---------------------------------------
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users contributing more than 1/200th of all events — the exact
    frequent-items analytic. The support threshold stays in the integer
    domain (``n·200 > total``: exact BIGINT on both engines). One keyed
    aggregate (map-side partial) + a broadcast one-row total; at 100 TB a
    Misra-Gries per-partition pre-filter drops in front of the same plan
    to bound the keyed shuffle, with this exact form as the verifier."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    total = per_user.agg(F.sum("n_events").alias("total"))
    return (
        per_user.crossJoin(F.broadcast(total))
        .where(F.col("n_events") * 200 > F.col("total"))
        .select("user_id", "n_events")
        .orderBy(F.desc("n_events"), "user_id")
    )


_ORACLE_HEAVY = """
WITH per_user AS (
    SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
), t AS (
    SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM per_user
)
SELECT user_id, n_events
FROM per_user, t
WHERE n_events * 200 > total
ORDER BY n_events DESC, user_id
"""


# --- incremental rollup maintenance ---------------------------------------
def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: a monthly revenue rollup kept as
    base (history) + delta (new arrivals), merged by re-aggregating the
    two partial states — never rescanning history at raw grain.

    Correct because the aggregate state (count, integer cent-sum) is
    associative/commutative; the oracle is the from-scratch full-range
    aggregate, so the test pins merge ≡ recompute. At 100 TB this is the
    daily-close pattern: the base rollup is a few thousand rows, the delta
    scan touches only the new date partitions (partition pruning)."""
    o = load_table(spark, sf_dir, "orders")
    month = F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM").alias("month")
    cutoff = F.lit("1997-06-01")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(month).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_cents("o_totalprice")).alias("revenue_cents"),
        )

    base = rollup(o.where(F.col("o_orderdate") < cutoff))
    delta = rollup(o.where(F.col("o_orderdate") >= cutoff))
    return (
        base.unionByName(delta)
        .groupBy("month")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("revenue_cents").alias("revenue_cents"),
        )
        .orderBy("month")
    )


_ORACLE_INCR_ROLLUP = """
SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents
FROM orders
GROUP BY month
ORDER BY month
"""


# --- cohort retention ------------------------------------------------------
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention matrix: users grouped by first-activity day
    (cohort), counted by how many days after that first day they were
    active. Two keyed aggregates + one join co-partitioned on user_id —
    the first-day frame re-shuffles on the same key the activity frame
    already hashes on, so AQE plans the join without an extra exchange
    of the (larger) activity side."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    activity = ev.distinct()
    first = activity.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        activity.join(first, "user_id")
        .groupBy("cohort_day", F.datediff("day", "cohort_day").alias("offset_days"))
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_day", "offset_days")
    )


_ORACLE_COHORT = """
WITH activity AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), first AS (
    SELECT user_id, MIN(day) AS cohort_day FROM activity GROUP BY user_id
)
SELECT cohort_day,
       CAST(day - cohort_day AS INTEGER) AS offset_days,
       COUNT(*) AS n_users
FROM activity JOIN first USING (user_id)
GROUP BY cohort_day, offset_days
ORDER BY cohort_day, offset_days
"""


# --- funnel conversion -----------------------------------------------------
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-step funnel: per user, did signup → view → purchase occur
    in timestamp order? One conditional aggregate computes each user's
    first time per step (three min-CASEs in a single groupBy — one scan,
    one shuffle, no per-step self-joins), then a one-row summary counts
    completion of each prefix. Ordering ties are broken strictly: a later
    step must be strictly after the previous step's first occurrence."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t1"),
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t2"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t3"),
    )
    s1 = F.col("t1").isNotNull()
    s2 = s1 & F.col("t2").isNotNull() & (F.col("t2") > F.col("t1"))
    s3 = s2 & F.col("t3").isNotNull() & (F.col("t3") > F.col("t2"))
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(s1.cast("long")).alias("n_signup"),
        F.sum(s2.cast("long")).alias("n_signup_view"),
        F.sum(s3.cast("long")).alias("n_signup_view_purchase"),
    )


_ORACLE_FUNNEL = """
WITH per_user AS (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t1,
           MIN(CASE WHEN event_type = 'view' THEN ts END) AS t2,
           MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t3
    FROM events GROUP BY user_id
)
SELECT COUNT(*) AS n_users,
       CAST(SUM(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(SUM(CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL AND t2 > t1
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_signup_view,
       CAST(SUM(CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL AND t2 > t1
                      AND t3 IS NOT NULL AND t3 > t2
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_signup_view_purchase
FROM per_user
"""


# --- time-series gap filling (calendar densification) ---------------------
def q_resample_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: daily event counts with missing days filled as 0
    over the type's own [min, max] date range — resample/gap-fill, the
    prerequisite for any rolling-window metric over sparse activity.

    The calendar is generated from the aggregate (sequence + explode of
    per-type day spans), never driver-side: the dense frame is
    |types| × |days| rows built map-side from a |types|-row input, then a
    broadcast left join attaches the sparse counts. No shuffle touches
    the dense side at all when |types| is dimension-sized."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("ts").cast("date").alias("day")
    )
    counts = ev.groupBy("event_type", "day").agg(F.count(F.lit(1)).alias("n_events"))
    spans = counts.groupBy("event_type").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    calendar = spans.select(
        "event_type",
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("day"),
    )
    return (
        calendar.join(F.broadcast(counts), ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
        )
        .orderBy("event_type", "day")
    )


_ORACLE_RESAMPLE = """
WITH counts AS (
    SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n_events
    FROM events GROUP BY event_type, CAST(ts AS DATE)
), spans AS (
    SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
    FROM counts GROUP BY event_type
), calendar AS (
    SELECT event_type, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
    FROM spans
)
SELECT c.event_type, c.day,
       CAST(COALESCE(n.n_events, 0) AS BIGINT) AS n_events
FROM calendar c
LEFT JOIN counts n ON c.event_type = n.event_type AND c.day = n.day
ORDER BY c.event_type, c.day
"""


# --- report-domain ROLLUP --------------------------------------------------
def q_report_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (app, unit) over the reference's report grain: per-unit
    rows, per-app subtotals, and the network grand total in ONE scan —
    the hierarchy drill-up a report UI issues against the daily fact
    (native_CTR_alerts.py materializes only the leaf grain; the rollup is
    what BigQuery computed for it upstream).

    Scale: Expand + single partial/final hash aggregate; the fact never
    shuffles more than once, grouping keys are low-cardinality."""
    from admob_data_pipeline_spark.operators import alerts

    fact = alerts.daily_fact(load_table(spark, sf_dir, "events"))
    return (
        fact.rollup("app_name", "ad_unit_name")
        .agg(
            F.grouping("app_name").cast("int").alias("g_app"),
            F.grouping("ad_unit_name").cast("int").alias("g_unit"),
            F.count(F.lit(1)).alias("impressions"),
            F.sum("clicks").alias("clicks"),
        )
        .select("app_name", "ad_unit_name", "g_app", "g_unit", "impressions", "clicks")
        .orderBy("g_app", "g_unit", "app_name", "ad_unit_name")
    )


_ORACLE_REPORT_ROLLUP = """
SELECT app_name, ad_unit_name,
       CAST(GROUPING(app_name) AS INTEGER) AS g_app,
       CAST(GROUPING(ad_unit_name) AS INTEGER) AS g_unit,
       COUNT(*) AS impressions,
       CAST(SUM(clicks) AS BIGINT) AS clicks
FROM (
    SELECT event_type AS app_name,
           'u' || CAST(user_id % 8 AS VARCHAR) AS ad_unit_name,
           CAST(FLOOR(value * 1000) AS BIGINT) AS clicks
    FROM events
)
GROUP BY ROLLUP (app_name, ad_unit_name)
ORDER BY g_app, g_unit, app_name, ad_unit_name
"""


# --- shuffle-skew stress join ----------------------------------------------
def q_skew_stress_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deliberate heavy-skew shuffle join: ~90% of lineitem rows are routed
    to ONE order key, then joined to orders (both sides large → sort-merge)
    and aggregated per priority. Correctness must be partition-layout-
    independent while AQE's skew-join splitting keeps the hot key from
    serializing one task — the executed-plan property is pinned in
    tests/test_skew.py, and this query keeps the END RESULT oracle-checked
    at every sf (salting changes plans, never answers)."""
    from admob_data_pipeline_spark.operators.util import widen_if_narrow

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    # widen_if_narrow: AQE's skew split works at map-chunk granularity, so a
    # single-mapper local read leaves the hot partition unsplittable (the
    # rule logs `skewed partitions: 0` however large the key). A cluster
    # read has thousands of mappers — this is a no-op there.
    routed = widen_if_narrow(
        li.select(
            F.when(F.col("l_orderkey") % 10 < 9, F.lit(1))
            .otherwise(F.col("l_orderkey"))
            .cast("long")
            .alias("route_key"),
            _rev_cents().alias("rev_c"),
        )
    )
    joined = routed.join(o, routed.route_key == o.o_orderkey)
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("rev_c").alias("revenue_cents"),
        )
        .orderBy("o_orderpriority")
    )


_ORACLE_SKEW_STRESS = """
WITH routed AS (
    SELECT CASE WHEN l_orderkey % 10 < 9 THEN 1 ELSE l_orderkey END AS route_key,
           CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS rev_c
    FROM lineitem
)
SELECT o.o_orderpriority,
       COUNT(*) AS n_rows,
       CAST(SUM(r.rev_c) AS BIGINT) AS revenue_cents
FROM routed r JOIN orders o ON r.route_key = o.o_orderkey
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


# --- event-transition matrix (Markov chain over user journeys) -------------
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order transition matrix over per-user event sequences: for
    each (from_type, to_type) pair, how often one follows the other and
    the within-from probability — the product-analytics "user journey"
    aggregate (no reference analogue; the events table is this engine's
    behavioral log).

    Scale: one window pass per user (lead over (ts, event_id) — total
    order, so partition-layout-independent) + one small aggregate; the
    probability is a quotient of two exact bigints."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    totals = pairs.groupBy("from_type").agg(
        F.sum("n_transitions").alias("n_from")
    )
    return (
        pairs.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            (F.col("n_transitions") / F.col("n_from")).alias("prob"),
        )
        .orderBy("from_type", "to_type")
    )


_ORACLE_TRANSITIONS = """
WITH seq AS (
    SELECT user_id, event_type AS from_type,
           LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS to_type
    FROM events
),
pairs AS (
    SELECT from_type, to_type, COUNT(*) AS n_transitions
    FROM seq WHERE to_type IS NOT NULL
    GROUP BY from_type, to_type
),
totals AS (
    SELECT from_type, CAST(SUM(n_transitions) AS BIGINT) AS n_from
    FROM pairs GROUP BY from_type
)
SELECT p.from_type, p.to_type, p.n_transitions,
       p.n_transitions / n_from AS prob
FROM pairs p JOIN totals USING (from_type)
ORDER BY from_type, to_type
"""


# --- sliding event-time windows --------------------------------------------
def q_sliding_window_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day metrics recomputed every day via Spark's built-in
    sliding ``window`` (duration 7d, slide 1d) — the moving-average shape
    a reporting UI plots, produced in ONE pass (each event lands in 7
    windows through the generator, no 7-way self-join).

    Scale: the window expansion is map-side (×7 row fan-out of a narrow
    projection), then a single hash aggregate on (window, type). Epoch-
    aligned starts make the result engine-checkable: window_start =
    (day - k)·86400 for k ∈ 0..6."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "7 days", "1 day").alias("w"),
            F.col("event_type").alias("app_name"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 1000).cast("long")).alias("value_milli"),
        )
        .select(
            F.col("w.start").cast("long").alias("window_start_epoch"),
            "app_name",
            "n_events",
            "value_milli",
        )
        .orderBy("window_start_epoch", "app_name")
    )


_ORACLE_SLIDING = """
WITH e AS (
    SELECT event_type AS app_name,
           CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
           CAST(FLOOR(value * 1000) AS BIGINT) AS vm
    FROM events
),
expanded AS (
    SELECT app_name, day, vm, k
    FROM e, UNNEST(generate_series(0, 6)) AS g(k)
)
SELECT (day - k) * 86400 AS window_start_epoch,
       app_name,
       COUNT(*) AS n_events,
       CAST(SUM(vm) AS BIGINT) AS value_milli
FROM expanded
GROUP BY window_start_epoch, app_name
ORDER BY window_start_epoch, app_name
"""


# --- user RFM segmentation --------------------------------------------------
def q_user_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency / Frequency / Monetary segmentation per user: days since
    last event (vs the corpus max timestamp), event count, and purchase
    value, each cut into quartiles with NTILE — the standard audience-
    segmentation rollup of a behavioral log.

    Scale: one per-user aggregate; the corpus max attaches as a broadcast
    one-row scalar (no collect); NTILE runs over the per-user rollup
    (rows = users ≪ events) with (metric, user_id) orderings so ties are
    deterministic."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.floor(F.max("ts").cast("double")).cast("long").alias("last_epoch"),
        F.count(F.lit(1)).alias("f_events"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * 1000).cast("long"),
            ).otherwise(F.lit(0))
        ).alias("m_milli"),
    )
    mx = ev.agg(F.floor(F.max("ts").cast("double")).cast("long").alias("max_epoch"))
    rfm = per_user.crossJoin(F.broadcast(mx)).select(
        "user_id",
        ((F.col("max_epoch") - F.col("last_epoch")) / F.lit(86400))
        .cast("long")
        .alias("r_days"),
        "f_events",
        "m_milli",
    )
    # NTILE here orders the per-user ROLLUP (|users|, ~1000× below fact
    # rows); for fact-scale inputs use broadcast percentile thresholds
    # instead (quantile_binning's pattern; playbook #27).
    return rfm.select(
        "user_id",
        "r_days",
        "f_events",
        "m_milli",
        F.ntile(4)
        .over(Window.orderBy(F.col("r_days"), F.col("user_id")))
        .alias("r_quartile"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("f_events"), F.col("user_id")))
        .alias("f_quartile"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("m_milli"), F.col("user_id")))
        .alias("m_quartile"),
    ).orderBy("user_id")


_ORACLE_RFM = """
WITH per_user AS (
    SELECT user_id,
           CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) AS last_epoch,
           COUNT(*) AS f_events,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                         THEN CAST(FLOOR(value * 1000) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS m_milli
    FROM events GROUP BY user_id
),
mx AS (SELECT CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) AS max_epoch FROM events),
rfm AS (
    SELECT user_id,
           CAST((max_epoch - last_epoch) // 86400 AS BIGINT) AS r_days,
           f_events, m_milli
    FROM per_user, mx
)
SELECT user_id, r_days, f_events, m_milli,
       CAST(NTILE(4) OVER (ORDER BY r_days, user_id) AS INT) AS r_quartile,
       CAST(NTILE(4) OVER (ORDER BY f_events DESC, user_id) AS INT) AS f_quartile,
       CAST(NTILE(4) OVER (ORDER BY m_milli DESC, user_id) AS INT) AS m_quartile
FROM rfm
ORDER BY user_id
"""


# --- day-of-week seasonality baseline ---------------------------------------
def q_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal baseline per app: each (app, dow) cell carries
    its historical event count and value, plus the deviation of the last
    observed week's same-dow figure from that baseline — the seasonality
    adjustment the naive trailing-7d alert (W1) lacks (a Sunday dip is
    not an anomaly if Sundays always dip).

    Exact integer sums; the deviation ratio is the one derived double
    (identical BIGINT division on both engines)."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.col("event_type").alias("app_name"),
        F.col("ts").cast("date").alias("date"),
        F.dayofweek("ts").alias("dow"),
        F.floor(F.col("value") * 1000).cast("long").alias("vm"),
    )
    hist = base.groupBy("app_name", "dow").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("vm").alias("value_milli"),
        F.countDistinct("date").alias("n_days"),
    )
    last_date = base.agg(F.max("date").alias("mx"))
    last_week = (
        base.crossJoin(F.broadcast(last_date))
        .where(F.col("date") > F.date_sub(F.col("mx"), 7))
        .groupBy("app_name", "dow")
        .agg(F.count(F.lit(1)).alias("lw_events"))
    )
    return (
        hist.join(last_week, ["app_name", "dow"], "left")
        .select(
            "app_name",
            "dow",
            "n_events",
            "value_milli",
            "n_days",
            F.coalesce("lw_events", F.lit(0)).alias("lw_events"),
            (
                F.coalesce("lw_events", F.lit(0))
                * F.col("n_days")
                / F.col("n_events")
            ).alias("lw_vs_baseline"),
        )
        .orderBy("app_name", "dow")
    )


_ORACLE_DOW = """
WITH base AS (
    SELECT event_type AS app_name,
           CAST(ts AS DATE) AS date,
           CAST(dayofweek(ts) + 1 AS INT) AS dow,  -- DuckDB 0=Sun; Spark 1=Sun
           CAST(FLOOR(value * 1000) AS BIGINT) AS vm
    FROM events
),
hist AS (
    SELECT app_name, dow, COUNT(*) AS n_events,
           CAST(SUM(vm) AS BIGINT) AS value_milli,
           COUNT(DISTINCT date) AS n_days
    FROM base GROUP BY app_name, dow
),
mx AS (SELECT MAX(date) AS mx FROM base),
last_week AS (
    SELECT app_name, dow, COUNT(*) AS lw_events
    FROM base, mx WHERE date > mx - INTERVAL 7 DAY
    GROUP BY app_name, dow
)
SELECT h.app_name, h.dow, h.n_events, h.value_milli, h.n_days,
       COALESCE(lw.lw_events, 0) AS lw_events,
       COALESCE(lw.lw_events, 0) * h.n_days / h.n_events AS lw_vs_baseline
FROM hist h LEFT JOIN last_week lw USING (app_name, dow)
ORDER BY app_name, dow
"""


# --- Pareto / revenue-concentration curve -----------------------------------
def q_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: customers ranked by spend, bucketed into
    deciles, with each decile's share of total revenue and the cumulative
    share — the 80/20 curve every revenue team draws.

    Scale: the per-customer aggregate shrinks the fact first; NTILE runs
    over customers (≪ fact rows); shares are quotients of exact bigints
    against a broadcast one-row total."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("rev_c")
    )
    # global NTILE over the per-customer ROLLUP (bounded well below fact
    # rows); fact-scale alternative: threshold binning, playbook #27
    decile = F.ntile(10).over(
        Window.orderBy(F.desc("rev_c"), F.col("o_custkey"))
    )
    by_decile = (
        per_cust.select("o_custkey", "rev_c", decile.alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("rev_c").alias("decile_rev_c"),
        )
    )
    total = per_cust.agg(F.sum("rev_c").alias("total_c"))
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        by_decile.crossJoin(F.broadcast(total))
        .select(
            "decile",
            "n_customers",
            "decile_rev_c",
            (F.col("decile_rev_c") / F.col("total_c")).alias("rev_share"),
            (F.sum("decile_rev_c").over(w_cum) / F.col("total_c")).alias(
                "cum_share"
            ),
        )
        .orderBy("decile")
    )


_ORACLE_PARETO = """
WITH per_cust AS (
    SELECT o_custkey,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
    FROM orders GROUP BY o_custkey
),
ranked AS (
    SELECT o_custkey, rev_c,
           NTILE(10) OVER (ORDER BY rev_c DESC, o_custkey) AS decile
    FROM per_cust
),
by_decile AS (
    SELECT decile, COUNT(*) AS n_customers,
           CAST(SUM(rev_c) AS BIGINT) AS decile_rev_c
    FROM ranked GROUP BY decile
),
total AS (SELECT CAST(SUM(rev_c) AS BIGINT) AS total_c FROM per_cust)
SELECT CAST(decile AS INT) AS decile, n_customers, decile_rev_c,
       decile_rev_c / total_c AS rev_share,
       CAST(SUM(decile_rev_c) OVER (ORDER BY decile
            ROWS UNBOUNDED PRECEDING) AS BIGINT) / total_c AS cum_share
FROM by_decile, total
ORDER BY decile
"""


# --- snapshot diff (table reconciliation) -----------------------------------
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconcile two versions of the daily fact — the data-ops "what
    changed between yesterday's build and today's" audit. Old = evens-only
    events, new = all events: every key is classified added / removed /
    changed / unchanged via one FULL OUTER join on the grain, and the
    verdict rolls up to counts (the detail table is the same plan minus
    the final aggregate).

    Scale: both sides aggregate to the fact grain first (partial
    map-side), so the join moves grain-sized tables, never raw events."""
    ev = load_table(spark, sf_dir, "events")

    def daily(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.col("ts").cast("date").alias("date"),
            F.col("event_type").alias("app_name"),
        ).agg(F.sum(F.floor(F.col("value") * 1000).cast("long")).alias("vm"))

    old = daily(ev.where(F.col("event_id") % 2 == 0)).select(
        "date", "app_name", F.col("vm").alias("vm_old")
    )
    new = daily(ev).select("date", "app_name", F.col("vm").alias("vm_new"))
    status = (
        F.when(F.col("vm_old").isNull(), F.lit("added"))
        .when(F.col("vm_new").isNull(), F.lit("removed"))
        .when(F.col("vm_old") != F.col("vm_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        old.join(new, ["date", "app_name"], "full_outer")
        .select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_keys"))
        .orderBy("status")
    )


_ORACLE_SNAPSHOT_DIFF = """
WITH old AS (
    SELECT CAST(ts AS DATE) AS date, event_type AS app_name,
           CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS vm_old
    FROM events WHERE event_id % 2 = 0 GROUP BY 1, 2
),
new AS (
    SELECT CAST(ts AS DATE) AS date, event_type AS app_name,
           CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS vm_new
    FROM events GROUP BY 1, 2
),
j AS (
    SELECT CASE WHEN vm_old IS NULL THEN 'added'
                WHEN vm_new IS NULL THEN 'removed'
                WHEN vm_old <> vm_new THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM old FULL OUTER JOIN new USING (date, app_name)
)
SELECT status, COUNT(*) AS n_keys FROM j GROUP BY status ORDER BY status
"""


# --- sliding-window distinct users -------------------------------------------
def q_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day (the DAU/WAU family):
    exact countDistinct over the same one-pass sliding-window expansion
    as ``sliding_window_rates`` — distinct-over-sliding-windows is the
    shape that usually forces either a 7-way self-join or an approximate
    sketch; the window generator keeps it one expand + one aggregate.

    Scale: the expansion is ×7 of a (window, user) projection; the
    count-distinct is Spark's two-phase expand aggregate (partial
    de-dup map-side)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "7 days", "1 day").alias("w"))
        .agg(F.countDistinct("user_id").alias("n_users"))
        .select(
            F.col("w.start").cast("long").alias("window_start_epoch"),
            "n_users",
        )
        .orderBy("window_start_epoch")
    )


_ORACLE_SLIDING_DISTINCT = """
WITH e AS (
    SELECT user_id, CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day
    FROM events
),
expanded AS (
    SELECT user_id, (day - k) * 86400 AS window_start_epoch
    FROM e, UNNEST(generate_series(0, 6)) AS g(k)
)
SELECT window_start_epoch, COUNT(DISTINCT user_id) AS n_users
FROM expanded
GROUP BY window_start_epoch
ORDER BY window_start_epoch
"""


# --- market-basket co-purchase pairs ----------------------------------------
def q_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part pairs bought together in the same order, with support ≥ 2
    orders — the pairwise core of market-basket / frequent-itemset mining.

    Scale: the pair space is generated through a SELF-JOIN ON THE ORDER
    KEY, so candidate pairs are bounded by Σ(basket_size²) — baskets are
    small and bounded (an order has a handful of lines), never N². The
    distinct (order, part) projection collapses duplicate lines before
    pairing; one shuffle on the order key, one on the pair for the count."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    return (
        a.join(b, "ok")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.countDistinct("ok").alias("n_orders"))
        .where(F.col("n_orders") >= 2)
        .orderBy(F.desc("n_orders"), "pa", "pb")
    )


_ORACLE_COPURCHASE = """
WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS pa, b.l_partkey AS pb,
       COUNT(DISTINCT a.l_orderkey) AS n_orders
FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
WHERE a.l_partkey < b.l_partkey
GROUP BY pa, pb
HAVING COUNT(DISTINCT a.l_orderkey) >= 2
ORDER BY n_orders DESC, pa, pb
"""


# --- view→purchase conversion latency ---------------------------------------
def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: for each user, the gap between their
    first view and the first purchase AT OR AFTER it, banded into
    operational buckets (plus a no-conversion band) — the time-dimension
    complement of the ordered-step funnel.

    Scale: two per-user min-aggregates and one broadcastable join on
    user_id; latency math is exact integer epochs."""
    ev = load_table(spark, sf_dir, "events")
    epoch = F.floor(F.col("ts").cast("double")).cast("long")
    fv = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(epoch).alias("first_view"))
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", epoch.alias("p_epoch")
    )
    conv = (
        fv.join(p, "user_id", "left")
        .groupBy("user_id", "first_view")
        .agg(
            # conditional min, NOT a pre-filter: a user whose purchases
            # all precede the first view must still land in no_conversion
            F.min(
                F.when(F.col("p_epoch") >= F.col("first_view"), F.col("p_epoch"))
            ).alias("first_purchase")
        )
    )
    lat = F.col("first_purchase") - F.col("first_view")
    band = (
        F.when(F.col("first_purchase").isNull(), F.lit("4_no_conversion"))
        .when(lat < 3600, F.lit("0_under_1h"))
        .when(lat < 86400, F.lit("1_under_1d"))
        .when(lat < 7 * 86400, F.lit("2_under_7d"))
        .otherwise(F.lit("3_over_7d"))
    )
    return (
        conv.select("user_id", band.alias("band"), lat.alias("lat"))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("lat").alias("total_latency_sec"),
        )
        .orderBy("band")
    )


_ORACLE_CONVERSION = """
WITH fv AS (
    SELECT user_id, MIN(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS first_view
    FROM events WHERE event_type = 'view' GROUP BY user_id
),
conv AS (
    SELECT f.user_id, f.first_view,
           MIN(CASE WHEN p.p_epoch >= f.first_view THEN p.p_epoch END)
               AS first_purchase
    FROM fv f
    LEFT JOIN (
        SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS p_epoch
        FROM events WHERE event_type = 'purchase'
    ) p USING (user_id)
    GROUP BY f.user_id, f.first_view
),
banded AS (
    SELECT user_id,
           first_purchase - first_view AS lat,
           CASE WHEN first_purchase IS NULL THEN '4_no_conversion'
                WHEN first_purchase - first_view < 3600 THEN '0_under_1h'
                WHEN first_purchase - first_view < 86400 THEN '1_under_1d'
                WHEN first_purchase - first_view < 7 * 86400 THEN '2_under_7d'
                ELSE '3_over_7d' END AS band
    FROM conv
)
SELECT band, COUNT(*) AS n_users,
       CAST(SUM(lat) AS BIGINT) AS total_latency_sec
FROM banded
GROUP BY band
ORDER BY band
"""


# --- triangle counting over the co-purchase graph ---------------------------
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the co-purchase graph (parts bought together in ≥ 2
    orders) — the fundamental graph-analytics kernel (clustering
    coefficient, community density).

    Scale: edges are stored ONCE in canonical (u < v) orientation; a
    wedge join on the shared low vertex then a single edge-existence
    join counts every triangle exactly once (a < b < c), which is the
    degree-bounded distributed formulation — intermediate wedges are
    Σ deg², never edges². Two shuffles on vertex keys."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    # edges feed the two wedge legs AND the closing-edge join — materialize
    # once (self-derived branches are never exchange-reused; this subtree
    # contains a basket self-join, so replanning it 3x tripled the scans)
    edges = (
        a.join(b, "ok")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.countDistinct("ok").alias("w"))
        .where(F.col("w") >= 2)
        .select(F.col("pa").alias("u"), F.col("pb").alias("v"))
        .localCheckpoint()
    )
    e1 = edges.select(F.col("u").alias("x"), F.col("v").alias("y1"))
    e2 = edges.select(F.col("u").alias("x"), F.col("v").alias("y2"))
    wedges = e1.join(e2, "x").where(F.col("y1") < F.col("y2"))
    closing = edges.select(F.col("u").alias("y1"), F.col("v").alias("y2"))
    tri = wedges.join(closing, ["y1", "y2"])
    return tri.agg(
        F.count(F.lit(1)).alias("n_triangles"),
    ).crossJoin(F.broadcast(edges.agg(F.count(F.lit(1)).alias("n_edges"))))


_ORACLE_TRIANGLES = """
WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
    SELECT a.l_partkey AS u, b.l_partkey AS v
    FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
    WHERE a.l_partkey < b.l_partkey
    GROUP BY u, v
    HAVING COUNT(DISTINCT a.l_orderkey) >= 2
)
SELECT (SELECT COUNT(*)
        FROM edges e1
        JOIN edges e2 ON e1.u = e2.u AND e1.v < e2.v
        JOIN edges e3 ON e3.u = e1.v AND e3.v = e2.v) AS n_triangles,
       (SELECT COUNT(*) FROM edges) AS n_edges
"""


# --- referential-integrity audit -------------------------------------------
def q_fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row data-quality audit over the order graph: orphan lineitems
    (no parent order), orders with a dangling customer key, childless
    orders, and the row counts they're judged against — the pre-load
    validation a warehouse runs before trusting a batch.

    Scale: three anti/semi joins, each shuffling only the key column;
    counts union into one row via a single aggregate per leg (no
    crossJoin of big sides — each leg reduces to one row first)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    orphan_li = (
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("v"))
        .select(F.lit("orphan_lineitems").alias("metric"), "v")
    )
    dangling_cust = (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("v"))
        .select(F.lit("orders_dangling_custkey").alias("metric"), "v")
    )
    childless = (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("v"))
        .select(F.lit("childless_orders").alias("metric"), "v")
    )
    totals = (
        li.agg(F.count(F.lit(1)).alias("n_li"))
        .crossJoin(o.agg(F.count(F.lit(1)).alias("n_o")))
        .select(
            F.explode(
                F.array(
                    F.struct(F.lit("lineitem_rows").alias("metric"), F.col("n_li").alias("v")),
                    F.struct(F.lit("order_rows").alias("metric"), F.col("n_o").alias("v")),
                )
            ).alias("m")
        )
        .select("m.metric", "m.v")
    )
    return (
        orphan_li.unionByName(dangling_cust)
        .unionByName(childless)
        .unionByName(totals)
        .orderBy("metric")
    )


_ORACLE_FK_AUDIT = """
SELECT * FROM (
    SELECT 'orphan_lineitems' AS metric,
           (SELECT COUNT(*) FROM lineitem
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)) AS v
    UNION ALL
    SELECT 'orders_dangling_custkey',
           (SELECT COUNT(*) FROM orders
            WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey))
    UNION ALL
    SELECT 'childless_orders',
           (SELECT COUNT(*) FROM orders
            WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey))
    UNION ALL
    SELECT 'lineitem_rows', (SELECT COUNT(*) FROM lineitem)
    UNION ALL
    SELECT 'order_rows', (SELECT COUNT(*) FROM orders)
)
ORDER BY metric
"""


# --- rolling z-score anomaly detection --------------------------------------
ZSCORE_WINDOW_DAYS = 28
ZSCORE_SCALE = 10_000


def q_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing z-score per (app, day): today's daily value vs the mean/std
    of the previous 28 days — the W1/W2 family generalized from a fixed
    threshold to a variance-normalized score (the standard ops-metric
    anomaly detector).

    Exactness: per-day sums are int-scaled; the window carries only the
    BIGINT triplet (n, Σx, Σx²), so z = (x·n − Σx) / sqrt(n·Σx² − (Σx)²)
    has an exactly-computed integer numerator and radicand — one IEEE
    sqrt + one division at the end (correctly rounded, engine-identical),
    floor-scaled for the oracle. Days with < 2 trailing days or zero
    variance yield NULL.

    Scale: one partial-aggregated daily rollup, then a range window
    partitioned by app — the partition key bounds the group (|days| rows
    per app), which is the documented safe side of the window-skew rule.
    BIGINT headroom: Σx² over 28 days caps at ~3×10¹⁷ for daily sums up
    to 10⁸ milli-units; beyond that, drop the per-row scale a digit."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("ts").cast("date").alias("date"),
        F.col("event_type").alias("app_name"),
    ).agg(F.sum(F.floor(F.col("value") * 1000).cast("long")).alias("vm"))
    day = F.col("date").cast("timestamp").cast("long") / 86400
    w = (
        Window.partitionBy("app_name")
        .orderBy(day.cast("long"))
        .rangeBetween(-ZSCORE_WINDOW_DAYS, -1)
    )
    stats = daily.select(
        "date",
        "app_name",
        "vm",
        F.count("vm").over(w).alias("n"),
        F.sum("vm").over(w).alias("s"),
        F.sum(F.col("vm") * F.col("vm")).over(w).alias("q"),
    )
    radicand = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    z = (F.col("vm") * F.col("n") - F.col("s")) / F.sqrt(radicand.cast("double"))
    return stats.select(
        "date",
        "app_name",
        "vm",
        F.col("n").cast("long").alias("n_days"),
        F.when((F.col("n") >= 2) & (radicand > 0), F.floor(z * ZSCORE_SCALE))
        .cast("long")
        .alias("z_e4"),
    ).orderBy("date", "app_name")


_ORACLE_ZSCORE = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS date, event_type AS app_name,
           CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS vm
    FROM events GROUP BY 1, 2
),
stats AS (
    SELECT date, app_name, vm,
           COUNT(vm) OVER w AS n, SUM(vm) OVER w AS s,
           SUM(vm * vm) OVER w AS q
    FROM daily
    WINDOW w AS (PARTITION BY app_name
                 ORDER BY CAST(epoch(CAST(date AS TIMESTAMP)) // 86400 AS BIGINT)
                 RANGE BETWEEN {ZSCORE_WINDOW_DAYS} PRECEDING AND 1 PRECEDING)
)
SELECT date, app_name, vm,
       CAST(n AS BIGINT) AS n_days,
       CASE WHEN n >= 2 AND n * q - s * s > 0
            THEN CAST(FLOOR((vm * n - s)
                            / sqrt(CAST(n * q - s * s AS DOUBLE))
                            * {ZSCORE_SCALE}) AS BIGINT)
       END AS z_e4
FROM stats
ORDER BY date, app_name
"""


# --- quantile binning (decile features, broadcast thresholds) ---------------
N_BINS = 10


def q_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile-bucket features for order totals, computed the scale-safe
    way: exact decile THRESHOLDS via a distributed percentile aggregate
    (never a global NTILE — that is a single-task total sort), broadcast
    back as one row, bucket assigned map-side as 1 + Σ(value > tᵢ).
    Output is the per-bucket audit (count, min, max).

    Boundary semantics are pinned by the shared formula, so Spark and the
    oracle agree bucket-for-bucket (percentile interpolation is the same
    p·(n−1) definition in both engines, on exact integer cents)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", _cents("o_totalprice").alias("c")
    )
    pcts = [i / N_BINS for i in range(1, N_BINS)]
    # ONE array-percentile aggregate: each scalar percentile(c, p) call
    # maintains its own copy of the value buffer, so 9 separate exprs
    # buffered (and sorted) the column 9× — same numbers, 9× the work.
    thresholds = o.agg(
        F.expr(
            f"percentile(c, array({', '.join(repr(p) for p in pcts)}))"
        ).alias("ts")
    ).select(
        *[F.col("ts")[i - 1].alias(f"t{i}") for i in range(1, N_BINS)]
    )
    bucket = F.lit(1)
    for i in range(1, N_BINS):
        bucket = bucket + (F.col("c") > F.col(f"t{i}")).cast("int")
    binned = o.crossJoin(F.broadcast(thresholds)).select(
        "c", bucket.cast("int").alias("bucket")
    )
    return (
        binned.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("c").alias("min_cents"),
            F.max("c").alias("max_cents"),
        )
        .orderBy("bucket")
    )


_ORACLE_BINNING = f"""
WITH o AS (
    SELECT o_orderkey, CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS c
    FROM orders
),
t AS (
    SELECT {", ".join(
        f"quantile_cont(c, {i / N_BINS!r}) AS t{i}" for i in range(1, N_BINS)
    )}
    FROM o
),
binned AS (
    SELECT c,
           CAST(1 {" ".join(
               f"+ (CASE WHEN c > t{i} THEN 1 ELSE 0 END)"
               for i in range(1, N_BINS)
           )} AS INT) AS bucket
    FROM o, t
)
SELECT bucket, COUNT(*) AS n_orders,
       MIN(c) AS min_cents, MAX(c) AS max_cents
FROM binned
GROUP BY bucket
ORDER BY bucket
"""


# --- deterministic hash-sampled quantile profile ----------------------------
SAMPLE_RATE = 0.1


def q_sampled_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-distribution profile over a DETERMINISTIC hash sample: keep a
    row iff md5(orderkey:linenumber) maps below the rate, then take exact
    quantiles of the sample — the mergeable, reproducible alternative to
    rand()-sampling for dataset profiling (same rows selected on every
    engine, every run, any partitioning; playbook #4's 13-hex-digit
    fraction is exactly representable so the comparison is bit-exact).

    Scale: the sample predicate is map-side (no shuffle, prunes ~90 % of
    rows at the scan); the exact-percentile aggregate buffers only the
    sampled values — the sample rate IS the memory contract, which is the
    point of sampling before profiling at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", _cents("l_extendedprice").alias("c")
    )
    frac = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("l_orderkey").cast("string"),
                        F.col("l_linenumber").cast("string"),
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(16**13))
    )
    s = li.where(frac < SAMPLE_RATE)
    # one array-percentile (see q_quantile_binning): scalar calls each
    # buffer the sample separately
    return s.agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.expr("percentile(c, array(0.25, 0.5, 0.9, 0.99))").alias("ps"),
        F.min("c").alias("cmin"),
        F.max("c").alias("cmax"),
    ).select(
        "n_sampled",
        F.col("ps")[0].alias("p25"),
        F.col("ps")[1].alias("p50"),
        F.col("ps")[2].alias("p90"),
        F.col("ps")[3].alias("p99"),
        "cmin",
        "cmax",
    )


_ORACLE_SAMPLED_QUANTILES = f"""
WITH s AS (
    SELECT CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS c
    FROM lineitem
    WHERE CAST(CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':'
                   || CAST(l_linenumber AS VARCHAR)), 1, 13) AS BIGINT)
               AS DOUBLE) / {float(16 ** 13)!r} < {SAMPLE_RATE}
)
SELECT COUNT(*) AS n_sampled,
       quantile_cont(c, 0.25) AS p25,
       quantile_cont(c, 0.5) AS p50,
       quantile_cont(c, 0.9) AS p90,
       quantile_cont(c, 0.99) AS p99,
       MIN(c) AS cmin,
       MAX(c) AS cmax
FROM s
"""


def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (winsorized) per-group price statistics: clamp each value to
    the group's exact [P10, P90] order statistics, then compare the robust
    mean against the raw mean — the outlier-resistant summary a metrics
    pipeline publishes when a few extreme rows would otherwise move the
    needle. Thresholds are EXACT order statistics at integer ranks
    (ceil(n/10) = (n+9) DIV 10 — integer arithmetic, no float percentile
    boundary to diverge between engines), values are cent-scaled BIGINTs,
    and means are exact integer micro-cents.

    Scale: one per-group sort (the same shuffle an exact quantile costs),
    thresholds reduce to 2 rows per group and broadcast back; the clamp +
    final agg is map-side partial. All JVM."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", _cents("l_extendedprice").alias("c")
    )
    sizes = li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("l_returnflag").orderBy("c")
    ranked = li.withColumn("rn", F.row_number().over(w)).join(
        F.broadcast(sizes), "l_returnflag"
    )
    th = (
        ranked.where(
            (F.col("rn") == F.expr("(n + 9) DIV 10"))
            | (F.col("rn") == F.expr("(9 * n + 9) DIV 10"))
        )
        .groupBy("l_returnflag")
        .agg(F.min("c").alias("lo_c"), F.max("c").alias("hi_c"))
    )
    clamped = li.join(F.broadcast(th), "l_returnflag").select(
        "l_returnflag",
        "lo_c",
        "hi_c",
        "c",
        F.greatest(F.col("lo_c"), F.least(F.col("hi_c"), F.col("c"))).alias("cw"),
    )
    return (
        clamped.groupBy("l_returnflag", "lo_c", "hi_c")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c").alias("sum_c"),
            F.sum("cw").alias("sum_cw"),
        )
        .select(
            "l_returnflag",
            "n",
            "lo_c",
            "hi_c",
            # (sum DIV n)*1e6 + (sum % n)*1e6 DIV n == sum*1e6 DIV n, but
            # never exceeds int64 (sum*1e6 would overflow a BIGINT at
            # large SF; DuckDB silently widens to HUGEINT, Spark wraps)
            F.expr(
                "CAST((sum_c DIV n) * 1000000 + (sum_c % n) * 1000000 DIV n"
                " AS BIGINT)"
            ).alias("raw_mean_microcents"),
            F.expr(
                "CAST((sum_cw DIV n) * 1000000 + (sum_cw % n) * 1000000 DIV n"
                " AS BIGINT)"
            ).alias("wins_mean_microcents"),
        )
        .orderBy("l_returnflag")
    )


_ORACLE_WINSORIZED = """
WITH b AS (
    SELECT l_returnflag, CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS c
    FROM lineitem
),
s AS (SELECT l_returnflag, COUNT(*) AS n FROM b GROUP BY 1),
r AS (
    SELECT b.l_returnflag, b.c,
           ROW_NUMBER() OVER (PARTITION BY b.l_returnflag ORDER BY b.c) AS rn
    FROM b
),
th AS (
    SELECT r.l_returnflag, MIN(r.c) AS lo_c, MAX(r.c) AS hi_c
    FROM r JOIN s USING (l_returnflag)
    WHERE r.rn = (s.n + 9) // 10 OR r.rn = (9 * s.n + 9) // 10
    GROUP BY r.l_returnflag
)
SELECT l_returnflag, n, lo_c, hi_c,
       CAST((sum_c // n) * 1000000 + (sum_c % n) * 1000000 // n AS BIGINT)
           AS raw_mean_microcents,
       CAST((sum_cw // n) * 1000000 + (sum_cw % n) * 1000000 // n AS BIGINT)
           AS wins_mean_microcents
FROM (
    SELECT b.l_returnflag, COUNT(*) AS n, t.lo_c, t.hi_c,
           CAST(SUM(b.c) AS BIGINT) AS sum_c,
           CAST(SUM(GREATEST(t.lo_c, LEAST(t.hi_c, b.c))) AS BIGINT) AS sum_cw
    FROM b JOIN th t USING (l_returnflag)
    GROUP BY b.l_returnflag, t.lo_c, t.hi_c
)
ORDER BY l_returnflag
"""


# --- cohort lifetime value -----------------------------------------------------


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative lifetime value by signup cohort: users grouped by
    first-seen month, value accumulated over account age — the LTV curve
    behind every retention-economics decision (cohort_retention gives
    the WHO, this gives the HOW MUCH).

    Exactness: months are integer indices (year·12+month — no date
    arithmetic ambiguity), value is per-row int-scaled milli-units, the
    running sum is a cohort-partitioned window over the (cohort, age)
    rollup (bounded groups), and LTV-per-user is integer DIV.

    Scale: one shuffle to find each user's first month (partial-agg
    min), one join back on user_id, one rollup + bounded window.
    """
    ev = load_table(spark, sf_dir, "events")
    midx = F.year("ts") * 12 + F.month("ts")
    base = ev.select(
        "user_id", midx.alias("m"), F.floor(F.col("value") * 1000).cast("long").alias("vm")
    )
    first = base.groupBy("user_id").agg(F.min("m").alias("cohort_m"))
    joined = base.join(first, "user_id").select(
        "user_id", "cohort_m", (F.col("m") - F.col("cohort_m")).alias("age_months"), "vm"
    )
    sizes = first.groupBy("cohort_m").agg(F.countDistinct("user_id").alias("n_users"))
    per_age = joined.groupBy("cohort_m", "age_months").agg(F.sum("vm").alias("v"))
    w = (
        Window.partitionBy("cohort_m")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        per_age.withColumn("cum_value_milli", F.sum("v").over(w))
        .join(F.broadcast(sizes), "cohort_m")
        .select(
            "cohort_m",
            "age_months",
            F.col("n_users").cast("long").alias("n_users"),
            F.col("cum_value_milli").cast("long").alias("cum_value_milli"),
            F.expr("cum_value_milli DIV n_users").alias("ltv_per_user_milli"),
        )
        .orderBy("cohort_m", "age_months")
    )


_ORACLE_COHORT_LTV = """
WITH base AS (
    SELECT user_id,
           CAST(year(ts) * 12 + month(ts) AS BIGINT) AS m,
           CAST(FLOOR(value * 1000) AS BIGINT) AS vm
    FROM events
),
first AS (SELECT user_id, MIN(m) AS cohort_m FROM base GROUP BY user_id),
joined AS (
    SELECT b.user_id, f.cohort_m, b.m - f.cohort_m AS age_months, b.vm
    FROM base b JOIN first f USING (user_id)
),
sizes AS (SELECT cohort_m, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
          FROM first GROUP BY cohort_m),
per_age AS (
    SELECT cohort_m, age_months, CAST(SUM(vm) AS BIGINT) AS v
    FROM joined GROUP BY cohort_m, age_months
),
cum AS (
    SELECT cohort_m, age_months,
           CAST(SUM(v) OVER (PARTITION BY cohort_m ORDER BY age_months
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_value_milli
    FROM per_age
)
SELECT c.cohort_m, c.age_months, s.n_users, c.cum_value_milli,
       CAST(c.cum_value_milli // s.n_users AS BIGINT) AS ltv_per_user_milli
FROM cum c JOIN sizes s USING (cohort_m)
ORDER BY c.cohort_m, c.age_months
"""


# --- approx-percentile contract audit -----------------------------------------
APPROX_ACC = 1000  # percentile_approx accuracy ⇒ rank error ≤ n/ACC
APPROX_QS = (250, 500, 750, 900)  # q·1000


def q_approx_quantile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit of Spark's own ``percentile_approx`` (Greenwald-Khanna
    sketch) against its documented contract: the returned value's rank
    must lie within ±n/accuracy of q·n. The check is pure integer
    cross-multiplication over rank_lo/rank_hi (#{x<v} / #{x≤v}), so the
    only approximate thing in the query is the operator UNDER audit —
    the verdict booleans and exact order statistics are deterministic,
    which is what makes an approximate operator oracle-checkable at all
    (the oracle asserts the contract holds and supplies the exact
    values; a sketch regression fails the hash loudly).

    Scale: the value rollup bounds every window (playbook #27); the
    sketch itself is the scalable path being audited.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    qs = [q / 1000 for q in APPROX_QS]
    approx_row = o.agg(
        F.percentile_approx("cents", qs, APPROX_ACC).alias("vals")
    )
    per_val = o.groupBy("cents").agg(F.count(F.lit(1)).alias("m"))
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # cum_lo(v) = #{x < v} = cum_hi(v) − m(v)
    cums = per_val.select(
        "cents",
        F.sum("m").over(w).alias("cum_hi"),
        (F.sum("m").over(w) - F.col("m")).alias("cum_lo"),
    ).localCheckpoint()
    n_row = per_val.agg(F.sum("m").alias("n"))
    # (q, approx value) pairs: posexplode is 1-indexed via pos+1 against
    # the APPROX_QS ordinal
    probe = (
        approx_row.select(F.posexplode("vals").alias("pos", "approx_v"))
        .select(
            F.element_at(
                F.array(*[F.lit(q) for q in APPROX_QS]), F.col("pos") + 1
            ).alias("q_permille"),
            "approx_v",
        )
    )
    ranked = (
        probe.crossJoin(F.broadcast(n_row))
        .join(
            F.broadcast(
                cums.select(
                    F.col("cents").alias("approx_v"), "cum_hi", "cum_lo"
                )
            ),
            "approx_v",
        )
    )
    # GK contract, integer domain: rank window [q·n − n/ACC, q·n + n/ACC]
    # ⇔ ACC·1000·cum ⋛ (q_permille·ACC ∓ 1000)·n
    in_bounds = (
        F.lit(APPROX_ACC * 1000) * F.col("cum_hi")
        >= (F.col("q_permille") * APPROX_ACC - 1000).cast("long") * F.col("n")
    ) & (
        F.lit(APPROX_ACC * 1000) * F.col("cum_lo")
        <= (F.col("q_permille") * APPROX_ACC + 1000).cast("long") * F.col("n")
    )
    # exact order statistic at rank ceil(q·n/1000): first value with cum_hi ≥ r
    qdf = spark.createDataFrame([(q,) for q in APPROX_QS], "q_permille int")
    exact = (
        qdf.crossJoin(F.broadcast(n_row))
        .crossJoin(F.broadcast(cums))
        .where(
            F.col("cum_hi") * 1000 >= F.col("q_permille") * F.col("n")
        )
        .groupBy("q_permille")
        .agg(F.min("cents").alias("exact_value"))
    )
    return (
        ranked.select("q_permille", F.col("n").cast("long").alias("n"), in_bounds.alias("approx_in_bounds"))
        .join(exact, "q_permille")
        .select("q_permille", "n", "exact_value", "approx_in_bounds")
        .orderBy("q_permille")
    )


_ORACLE_APPROX_QUANTILE = f"""
WITH o AS (SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
per_val AS (SELECT cents, COUNT(*) AS m FROM o GROUP BY cents),
cums AS (
    SELECT cents,
           CAST(SUM(m) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_hi
    FROM per_val
),
n_row AS (SELECT CAST(SUM(m) AS BIGINT) AS n FROM per_val),
qs(q_permille) AS (VALUES {", ".join(f"({q})" for q in APPROX_QS)})
SELECT q.q_permille, n_row.n,
       (SELECT MIN(cents) FROM cums, n_row
        WHERE cum_hi * 1000 >= q.q_permille * n) AS exact_value,
       TRUE AS approx_in_bounds
FROM qs q, n_row
ORDER BY q.q_permille
"""


# --- two-sample Kolmogorov–Smirnov test ---------------------------------------
RANK_SEGMENT = "BUILDING"


def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance between one customer
    segment's order-value distribution and the rest — the
    distribution-shape companion to the rank-sum test (location): KS
    catches variance/shape shifts a median test misses.

    Division-free: D = max|F1(x) − F2(x)| is evaluated as
    max|cum1·n2 − cum2·n1| over the merged support (exact BIGINT; the
    classic cross-multiplication), with the ppm quotient two-staged at
    the end. No floats, no ties ambiguity (step function evaluated at
    every distinct value). Headroom: d_scaled ≤ n1·n2 and the final
    stage multiplies by 1000, so exactness holds to n1·n2 < 2^63/1000 ≈
    9.2e15 (both classes ~1e8 rows — two-sample tests beyond that
    should run per-stratum or on a documented sample); identical bound
    for the rank-sum AUC below.

    Scale: one aggregation to per-value group counts, one cumulative
    window over |distinct values| rows, one max.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        (F.col("c_mktsegment") == RANK_SEGMENT).alias("in_seg"),
    )
    vals = o.select(
        "o_custkey", F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents")
    ).join(c, "o_custkey")
    per_val = vals.groupBy("cents").agg(
        F.sum(F.when(F.col("in_seg"), 1).otherwise(0)).alias("c1"),
        F.sum(F.when(~F.col("in_seg"), 1).otherwise(0)).alias("c2"),
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cums = per_val.select(
        F.sum("c1").over(w).alias("cum1"), F.sum("c2").over(w).alias("cum2")
    )
    stats = per_val.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    d = cums.crossJoin(F.broadcast(stats)).agg(
        F.max(
            F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
        ).alias("d_scaled"),
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
    )
    return d.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.col("d_scaled").cast("long").alias("d_scaled"),
        # One empty class (n1·n2 = 0) → the statistic is undefined: NULL,
        # guarded so ANSI mode cannot throw where DuckDB's // returns NULL.
        F.expr(
            "CASE WHEN n1 * n2 = 0 THEN CAST(NULL AS BIGINT) ELSE "
            "CAST((d_scaled * 1000 DIV (n1 * n2)) * 1000"
            "     + (d_scaled * 1000 % (n1 * n2)) * 1000 DIV (n1 * n2)"
            " AS BIGINT) END"
        ).alias("ks_ppm"),
    )


_ORACLE_KS = f"""
WITH vals AS (
    SELECT CAST(FLOOR(o.o_totalprice * 100) AS BIGINT) AS cents,
           c.c_mktsegment = '{RANK_SEGMENT}' AS in_seg
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
),
per_val AS (
    SELECT cents,
           CAST(SUM(CASE WHEN in_seg THEN 1 ELSE 0 END) AS BIGINT) AS c1,
           CAST(SUM(CASE WHEN in_seg THEN 0 ELSE 1 END) AS BIGINT) AS c2
    FROM vals GROUP BY cents
),
cums AS (
    SELECT CAST(SUM(c1) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum1,
           CAST(SUM(c2) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum2
    FROM per_val
),
stats AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM per_val),
dmax AS (
    SELECT MAX(ABS(cum1 * n2 - cum2 * n1)) AS d_scaled, MAX(n1) AS n1, MAX(n2) AS n2
    FROM cums, stats
)
SELECT n1, n2, CAST(d_scaled AS BIGINT) AS d_scaled,
       CASE WHEN n1 * n2 = 0 THEN CAST(NULL AS BIGINT) ELSE
       CAST((d_scaled * 1000 // (n1 * n2)) * 1000
            + (d_scaled * 1000 % (n1 * n2)) * 1000 // (n1 * n2) AS BIGINT)
       END AS ks_ppm
FROM dmax
"""


# --- chi-square independence ---------------------------------------------------
CHI_SCALE = 10_000


def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence statistic for lang × source — the
    hypothesis-test companion to ``mutual_information``: Σ (O−E)²/E over
    the contingency cells, each cell's term floor-scaled to an e4
    integer before summing (E is an exact-quotient double of exact
    BIGINT products, so the only engine-sensitive op is the final
    floor — same discipline as every transcendental here).

    Scale: one category-bounded aggregation; margins broadcast back.
    """
    docs = load_table(spark, sf_dir, "documents")
    cells = (
        docs.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    ma = cells.groupBy("lang").agg(F.sum("n").alias("n_a"))
    mb = cells.groupBy("source").agg(F.sum("n").alias("n_b"))
    tot = cells.agg(F.sum("n").alias("n_tot"))
    j = (
        cells.join(F.broadcast(ma), "lang")
        .join(F.broadcast(mb), "source")
        .crossJoin(F.broadcast(tot))
    )
    e = (F.col("n_a") * F.col("n_b")) / F.col("n_tot")
    term = F.floor((F.col("n") - e) * (F.col("n") - e) / e * CHI_SCALE).cast("long")
    per_cell = j.select(term.alias("chi_e4"))
    counts = j.agg(
        F.countDistinct("lang").alias("nl"), F.countDistinct("source").alias("ns")
    )
    return (
        per_cell.agg(F.sum("chi_e4").alias("chi2_e4"), F.count(F.lit(1)).alias("n_cells"))
        .crossJoin(F.broadcast(counts))
        .select(
            "chi2_e4",
            "n_cells",
            ((F.col("nl") - 1) * (F.col("ns") - 1)).cast("long").alias("dof"),
        )
    )


_ORACLE_CHI = f"""
WITH cells AS (
    SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY lang, source
),
ma AS (SELECT lang, SUM(n) AS n_a FROM cells GROUP BY lang),
mb AS (SELECT source, SUM(n) AS n_b FROM cells GROUP BY source),
tot AS (SELECT SUM(n) AS n_tot FROM cells),
j AS (
    SELECT c.n, CAST(n_a * n_b AS DOUBLE) / n_tot AS e
    FROM cells c JOIN ma USING (lang) JOIN mb USING (source), tot
),
counts AS (
    SELECT COUNT(DISTINCT lang) AS nl, COUNT(DISTINCT source) AS ns FROM cells
)
SELECT CAST(SUM(CAST(FLOOR((n - e) * (n - e) / e * {CHI_SCALE}) AS BIGINT)) AS BIGINT)
           AS chi2_e4,
       COUNT(*) AS n_cells,
       CAST((SELECT (nl - 1) * (ns - 1) FROM counts) AS BIGINT) AS dof
FROM j
"""


# --- two-sample rank-sum test -------------------------------------------------


def q_rank_sum_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney rank-sum comparison of order values between one
    customer segment and the rest — the nonparametric A/B answer to
    "does segment X spend differently?" that needs no normality
    assumption.

    Exact integers throughout: tied values get MIDRANKS, kept integral
    by working at ×2 scale (midrank2 = 2·min_rank + tie_count − 1); the
    U statistic stays ×2-scaled, and the effect size
    AUC = U/(n1·n2) — P(random segment order > random other order) —
    is a two-stage-ppm integer quotient. No floats anywhere.

    Scale: one join to attach segments (broadcast dim); the fact rows
    collapse to per-value counts BEFORE the global ordering window, so
    the single-partition window scan is bounded by the price domain's
    cardinality, never the row count.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        (F.col("c_mktsegment") == RANK_SEGMENT).alias("in_seg"),
    )
    vals = o.select(
        "o_custkey",
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).join(c, "o_custkey")
    # 100 TB shape: collapse to per-VALUE counts first, so the global
    # ordering window runs over the price domain (bounded), never the
    # row count — a tie group of size m starting at rank s contributes
    # c1·(2s + m − 1) to the segment's ×2 rank sum.
    per_val = vals.groupBy("cents").agg(
        F.sum(F.when(F.col("in_seg"), 1).otherwise(0)).alias("c1"),
        F.sum(F.when(~F.col("in_seg"), 1).otherwise(0)).alias("c2"),
    )
    w_prev = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = per_val.select(
        "c1",
        "c2",
        (
            F.lit(2)
            * (F.coalesce(F.sum(F.col("c1") + F.col("c2")).over(w_prev), F.lit(0)) + 1)
            + (F.col("c1") + F.col("c2"))
            - 1
        ).alias("midrank2"),
    )
    stats = ranked.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum(F.col("c1") * F.col("midrank2")).alias("r2_seg"),
    )
    u2 = F.col("r2_seg") - F.col("n1") * (F.col("n1") + 1)  # ×2-scaled U
    den = F.lit(2) * F.col("n1") * F.col("n2")
    return stats.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        u2.cast("long").alias("u2_stat"),
        # One empty class (n1·n2 = 0) → AUC undefined: NULL, guarded so
        # ANSI mode cannot throw where DuckDB's // returns NULL.
        F.expr(
            "CASE WHEN n1 * n2 = 0 THEN CAST(NULL AS BIGINT) ELSE "
            "CAST(((r2_seg - n1 * (n1 + 1)) * 1000 DIV (2 * n1 * n2)) * 1000"
            "     + ((r2_seg - n1 * (n1 + 1)) * 1000 % (2 * n1 * n2)) * 1000"
            "       DIV (2 * n1 * n2) AS BIGINT) END"
        ).alias("auc_ppm"),
    )


_ORACLE_RANK_SUM = f"""
WITH vals AS (
    SELECT CAST(FLOOR(o.o_totalprice * 100) AS BIGINT) AS cents,
           c.c_mktsegment = '{RANK_SEGMENT}' AS in_seg
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
),
ranked AS (
    SELECT in_seg,
           2 * CAST(RANK() OVER (ORDER BY cents) AS BIGINT)
           + COUNT(*) OVER (PARTITION BY cents) - 1 AS midrank2
    FROM vals
),
stats AS (
    SELECT CAST(SUM(CASE WHEN in_seg THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(SUM(CASE WHEN in_seg THEN 0 ELSE 1 END) AS BIGINT) AS n2,
           CAST(SUM(CASE WHEN in_seg THEN midrank2 ELSE 0 END) AS BIGINT) AS r2_seg
    FROM ranked
)
SELECT n1, n2,
       CAST(r2_seg - n1 * (n1 + 1) AS BIGINT) AS u2_stat,
       CASE WHEN n1 * n2 = 0 THEN CAST(NULL AS BIGINT) ELSE
       CAST(((r2_seg - n1 * (n1 + 1)) * 1000 // (2 * n1 * n2)) * 1000
            + ((r2_seg - n1 * (n1 + 1)) * 1000 % (2 * n1 * n2)) * 1000
              // (2 * n1 * n2) AS BIGINT)
       END AS auc_ppm
FROM stats
"""


# --- user path mining ---------------------------------------------------------
PATH_TOP = 20


def q_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event trigrams per user journey: consecutive 3-step
    event-type sequences (ordered by time within user), counted across
    all users — the path-mining view behind "what do users do right
    before purchasing?".

    Scale: one window per user (partition key bounds the group) emitting
    lead-2 sequences map-side; one category-bounded aggregation; no
    self-joins.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).where(F.col("e3").isNotNull())
    return (
        seq.groupBy("e1", "e2", "e3")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.desc("n_occurrences"), "e1", "e2", "e3")
        .limit(PATH_TOP)
    )


_ORACLE_SEQUENCES = f"""
WITH seq AS (
    SELECT user_id, event_type AS e1,
           LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
           LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
    FROM events
)
SELECT e1, e2, e3, COUNT(*) AS n_occurrences,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM seq WHERE e3 IS NOT NULL
GROUP BY e1, e2, e3
ORDER BY n_occurrences DESC, e1, e2, e3
LIMIT {PATH_TOP}
"""


# --- revenue concentration (Gini) --------------------------------------------


def q_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue — the single-number
    concentration audit behind the Pareto view: 0 = revenue spread
    evenly, →1 = a handful of customers carry everything.

    Exact integer end-to-end: with revenues sorted ascending,
    G = Σ(2i − n − 1)·x_i / (n·Σx). The rank-weighted sum grows ~n²·x̄ —
    it crossed 2^63/1000 already at sf0.1 (caught r12 by the noop-sink
    jobs sweep; the rows-only scale sweep had pruned the column) — so
    wsum/num/den are DECIMAL(38,0) and the ppm quotient is a single
    exact decimal ``× 1e6 DIV`` (IntegralDivide returns BIGINT; num ≥ 0
    so truncation = floor = DuckDB ``//``). Values are bit-identical to
    the old two-stage BIGINT scaling everywhere that form didn't
    overflow.

    Scale: one aggregation to per-customer revenue, collapsed to DISTINCT
    revenue values before the ordering window (a tie group of m values at
    rank s contributes x·m·(2s+m−2)) — the single-partition window is
    bounded by the value domain, not the customer count.
    """
    o = load_table(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    # 100 TB shape: Σ(2i−1)·x over a tie group of m equal values starting
    # at rank s is x·m·(2s+m−2) — so the sort window runs over DISTINCT
    # revenue values (bounded domain), not per-customer rows.
    per_val = per.groupBy("cents").agg(F.count(F.lit(1)).alias("m"))
    w_prev = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_val.select(
        "cents",
        "m",
        (F.coalesce(F.sum("m").over(w_prev), F.lit(0)) + 1).alias("s"),
    )
    stats = ranked.agg(
        F.sum("m").alias("n"),
        # total in DECIMAL(38,0) too (ADVICE r12): at the query's own
        # 100 TB framing Σcents can approach 2^63 and a BIGINT sum would
        # go silently NULL (ANSI off) before the decimal casts in
        # num/den. The declared total_cents output stays BIGINT via the
        # cast below — identical values wherever the old form didn't
        # overflow (i.e. everywhere the oracle runs).
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("m")).alias(
            "total"
        ),
        F.sum(
            F.col("cents").cast("decimal(38,0)")
            * F.col("m")
            * (F.lit(2) * F.col("s") + F.col("m") - 2)
        ).alias("wsum"),
    )
    # Σ(2i−n−1)x = Σ(2i−1)x − n·Σx  (wsum carries the (2i−1) weights);
    # num/den in DECIMAL(38,0) — exact, and immune to the n²·x̄ growth
    # that overflowed the BIGINT form at sf0.1
    num = F.col("wsum") - F.col("n").cast("decimal(38,0)") * F.col("total")
    den = F.col("n").cast("decimal(38,0)") * F.col("total")
    return (
        stats.select(
            F.col("n").alias("n_customers"),
            F.col("total").cast("long").alias("total_cents"),
            num.alias("num"),
            den.alias("den"),
        )
        .select(
            "n_customers",
            "total_cents",
            # All-zero revenue (den = 0) → Gini undefined: NULL, same
            # ANSI-vs-DuckDB guard as ks/rank-sum.
            F.expr(
                "CASE WHEN den = 0 THEN CAST(NULL AS BIGINT) ELSE "
                "num * 1000000 DIV den END"
            ).alias("gini_ppm"),
        )
    )


_ORACLE_GINI = """
WITH per AS (
    SELECT o_custkey,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders GROUP BY o_custkey
),
ranked AS (
    SELECT cents, CAST(ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS BIGINT) AS i
    FROM per
),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS total,
           CAST(SUM((2 * i - 1) * cents) AS BIGINT) AS wsum
    FROM ranked
),
nd AS (
    SELECT n, total, wsum - n * total AS num, n * total AS den FROM stats
)
SELECT n AS n_customers, total AS total_cents,
       CASE WHEN den = 0 THEN CAST(NULL AS BIGINT) ELSE
       CAST((num * 1000 // den) * 1000 + (num * 1000 % den) * 1000 // den AS BIGINT)
       END AS gini_ppm
FROM nd
"""


# --- robust trend + changepoint ----------------------------------------------


def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend over daily revenue: the median of all
    pairwise day-to-day slopes — immune to outlier days that wreck an
    OLS fit. Pair space is days², not rows² (the corpus collapses to the
    daily rollup first), so the estimator stays cheap at any event
    volume.

    Exactness: each slope is FLOOR(dy·1e6 / dx). dy·1e6 stays under 2^53
    so the double quotient is correctly rounded, and a non-integer
    rational p/q sits ≥ 1/q from any integer — far beyond one ulp — so
    the floor is exact on both engines (integer DIV is avoided because
    Spark truncates negatives toward zero while DuckDB floors). The
    median is the lower order statistic — pure row_number.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.sum(F.floor(F.col("value") * 1000).cast("long")).alias("vm"))
        .localCheckpoint()
    )
    a = daily.select(F.col("d").alias("d1"), F.col("vm").alias("v1"))
    b = daily.select(F.col("d").alias("d2"), F.col("vm").alias("v2"))
    slopes = (
        a.join(b, F.col("d1") < F.col("d2"))
        .select(
            F.floor(
                (F.col("v2") - F.col("v1")).cast("double")
                * 1_000_000
                / F.datediff(F.col("d2"), F.col("d1"))
            )
            .cast("long")
            .alias("slope_e6")
        )
    )
    w = Window.orderBy("slope_e6")
    ranked = slopes.withColumn("rn", F.row_number().over(w))
    stats = ranked.agg(F.count(F.lit(1)).alias("n_pairs"))
    return (
        ranked.crossJoin(F.broadcast(stats))
        .where(F.col("rn") == F.floor((F.col("n_pairs") + 1) / 2))
        .select("n_pairs", F.col("slope_e6").alias("slope_med_e6"))
    )


_ORACLE_THEIL_SEN = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d,
           CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS vm
    FROM events GROUP BY CAST(ts AS DATE)
),
slopes AS (
    SELECT CAST(FLOOR(CAST(b.vm - a.vm AS DOUBLE) * 1000000
                      / datediff('day', a.d, b.d)) AS BIGINT) AS slope_e6
    FROM daily a JOIN daily b ON a.d < b.d
),
ranked AS (
    SELECT slope_e6, ROW_NUMBER() OVER (ORDER BY slope_e6) AS rn FROM slopes
),
stats AS (SELECT COUNT(*) AS n_pairs FROM ranked)
SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(slope_e6 AS BIGINT) AS slope_med_e6
FROM ranked, stats
WHERE rn = CAST(FLOOR((n_pairs + 1) / 2.0) AS BIGINT)
"""


def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint over daily revenue: the day k maximizing
    |n·S_k − k·total| (the cross-multiplied form of |S_k − k·mean| —
    division-free, so the whole detector is exact BIGINT). Flags where
    the revenue level shifted; ties resolve to the earliest day.

    Scale: daily rollup (one shuffle) + one bounded window over |days|
    rows. n·S_k stays far under 2^63 for any realistic day count.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(F.floor(F.col("value") * 1000).cast("long")).alias("vm")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wk = Window.orderBy("d")
    cum = daily.select(
        "d",
        F.sum("vm").over(w).alias("s_k"),
        F.row_number().over(wk).cast("long").alias("k"),
    )
    stats = cum.agg(
        F.max("k").alias("n_days"), F.max("s_k").alias("total")
    )  # last cumsum == total because the window is cumulative over all rows
    scored = cum.crossJoin(F.broadcast(stats)).select(
        "d",
        "k",
        "n_days",
        F.abs(F.col("n_days") * F.col("s_k") - F.col("k") * F.col("total")).alias(
            "score"
        ),
    )
    pick = Window.orderBy(F.desc("score"), F.asc("k"))
    return (
        scored.withColumn("rnk", F.row_number().over(pick))
        .where(F.col("rnk") == 1)
        .select(
            F.col("n_days").cast("long").alias("n_days"),
            F.col("k").alias("cp_index"),
            F.col("d").alias("cp_date"),
            F.col("score").cast("long").alias("score_max"),
        )
    )


_ORACLE_CUSUM = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d,
           CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS vm
    FROM events GROUP BY CAST(ts AS DATE)
),
cum AS (
    SELECT d,
           CAST(SUM(vm) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s_k,
           CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS k
    FROM daily
),
stats AS (SELECT MAX(k) AS n_days, MAX(s_k) AS total FROM cum),
scored AS (
    SELECT d, k, n_days, ABS(n_days * s_k - k * total) AS score
    FROM cum, stats
)
SELECT CAST(n_days AS BIGINT) AS n_days, k AS cp_index, d AS cp_date,
       CAST(score AS BIGINT) AS score_max
FROM scored
ORDER BY score DESC, k
LIMIT 1
"""


# --- jackknife replicates ----------------------------------------------------
JK_GROUPS = 10


def q_jackknife_replicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-group jackknife over order totals: rows hash into
    ``JK_GROUPS`` groups (content-stable md5, not random()), and each
    replicate's leave-one-group-out mean estimates the statistic's
    sampling variability — the distributed way to put an error bar on a
    corpus mean without a second pass or RNG state.

    Exactness: per-group state is the (Σ cents, n) BIGINT pair; each
    leave-one-out mean is a single exact-quotient division of exact
    integers (identical in any engine); variance across the 10 replicate
    doubles is the consumer's one-line follow-up.

    Scale: one map-side-combined aggregation into JK_GROUPS groups — the
    cost of a global mean, replicated error bar for free.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", F.lit("jk-seed-1"), F.col("o_orderkey").cast("string"))),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("long")
            % JK_GROUPS
        ).alias("g"),
    )
    per = o.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_g"), F.sum("cents").alias("s_g")
    )
    tot = per.agg(F.sum("n_g").alias("n"), F.sum("s_g").alias("s"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "g",
            F.col("n_g").cast("long").alias("n_g"),
            # exact-quotient double over exact BIGINTs (no ROUND)
            ((F.col("s") - F.col("s_g")) / (F.col("n") - F.col("n_g"))).alias(
                "loo_mean_cents"
            ),
        )
        .orderBy("g")
    )


_ORACLE_JACKKNIFE = f"""
WITH o AS (
    SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
           CAST('0x' || substr(md5('jk-seed-1' || '|' || CAST(o_orderkey AS VARCHAR)),
                               1, 13) AS BIGINT) % {JK_GROUPS} AS g
    FROM orders
),
per AS (SELECT g, COUNT(*) AS n_g, CAST(SUM(cents) AS BIGINT) AS s_g FROM o GROUP BY g),
tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n, CAST(SUM(s_g) AS BIGINT) AS s FROM per)
SELECT g, n_g,
       CAST(s - s_g AS DOUBLE) / (n - n_g) AS loo_mean_cents
FROM per, tot
ORDER BY g
"""


# --- Benford first-digit audit -----------------------------------------------
import math as _math

# expected Benford proportions, floor-scaled ppm — computed ONCE in Python
# and inlined as literals on BOTH engines (no query-time transcendental)
BENFORD_PPM: dict[int, int] = {
    d: int(_math.log10(1 + 1 / d) * 1_000_000) for d in range(1, 10)
}


def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law fraud/integrity audit on order totals: the observed
    first-significant-digit distribution vs the Benford expectation
    (P(d) = log10(1 + 1/d)) — the classic forensic screen for fabricated
    monetary values.

    Exactness: the first digit comes from the INTEGER part's decimal
    string (floor → BIGINT → substring — identical in both engines; no
    double formatting); observed shares are integer ppm; the expected
    constants are Python-computed literals, so no query-time
    transcendental can diverge.

    Scale: map-only digit extraction, one 9-group aggregation.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.floor("o_totalprice").cast("long").alias("units")
    )
    digits = o.where(F.col("units") >= 1).select(
        F.substring(F.col("units").cast("string"), 1, 1).cast("int").alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("t"))
    expected = spark.createDataFrame(
        [(d, ppm) for d, ppm in BENFORD_PPM.items()], "digit int, expected_ppm long"
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .join(F.broadcast(expected), "digit")
        .select(
            "digit",
            "n",
            F.expr("n * 1000000 DIV t").alias("observed_ppm"),
            "expected_ppm",
            (F.expr("n * 1000000 DIV t") - F.col("expected_ppm")).alias("dev_ppm"),
        )
        .orderBy("digit")
    )


_ORACLE_BENFORD = (
    """
WITH d AS (
    SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                AS INT) AS digit
    FROM orders WHERE FLOOR(o_totalprice) >= 1
),
counts AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
total AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM counts),
expected(digit, expected_ppm) AS (VALUES """
    + ", ".join(f"({d}, {ppm})" for d, ppm in BENFORD_PPM.items())
    + """)
SELECT c.digit, c.n,
       CAST(c.n * 1000000 // t AS BIGINT) AS observed_ppm,
       CAST(e.expected_ppm AS BIGINT) AS expected_ppm,
       CAST(c.n * 1000000 // t - e.expected_ppm AS BIGINT) AS dev_ppm
FROM counts c, total JOIN expected e ON e.digit = c.digit
ORDER BY c.digit
"""
)


# --- per-user silence-gap audit ----------------------------------------------
GAP_LONG_US = 3_600 * 1_000_000  # 1 hour


def q_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity-gap audit: the longest silence between
    consecutive events and how many gaps exceed one hour — the
    engagement/outage detector a telemetry pipeline runs per entity.

    Exactness: gaps are integer microseconds (unix_micros both sides —
    no float time math); the lag window orders by (ts, event_id) so
    same-timestamp ties are deterministic. Single-event users emit
    max_gap_us = 0.

    Scale: one window partitioned by user_id (the partition key bounds
    the group — per-user event counts, the documented safe side of the
    window-skew rule) + one partial-aggregated rollup.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select("user_id", "ts", "event_id").withColumn(
        "gap_us", F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    )
    return (
        lagged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.coalesce(F.max("gap_us"), F.lit(0)).cast("long").alias("max_gap_us"),
            F.sum(F.when(F.col("gap_us") > GAP_LONG_US, 1).otherwise(0))
            .cast("long")
            .alias("n_long_gaps"),
        )
        .orderBy("user_id")
    )


# CAST(ts AS TIMESTAMP) truncates a TIMESTAMP_NS parquet read to micros —
# matching load_table's `ts div 1000` normalization if nanos testdata returns
_ORACLE_EVENT_GAPS = f"""
WITH g AS (
    SELECT user_id,
           epoch_us(CAST(ts AS TIMESTAMP))
           - LAG(epoch_us(CAST(ts AS TIMESTAMP)))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
    FROM events
)
SELECT user_id, COUNT(*) AS n_events,
       CAST(COALESCE(MAX(gap_us), 0) AS BIGINT) AS max_gap_us,
       CAST(SUM(CASE WHEN gap_us > {GAP_LONG_US} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_long_gaps
FROM g GROUP BY user_id ORDER BY user_id
"""


# --- population-stability drift audit ---------------------------------------
PSI_SCALE = 1_000_000
PSI_BASE_DAYS = 7


def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event type: the first
    ``PSI_BASE_DAYS`` days of traffic are the baseline window, everything
    after is current; each category contributes (p_cur − p_base)·
    ln(p_cur/p_base) — the standard production drift monitor for a
    categorical feature (PSI > 0.2 total ⇒ investigate).

    The window boundary anchors to min(ts) (no hard-coded dates — the
    testdata regenerates), add-1 smoothing keeps empty categories finite,
    and each contribution is floor-scaled to an e6 integer so the
    engine-side ln ulp cannot flip the aggregate (playbook #14).

    Scale: one scan, one groupBy on event_type (category-bounded), the
    1-row min(ts) and category-count scalars broadcast. No window
    functions, no per-row Python.
    """
    ev = load_table(spark, sf_dir, "events")
    d0 = ev.agg(F.min(F.col("ts").cast("date")).alias("d0"))
    counts = (
        ev.crossJoin(F.broadcast(d0))
        .select(
            "event_type",
            (
                F.datediff(F.col("ts").cast("date"), F.col("d0")) < PSI_BASE_DAYS
            ).alias("is_base"),
        )
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("is_base"), 1).otherwise(0)).alias("n_base"),
            F.sum(F.when(~F.col("is_base"), 1).otherwise(0)).alias("n_cur"),
        )
        .localCheckpoint()
    )
    return psi_from_counts(counts)


def psi_from_counts(counts: DataFrame, key: str = "event_type") -> DataFrame:
    """PSI scoring over a (<key>, n_base, n_cur) counts table — shared
    by the batch query, the streaming incremental monitor (count merge
    is associative, so both feed identical counts here), and the
    embedding-space drift audit (key='bucket')."""
    stats = counts.agg(
        F.sum("n_base").alias("t_base"),
        F.sum("n_cur").alias("t_cur"),
        F.count(F.lit(1)).alias("k"),
    )
    j = counts.crossJoin(F.broadcast(stats))
    p_base = (F.col("n_base") + 1) / (F.col("t_base") + F.col("k"))
    p_cur = (F.col("n_cur") + 1) / (F.col("t_cur") + F.col("k"))
    return j.select(
        key,
        F.col("n_base").cast("long").alias("n_base"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.floor((p_cur - p_base) * F.log(p_cur / p_base) * PSI_SCALE)
        .cast("long")
        .alias("psi_e6"),
    ).orderBy(key)


_ORACLE_PSI = f"""
WITH d0 AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
counts AS (
    SELECT event_type,
           SUM(CASE WHEN datediff('day', d0, CAST(ts AS DATE)) < {PSI_BASE_DAYS}
                    THEN 1 ELSE 0 END) AS n_base,
           SUM(CASE WHEN datediff('day', d0, CAST(ts AS DATE)) < {PSI_BASE_DAYS}
                    THEN 0 ELSE 1 END) AS n_cur
    FROM events, d0
    GROUP BY event_type
),
stats AS (
    SELECT SUM(n_base) AS t_base, SUM(n_cur) AS t_cur, COUNT(*) AS k FROM counts
)
SELECT event_type,
       CAST(n_base AS BIGINT) AS n_base,
       CAST(n_cur AS BIGINT) AS n_cur,
       CAST(FLOOR(((n_cur + 1) / CAST(t_cur + k AS DOUBLE)
                   - (n_base + 1) / CAST(t_base + k AS DOUBLE))
                  * ln(((n_cur + 1) / CAST(t_cur + k AS DOUBLE))
                       / ((n_base + 1) / CAST(t_base + k AS DOUBLE)))
                  * {PSI_SCALE}) AS BIGINT) AS psi_e6
FROM counts, stats
ORDER BY event_type
"""


# --- embedding-space drift audit --------------------------------------------

EMB_DRIFT_PLANES = 4  # 16 sign buckets — category-bounded PSI domain


def q_embedding_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift monitor for a VECTOR space: bucket every embedding by
    its sign-LSH cell (first ``EMB_DRIFT_PLANES`` coordinate signs, the
    same hash the ANN index keys on) and compare the bucket distribution
    of the reference cohort (even vec_id — standing in for "training
    snapshot") against the current cohort (odd vec_id — "serving
    traffic"). This is how embedding drift is monitored in production:
    raw-vector drift has no category domain, but the index's OWN bucket
    histogram does, and a shifted histogram means the index's bucket
    occupancy (and thus recall) no longer matches what it was built for.
    Same add-1-smoothed, e6-floor-scaled PSI scoring as the categorical
    monitor — psi_from_counts is shared verbatim (key='bucket').

    Scale: map-only bucket hash + one 2^planes-bounded rollup; the
    one-row totals attach broadcast. No pairwise work, no window."""
    from admob_data_pipeline_spark.operators.similarity import sign_bucket

    emb = load_table(spark, sf_dir, "embeddings")
    counts = (
        emb.select(
            sign_bucket(F.col("embedding"), EMB_DRIFT_PLANES).alias("bucket"),
            (F.col("vec_id") % 2 == 0).alias("is_base"),
        )
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("is_base"), 1).otherwise(0)).alias("n_base"),
            F.sum(F.when(~F.col("is_base"), 1).otherwise(0)).alias("n_cur"),
        )
        .localCheckpoint()  # 2^planes rows, read twice by psi_from_counts
    )
    return psi_from_counts(counts, key="bucket")


_EMB_BUCKET_SQL = " || ".join(
    f"(CASE WHEN embedding[{i + 1}] >= 0 THEN '1' ELSE '0' END)"
    for i in range(EMB_DRIFT_PLANES)
)

_ORACLE_EMB_DRIFT_PSI = f"""
WITH counts AS (
    SELECT {_EMB_BUCKET_SQL} AS bucket,
           SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS n_base,
           SUM(CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END) AS n_cur
    FROM embeddings
    GROUP BY bucket
),
stats AS (
    SELECT SUM(n_base) AS t_base, SUM(n_cur) AS t_cur, COUNT(*) AS k FROM counts
)
SELECT bucket,
       CAST(n_base AS BIGINT) AS n_base,
       CAST(n_cur AS BIGINT) AS n_cur,
       CAST(FLOOR(((n_cur + 1) / CAST(t_cur + k AS DOUBLE)
                   - (n_base + 1) / CAST(t_base + k AS DOUBLE))
                  * ln(((n_cur + 1) / CAST(t_cur + k AS DOUBLE))
                       / ((n_base + 1) / CAST(t_base + k AS DOUBLE)))
                  * {PSI_SCALE}) AS BIGINT) AS psi_e6
FROM counts, stats
ORDER BY bucket
"""


# --- mediation-grain report warehouse (SURVEY §2.1 S2 + §2.2 P7/P8) -------
#
# The reference's second report family (fetch_mediation_report.py:79-113)
# adds the monetization dims (AD_SOURCE, COUNTRY) and the request-funnel
# metrics (AD_REQUESTS/MATCHED_REQUESTS → MATCH_RATE; OBSERVED_ECPM,
# save_CSV.py:148-186). These four queries exercise that surface
# END-TO-END over a date-partitioned parquet warehouse: the spec's
# dateRange prunes partitions and the country/ad_source IN-lists push to
# row groups (executed-plan assertions in tests/test_report_spec.py).
# Money stays in integer micros so every SUM is exact and
# order-independent; ratios divide the exact sums once at the end.
# BIGINT headroom: sum(earn_micros)·1000 at 100 TB ≈ 1e9 rows/day ·
# 5e5 micros · 1000 ≈ 5e17 < 9.2e18 per (day, source, country) cell.


def q_report_warehouse_mediation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 over the partitioned warehouse: the mediation spec JSON accepted
    verbatim (ReportSpec.from_dict), compiled to a pruned scan + grouped
    earnings/impressions/matched rollup at (DATE, AD_SOURCE, COUNTRY)."""
    from admob_data_pipeline_spark.sources.report_spec import (
        ReportSpec,
        compile_report,
    )
    from admob_data_pipeline_spark.sources.report_warehouse import (
        read_mediation_warehouse,
    )

    wh = read_mediation_warehouse(spark, sf_dir)
    spec = ReportSpec.from_dict(
        {
            "dateRange": {
                "startDate": {"year": 2024, "month": 1, "day": 4},
                "endDate": {"year": 2024, "month": 1, "day": 18},
            },
            "dimensions": ["DATE", "AD_SOURCE", "COUNTRY"],
            "metrics": ["ESTIMATED_EARNINGS", "IMPRESSIONS", "MATCHED_REQUESTS"],
            "dimensionFilters": [
                {
                    "dimension": "AD_SOURCE",
                    "matchesAny": {"values": ["src0", "src1", "src2"]},
                },
                {
                    "dimension": "COUNTRY",
                    "matchesAny": {"values": ["C0", "C2", "C3", "C5"]},
                },
            ],
            "sortConditions": [
                {"dimension": "DATE", "order": "ASCENDING"},
                {"metric": "ESTIMATED_EARNINGS", "order": "DESCENDING"},
            ],
        }
    )
    return compile_report(
        wh,
        spec,
        dim_cols={
            "AD_SOURCE": "ad_source_name",
            "COUNTRY": "country",
            "APP": "app_name",
        },
        metric_cols={
            "ESTIMATED_EARNINGS": "earn_micros",
            "IMPRESSIONS": "impressions",
            "MATCHED_REQUESTS": "matched_requests",
        },
    )


_MEDIATION_FACT_SQL = """
    SELECT CAST(ts AS DATE) AS date,
           event_type AS app_name,
           'src' || CAST(user_id % 4 AS VARCHAR) AS ad_source_name,
           'src' || CAST(user_id % 4 AS VARCHAR)
               || '-i' || CAST(user_id % 2 AS VARCHAR)
               AS ad_source_instance_name,
           'grp' || CAST(event_id % 3 AS VARCHAR) AS mediation_group_name,
           'C' || CAST(event_id % 6 AS VARCHAR) AS country,
           CAST(1 + event_id % 3 AS BIGINT) AS ad_requests,
           CAST(1 AS BIGINT) AS matched_requests,
           CAST(1 AS BIGINT) AS impressions,
           CAST(FLOOR(value * 1e6) AS BIGINT) AS earn_micros
    FROM events
"""

_ORACLE_MEDIATION_WH = f"""
WITH fact AS ({_MEDIATION_FACT_SQL})
SELECT date,
       ad_source_name AS ad_source,
       country,
       CAST(SUM(earn_micros) AS BIGINT) AS estimated_earnings,
       CAST(SUM(impressions) AS BIGINT) AS impressions,
       CAST(SUM(matched_requests) AS BIGINT) AS matched_requests
FROM fact
WHERE date BETWEEN DATE '2024-01-04' AND DATE '2024-01-18'
  AND ad_source_name IN ('src0', 'src1', 'src2')
  AND country IN ('C0', 'C2', 'C3', 'C5')
GROUP BY date, ad_source_name, country
ORDER BY date, estimated_earnings DESC
"""


def q_mediation_ecpm_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OBSERVED_ECPM at every drill level in one scan: ROLLUP
    (ad_source, country) — per-cell rows, per-source subtotals, network
    grand total. eCPM = earnings per 1000 impressions, computed ONCE from
    the exact integer sums (never an average of per-row ratios) and kept
    in integer micros via floor division — a ROUND at this magnitude
    (~4e10 micros) sits past double precision and diverged between
    engines by 1 ulp in testing.

    Scale: Expand + one partial/final hash aggregate; grouping keys are
    schema-bounded (sources × countries)."""
    from admob_data_pipeline_spark.sources.report_warehouse import (
        ecpm_micros_col,
        read_mediation_warehouse,
    )

    wh = read_mediation_warehouse(spark, sf_dir)
    return (
        wh.rollup("ad_source_name", "country")
        .agg(
            F.grouping("ad_source_name").cast("int").alias("g_src"),
            F.grouping("country").cast("int").alias("g_cty"),
            F.sum("earn_micros").alias("earn_micros"),
            F.sum("impressions").alias("impressions"),
        )
        .select(
            F.col("ad_source_name").alias("ad_source"),
            "country",
            "g_src",
            "g_cty",
            "earn_micros",
            "impressions",
            ecpm_micros_col().alias("ecpm_micros"),
        )
        .orderBy("g_src", "g_cty", "ad_source", "country")
    )


_ORACLE_MEDIATION_ECPM = f"""
WITH fact AS ({_MEDIATION_FACT_SQL})
SELECT ad_source_name AS ad_source,
       country,
       CAST(GROUPING(ad_source_name) AS INTEGER) AS g_src,
       CAST(GROUPING(country) AS INTEGER) AS g_cty,
       CAST(SUM(earn_micros) AS BIGINT) AS earn_micros,
       CAST(SUM(impressions) AS BIGINT) AS impressions,
       CAST(SUM(earn_micros) * 1000 // NULLIF(SUM(impressions), 0) AS BIGINT)
           AS ecpm_micros
FROM fact
GROUP BY ROLLUP (ad_source_name, country)
ORDER BY g_src, g_cty, ad_source, country
"""


def q_mediation_fill_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The request funnel per (app, ad_source): MATCH_RATE =
    matched/requests and SHOW_RATE = impressions/matched (the reference's
    derived report metrics), each a ratio of exact integer sums with
    NULL-on-zero denominators — never averaged per-row."""
    from admob_data_pipeline_spark.sources.report_warehouse import (
        read_mediation_warehouse,
    )

    wh = read_mediation_warehouse(spark, sf_dir)
    return (
        wh.groupBy("app_name", "ad_source_name")
        .agg(
            F.sum("ad_requests").alias("ad_requests"),
            F.sum("matched_requests").alias("matched_requests"),
            F.sum("impressions").alias("impressions"),
        )
        .select(
            F.col("app_name"),
            F.col("ad_source_name").alias("ad_source"),
            "ad_requests",
            "matched_requests",
            F.round(
                F.col("matched_requests").cast("double")
                / F.nullif(F.col("ad_requests"), F.lit(0)),
                6,
            ).alias("match_rate"),
            F.round(
                F.col("impressions").cast("double")
                / F.nullif(F.col("matched_requests"), F.lit(0)),
                6,
            ).alias("show_rate"),
        )
        .orderBy("app_name", "ad_source")
    )


_ORACLE_MEDIATION_FILL = f"""
WITH fact AS ({_MEDIATION_FACT_SQL})
SELECT app_name,
       ad_source_name AS ad_source,
       CAST(SUM(ad_requests) AS BIGINT) AS ad_requests,
       CAST(SUM(matched_requests) AS BIGINT) AS matched_requests,
       ROUND(CAST(SUM(matched_requests) AS DOUBLE)
             / NULLIF(SUM(ad_requests), 0), 6) AS match_rate,
       ROUND(CAST(SUM(impressions) AS DOUBLE)
             / NULLIF(SUM(matched_requests), 0), 6) AS show_rate
FROM fact
GROUP BY app_name, ad_source_name
ORDER BY app_name, ad_source
"""


def q_mediation_group_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waterfall accounting: each ad-source INSTANCE's share of its
    mediation group's earnings (the per-group revenue split a mediation
    dashboard renders), in exact integer ppm of exact micros sums.

    Scale: one partial/final aggregate to the schema-bounded
    (group, instance) grain; the share window runs over that rollup
    (≤ groups × instances rows), never raw events."""
    from admob_data_pipeline_spark.sources.report_warehouse import (
        read_mediation_warehouse,
    )

    wh = read_mediation_warehouse(spark, sf_dir)
    cell = wh.groupBy("mediation_group_name", "ad_source_instance_name").agg(
        F.sum("earn_micros").alias("earn_micros"),
        F.sum("impressions").alias("impressions"),
    )
    w = Window.partitionBy("mediation_group_name")
    return (
        cell.withColumn("grp_micros", F.sum("earn_micros").over(w))
        .select(
            F.col("mediation_group_name").alias("mediation_group"),
            F.col("ad_source_instance_name").alias("instance"),
            "earn_micros",
            "impressions",
            F.expr("earn_micros * 1000000 DIV NULLIF(grp_micros, 0)")
            .cast("long")
            .alias("share_ppm"),
        )
        .orderBy("mediation_group", "instance")
    )


_ORACLE_MEDIATION_GROUP = f"""
WITH fact AS ({_MEDIATION_FACT_SQL}),
cell AS (
    SELECT mediation_group_name, ad_source_instance_name,
           CAST(SUM(earn_micros) AS BIGINT) AS earn_micros,
           CAST(SUM(impressions) AS BIGINT) AS impressions
    FROM fact GROUP BY mediation_group_name, ad_source_instance_name
)
SELECT mediation_group_name AS mediation_group,
       ad_source_instance_name AS instance,
       earn_micros,
       impressions,
       CAST(earn_micros * 1000000
            // NULLIF(SUM(earn_micros) OVER (PARTITION BY mediation_group_name), 0)
            AS BIGINT) AS share_ppm
FROM cell
ORDER BY mediation_group, instance
"""


def q_mediation_top_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waterfall winner: the highest-earning ad source per (date, country)
    cell — the per-cell top-1 a mediation dashboard ranks. Deterministic
    tie-break on source name; exact integer earnings.

    Scale: one partial/final aggregate to the (date, country, source)
    grain, then a window over that BOUNDED rollup (≤ dates × countries ×
    sources rows), never over raw events."""
    from admob_data_pipeline_spark.sources.report_warehouse import (
        read_mediation_warehouse,
    )

    wh = read_mediation_warehouse(spark, sf_dir)
    cell = wh.groupBy("date", "country", "ad_source_name").agg(
        F.sum("earn_micros").alias("earn_micros")
    )
    w = Window.partitionBy("date", "country").orderBy(
        F.desc("earn_micros"), F.asc("ad_source_name")
    )
    return (
        cell.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "date",
            "country",
            F.col("ad_source_name").alias("top_source"),
            "earn_micros",
        )
        .orderBy("date", "country")
    )


_ORACLE_MEDIATION_TOP = f"""
WITH fact AS ({_MEDIATION_FACT_SQL}),
cell AS (
    SELECT date, country, ad_source_name,
           CAST(SUM(earn_micros) AS BIGINT) AS earn_micros
    FROM fact GROUP BY date, country, ad_source_name
),
ranked AS (
    SELECT date, country, ad_source_name, earn_micros,
           ROW_NUMBER() OVER (
               PARTITION BY date, country
               ORDER BY earn_micros DESC, ad_source_name ASC
           ) AS rk
    FROM cell
)
SELECT date, country, ad_source_name AS top_source, earn_micros
FROM ranked WHERE rk = 1
ORDER BY date, country
"""


# --- full-grain NETWORK report warehouse (FIXTURES.md §2) -------------------
#
# r4's network warehouse carried only the CTR columns; this family runs the
# FULL §2 grain — FORMAT dimension + the request funnel (AD_REQUESTS →
# MATCHED_REQUESTS → IMPRESSIONS → CLICKS) and earnings, including the
# zero-impression rows the SAFE_DIVIDE paths need — over a date-partitioned
# parquet warehouse (save_network_CSV.py:132-136 grain; partition pruning +
# format IN-list pushdown asserted in tests/test_report_spec.py).


def q_report_warehouse_network(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 over the full-grain partitioned warehouse: the network spec JSON
    accepted verbatim, compiled to a pruned scan + grouped funnel rollup
    at (DATE, APP, FORMAT) with a pushed FORMAT IN-list."""
    from admob_data_pipeline_spark.sources.report_spec import (
        ReportSpec,
        compile_report,
    )
    from admob_data_pipeline_spark.sources.report_warehouse import (
        read_network_warehouse,
    )

    wh = read_network_warehouse(spark, sf_dir)
    spec = ReportSpec.from_dict(
        {
            "dateRange": {
                "startDate": {"year": 2024, "month": 1, "day": 3},
                "endDate": {"year": 2024, "month": 1, "day": 20},
            },
            "dimensions": ["DATE", "APP", "FORMAT"],
            "metrics": [
                "AD_REQUESTS",
                "CLICKS",
                "ESTIMATED_EARNINGS",
                "IMPRESSIONS",
            ],
            "dimensionFilters": [
                {
                    "dimension": "FORMAT",
                    "matchesAny": {
                        "values": ["Banner", "Rewarded", "Native advanced"]
                    },
                },
                {
                    "dimension": "APP",
                    "matchesAny": {"values": ["click", "view", "purchase"]},
                },
            ],
            "sortConditions": [
                {"dimension": "DATE", "order": "ASCENDING"},
                {"metric": "ESTIMATED_EARNINGS", "order": "DESCENDING"},
            ],
        }
    )
    return compile_report(
        wh,
        spec,
        dim_cols={
            "APP": "app_name",
            "FORMAT": "format",
            "AD_UNIT": "ad_unit_name",
        },
        metric_cols={
            "AD_REQUESTS": "ad_requests",
            "CLICKS": "clicks",
            "ESTIMATED_EARNINGS": "earn_micros",
            "IMPRESSIONS": "impressions",
            "MATCHED_REQUESTS": "matched_requests",
        },
    )


_NETWORK_FACT_SQL = """
    SELECT CAST(ts AS DATE) AS date,
           event_type AS app_name,
           (['Banner','Interstitial','Native advanced','Rewarded'])
               [CAST(event_id % 4 AS INT) + 1] AS format,
           'unit-' || CAST(user_id % 8 AS VARCHAR) AS ad_unit_name,
           CAST(1 + event_id % 3 AS BIGINT) AS ad_requests,
           CAST(1 AS BIGINT) AS matched_requests,
           CAST(CASE WHEN event_id % 7 = 0 THEN 0 ELSE 1 END AS BIGINT)
               AS impressions,
           CAST(FLOOR(value * 1000) AS BIGINT) AS clicks,
           CAST(FLOOR(value * 1e6) AS BIGINT) AS earn_micros
    FROM events
"""

_ORACLE_NETWORK_WH = f"""
WITH fact AS ({_NETWORK_FACT_SQL})
SELECT date,
       app_name AS app,
       format,
       CAST(SUM(ad_requests) AS BIGINT) AS ad_requests,
       CAST(SUM(clicks) AS BIGINT) AS clicks,
       CAST(SUM(earn_micros) AS BIGINT) AS estimated_earnings,
       CAST(SUM(impressions) AS BIGINT) AS impressions
FROM fact
WHERE date BETWEEN DATE '2024-01-03' AND DATE '2024-01-20'
  AND format IN ('Banner', 'Rewarded', 'Native advanced')
  AND app_name IN ('click', 'view', 'purchase')
GROUP BY date, app_name, format
ORDER BY date, estimated_earnings DESC
"""


def q_network_match_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The request funnel per (app, format): MATCH_RATE =
    matched/requests and SHOW_RATE = impressions/matched (the network
    report's derived metrics, FIXTURES §2), each a ratio of exact integer
    sums with NULL-on-zero denominators — never averaged per-row."""
    from admob_data_pipeline_spark.sources.report_warehouse import (
        read_network_warehouse,
    )

    wh = read_network_warehouse(spark, sf_dir)
    return (
        wh.groupBy("app_name", "format")
        .agg(
            F.sum("ad_requests").alias("ad_requests"),
            F.sum("matched_requests").alias("matched_requests"),
            F.sum("impressions").alias("impressions"),
        )
        .select(
            "app_name",
            "format",
            "ad_requests",
            "matched_requests",
            F.round(
                F.col("matched_requests").cast("double")
                / F.nullif(F.col("ad_requests"), F.lit(0)),
                6,
            ).alias("match_rate"),
            F.round(
                F.col("impressions").cast("double")
                / F.nullif(F.col("matched_requests"), F.lit(0)),
                6,
            ).alias("show_rate"),
        )
        .orderBy("app_name", "format")
    )


_ORACLE_NETWORK_MATCH = f"""
WITH fact AS ({_NETWORK_FACT_SQL})
SELECT app_name,
       format,
       CAST(SUM(ad_requests) AS BIGINT) AS ad_requests,
       CAST(SUM(matched_requests) AS BIGINT) AS matched_requests,
       ROUND(CAST(SUM(matched_requests) AS DOUBLE)
             / NULLIF(SUM(ad_requests), 0), 6) AS match_rate,
       ROUND(CAST(SUM(impressions) AS DOUBLE)
             / NULLIF(SUM(matched_requests), 0), 6) AS show_rate
FROM fact
GROUP BY app_name, format
ORDER BY app_name, format
"""


def q_network_rpm_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMPRESSION_RPM and CTR at every drill level in one scan: ROLLUP
    (app, format). RPM (revenue per mille impressions) reuses the shared
    eCPM expression over exact micros sums; CTR is a two-stage ppm
    (playbook #23 — clicks·1e6 would overflow BIGINT at corpus scale, the
    two-stage decomposition keeps every intermediate < 2^63). The
    zero-impression rows flow into cells with NULL rpm/ctr via NULLIF.

    Scale: Expand + one partial/final hash aggregate; grouping keys are
    schema-bounded (apps × formats)."""
    from admob_data_pipeline_spark.sources.report_warehouse import (
        ecpm_micros_col,
        read_network_warehouse,
    )

    wh = read_network_warehouse(spark, sf_dir)
    return (
        wh.rollup("app_name", "format")
        .agg(
            F.grouping("app_name").cast("int").alias("g_app"),
            F.grouping("format").cast("int").alias("g_fmt"),
            F.sum("earn_micros").alias("earn_micros"),
            F.sum("impressions").alias("impressions"),
            F.sum("clicks").alias("clicks"),
        )
        .select(
            "app_name",
            "format",
            "g_app",
            "g_fmt",
            "earn_micros",
            "impressions",
            "clicks",
            ecpm_micros_col().alias("rpm_micros"),
            F.expr(
                "(clicks * 1000 DIV NULLIF(impressions, 0)) * 1000"
                " + (clicks * 1000 % NULLIF(impressions, 0)) * 1000"
                " DIV NULLIF(impressions, 0)"
            )
            .cast("long")
            .alias("ctr_ppm"),
        )
        .orderBy("g_app", "g_fmt", "app_name", "format")
    )


_ORACLE_NETWORK_RPM = f"""
WITH fact AS ({_NETWORK_FACT_SQL})
SELECT app_name,
       format,
       CAST(GROUPING(app_name) AS INTEGER) AS g_app,
       CAST(GROUPING(format) AS INTEGER) AS g_fmt,
       CAST(SUM(earn_micros) AS BIGINT) AS earn_micros,
       CAST(SUM(impressions) AS BIGINT) AS impressions,
       CAST(SUM(clicks) AS BIGINT) AS clicks,
       CAST(SUM(earn_micros) * 1000 // NULLIF(SUM(impressions), 0) AS BIGINT)
           AS rpm_micros,
       CAST((CAST(SUM(clicks) AS BIGINT) * 1000
                 // NULLIF(SUM(impressions), 0)) * 1000
            + (CAST(SUM(clicks) AS BIGINT) * 1000
                   % NULLIF(SUM(impressions), 0)) * 1000
                 // NULLIF(SUM(impressions), 0) AS BIGINT) AS ctr_ppm
FROM fact
GROUP BY ROLLUP (app_name, format)
ORDER BY g_app, g_fmt, app_name, format
"""


def q_network_missing_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-date report-coverage audit: of all (app, format, unit) cells
    ever observed, how many are MISSING on each date — the warehouse-grain
    generalization of the reference's missing-units alert
    (native_CTR_alerts.py:298-302 anti-joins configured units against the
    day's report) and of its empty-day guard (main.py:147-149).

    Scale: one distinct-cells rollup (schema-bounded domain) broadcast as
    a one-row count; per-date distinct counts aggregate the same bounded
    domain — the fact shuffles once, keyed by date."""
    from admob_data_pipeline_spark.sources.report_warehouse import (
        read_network_warehouse,
    )

    wh = read_network_warehouse(spark, sf_dir)
    return _missing_cells_audit(wh, ["app_name", "format", "ad_unit_name"])


def _missing_cells_audit(wh: DataFrame, cell_cols: list[str]) -> DataFrame:
    """The ONE per-date missing-cells rollup, shared by the network and
    mediation coverage audits (they differ only in the reader and the
    cell column list)."""
    cell = F.concat_ws("|", *cell_cols)
    per_date = wh.groupBy("date").agg(
        F.countDistinct(cell).alias("n_present")
    )
    total = (
        wh.select(cell.alias("c"))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_expected"))
    )
    return (
        per_date.crossJoin(F.broadcast(total))
        .select(
            "date",
            "n_expected",
            "n_present",
            (F.col("n_expected") - F.col("n_present")).alias("n_missing"),
        )
        .orderBy("date")
    )


def _missing_cells_sql(fact_sql: str, cell_cols: list[str]) -> str:
    """ONE oracle template for the missing-cells audits — concat_ws on
    both engines (|| would propagate a NULL cell key where Spark's
    concat_ws skips it; the warehouse cells are non-null today, but the
    shared text removes the latent divergence)."""
    cols = ", ".join(cell_cols)
    return f"""
WITH fact AS ({fact_sql}),
tot AS (
    SELECT COUNT(*) AS n_expected FROM (
        SELECT DISTINCT {cols} FROM fact
    )
),
per_date AS (
    SELECT date,
           COUNT(DISTINCT concat_ws('|', {cols})) AS n_present
    FROM fact GROUP BY date
)
SELECT date,
       CAST(n_expected AS BIGINT) AS n_expected,
       CAST(n_present AS BIGINT) AS n_present,
       CAST(n_expected - n_present AS BIGINT) AS n_missing
FROM per_date, tot
ORDER BY date
"""


_ORACLE_NETWORK_MISSING = _missing_cells_sql(
    _NETWORK_FACT_SQL, ["app_name", "format", "ad_unit_name"]
)


def q_ctr_anomaly_warehouse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship W1 alert run against the PARTITIONED warehouse — the
    reference's actual production path (BigQuery date-partitioned report
    table → trailing-window alert, native_CTR_alerts.py:226-268) rather
    than the ad-hoc events derivation. Composes the same
    ``ctr_anomaly_from_fact`` core (fan-out join quirk included) over a
    PRUNED 8-day slice.

    Scale: one bounded one-row scalar job reads max(date) — ``date`` is
    the PARTITION column, so the job scans directory values, no data
    pages — and the literal BETWEEN it produces lands in
    PartitionFilters (asserted in tests/test_report_spec.py): at 100 TB
    the alert reads 8 partitions, not the warehouse. The self-anchored
    crossJoin form used by the fact-derived variants cannot prune (the
    bound is a joined column, not a literal); the one bounded collect is
    what buys the pruning."""
    import datetime

    from admob_data_pipeline_spark.operators.alerts import (
        ctr_anomaly_from_fact,
    )
    from admob_data_pipeline_spark.sources.report_warehouse import (
        read_network_warehouse,
    )

    wh = read_network_warehouse(spark, sf_dir)
    cols = ["date", "app_name", "ad_unit_name", "clicks", "impressions"]
    maxd = wh.agg(F.max("date")).first()[0]
    if maxd is None:  # empty warehouse → empty alert frame, same schema
        return ctr_anomaly_from_fact(wh.select(*cols).where(F.lit(False)))
    lo = maxd - datetime.timedelta(days=7)
    sliced = wh.where(F.col("date").between(F.lit(lo), F.lit(maxd)))
    return ctr_anomaly_from_fact(sliced.select(*cols))


_ORACLE_CTR_WAREHOUSE = f"""
WITH fact AS ({_NETWORK_FACT_SQL}),
bounds AS (SELECT MAX(date) AS report_date FROM fact),
last7 AS (
    SELECT ad_unit_name,
           CAST(SUM(clicks) AS DOUBLE) / NULLIF(SUM(impressions), 0)
               AS avg_ctr_7d
    FROM fact, bounds
    WHERE date BETWEEN report_date - INTERVAL 7 DAY
                   AND report_date - INTERVAL 1 DAY
    GROUP BY app_name, ad_unit_name
),
today AS (
    SELECT app_name, ad_unit_name,
           CAST(SUM(clicks) AS DOUBLE) / NULLIF(SUM(impressions), 0)
               AS today_ctr
    FROM fact, bounds
    WHERE date = report_date
    GROUP BY app_name, ad_unit_name
)
SELECT t.app_name, t.ad_unit_name,
       ROUND(t.today_ctr, 6) AS today_ctr,
       ROUND(l.avg_ctr_7d, 6) AS avg_ctr_7d,
       ROUND((t.today_ctr - l.avg_ctr_7d) / NULLIF(l.avg_ctr_7d, 0) * 100, 4)
           AS pct_change,
       ABS(ROUND((t.today_ctr - l.avg_ctr_7d) / NULLIF(l.avg_ctr_7d, 0) * 100, 4))
           > 25.0 AS is_alert
FROM today t
JOIN last7 l ON t.ad_unit_name = l.ad_unit_name
ORDER BY pct_change DESC, t.app_name, t.ad_unit_name
"""


def q_network_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic Partition Pruning over the date-partitioned warehouse —
    THE join-time scan optimization a 100 TB partitioned fact lives on:
    the busy-dates dim (dates with at least average traffic, an integer
    cross-multiplied threshold so it is exact and SF-relative) is only
    known at runtime, and Catalyst turns the broadcast join into a
    ``dynamicpruningexpression(date IN ...)`` PartitionFilter on the
    fact scan (asserted in tests/test_report_spec.py) — partitions for
    quiet dates are never read, even though no literal date predicate
    exists anywhere in the query.

    Scale: dim is a date-grain rollup (≤ calendar-days rows, broadcast);
    the fact side reads only the surviving partitions and feeds one
    partial/final aggregate at the schema-bounded (date, format) grain.
    The threshold scalars come from one bounded one-row collect over the
    date rollup — as literals they keep the dim's predicate SIMPLE,
    which is what lets Catalyst's pruning-benefit check accept the DPP
    rewrite (a join inside the dim subplan defeats it — measured)."""
    from admob_data_pipeline_spark.sources.report_warehouse import (
        read_network_warehouse,
    )

    wh = read_network_warehouse(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("date")).agg(
        F.count(F.lit(1)).alias("n")
    )
    total, n_dates = daily.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("n_dates")
    ).first()
    dim = daily.where(
        F.col("n") * F.lit(int(n_dates or 0)) >= F.lit(int(total or 0))
    ).select("date")
    return (
        wh.join(F.broadcast(dim), "date")
        .groupBy("date", "format")
        .agg(
            F.sum("earn_micros").alias("earn_micros"),
            F.sum("impressions").alias("impressions"),
        )
        .orderBy("date", "format")
    )


_ORACLE_NETWORK_DPP = f"""
WITH fact AS ({_NETWORK_FACT_SQL}),
daily AS (
    SELECT CAST(ts AS DATE) AS date, COUNT(*) AS n FROM events GROUP BY 1
),
stats AS (
    SELECT CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS n_dates FROM daily
),
dim AS (
    SELECT date FROM daily, stats WHERE n * n_dates >= total
)
SELECT f.date, f.format,
       CAST(SUM(f.earn_micros) AS BIGINT) AS earn_micros,
       CAST(SUM(f.impressions) AS BIGINT) AS impressions
FROM fact f JOIN dim USING (date)
GROUP BY f.date, f.format
ORDER BY f.date, f.format
"""


def q_mediation_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic Partition Pruning over the MEDIATION warehouse — the
    network_dpp_join contract proven on the second partitioned fact, with
    a REVENUE dim instead of a traffic dim: the high-earn dates (daily
    earn at least the per-date average, integer cross-multiplied so the
    threshold is exact and SF-relative) are only known at runtime, and
    Catalyst turns the broadcast join into a
    ``dynamicpruningexpression(date IN ...)`` PartitionFilter on the
    mediation scan (asserted in tests/test_report_spec.py) — quiet-date
    partitions are never read.

    Scale: dim is a date-grain rollup (≤ calendar-days rows, broadcast);
    the fact side reads only surviving partitions into one partial/final
    aggregate at the (date, ad_source_name) grain with the shared exact
    integer eCPM. The threshold scalars come from one bounded one-row
    collect over the date rollup — literals keep the dim predicate
    SIMPLE, which Catalyst's pruning-benefit check requires (a join
    inside the dim subplan defeats it — measured r6)."""
    from admob_data_pipeline_spark.sources.report_warehouse import (
        ecpm_micros_col,
        read_mediation_warehouse,
    )

    wh = read_mediation_warehouse(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("date")).agg(
        F.sum(F.floor(F.col("value") * 1e6).cast("long")).alias("earn")
    )
    total, n_dates = daily.agg(
        F.sum("earn").alias("total"), F.count(F.lit(1)).alias("n_dates")
    ).first()
    dim = daily.where(
        F.col("earn") * F.lit(int(n_dates or 0)) >= F.lit(int(total or 0))
    ).select("date")
    return (
        wh.join(F.broadcast(dim), "date")
        .groupBy("date", "ad_source_name")
        .agg(
            F.sum("earn_micros").alias("earn_micros"),
            F.sum("impressions").alias("impressions"),
        )
        .select(
            "date",
            "ad_source_name",
            "earn_micros",
            "impressions",
            ecpm_micros_col().alias("ecpm_micros"),
        )
        .orderBy("date", "ad_source_name")
    )


_ORACLE_MEDIATION_DPP = f"""
WITH fact AS ({_MEDIATION_FACT_SQL}),
daily AS (
    SELECT CAST(ts AS DATE) AS date,
           CAST(SUM(CAST(FLOOR(value * 1e6) AS BIGINT)) AS BIGINT) AS earn
    FROM events GROUP BY 1
),
stats AS (
    SELECT CAST(SUM(earn) AS BIGINT) AS total, COUNT(*) AS n_dates FROM daily
),
dim AS (
    SELECT date FROM daily, stats WHERE earn * n_dates >= total
),
agg AS (
    SELECT f.date, f.ad_source_name,
           CAST(SUM(f.earn_micros) AS BIGINT) AS earn_micros,
           CAST(SUM(f.impressions) AS BIGINT) AS impressions
    FROM fact f JOIN dim USING (date)
    GROUP BY f.date, f.ad_source_name
)
SELECT date, ad_source_name, earn_micros, impressions,
       CAST(earn_micros * 1000 // NULLIF(impressions, 0) AS BIGINT)
           AS ecpm_micros
FROM agg
ORDER BY date, ad_source_name
"""


def q_mediation_rollup_grain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's multi-dimension mediation grain (ad source →
    mediation group → country, save_CSV.py:148-151) as ONE scan via
    ROLLUP: per-source totals, per-(source, group) totals,
    per-(source, group, country) cells, and the grand total — Spark
    expands the sets map-side (Expand node) before one partial+final
    aggregate; four separate group-bys would be four warehouse scans.
    Funnel health ships as exact integer two-stage ppm (matched·1e6 DIV
    requests); grouping flags disambiguate the ALL rows."""
    from admob_data_pipeline_spark.sources.report_warehouse import (
        read_mediation_warehouse,
    )

    wh = read_mediation_warehouse(spark, sf_dir)
    return (
        wh.rollup("ad_source_name", "mediation_group_name", "country")
        .agg(
            F.grouping("ad_source_name").cast("int").alias("g_src"),
            F.grouping("mediation_group_name").cast("int").alias("g_grp"),
            F.grouping("country").cast("int").alias("g_ctry"),
            F.sum("ad_requests").alias("ad_requests"),
            F.sum("matched_requests").alias("matched_requests"),
            F.sum("earn_micros").alias("earn_micros"),
        )
        .select(
            "ad_source_name",
            "mediation_group_name",
            "country",
            "g_src",
            "g_grp",
            "g_ctry",
            "ad_requests",
            "matched_requests",
            F.expr(
                "matched_requests * 1000000 DIV NULLIF(ad_requests, 0)"
            )
            .cast("long")
            .alias("match_rate_ppm"),
            "earn_micros",
        )
        .orderBy(
            "g_src",
            "g_grp",
            "g_ctry",
            "ad_source_name",
            "mediation_group_name",
            "country",
        )
    )


_ORACLE_MEDIATION_ROLLUP = f"""
WITH fact AS ({_MEDIATION_FACT_SQL}),
agg AS (
    SELECT ad_source_name, mediation_group_name, country,
           CAST(GROUPING(ad_source_name) AS INTEGER) AS g_src,
           CAST(GROUPING(mediation_group_name) AS INTEGER) AS g_grp,
           CAST(GROUPING(country) AS INTEGER) AS g_ctry,
           CAST(SUM(ad_requests) AS BIGINT) AS ad_requests,
           CAST(SUM(matched_requests) AS BIGINT) AS matched_requests,
           CAST(SUM(earn_micros) AS BIGINT) AS earn_micros
    FROM fact
    GROUP BY ROLLUP (ad_source_name, mediation_group_name, country)
)
SELECT ad_source_name, mediation_group_name, country,
       g_src, g_grp, g_ctry, ad_requests, matched_requests,
       CAST(matched_requests * 1000000 // NULLIF(ad_requests, 0) AS BIGINT)
           AS match_rate_ppm,
       earn_micros
FROM agg
ORDER BY g_src, g_grp, g_ctry,
         ad_source_name, mediation_group_name, country
"""


# --- cross-warehouse coverage / funnel parity --------------------------------


def q_mediation_missing_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-date report-coverage audit on the MEDIATION warehouse —
    mirror of ``network_missing_cells`` at the waterfall grain
    (ad_source, mediation_group, country): of all cells ever observed,
    how many are missing per date. Same reference anchors
    (native_CTR_alerts.py:298-302 missing-units anti-join,
    main.py:147-149 empty-day guard); the grain is DENSE at the
    synthetic SFs so the audit reports zeros there — the non-zero path
    is exercised by the network twin's tests.

    Scale: identical to the network audit — one schema-bounded
    distinct-cells rollup broadcast as a one-row count; the fact
    shuffles once, keyed by date."""
    from admob_data_pipeline_spark.sources.report_warehouse import (
        read_mediation_warehouse,
    )

    wh = read_mediation_warehouse(spark, sf_dir)
    return _missing_cells_audit(
        wh, ["ad_source_name", "mediation_group_name", "country"]
    )


_ORACLE_MEDIATION_MISSING = _missing_cells_sql(
    _MEDIATION_FACT_SQL, ["ad_source_name", "mediation_group_name", "country"]
)


def q_warehouse_funnel_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-warehouse funnel parity: daily ad_requests /
    matched_requests / match-rate ppm from the NETWORK and MEDIATION
    report families side by side — the reconciliation an ads team runs
    when the two report surfaces must tell the same fill story (the
    reference fetches both families; nothing in it cross-checks them —
    this closes that gap). One row per (date, source_system); exact
    integer sums, ratio divided once.

    Scale: each warehouse contributes one date-keyed partial-aggregated
    rollup; the union is calendar-bounded."""
    from admob_data_pipeline_spark.sources.report_warehouse import (
        read_mediation_warehouse,
        read_network_warehouse,
    )

    def leg(wh: DataFrame, tag: str) -> DataFrame:
        return wh.groupBy("date").agg(
            F.lit(tag).alias("source_system"),
            F.sum("ad_requests").alias("ad_requests"),
            F.sum("matched_requests").alias("matched_requests"),
        )

    both = leg(read_network_warehouse(spark, sf_dir), "network").unionByName(
        leg(read_mediation_warehouse(spark, sf_dir), "mediation")
    )
    return both.select(
        "date",
        "source_system",
        "ad_requests",
        "matched_requests",
        F.expr(
            "CAST(matched_requests * 1000000 DIV NULLIF(ad_requests, 0)"
            " AS BIGINT)"
        ).alias("match_rate_ppm"),
    ).orderBy("date", "source_system")


_ORACLE_WAREHOUSE_COMPARE = f"""
WITH nw AS ({_NETWORK_FACT_SQL}),
md AS ({_MEDIATION_FACT_SQL}),
legs AS (
    SELECT date, 'network' AS source_system,
           CAST(SUM(ad_requests) AS BIGINT) AS ad_requests,
           CAST(SUM(matched_requests) AS BIGINT) AS matched_requests
    FROM nw GROUP BY date
    UNION ALL
    SELECT date, 'mediation' AS source_system,
           CAST(SUM(ad_requests) AS BIGINT) AS ad_requests,
           CAST(SUM(matched_requests) AS BIGINT) AS matched_requests
    FROM md GROUP BY date
)
SELECT date, source_system, ad_requests, matched_requests,
       CAST(matched_requests * 1000000 // NULLIF(ad_requests, 0) AS BIGINT)
           AS match_rate_ppm
FROM legs
ORDER BY date, source_system
"""


# --- multi-touch attribution -------------------------------------------------

ATTR_LOOKBACK_DAYS = 7
ATTR_TOUCH_TYPES = ("view", "click")


def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch LINEAR attribution: each purchase's revenue is split
    EQUALLY across the user's view/click touches in the 7-day lookback —
    the ads-analytics complement to the stream's last-touch attribution
    join. Money stays exact under ANY sign (refund rows included): with
    r = pmod(earn, n) ∈ [0, n) and q = (earn − r) DIV n — both exact
    integer hops — each touch gets q micros plus 1 extra to the r
    EARLIEST touches (largest-remainder, deterministic (ts, event_id)
    order), so per-purchase credits sum to earn exactly. Plain DIV/%
    would silently DROP the remainder micro for negative earn: both
    engines truncate integer division toward zero. Purchases with no
    touch in the window surface as the 'unattributed' row.

    Output semantics: ``n_events`` counts CREDITED TOUCHES on touch-type
    rows and PURCHASES on the 'unattributed' row (there are no touch rows
    to count there); credit_micros is uniformly micros.

    Scale: ONE left join, equi-keyed on user_id with a range post-filter
    (pairs bounded by per-user activity × lookback, the classic
    attribution shape); the unattributed branch is the same join's
    null rows, not a second shuffle. Both windows partition by purchase
    id (bounded by the per-user pair count). One rollup to the
    (day, touch_type) grain."""
    return attribution_linear(load_table(spark, sf_dir, "events"))


def _attribution_pairs(
    ev: DataFrame, salt_buckets: int | None = None
) -> DataFrame:
    """ONE definition of the attribution pair set shared by ALL the
    models (linear / salted / position / time-decay): purchases
    LEFT-joined to the user's view/click touches inside the lookback —
    equi-keyed on user_id with a range post-filter, so pairs are bounded
    by per-user activity × lookback; a purchase with no touch survives
    as the join's null row (the 'unattributed' branch, not a second
    shuffle).

    With ``salt_buckets`` the join key becomes (user_id, salt): the
    purchase side gets a deterministic pmod(p_id, B) salt and the touch
    side is exploded B ways, producing the IDENTICAL pair set — each
    (purchase, touch) pair matches exactly once via the touch replica
    carrying the purchase's salt, and a touchless purchase still
    survives as one null row."""
    p_cols = [
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("pts"),
        F.floor(F.col("value") * 1e6).cast("long").alias("earn"),
    ]
    if salt_buckets:
        p_cols.append(
            F.expr(f"pmod(event_id, {salt_buckets})").cast("int").alias(
                "p_salt"
            )
        )
    p = ev.where(F.col("event_type") == "purchase").select(*p_cols)
    t = ev.where(F.col("event_type").isin(list(ATTR_TOUCH_TYPES))).select(
        F.col("event_id").alias("t_id"),
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("tts"),
        F.col("event_type").alias("touch_type"),
    )
    cond = (
        (F.col("p_user") == F.col("t_user"))
        & (F.col("tts") <= F.col("pts"))
        & (
            F.col("tts")
            >= F.col("pts") - F.expr(f"INTERVAL {ATTR_LOOKBACK_DAYS} DAYS")
        )
    )
    if salt_buckets:
        t = t.withColumn(
            "t_salt",
            F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)])),
        )
        cond = cond & (F.col("p_salt") == F.col("t_salt"))
    return p.join(t, cond, "left")


def attribution_linear(ev: DataFrame) -> DataFrame:
    """See :func:`q_attribution_linear`."""
    return _linear_split_rollup(_attribution_pairs(ev))


def _linear_split_rollup(pairs: DataFrame) -> DataFrame:
    """The equal-split largest-remainder credit + (day, touch_type)
    rollup over an attribution pair set — shared by the plain and the
    skew-salted pair builders (the split only sees p_id partitions, so
    it is agnostic to how the join that produced them was laid out)."""
    w = Window.partitionBy("p_id")
    wrank = Window.partitionBy("p_id").orderBy("tts", "t_id")
    labeled = (
        pairs.withColumn("n", F.count("t_id").over(w))  # 0 on null rows
        .withColumn("rk", F.row_number().over(wrank))
        .select(
            F.col("pts").cast("date").alias("day"),
            F.coalesce(F.col("touch_type"), F.lit("unattributed")).alias(
                "touch_type"
            ),
            F.when(F.col("n") == 0, F.col("earn"))
            .otherwise(
                F.expr("(earn - pmod(earn, n)) DIV n")
                + F.when(F.col("rk") <= F.expr("pmod(earn, n)"), 1).otherwise(0)
            )
            .cast("long")
            .alias("credit"),
        )
    )
    return (
        labeled.groupBy("day", "touch_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("credit").alias("credit_micros"),
        )
        .orderBy("day", "touch_type")
    )


ATTR_SALT_BUCKETS = 8


def q_attribution_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``attribution_linear`` over the SKEW-SALTED pair join — the plan
    shape a hot-user key forces at 100 TB (one whale user's touches and
    purchases all hash to one shuffle partition otherwise). AQE's
    skew-join splitting cannot help there: it can split a skewed
    PARTITION but never a single key, and attribution skew is exactly
    one user_id key. Salting subdivides the key itself (see
    ``_attribution_pairs``), trading a B× replication of the narrow
    4-column touch side for B-way parallelism on the hot key — the
    standard skew trade, sized by ATTR_SALT_BUCKETS. Output is
    byte-identical to attribution_linear, checked against the SAME
    oracle; the salt-in-join-key shape is plan-pinned in
    tests/test_plans.py."""
    return _linear_split_rollup(
        _attribution_pairs(
            load_table(spark, sf_dir, "events"),
            salt_buckets=ATTR_SALT_BUCKETS,
        )
    )


_ORACLE_ATTRIBUTION = f"""
WITH p AS (
    SELECT event_id AS p_id, user_id, ts AS pts,
           CAST(FLOOR(value * 1e6) AS BIGINT) AS earn
    FROM events WHERE event_type = 'purchase'
),
t AS (
    SELECT event_id AS t_id, user_id, ts AS tts, event_type AS touch_type
    FROM events WHERE event_type IN ('view', 'click')
),
pairs AS (
    SELECT p.p_id, p.pts, p.earn, t.touch_type, t.tts, t.t_id
    FROM p JOIN t ON t.user_id = p.user_id
     AND t.tts <= p.pts
     AND t.tts >= p.pts - INTERVAL {ATTR_LOOKBACK_DAYS} DAY
),
credited AS (
    -- r = pmod(earn, n) in [0, n); q = (earn - r) // n. Exact for any
    -- sign of earn: plain //-and-% truncate toward zero on BOTH engines
    -- and would drop the remainder micro for negative (refund) rows.
    SELECT CAST(pts AS DATE) AS day, touch_type,
           CAST((earn - ((earn % n) + n) % n) // n
                + CASE WHEN rk <= ((earn % n) + n) % n
                       THEN 1 ELSE 0 END AS BIGINT) AS credit
    FROM (
        SELECT pts, touch_type, earn,
               COUNT(*) OVER (PARTITION BY p_id) AS n,
               ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY tts, t_id) AS rk
        FROM pairs
    )
),
att AS (
    SELECT day, touch_type, COUNT(*) AS n_events,
           CAST(SUM(credit) AS BIGINT) AS credit_micros
    FROM credited GROUP BY day, touch_type
),
unatt AS (
    SELECT CAST(pts AS DATE) AS day,
           'unattributed' AS touch_type,
           COUNT(*) AS n_events,
           CAST(SUM(earn) AS BIGINT) AS credit_micros
    FROM p
    WHERE NOT EXISTS (
        SELECT 1 FROM t
        WHERE t.user_id = p.user_id
          AND t.tts <= p.pts
          AND t.tts >= p.pts - INTERVAL {ATTR_LOOKBACK_DAYS} DAY
    )
    GROUP BY CAST(pts AS DATE)
)
SELECT * FROM att
UNION ALL
SELECT * FROM unatt
ORDER BY day, touch_type
"""


def _size_pairs(pairs: DataFrame) -> DataFrame:
    """Attach the (n, rk) per-purchase windows every weighted model
    shares — factored out so the model-compare query can compute them
    ONCE over the checkpointed pairs instead of once per model leg."""
    wp = Window.partitionBy("p_id")
    wrank = Window.partitionBy("p_id").orderBy("tts", "t_id")
    return pairs.withColumn("n", F.count("t_id").over(wp)).withColumn(
        "rk", F.row_number().over(wrank)
    )


def _attribution_weighted(
    pairs: DataFrame,
    wgt: Column,
    label: Column,
    label_name: str,
    ordered: bool = True,
    pre_sized: bool = False,
) -> DataFrame:
    """Shared EXACT weighted largest-remainder attribution core for the
    position and time-decay models (linear is the wgt=1 special case).

    With per-touch integer weight w_i ≥ 1 and W = Σw_i over the purchase:
    s_i = earn·w_i, r_i = pmod(s_i, W) ∈ [0, W), base_i = (s_i − r_i)
    DIV w — an exact integer hop for ANY sign of earn (both engines
    truncate DIV toward zero, so plain DIV/% would drop remainder micros
    on refunds). Σs_i = earn·W ⇒ Σr_i ≡ 0 (mod W), and the leftover
    L = Σr_i DIV W ∈ [0, n) micros go +1 each to the L touches with the
    LARGEST r_i (ties → earliest (tts, t_id)) — the largest-remainder
    method, so per-purchase credits sum to earn exactly, test-pinned
    across the sign/remainder grid.

    The unattributed branch needs no special case: the null-touch row is
    its purchase's only partition row with w=1 ⇒ W=1, r=0, base=earn.

    Scale: identical to attribution_linear — the windows partition by
    purchase id (bounded by the per-user pair count), then one rollup to
    the (day, label) grain."""
    wp = Window.partitionBy("p_id")
    base = pairs if pre_sized else _size_pairs(pairs)
    sized = base.withColumn("wgt", wgt.cast("long"))
    scored = sized.withColumn("wt", F.sum("wgt").over(wp)).withColumn(
        "r", F.expr("pmod(earn * wgt, wt)")
    )
    wr = Window.partitionBy("p_id").orderBy(
        F.desc("r"), F.asc("tts"), F.asc("t_id")
    )
    ranked = scored.withColumn("rr", F.row_number().over(wr)).withColumn(
        "rsum", F.sum("r").over(wp)
    )
    credit = F.expr("(earn * wgt - r) DIV wt") + F.when(
        F.col("rr") <= F.expr("rsum DIV wt"), 1
    ).otherwise(0)
    labeled = ranked.select(
        F.col("pts").cast("date").alias("day"),
        label.alias(label_name),
        credit.cast("long").alias("credit"),
    )
    agg = labeled.groupBy("day", label_name).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("credit").alias("credit_micros"),
    )
    return agg.orderBy("day", label_name) if ordered else agg


def q_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch POSITION-BASED (U-shaped 40/20/40) attribution: the
    first and last touches in the lookback take 40% of the purchase each,
    the middle touches share the remaining 20% equally; 1 touch takes
    100%, 2 touches split 50/50. Implemented with integer weights so the
    split stays EXACT under any sign: n ≥ 3 ⇒ w_first = w_last =
    2·(n−2), w_middle = 1 ⇒ W = 5·(n−2) and the first/last shares are
    exactly 2(n−2)/5(n−2) = 40%; n ≤ 2 ⇒ equal weights. Remainder
    micros distribute by largest-remainder (see _attribution_weighted).

    Output grain is (day, position) with position ∈ first/middle/last/
    unattributed — the grain position-based reporting consumes (a single
    touch is 'first'). ``n_events`` counts credited touches, purchases on
    the 'unattributed' row."""
    pairs = _attribution_pairs(load_table(spark, sf_dir, "events"))
    wgt = (
        F.when(F.col("n") <= 2, F.lit(1))
        .when(
            (F.col("rk") == 1) | (F.col("rk") == F.col("n")),
            2 * (F.col("n") - 2),
        )
        .otherwise(F.lit(1))
    )
    label = (
        F.when(F.col("t_id").isNull(), F.lit("unattributed"))
        .when(F.col("rk") == 1, F.lit("first"))
        .when(F.col("rk") == F.col("n"), F.lit("last"))
        .otherwise(F.lit("middle"))
    )
    return _attribution_weighted(pairs, wgt, label, "position")


# Time-decay weights: w = 2^(lookback − whole-day age) — a 1-day
# half-life over the 7-day window, kept INTEGER (128 … 1) so the
# weighted split stays exact; the join bounds age to [0, lookback], and
# the null-touch row falls through to 1 (its W is then 1 ⇒ credit=earn).
# The CASE text is generated once and shared verbatim by both engines —
# only the age expression differs (datediff vs date_diff argument order).
_DECAY_WEIGHTS = {
    age: 2 ** (ATTR_LOOKBACK_DAYS - age)
    for age in range(ATTR_LOOKBACK_DAYS + 1)
}


def _decay_case(age_sql: str, weights: dict[int, int] | None = None) -> str:
    arms = " ".join(
        f"WHEN {age_sql} = {a} THEN {w}"
        for a, w in (weights or _DECAY_WEIGHTS).items()
    )
    return f"(CASE {arms} ELSE 1 END)"


def q_attribution_timedecay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch TIME-DECAY attribution: each touch's share of the
    purchase is proportional to 2^(−age_days) — a touch the day of the
    purchase weighs 2× a touch one day earlier (1-day half-life across
    the 7-day lookback). Weights are integer powers of two (see
    _DECAY_WEIGHTS) so credits stay exact micros under any sign via the
    shared largest-remainder core. Output grain matches
    attribution_linear: (day, touch_type) with the 'unattributed' row."""
    pairs = _attribution_pairs(load_table(spark, sf_dir, "events"))
    wgt = F.expr(
        _decay_case("datediff(CAST(pts AS DATE), CAST(tts AS DATE))")
    )
    label = F.coalesce(F.col("touch_type"), F.lit("unattributed"))
    return _attribution_weighted(pairs, wgt, label, "touch_type")


# Shared oracle scaffolding for the weighted models — the same CTE chain
# as _attribution_weighted, with {wgt} / {label} holes per model. pmod is
# spelled ((x % W) + W) % W; (earn·w − r) is exactly divisible by W so
# // is exact division (sign-safe on both engines).
_ATTR_WEIGHTED_SQL = """
WITH p AS (
    SELECT event_id AS p_id, user_id, ts AS pts,
           CAST(FLOOR(value * 1e6) AS BIGINT) AS earn
    FROM events WHERE event_type = 'purchase'
),
t AS (
    SELECT event_id AS t_id, user_id, ts AS tts, event_type AS touch_type
    FROM events WHERE event_type IN ('view', 'click')
),
pairs AS (
    SELECT p.p_id, p.pts, p.earn, t.touch_type, t.tts, t.t_id
    FROM p LEFT JOIN t ON t.user_id = p.user_id
     AND t.tts <= p.pts
     AND t.tts >= p.pts - INTERVAL {lookback} DAY
),
sized AS (
    SELECT *, COUNT(t_id) OVER (PARTITION BY p_id) AS n,
           ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY tts, t_id) AS rk
    FROM pairs
),
weighted AS (
    SELECT *, CAST({wgt} AS BIGINT) AS wgt FROM sized
),
summed AS (
    SELECT *, SUM(wgt) OVER (PARTITION BY p_id) AS wt FROM weighted
),
scored AS (
    SELECT *, ((earn * wgt % wt) + wt) % wt AS r FROM summed
),
ranked AS (
    SELECT *,
           ROW_NUMBER() OVER (
               PARTITION BY p_id ORDER BY r DESC, tts, t_id) AS rr,
           SUM(r) OVER (PARTITION BY p_id) AS rsum
    FROM scored
),
credited AS (
    SELECT CAST(pts AS DATE) AS day, {label} AS {label_name},
           CAST((earn * wgt - r) // wt
                + CASE WHEN rr <= rsum // wt THEN 1 ELSE 0 END
                AS BIGINT) AS credit
    FROM ranked
)
SELECT {extra}day, {label_name}, COUNT(*) AS n_events,
       CAST(SUM(credit) AS BIGINT) AS credit_micros
FROM credited GROUP BY day, {label_name}{order}
"""

_DUCK_AGE_SQL = "date_diff('day', CAST(tts AS DATE), CAST(pts AS DATE))"
_SPARK_AGE_SQL = "datediff(CAST(pts AS DATE), CAST(tts AS DATE))"

_ORACLE_ATTR_POSITION = _ATTR_WEIGHTED_SQL.format(
    lookback=ATTR_LOOKBACK_DAYS,
    wgt=(
        "CASE WHEN n <= 2 THEN 1 "
        "WHEN rk = 1 OR rk = n THEN 2 * (n - 2) ELSE 1 END"
    ),
    label=(
        "CASE WHEN t_id IS NULL THEN 'unattributed' "
        "WHEN rk = 1 THEN 'first' "
        "WHEN rk = n THEN 'last' ELSE 'middle' END"
    ),
    label_name="position",
    extra="",
    order="\nORDER BY day, position",
)

_ORACLE_ATTR_TIMEDECAY = _ATTR_WEIGHTED_SQL.format(
    lookback=ATTR_LOOKBACK_DAYS,
    wgt=_decay_case(_DUCK_AGE_SQL),
    label="COALESCE(touch_type, 'unattributed')",
    label_name="touch_type",
    extra="",
    order="\nORDER BY day, touch_type",
)


# --- all-models attribution comparison --------------------------------------

# (model name → (Spark wgt expr builder, oracle wgt SQL)) — every model is
# an instantiation of the ONE weighted largest-remainder core; linear is
# the wgt=1 special case, the single-touch models are 0/1 weights (the
# null-touch row keeps weight 1 so W >= 1 always — pmod by zero is an
# error on DuckDB and NULL on Spark).
_COMPARE_MODELS: dict[str, tuple] = {
    "linear": (lambda: F.lit(1), "1"),
    "position": (
        lambda: (
            F.when(F.col("n") <= 2, F.lit(1))
            .when(
                (F.col("rk") == 1) | (F.col("rk") == F.col("n")),
                2 * (F.col("n") - 2),
            )
            .otherwise(F.lit(1))
        ),
        "CASE WHEN n <= 2 THEN 1 "
        "WHEN rk = 1 OR rk = n THEN 2 * (n - 2) ELSE 1 END",
    ),
    "timedecay": (
        lambda: F.expr(_decay_case(_SPARK_AGE_SQL)),
        _decay_case(_DUCK_AGE_SQL),
    ),
    "first_touch": (
        lambda: F.when(F.col("rk") == 1, F.lit(1)).otherwise(F.lit(0)),
        "CASE WHEN rk = 1 THEN 1 ELSE 0 END",
    ),
    "last_touch": (
        lambda: F.when(
            (F.col("n") == 0) | (F.col("rk") == F.col("n")), F.lit(1)
        ).otherwise(F.lit(0)),
        "CASE WHEN n = 0 OR rk = n THEN 1 ELSE 0 END",
    ),
}


def q_attribution_model_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVERY attribution model's (day, touch_type) credit table in one
    result — the side-by-side report an ads team reads when choosing a
    model, and the structural proof of the family's design claim: all
    five models (linear, U-shaped position, time-decay, first-touch,
    last-touch) are weight instantiations of the ONE exact
    largest-remainder core over the ONE pair join. Linear is wgt=1; the
    single-touch models are 0/1 weights (with the null-touch row kept at
    weight 1 so W ≥ 1); per-model conservation therefore holds by the
    shared core's contract, and every model's per-day totals equal the
    day's purchase earn.

    n_events counts PAIR ROWS per cell (identical across models by
    construction — same pairs, same label); credit_micros is where the
    models differ.

    Scale: the pair join runs ONCE (checkpointed, as the decay sweep);
    each model is a window+rollup over the materialized pairs."""
    sized = _size_pairs(
        _attribution_pairs(load_table(spark, sf_dir, "events"))
    ).localCheckpoint()  # the shared (n, rk) windows run ONCE, not per leg
    label = F.coalesce(F.col("touch_type"), F.lit("unattributed"))
    out = None
    for name, (wgt_fn, _) in _COMPARE_MODELS.items():
        leg = _attribution_weighted(
            sized, wgt_fn(), label, "touch_type", ordered=False, pre_sized=True
        ).select(
            F.lit(name).alias("model"),
            "day",
            "touch_type",
            "n_events",
            "credit_micros",
        )
        out = leg if out is None else out.unionByName(leg)
    return out.orderBy("model", "day", "touch_type")


def _model_compare_oracle() -> str:
    legs = []
    for name, (_, wgt_sql) in _COMPARE_MODELS.items():
        legs.append(
            "SELECT * FROM ("
            + _ATTR_WEIGHTED_SQL.format(
                lookback=ATTR_LOOKBACK_DAYS,
                wgt=wgt_sql,
                label="COALESCE(touch_type, 'unattributed')",
                label_name="touch_type",
                extra=f"'{name}' AS model, ",
                order="",
            )
            + ")"
        )
        # fmt: off
    return (
        "\nUNION ALL\n".join(legs)
        + "\nORDER BY model, day, touch_type"
    )
    # fmt: on


# Half-life sweep: integer weight tables floor(2^((lookback−age)/h) ·
# SCALE) for each half-life h — the scale keeps slow decays (h=7)
# discriminating after the floor while every weight stays an exact
# integer, so the shared largest-remainder core conserves at every h.
# Generated ONCE in Python; the literal CASE text is shared by both
# engines verbatim.
ATTR_DECAY_HALF_LIVES = (1, 2, 7)
ATTR_DECAY_SCALE = 16


def _sweep_weights(half_life: int) -> dict[int, int]:
    return {
        age: int(
            2 ** ((ATTR_LOOKBACK_DAYS - age) / half_life) * ATTR_DECAY_SCALE
        )
        for age in range(ATTR_LOOKBACK_DAYS + 1)
    }


def q_attribution_decay_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay attribution swept across half-lives (1/2/7 days) in one
    query — the tuning table an ads team reads before picking a decay
    (the same audit-the-knob pattern as embedding_neardup_sweep). Each
    half-life is the SAME weighted largest-remainder split with a
    different integer weight CASE, so every row of the sweep conserves
    micros exactly (test-pinned per half-life).

    Scale: the pair join runs ONCE (checkpointed) and each half-life
    branch is a window+rollup over the materialized pairs — the sweep
    never re-joins the events table."""
    pairs = _attribution_pairs(
        load_table(spark, sf_dir, "events")
    ).localCheckpoint()
    label = F.coalesce(F.col("touch_type"), F.lit("unattributed"))
    out = None
    for h in ATTR_DECAY_HALF_LIVES:
        wgt = F.expr(_decay_case(_SPARK_AGE_SQL, _sweep_weights(h)))
        r = _attribution_weighted(
            pairs, wgt, label, "touch_type", ordered=False
        ).select(
            F.lit(h).cast("int").alias("half_life_days"),
            "day",
            "touch_type",
            "n_events",
            "credit_micros",
        )
        out = r if out is None else out.unionByName(r)
    return out.orderBy("half_life_days", "day", "touch_type")


def _attr_sweep_oracle() -> str:
    parts = []
    for h in ATTR_DECAY_HALF_LIVES:
        body = _ATTR_WEIGHTED_SQL.format(
            lookback=ATTR_LOOKBACK_DAYS,
            wgt=_decay_case(_DUCK_AGE_SQL, _sweep_weights(h)),
            label="COALESCE(touch_type, 'unattributed')",
            label_name="touch_type",
            extra=f"CAST({h} AS INT) AS half_life_days, ",
            order="",
        )
        parts.append(f"SELECT * FROM ({body})")
    return (
        "\nUNION ALL\n".join(parts)
        + "\nORDER BY half_life_days, day, touch_type"
    )


_ORACLE_ATTR_DECAY_SWEEP = _attr_sweep_oracle()


# --- bag-semantics reload reconciliation + null-safe joins -------------------


def q_reload_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BAG-semantics reconciliation of two report extracts via EXCEPT
    ALL — the row-grain complement to ``snapshot_diff``'s keyed
    full-outer: the reference reloads each date partition idempotently
    (main.py:89-109), and the audit for "did the reload reproduce the
    extract" must respect DUPLICATE row multiplicity, which a DISTINCT
    set difference or a keyed join can't see (two identical rows vs one
    is a real reload bug with no key to join on). Extract A = the
    orders projection; extract B = the same projection with a
    deterministic restatement (price bumped 1 cent on o_orderkey % 97 =
    0) and a dropped slice (% 89 = 0): A EXCEPT ALL B surfaces each
    removed/changed occurrence, B EXCEPT ALL A each added one, rolled up
    per side and order date.

    Scale: Spark plans ExceptAll as a count-tagged aggregation over the
    union — ONE shuffle on the full row as key, no driver state; the
    rollup is calendar-bounded."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("odate"),
        _cents("o_totalprice").alias("price_c"),
    )
    a = base
    b = base.where(F.col("o_orderkey") % 89 != 0).select(
        "o_orderkey",
        "odate",
        F.when(
            F.col("o_orderkey") % 97 == 0, F.col("price_c") + 1
        )
        .otherwise(F.col("price_c"))
        .alias("price_c"),
    )
    only_a = a.exceptAll(b).select(
        F.lit("only_in_old").alias("side"), "odate"
    )
    only_b = b.exceptAll(a).select(
        F.lit("only_in_new").alias("side"), "odate"
    )
    return (
        only_a.unionByName(only_b)
        .groupBy("side", "odate")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("side", "odate")
    )


_ORACLE_RELOAD_RECONCILE = """
WITH base AS (
    SELECT o_orderkey, CAST(o_orderdate AS DATE) AS odate,
           CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_c
    FROM orders
),
b AS (
    SELECT o_orderkey, odate,
           CASE WHEN o_orderkey % 97 = 0 THEN price_c + 1 ELSE price_c END
               AS price_c
    FROM base WHERE o_orderkey % 89 <> 0
),
only_a AS (
    SELECT 'only_in_old' AS side, odate FROM (
        SELECT * FROM base EXCEPT ALL SELECT * FROM b
    )
),
only_b AS (
    SELECT 'only_in_new' AS side, odate FROM (
        SELECT * FROM b EXCEPT ALL SELECT * FROM base
    )
)
SELECT side, odate, COUNT(*) AS n_rows
FROM (SELECT * FROM only_a UNION ALL SELECT * FROM only_b)
GROUP BY side, odate
ORDER BY side, odate
"""


def q_nullsafe_day_over_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day earn per campaign with a NULL-SAFE self-join (<=>):
    the campaign dimension is nullable (NULL = organic traffic,
    user_id % 5 = 0), and a plain equi-join silently DROPS the organic
    group from every day-over-day comparison because NULL = NULL is not
    true — the classic nullable-dimension reporting bug. Spark's
    eqNullSafe join key (DuckDB: IS NOT DISTINCT FROM) keeps organic
    comparable like any other campaign.

    Scale: both sides are the SAME (date, campaign) rollup — grain
    bounded by calendar × campaign domain; the join broadcasts one
    grain-sized side."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("ts").cast("date").alias("date"),
        F.when(
            F.col("user_id") % 5 == 0, F.lit(None).cast("string")
        )
        .otherwise(F.concat(F.lit("c"), (F.col("user_id") % 5).cast("string")))
        .alias("campaign"),
    ).agg(F.sum(F.floor(F.col("value") * 1e6).cast("long")).alias("earn"))
    today = daily.select(
        "date", "campaign", F.col("earn").alias("earn_today")
    )
    prev = daily.select(
        F.date_add(F.col("date"), 1).alias("date"),
        "campaign",
        F.col("earn").alias("earn_prev"),
    )
    return (
        today.join(
            prev,
            (today["date"] == prev["date"])
            & today["campaign"].eqNullSafe(prev["campaign"]),
        )
        .select(
            today["date"],
            today["campaign"],
            "earn_today",
            "earn_prev",
            (F.col("earn_today") - F.col("earn_prev")).alias("delta_micros"),
        )
        .orderBy("date", "campaign")
    )


# --- native Python DataSource (the report API as a Spark source) ------------


def _report_source_df(spark: SparkSession, n_days: int):
    from admob_data_pipeline_spark.sources.report_datasource import (
        register_report_source,
    )

    register_report_source(spark)
    return (
        spark.read.format("admob_report").option("n_days", n_days).load()
    )


REPORT_SOURCE_DAYS = 14


def _report_rollup(df: DataFrame) -> DataFrame:
    """The report rows rolled up to the (date, app) grain with the exact
    integer two-stage-ppm match rate."""
    return (
        df.groupBy("date", "app_name")
        .agg(
            F.sum("ad_requests").alias("ad_requests"),
            F.sum("matched_requests").alias("matched_requests"),
            F.sum("impressions").alias("impressions"),
            F.sum("clicks").alias("clicks"),
            F.sum("earn_micros").alias("earn_micros"),
        )
        .withColumn(
            "match_rate_ppm",
            F.expr(
                "matched_requests * 1000000 DIV NULLIF(ad_requests, 0)"
            ).cast("long"),
        )
    )


def q_report_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The report API read through the NATIVE PySpark DataSource
    (sources/report_datasource.py) — the reference's fetch_report.py
    surface as ``spark.read.format("admob_report")`` — rolled up to the
    (date, app) grain with the exact integer two-stage-ppm match rate.
    The payload is a deterministic formula, so the oracle re-derives it
    from generate_series: the SOURCE itself is value-hash-gated.
    (sf_dir is unused: the source is the fixture.)

    Scale: one InputPartition per (date, app) = the API request grain —
    the fetch fans out across executors with no coordinator state."""
    df = _report_source_df(spark, REPORT_SOURCE_DAYS)
    return _report_rollup(df).orderBy("date", "app_name")


def q_report_source_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spec's dateRange + app dimensionFilter pushed INTO the Python
    DataSource: the date-between and app equality below reach
    ``AdMobReportReader.pushFilters`` and prune fetch partitions (5 days
    × 1 app = 5 requests instead of 28 — test-pinned via
    getNumPartitions), while the clicks predicate is returned to Spark
    as a residual. This is S1's dateRange/dimensionFilters contract
    (fetch_report.py:21-77) enforced at the SOURCE, not after the
    fetch."""
    import datetime

    df = _report_source_df(spark, REPORT_SOURCE_DAYS)
    return (
        df.where(
            (F.col("date") >= F.lit(datetime.date(2024, 1, 4)))
            & (F.col("date") <= F.lit(datetime.date(2024, 1, 8)))
            & (F.col("app_name") == "app-a")
            & (F.col("clicks") > 0)
        )
        .groupBy("date", "ad_unit_name")
        .agg(
            F.sum("clicks").alias("clicks"),
            F.sum("earn_micros").alias("earn_micros"),
        )
        .orderBy("date", "ad_unit_name")
    )


def q_streaming_report_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME report source consumed as a STREAM
    (SimpleDataSourceStreamReader): the offset is the next unfetched
    day, each poll catches up all newly available dates, and
    availableNow drains the full range — so the streamed rows equal the
    batch read row-for-row and this query shares q_report_source_scan's
    oracle VERBATIM (single-sourcing proven at the SOURCE level, not
    just the transform level)."""
    from admob_data_pipeline_spark.sources.report_datasource import (
        register_report_source,
    )
    from admob_data_pipeline_spark.streaming.alerts import run_available_now

    register_report_source(spark)
    stream = (
        spark.readStream.format("admob_report")
        .option("n_days", REPORT_SOURCE_DAYS)
        .load()
    )
    out = run_available_now(stream, output_mode="append")
    return _report_rollup(out).orderBy("date", "app_name")


def q_report_sink_python_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The WRITE path of the Python DataSource: the scan rollup goes out
    through ``AdMobReportWriter`` — per-task JSONL spool files, a
    driver-side two-phase commit that publishes them plus a ``_SUCCESS``
    manifest (the reference's stage-then-atomic-load-job shape,
    save_CSV.py:192-216) — and is read back THROUGH THE MANIFEST with
    schema enforcement. A hash match against the scan oracle proves the
    custom sink is lossless and that the commit protocol published
    exactly the committed tasks' rows (a double-publish or a leaked
    staging file fails the hash)."""
    import json
    import os

    df = q_report_source_scan(spark, sf_dir)
    with scratch_dir() as out:
        df.write.format("admob_report").option("path", out).mode("append").save()
        with open(os.path.join(out, "_SUCCESS")) as fh:
            manifest = json.load(fh)
        files = [os.path.join(out, f["file"]) for f in manifest["files"]]
        back = spark.read.json(files).select(
            F.col("date").cast("date").alias("date"),
            "app_name",
            F.col("ad_requests").cast("long").alias("ad_requests"),
            F.col("matched_requests").cast("long").alias("matched_requests"),
            F.col("impressions").cast("long").alias("impressions"),
            F.col("clicks").cast("long").alias("clicks"),
            F.col("earn_micros").cast("long").alias("earn_micros"),
            F.col("match_rate_ppm").cast("long").alias("match_rate_ppm"),
        )
        rows = back.collect()
    return spark.createDataFrame(rows, back.schema).orderBy("date", "app_name")


def q_streaming_report_sink_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-in, stream-out through the Python DataSource: the report
    STREAM is written back out through ``AdMobReportStreamWriter`` —
    the same spool/publish two-phase commit as the batch sink, committed
    PER EPOCH under ``_SUCCESS_epoch_{batchId}`` — then read back
    through the union of epoch manifests and rolled up. A hash match
    against the scan oracle proves the epoch-commit protocol published
    every streamed row exactly once (a replayed or lost epoch fails the
    hash)."""
    import glob
    import json
    import os

    from admob_data_pipeline_spark.sources.report_datasource import (
        register_report_source,
    )

    register_report_source(spark)
    stream = (
        spark.readStream.format("admob_report")
        .option("n_days", REPORT_SOURCE_DAYS)
        .load()
    )
    with scratch_dir() as d:
        out = os.path.join(d, "out")
        q = (
            stream.writeStream.format("admob_report")
            .option("path", out)
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        files = []
        for manifest in glob.glob(os.path.join(out, "_SUCCESS_epoch_*")):
            with open(manifest) as fh:
                files.extend(
                    os.path.join(out, f["file"])
                    for f in json.load(fh)["files"]
                )
        back = _report_rollup(
            spark.read.json(files).select(
                F.col("date").cast("date").alias("date"),
                "app_name",
                F.col("ad_requests").cast("long").alias("ad_requests"),
                F.col("matched_requests").cast("long").alias("matched_requests"),
                F.col("impressions").cast("long").alias("impressions"),
                F.col("clicks").cast("long").alias("clicks"),
                F.col("earn_micros").cast("long").alias("earn_micros"),
            )
        )
        rows = back.collect()
    return spark.createDataFrame(rows, back.schema).orderBy("date", "app_name")


# The oracle re-derives the deterministic payload from generate_series —
# the same integer formulas as report_datasource.report_rows, stepwise
# CTEs so each funnel hop mirrors one Python expression.
_REPORT_CELLS_SQL = f"""
g AS (
    SELECT d.d AS d, a.a AS a, u.u AS u
    FROM generate_series(0, {REPORT_SOURCE_DAYS - 1}) AS d(d),
         generate_series(0, 1) AS a(a),
         generate_series(0, 3) AS u(u)
),
c1 AS (SELECT *, 2 + (d * 31 + a * 7 + u * 3) % 5 AS req FROM g),
c2 AS (SELECT *, req - (d + u) % 2 AS matched FROM c1),
c3 AS (SELECT *, matched - (d + a) % 2 AS imps FROM c2),
c4 AS (SELECT *, LEAST(imps, (d * 5 + u) % 3) AS clk FROM c3),
cells AS (
    SELECT DATE '2024-01-01' + CAST(d AS INT) AS date,
           'app-' || chr(97 + CAST(a AS INT)) AS app_name,
           'unit-' || CAST(u AS VARCHAR) AS ad_unit_name,
           CAST(req AS BIGINT) AS ad_requests,
           CAST(matched AS BIGINT) AS matched_requests,
           CAST(imps AS BIGINT) AS impressions,
           CAST(clk AS BIGINT) AS clicks,
           CAST(clk * (1000 + (u * 137) % 500) AS BIGINT) AS earn_micros
    FROM c4
)
"""

_ORACLE_REPORT_SOURCE_SCAN = f"""
WITH {_REPORT_CELLS_SQL}
SELECT date, app_name,
       CAST(SUM(ad_requests) AS BIGINT) AS ad_requests,
       CAST(SUM(matched_requests) AS BIGINT) AS matched_requests,
       CAST(SUM(impressions) AS BIGINT) AS impressions,
       CAST(SUM(clicks) AS BIGINT) AS clicks,
       CAST(SUM(earn_micros) AS BIGINT) AS earn_micros,
       CAST(SUM(matched_requests) * 1000000
            // NULLIF(SUM(ad_requests), 0) AS BIGINT) AS match_rate_ppm
FROM cells GROUP BY date, app_name
ORDER BY date, app_name
"""

_ORACLE_REPORT_SOURCE_PUSHDOWN = f"""
WITH {_REPORT_CELLS_SQL}
SELECT date, ad_unit_name,
       CAST(SUM(clicks) AS BIGINT) AS clicks,
       CAST(SUM(earn_micros) AS BIGINT) AS earn_micros
FROM cells
WHERE date BETWEEN DATE '2024-01-04' AND DATE '2024-01-08'
  AND app_name = 'app-a' AND clicks > 0
GROUP BY date, ad_unit_name
ORDER BY date, ad_unit_name
"""


_ORACLE_NULLSAFE_DOD = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS date,
           CASE WHEN user_id % 5 = 0 THEN NULL
                ELSE 'c' || CAST(user_id % 5 AS VARCHAR) END AS campaign,
           CAST(SUM(CAST(FLOOR(value * 1e6) AS BIGINT)) AS BIGINT) AS earn
    FROM events GROUP BY 1, 2
)
SELECT t.date, t.campaign,
       t.earn AS earn_today, p.earn AS earn_prev,
       CAST(t.earn - p.earn AS BIGINT) AS delta_micros
FROM daily t JOIN daily p
  ON t.date = p.date + INTERVAL 1 DAY
 AND t.campaign IS NOT DISTINCT FROM p.campaign
ORDER BY t.date, t.campaign
"""


# --- interval-overlap join (grid-bucketed) ----------------------------------

HOUR_US = 3_600 * 1_000_000


def q_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP join — which user sessions overlapped each event
    type's daily activity burst — via the GRID-BUCKETING technique:
    Spark has no native interval-join operator, and the naive theta join
    (s_start ≤ b_end AND b_start ≤ s_end) plans as a nested-loop
    product. Instead both interval sets explode to the HOUR buckets they
    cover, pairs meet on a bucket EQUI-join, and the exact overlap
    predicate runs as a residual filter + distinct. Correct because any
    two overlapping intervals share the bucket containing
    max(starts) — at any granularity; the bucket width only tunes
    replication (sessions ≤ gap-bounded hours, bursts ≤ 24/day).

    Intervals are exact integer microseconds end-to-end; sessions come
    from the SAME labeling as sessionize_batch (streaming/alerts'
    shared _session_rows), so this join and the session report can never
    disagree on boundaries.

    Scale: explode factors are interval-length/1h (bounded by the session
    gap rule and the day grain); the join is a plain bucket-keyed
    shuffle — AQE splits hot hours; no CartesianProduct (plan-pinned)."""
    from admob_data_pipeline_spark.streaming.alerts import session_spans

    ev = load_table(spark, sf_dir, "events")
    sessions = session_spans(ev)
    bursts = (
        ev.groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        ).agg(
            F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias(
                "b_start_us"
            ),
            F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias(
                "b_end_us"
            ),
        )
    )
    s_g = sessions.withColumn(
        "hr",
        F.explode(
            F.sequence(
                F.expr(f"s_start_us DIV {HOUR_US}"),
                F.expr(f"s_end_us DIV {HOUR_US}"),
            )
        ),
    )
    b_g = bursts.withColumn(
        "hr",
        F.explode(
            F.sequence(
                F.expr(f"b_start_us DIV {HOUR_US}"),
                F.expr(f"b_end_us DIV {HOUR_US}"),
            )
        ),
    )
    pairs = s_g.join(b_g, "hr").where(
        (F.col("s_start_us") <= F.col("b_end_us"))
        & (F.col("b_start_us") <= F.col("s_end_us"))
    )
    return (
        pairs.select(
            "user_id",
            "s_start_us",
            "event_type",
            "day",
            (
                F.least("s_end_us", "b_end_us")
                - F.greatest("s_start_us", "b_start_us")
            )
            .cast("long")
            .alias("overlap_us"),
        )
        .distinct()  # grid pairs sharing >1 hour collapse to one row
        .orderBy("user_id", "s_start_us", "event_type", "day")
    )


_ORACLE_INTERVAL_OVERLAP = f"""
WITH {SESSION_LABEL_SQL},
sessions AS (
    SELECT user_id,
           MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS s_start_us,
           MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS s_end_us
    FROM slab GROUP BY user_id, sess
),
bursts AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS b_start_us,
           MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS b_end_us
    FROM events GROUP BY event_type, CAST(ts AS DATE)
)
SELECT s.user_id, s.s_start_us, b.event_type, b.day,
       CAST(LEAST(s.s_end_us, b.b_end_us)
            - GREATEST(s.s_start_us, b.b_start_us) AS BIGINT) AS overlap_us
FROM sessions s JOIN bursts b
  ON s.s_start_us <= b.b_end_us AND b.b_start_us <= s.s_end_us
ORDER BY s.user_id, s.s_start_us, b.event_type, b.day
"""


# --- LATERAL correlated top-k ------------------------------------------------

LATERAL_SEGMENT = "BUILDING"
LATERAL_TOP_N = 2


def q_lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer top-N via a LATERAL correlated subquery — the SQL
    surface every warehouse dialect ships for "top orders per entity",
    run as the SAME text on both engines. Spark 4 DECORRELATES the
    ORDER BY … LIMIT lateral into WindowGroupLimit (a per-partition
    partial top-k BEFORE the shuffle, final after) joined back on the
    correlation key — the scalable plan, not a per-customer nested loop;
    that shape is pinned in tests/test_plans.py. The cut ranks on
    integer cents (tie-break o_orderkey), so the LIMIT boundary is
    engine-deterministic."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_LATERAL_TOP_SQL)


_LATERAL_TOP_SQL = f"""
SELECT c.c_custkey, t.o_orderkey, t.price_cents
FROM customer c, LATERAL (
    SELECT o_orderkey,
           CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_cents
    FROM orders o
    WHERE o.o_custkey = c.c_custkey
    ORDER BY price_cents DESC, o_orderkey
    LIMIT {LATERAL_TOP_N}
) t
WHERE c.c_mktsegment = '{LATERAL_SEGMENT}'
ORDER BY c.c_custkey, t.price_cents DESC, t.o_orderkey
"""


# --- incremental JOIN maintenance (IVM delta algebra) ----------------------

IVM_MOD_O = 10  # o_orderkey % 10 == 0 → a "late-arriving" orders delta (ΔA)
IVM_MOD_L = 7  # (l_orderkey + l_linenumber) % 7 == 0 → lineitem delta (ΔB)


def q_ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view — the delta algebra
    Δ(A⋈B) = ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB, which is how a 100 TB
    pipeline keeps a joined rollup current without re-joining history:
    the stored view absorbs three delta joins whose left/right sides are
    day-grain deltas (small), never the full fact tables. Here the view
    is revenue by customer over orders⋈lineitem; deltas are simulated
    late arrivals on BOTH sides (key-modulo membership, deterministic on
    both engines), so every one of the three delta terms — including the
    cross term ΔA⋈ΔB that naive "join the new rows" maintenance drops —
    is non-empty and load-bearing. The maintained result is re-aggregated
    from the stored partial state + the three delta contributions; the
    oracle is the from-scratch full join, so the gate pins
    maintain ≡ recompute exactly (integer cents).

    Scale notes: V_old is localCheckpoint'd — standing in for the STORED
    rollup read from the warehouse (the whole point of IVM is that the
    old⋈old join never re-runs; it appears here only to construct the
    fixture state). The delta joins stay bare (no forced broadcast):
    these delta sides are a fixed fraction of the base in the fixture,
    so Catalyst/AQE sizing decides — in production a day's delta is
    broadcastable and AQE makes exactly that call (three-tier broadcast
    policy, ARCHITECTURE.md)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_orderkey") % IVM_MOD_O == 0).alias("o_new"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        _rev_cents().alias("rev_c"),
        ((F.col("l_orderkey") + F.col("l_linenumber")) % IVM_MOD_L == 0).alias(
            "l_new"
        ),
    )
    o_old, o_del = o.where(~F.col("o_new")), o.where(F.col("o_new"))
    l_old, l_del = li.where(~F.col("l_new")), li.where(F.col("l_new"))
    key = F.col("o_orderkey") == F.col("l_orderkey")

    def rollup(pairs: DataFrame) -> DataFrame:
        return pairs.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("rev_c").alias("revenue_cents"),
        )

    v_old = rollup(o_old.join(l_old, key)).localCheckpoint()  # "stored" state
    delta = rollup(
        o_del.join(l_old, key)
        .unionByName(o_old.join(l_del, key))
        .unionByName(o_del.join(l_del, key))
    )
    return (
        v_old.unionByName(delta)
        .groupBy("o_custkey")
        .agg(
            F.sum("n_items").alias("n_items"),
            F.sum("revenue_cents").alias("revenue_cents"),
        )
        .orderBy("o_custkey")
    )


_ORACLE_IVM_JOIN = """
WITH j AS (
    SELECT o.o_custkey,
           CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
               AS rev_c
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
)
SELECT o_custkey, COUNT(*) AS n_items,
       CAST(SUM(rev_c) AS BIGINT) AS revenue_cents
FROM j GROUP BY o_custkey ORDER BY o_custkey
"""


def q_ivm_retract_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance under RETRACTIONS — the half of the
    delta algebra ``ivm_join_delta`` doesn't cover: a maintained
    aggregate must absorb DELETIONS (negative multiplicities) as well
    as inserts, and a group whose count reaches zero must DISAPPEAR
    from the view — the classic subtlety naive "merge the new rows"
    maintenance gets wrong (it leaves zombie zero-count groups, or
    worse, groups with n=0 but a stale non-additive column).

    Fixture: the stored view is the (date, event_type) rollup over the
    events base (everything except the held-out inserts). The delete
    batch removes ENTIRE (date, event_type) groups (the predicate is
    group-constant — day-of-month + type length mod 3 — and the
    held-out inserts are restricted to NON-deleted groups, so ~a third
    of the view's groups genuinely reach zero and the HAVING clause is
    load-bearing, pinned in pytest). The maintained view is
    v_old ⊎ (−rollup(deletes)) ⊎ rollup(inserts), HAVING n > 0. The
    oracle recomputes from scratch over (base − deletes) ∪ inserts, so
    a zombie group, a double-counted insert, or a missed retraction
    all fail the hash.

    Scale: the stored view and each delta rollup are partial-aggregated
    groupBys over their own inputs; history is never re-scanned at
    maintenance time (v_old is checkpointed, standing in for the
    warehouse read — same staging as ivm_join_delta)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"),
        "event_type",
        F.floor(F.col("value") * 1000).cast("long").alias("v_milli"),
        (F.col("event_id") % 9 == 2).alias("held_out"),
    )
    grp_del = (F.dayofmonth("day") + F.length("event_type")) % 3 == 0
    # held-out rows inside a to-be-deleted group are excluded from the
    # fixture universe on both engines: inserts must not resurrect the
    # groups whose elimination this query exists to test
    ev = ev.where(~(F.col("held_out") & grp_del))
    base = ev.where(~F.col("held_out"))
    inserts = ev.where(F.col("held_out"))
    deletes = base.where(grp_del)

    def rollup(d: DataFrame, sign: int) -> DataFrame:
        return d.groupBy("day", "event_type").agg(
            (F.lit(sign) * F.count(F.lit(1))).alias("n_events"),
            (F.lit(sign) * F.sum("v_milli")).alias("value_milli"),
        )

    v_old = rollup(base, 1).localCheckpoint()  # the "stored" view
    return (
        v_old.unionByName(rollup(deletes, -1))
        .unionByName(rollup(inserts, 1))
        .groupBy("day", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("value_milli").alias("value_milli"),
        )
        .where(F.col("n_events") > 0)  # group elimination
        .orderBy("day", "event_type")
    )


_ORACLE_IVM_RETRACT = """
WITH ev AS (
    SELECT CAST(ts AS DATE) AS day, event_type,
           CAST(FLOOR(value * 1000) AS BIGINT) AS v_milli
    FROM events
)
-- survivors of (base − group-deletes) ∪ inserts with inserts restricted
-- to non-deleted groups ≡ every universe row outside a deleted group
SELECT day, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(v_milli) AS BIGINT) AS value_milli
FROM ev
WHERE NOT ((EXTRACT(day FROM day) + LENGTH(event_type)) % 3 = 0)
GROUP BY day, event_type
ORDER BY day, event_type
"""


# --- single-touch attribution models (first / last) -------------------------


def q_attribution_touch_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST-touch and LAST-touch attribution side by side — the two
    single-touch models every ads report defaults to (last-click is the
    AdMob-world default; first-touch is the awareness view). Each
    purchase's full earn goes to its earliest (resp. latest) view/click
    touch inside the 7-day lookback, deterministic (tts, t_id) order;
    touchless purchases surface as the 'unattributed' row, exactly as
    the multi-touch family. Both models read the ONE shared
    _attribution_pairs join — one shuffle feeds both rollups — and the
    batch last-touch row set is the model streaming_attribution applies
    incrementally.

    Output grain: (model, day, touch_type); n_events counts credited
    touches (one per purchase) or purchases on the 'unattributed' row;
    credit conservation per model = Σ earn, pinned in pytest."""
    pairs = _attribution_pairs(load_table(spark, sf_dir, "events"))
    wp = Window.partitionBy("p_id")
    base = (
        pairs.withColumn("n", F.count("t_id").over(wp))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("p_id").orderBy("tts", "t_id")
            ),
        )
        .localCheckpoint()  # one pair join feeds both model rollups
    )
    out = None
    for model, keep in (("first", F.col("rk") == 1), ("last", F.col("rk") == F.col("n"))):
        credited = base.where((F.col("n") == 0) | keep).select(
            F.lit(model).alias("model"),
            F.col("pts").cast("date").alias("day"),
            F.coalesce(F.col("touch_type"), F.lit("unattributed")).alias(
                "touch_type"
            ),
            F.col("earn").alias("credit"),
        )
        agg = credited.groupBy("model", "day", "touch_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("credit").alias("credit_micros"),
        )
        out = agg if out is None else out.unionByName(agg)
    return out.orderBy("model", "day", "touch_type")


_ORACLE_ATTR_TOUCH_MODELS = f"""
WITH p AS (
    SELECT event_id AS p_id, user_id, ts AS pts,
           CAST(FLOOR(value * 1e6) AS BIGINT) AS earn
    FROM events WHERE event_type = 'purchase'
),
t AS (
    SELECT event_id AS t_id, user_id, ts AS tts, event_type AS touch_type
    FROM events WHERE event_type IN ('view', 'click')
),
pairs AS (
    SELECT p.p_id, p.pts, p.earn, t.touch_type, t.tts, t.t_id
    FROM p LEFT JOIN t ON t.user_id = p.user_id
     AND t.tts <= p.pts
     AND t.tts >= p.pts - INTERVAL {ATTR_LOOKBACK_DAYS} DAY
),
ranked AS (
    SELECT p_id, pts, earn, touch_type, tts, t_id,
           COUNT(t_id) OVER (PARTITION BY p_id) AS n,
           ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY tts, t_id) AS rk
    FROM pairs
),
models AS (
    SELECT 'first' AS model, CAST(pts AS DATE) AS day,
           COALESCE(touch_type, 'unattributed') AS touch_type, earn AS credit
    FROM ranked WHERE n = 0 OR rk = 1
    UNION ALL
    SELECT 'last' AS model, CAST(pts AS DATE) AS day,
           COALESCE(touch_type, 'unattributed') AS touch_type, earn AS credit
    FROM ranked WHERE n = 0 OR rk = n
)
SELECT model, day, touch_type, COUNT(*) AS n_events,
       CAST(SUM(credit) AS BIGINT) AS credit_micros
FROM models GROUP BY model, day, touch_type
ORDER BY model, day, touch_type
"""


# --- hot-key skew audit ------------------------------------------------------

SKEW_TOP = 10


def q_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key audit of the events fact's join/agg key (user_id) — the
    observability query run BEFORE choosing a partitioning strategy at
    100 TB: the keys this surfaces are the ones that need salting
    (attribution_salted's B) or AQE skew-split headroom. Per hot key:
    event share in ppm (two-stage scaling, playbook #23 — share_ppm
    first, so the ratio multiply never exceeds share_ppm × n_keys) and
    the skew ratio vs the mean key load in milli-units.

    Scale: one (key → count) partial-agg rollup, one-row totals attached
    broadcast, top-k via TakeOrderedAndProject — no global sort, no
    window over raw rows."""
    ev = load_table(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    return skew_audit_from_counts(per_key)


def skew_audit_from_counts(per_key: DataFrame) -> DataFrame:
    """Scoring half of the hot-key audit over a (user_id, n_events)
    counts table — shared by the batch query and the streaming
    incremental twin (count merge is associative, so both feed identical
    counts here and check against the same oracle)."""
    totals = per_key.agg(
        F.sum("n_events").alias("total"), F.count(F.lit(1)).alias("n_keys")
    )
    scored = per_key.crossJoin(F.broadcast(totals)).select(
        "user_id",
        "n_events",
        F.expr("n_events * 1000000 DIV total").alias("share_ppm"),
        F.expr("(n_events * 1000000 DIV total) * n_keys DIV 1000")
        .cast("long")
        .alias("skew_ratio_x1000"),
    )
    return scored.orderBy(F.desc("n_events"), "user_id").limit(SKEW_TOP)


_ORACLE_SKEW_AUDIT = f"""
WITH per_key AS (
    SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
),
totals AS (
    SELECT CAST(SUM(n_events) AS BIGINT) AS total, COUNT(*) AS n_keys
    FROM per_key
)
SELECT user_id, n_events,
       CAST(n_events * 1000000 // total AS BIGINT) AS share_ppm,
       CAST((n_events * 1000000 // total) * n_keys // 1000 AS BIGINT)
           AS skew_ratio_x1000
FROM per_key, totals
ORDER BY n_events DESC, user_id
LIMIT {SKEW_TOP}
"""


QUERIES = {
    "embedding_drift_psi": q_embedding_drift_psi,
    "lateral_top_orders": q_lateral_top_orders,
    "mediation_missing_cells": q_mediation_missing_cells,
    "warehouse_funnel_compare": q_warehouse_funnel_compare,
    "interval_overlap_join": q_interval_overlap_join,
    "ivm_join_delta": q_ivm_join_delta,
    "ivm_retract_delta": q_ivm_retract_delta,
    "attribution_touch_models": q_attribution_touch_models,
    "attribution_model_compare": q_attribution_model_compare,
    "skew_audit": q_skew_audit,
    "report_warehouse_mediation": q_report_warehouse_mediation,
    "report_warehouse_network": q_report_warehouse_network,
    "network_match_rate": q_network_match_rate,
    "network_rpm_rollup": q_network_rpm_rollup,
    "network_missing_cells": q_network_missing_cells,
    "ctr_anomaly_warehouse": q_ctr_anomaly_warehouse,
    "attribution_linear": q_attribution_linear,
    "attribution_salted": q_attribution_salted,
    "attribution_position": q_attribution_position,
    "mediation_dpp_join": q_mediation_dpp_join,
    "mediation_rollup_grain": q_mediation_rollup_grain,
    "attribution_timedecay": q_attribution_timedecay,
    "attribution_decay_sweep": q_attribution_decay_sweep,
    "reload_reconcile": q_reload_reconcile,
    "nullsafe_day_over_day": q_nullsafe_day_over_day,
    "report_source_scan": q_report_source_scan,
    "report_source_pushdown": q_report_source_pushdown,
    "streaming_report_source": q_streaming_report_source,
    "report_sink_python_roundtrip": q_report_sink_python_roundtrip,
    "streaming_report_sink_roundtrip": q_streaming_report_sink_roundtrip,
    "network_dpp_join": q_network_dpp_join,
    "mediation_ecpm_rollup": q_mediation_ecpm_rollup,
    "mediation_fill_rate": q_mediation_fill_rate,
    "mediation_top_source": q_mediation_top_source,
    "mediation_group_share": q_mediation_group_share,
    "cohort_ltv": q_cohort_ltv,
    "approx_quantile_audit": q_approx_quantile_audit,
    "ks_test": q_ks_test,
    "chi_square": q_chi_square,
    "rank_sum_test": q_rank_sum_test,
    "event_sequences": q_event_sequences,
    "revenue_gini": q_revenue_gini,
    "theil_sen_trend": q_theil_sen_trend,
    "cusum_changepoint": q_cusum_changepoint,
    "jackknife_replicates": q_jackknife_replicates,
    "benford_audit": q_benford_audit,
    "event_gaps": q_event_gaps,
    "drift_psi": q_drift_psi,
    "winsorized_stats": q_winsorized_stats,
    "sampled_quantiles": q_sampled_quantiles,
    "rolling_zscore": q_rolling_zscore,
    "quantile_binning": q_quantile_binning,
    "event_transitions": q_event_transitions,
    "sliding_window_rates": q_sliding_window_rates,
    "user_rfm": q_user_rfm,
    "fk_integrity_audit": q_fk_integrity_audit,
    "copurchase_pairs": q_copurchase_pairs,
    "triangle_count": q_triangle_count,
    "conversion_latency": q_conversion_latency,
    "snapshot_diff": q_snapshot_diff,
    "dow_seasonality": q_dow_seasonality,
    "revenue_pareto": q_revenue_pareto,
    "sliding_distinct_users": q_sliding_distinct_users,
    "grouping_sets_calendar": q_grouping_sets_calendar,
    "bloom_pruned_join": q_bloom_pruned_join,
    "heavy_hitters": q_heavy_hitters,
    "incremental_rollup": q_incremental_rollup,
    "resample_daily": q_resample_daily,
    "cohort_retention": q_cohort_retention,
    "funnel_conversion": q_funnel_conversion,
    "report_rollup": q_report_rollup,
    "skew_stress_join": q_skew_stress_join,
}

ORACLES = {
    "embedding_drift_psi": _ORACLE_EMB_DRIFT_PSI,
    "lateral_top_orders": _LATERAL_TOP_SQL,
    "mediation_missing_cells": _ORACLE_MEDIATION_MISSING,
    "warehouse_funnel_compare": _ORACLE_WAREHOUSE_COMPARE,
    "interval_overlap_join": _ORACLE_INTERVAL_OVERLAP,
    "ivm_join_delta": _ORACLE_IVM_JOIN,
    "ivm_retract_delta": _ORACLE_IVM_RETRACT,
    "attribution_touch_models": _ORACLE_ATTR_TOUCH_MODELS,
    "attribution_model_compare": _model_compare_oracle(),
    "skew_audit": _ORACLE_SKEW_AUDIT,
    "report_warehouse_mediation": _ORACLE_MEDIATION_WH,
    "report_warehouse_network": _ORACLE_NETWORK_WH,
    "network_match_rate": _ORACLE_NETWORK_MATCH,
    "network_rpm_rollup": _ORACLE_NETWORK_RPM,
    "network_missing_cells": _ORACLE_NETWORK_MISSING,
    "ctr_anomaly_warehouse": _ORACLE_CTR_WAREHOUSE,
    "attribution_linear": _ORACLE_ATTRIBUTION,
    "attribution_salted": _ORACLE_ATTRIBUTION,
    "attribution_position": _ORACLE_ATTR_POSITION,
    "mediation_dpp_join": _ORACLE_MEDIATION_DPP,
    "mediation_rollup_grain": _ORACLE_MEDIATION_ROLLUP,
    "attribution_timedecay": _ORACLE_ATTR_TIMEDECAY,
    "attribution_decay_sweep": _ORACLE_ATTR_DECAY_SWEEP,
    "reload_reconcile": _ORACLE_RELOAD_RECONCILE,
    "nullsafe_day_over_day": _ORACLE_NULLSAFE_DOD,
    "report_source_scan": _ORACLE_REPORT_SOURCE_SCAN,
    "report_source_pushdown": _ORACLE_REPORT_SOURCE_PUSHDOWN,
    "streaming_report_source": _ORACLE_REPORT_SOURCE_SCAN,
    "report_sink_python_roundtrip": _ORACLE_REPORT_SOURCE_SCAN,
    "streaming_report_sink_roundtrip": _ORACLE_REPORT_SOURCE_SCAN,
    "network_dpp_join": _ORACLE_NETWORK_DPP,
    "mediation_ecpm_rollup": _ORACLE_MEDIATION_ECPM,
    "mediation_fill_rate": _ORACLE_MEDIATION_FILL,
    "mediation_top_source": _ORACLE_MEDIATION_TOP,
    "mediation_group_share": _ORACLE_MEDIATION_GROUP,
    "cohort_ltv": _ORACLE_COHORT_LTV,
    "approx_quantile_audit": _ORACLE_APPROX_QUANTILE,
    "ks_test": _ORACLE_KS,
    "chi_square": _ORACLE_CHI,
    "rank_sum_test": _ORACLE_RANK_SUM,
    "event_sequences": _ORACLE_SEQUENCES,
    "revenue_gini": _ORACLE_GINI,
    "theil_sen_trend": _ORACLE_THEIL_SEN,
    "cusum_changepoint": _ORACLE_CUSUM,
    "jackknife_replicates": _ORACLE_JACKKNIFE,
    "benford_audit": _ORACLE_BENFORD,
    "event_gaps": _ORACLE_EVENT_GAPS,
    "drift_psi": _ORACLE_PSI,
    "winsorized_stats": _ORACLE_WINSORIZED,
    "event_transitions": _ORACLE_TRANSITIONS,
    "sliding_window_rates": _ORACLE_SLIDING,
    "user_rfm": _ORACLE_RFM,
    "fk_integrity_audit": _ORACLE_FK_AUDIT,
    "copurchase_pairs": _ORACLE_COPURCHASE,
    "triangle_count": _ORACLE_TRIANGLES,
    "conversion_latency": _ORACLE_CONVERSION,
    "snapshot_diff": _ORACLE_SNAPSHOT_DIFF,
    "dow_seasonality": _ORACLE_DOW,
    "revenue_pareto": _ORACLE_PARETO,
    "sliding_distinct_users": _ORACLE_SLIDING_DISTINCT,
    "grouping_sets_calendar": _ORACLE_GSETS,
    "bloom_pruned_join": _ORACLE_BLOOM,
    "heavy_hitters": _ORACLE_HEAVY,
    "incremental_rollup": _ORACLE_INCR_ROLLUP,
    "resample_daily": _ORACLE_RESAMPLE,
    "cohort_retention": _ORACLE_COHORT,
    "funnel_conversion": _ORACLE_FUNNEL,
    "report_rollup": _ORACLE_REPORT_ROLLUP,
    "skew_stress_join": _ORACLE_SKEW_STRESS,
    "sampled_quantiles": _ORACLE_SAMPLED_QUANTILES,
    "rolling_zscore": _ORACLE_ZSCORE,
    "quantile_binning": _ORACLE_BINNING,
}
