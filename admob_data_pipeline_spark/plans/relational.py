"""Core relational query registry (SURVEY.md §2.2–§2.8 inventory).

Each query is one named entry in ``QUERIES`` (a callable
``(spark, sf_dir) -> DataFrame``) with a matching DuckDB oracle in
``ORACLES``. Together they cover every relational operator the reference
implements or pushes to BigQuery: group-agg (A1), ratio-of-sums (A2),
global agg (A3), DISTINCT (A4), collect-by-group (A5), broadcast equi-join
(J1), anti-join (J2), IN-list/date-range/threshold predicates (P7–P12),
sorts (O1/O2), bag union (O3), scalar functions (F1–F12), and the alert
family (W1/W2) — mapped onto the driver testdata tables per FIXTURES.md §4.

Float discipline (critical for bit-identical oracle hashes): raw DOUBLE
measures are scaled to integers per-row (``FLOOR(x * 10^k)``) *before* any
SUM, so aggregation is exact integer arithmetic — order-independent across
partitions and engines. Ratios divide the exact integer sums; identical
inputs → identical IEEE doubles in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from admob_data_pipeline_spark.functions.scalars import safe_divide
from admob_data_pipeline_spark.operators import alerts
from admob_data_pipeline_spark.sources import chunks as chunks_mod
from admob_data_pipeline_spark.sources.report_spec import ReportSpec, compile_report
from admob_data_pipeline_spark.sources.tables import load_table


def _cents(col: str) -> F.Column:
    return F.floor(F.col(col) * 100).cast("long")


# --- A1/A2/F2: pricing summary (TPC-H Q1 shape; reference A1 at
# native_CTR_alerts.py:228-241, A2 at :232) -------------------------------
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .select(
            "l_returnflag",
            "l_linestatus",
            F.floor("l_quantity").cast("long").alias("qty_i"),
            _cents("l_extendedprice").alias("price_c"),
            _cents("l_discount").alias("disc_c"),
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("qty_i").alias("sum_qty"),
            F.sum("price_c").alias("sum_price_cents"),
            F.sum("disc_c").alias("sum_disc_cents"),
            F.count(F.lit(1)).alias("count_order"),
            F.round(safe_divide(F.sum("price_c"), F.count(F.lit(1))), 4).alias(
                "avg_price_cents"
            ),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
       CAST(SUM(CAST(FLOOR(l_discount * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
       COUNT(*) AS count_order,
       ROUND(CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
             / COUNT(*), 4) AS avg_price_cents
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --- A3/F5: global aggregate + micros→USD display conversion
# (README.md:213-221) ------------------------------------------------------
def q_global_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    micros = F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e6).cast(
        "long"
    )
    return li.select(micros.alias("rev_micros")).agg(
        F.sum("rev_micros").alias("revenue_micros"),
        F.round(F.sum("rev_micros") / F.lit(1_000_000.0), 2).alias("revenue_usd"),
    )


_ORACLE_GLOBAL_REVENUE = """
SELECT CAST(SUM(m) AS BIGINT) AS revenue_micros,
       ROUND(CAST(SUM(m) AS DOUBLE) / 1000000.0, 2) AS revenue_usd
FROM (
    SELECT CAST(FLOOR(l_extendedprice * (1 - l_discount) * 1e6) AS BIGINT) AS m
    FROM lineitem
)
"""


# --- A4: DISTINCT (native_CTR_alerts.py:287-294) --------------------------
def q_distinct_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select("o_orderpriority").distinct().orderBy("o_orderpriority")


_ORACLE_DISTINCT = """
SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority
"""


# --- A5/F12: group-collect for message formatting
# (native_CTR_alerts.py:273-282) ------------------------------------------
def q_collect_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("o_orderpriority")), ","
            ).alias("priorities"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderstatus")
    )


_ORACLE_COLLECT = """
SELECT o_orderstatus,
       string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


# --- J1/P7/P12: broadcast dimension join + IN-list filter
# (native_CTR_alerts.py:260-262; save_CSV.py:121-131) ----------------------
def q_dim_join_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    # dims are tiny → broadcast both; the fact (customer) never shuffles.
    joined = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .where(F.col("r_name").isin("ASIA", "EUROPE"))
    )
    return (
        joined.groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(_cents("c_acctbal")).alias("acctbal_cents"),
        )
        .orderBy("r_name", "n_name")
    )


_ORACLE_DIM_JOIN = """
SELECT r_name, n_name,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(FLOOR(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name IN ('ASIA', 'EUROPE')
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


# --- J2: anti-join (native_CTR_alerts.py:298-302) -------------------------
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    missing = c.join(
        o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti"
    )
    return (
        missing.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_missing"))
        .orderBy("c_mktsegment")
    )


_ORACLE_ANTI_JOIN = """
SELECT c_mktsegment, COUNT(*) AS n_missing
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# --- P8/P9/P10/F4: trailing date-range scan
# (native_CTR_alerts.py:236-238) ------------------------------------------
def q_trailing_date_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_shipdate").cast("date").alias("ship_date"),
        F.floor("l_quantity").cast("long").alias("qty_i"),
    )
    bounds = li.agg(F.max("ship_date").alias("dmax"))
    return (
        li.crossJoin(F.broadcast(bounds))
        .where(
            F.col("ship_date").between(
                F.date_sub(F.col("dmax"), 7), F.date_sub(F.col("dmax"), 1)
            )
        )
        .groupBy("ship_date")
        .agg(F.count(F.lit(1)).alias("n_items"), F.sum("qty_i").alias("sum_qty"))
        .orderBy("ship_date")
    )


_ORACLE_TRAILING = """
WITH li AS (
    SELECT CAST(l_shipdate AS DATE) AS ship_date,
           CAST(FLOOR(l_quantity) AS BIGINT) AS qty_i
    FROM lineitem
),
bounds AS (SELECT MAX(ship_date) AS dmax FROM li)
SELECT ship_date, COUNT(*) AS n_items, CAST(SUM(qty_i) AS BIGINT) AS sum_qty
FROM li, bounds
WHERE ship_date BETWEEN dmax - INTERVAL 7 DAY AND dmax - INTERVAL 1 DAY
GROUP BY ship_date
ORDER BY ship_date
"""


# --- O3: bag union with schema alignment (main.py:146;
# unionByName allowMissingColumns) ----------------------------------------
def q_union_reports(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderstatus") == "O").select(
        "o_orderkey", _cents("o_totalprice").alias("price_cents")
    )
    b = o.where(F.col("o_orderstatus") == "F").select(
        "o_orderkey", F.col("o_orderpriority").alias("priority")
    )
    unioned = a.unionByName(b, allowMissingColumns=True)
    return (
        unioned.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("price_cents").alias("sum_price_cents"),
            F.count("priority").alias("n_with_priority"),
        )
    )


_ORACLE_UNION = """
WITH u AS (
    SELECT o_orderkey, CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_cents,
           NULL AS priority
    FROM orders WHERE o_orderstatus = 'O'
    UNION ALL BY NAME
    SELECT o_orderkey, o_orderpriority AS priority
    FROM orders WHERE o_orderstatus = 'F'
)
SELECT COUNT(*) AS n_rows,
       CAST(SUM(price_cents) AS BIGINT) AS sum_price_cents,
       COUNT(priority) AS n_with_priority
FROM u
"""


# --- F1–F10: scalar function showcase ------------------------------------
def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return (
        o.where(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            safe_divide(
                _cents("o_totalprice"), (F.col("o_custkey") % 5).cast("long")
            ).alias("per_bucket"),  # F1: NULL when o_custkey%5 == 0
            # F2 ROUND with integer-domain HALF_UP: rounding a raw double
            # near a .xx5 tie diverges across engines (Spark rounds the
            # shortest decimal repr, DuckDB the binary value) — found at
            # sf0.1. Exact cents in, deterministic ties.
            (
                F.floor((_cents("o_totalprice") + 500) / 1000).cast("double")
                / F.lit(100.0)
            ).alias("price_k"),
            F.abs(F.col("o_custkey") - 750).cast("long").alias("dist_mid"),  # F3
            F.date_sub(d, 7).alias("week_before"),  # F4
            F.element_at(F.split("o_orderpriority", "-"), -1).alias("prio_word"),  # F9
            F.date_format(d, "yyyyMMdd").alias("ymd"),  # F10
            F.date_format(d, "yyyy-MM").alias("month"),  # calendar rollup dim
            F.date_trunc("week", d).cast("date").alias("week_start"),
            F.concat_ws("|", "o_orderstatus", "o_orderpriority").alias("tag"),  # F7/F12
        )
        .orderBy("o_orderkey")
    )


_ORACLE_SCALARS = """
SELECT o_orderkey,
       CAST(FLOOR(o_totalprice * 100) AS BIGINT)
           / NULLIF(o_custkey % 5, 0) AS per_bucket,
       FLOOR((CAST(FLOOR(o_totalprice * 100) AS BIGINT) + 500) / 1000.0) / 100.0
           AS price_k,
       CAST(ABS(o_custkey - 750) AS BIGINT) AS dist_mid,
       CAST(o_orderdate AS DATE) - 7 AS week_before,
       string_split(o_orderpriority, '-')[-1] AS prio_word,
       strftime(CAST(o_orderdate AS DATE), '%Y%m%d') AS ymd,
       strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
       CAST(date_trunc('week', CAST(o_orderdate AS DATE)) AS DATE) AS week_start,
       concat_ws('|', o_orderstatus, o_orderpriority) AS tag
FROM orders
WHERE o_orderkey % 7 = 0
ORDER BY o_orderkey
"""


# --- P1–P6/S10: nested chunk flatten kernel ------------------------------
def _chunk_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-chunk fixture, materialized ONCE per sf to scratch parquet.

    Production P1 reads nested data from storage; synthesizing the fixture
    inline would bill expensive literal-struct construction to every run
    of the flatten benchmark. The synthesis is deterministic, so the
    cached file is equivalent — and reading it exercises the REAL path:
    nested parquet scan → flatten kernel."""
    import os

    from admob_data_pipeline_spark.sources.scratch import cached_parquet_dir

    def write(tmp: str) -> None:
        li = load_table(spark, sf_dir, "lineitem")
        chunks_mod.synthesize_chunks_from_lineitem(li).write.mode(
            "overwrite"
        ).parquet(tmp)

    path = cached_parquet_dir(
        "chunks", os.path.join(sf_dir, "lineitem.parquet"), write
    )
    return spark.read.parquet(path)


def q_chunk_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = _chunk_fixture(spark, sf_dir)
    flat = chunks_mod.flatten_chunks(
        chunks,
        dims=[
            chunks_mod.DimSpec("DATE", "date", "date"),
            chunks_mod.DimSpec("APP", "app_name"),
        ],
        metrics=[
            chunks_mod.MetricSpec("CLICKS", "clicks", "int"),
            chunks_mod.MetricSpec("ESTIMATED_EARNINGS", "earnings_micros", "int"),
            chunks_mod.MetricSpec("IMPRESSION_CTR", "ctr", "float"),
            chunks_mod.MetricSpec("QUANTITY", "quantity", "int"),
        ],
    )
    return (
        flat.groupBy("date", "app_name")
        .agg(
            F.sum("clicks").alias("clicks"),
            F.sum("earnings_micros").alias("earnings_micros"),
            F.sum(F.floor(F.col("ctr") * 10000).cast("long")).alias("ctr_bps"),
            F.sum("quantity").alias("quantity"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("date", "app_name")
    )


_ORACLE_CHUNK_FLATTEN = """
WITH flat AS (
    SELECT CASE WHEN l_orderkey % 50 = 0 THEN NULL
                ELSE CAST(l_shipdate AS DATE) END AS date,
           CASE WHEN l_partkey % 5 = 0 THEN l_returnflag
                ELSE 'App-' || l_returnflag END AS app_name,
           CAST(l_linenumber AS BIGINT) AS clicks,
           CASE WHEN l_suppkey % 10 = 0 THEN 0
                ELSE CAST(FLOOR(l_extendedprice * 1e6) AS BIGINT) END AS earnings_micros,
           l_discount AS ctr,
           CAST(FLOOR(l_quantity) AS BIGINT) AS quantity
    FROM lineitem
    WHERE l_orderkey % 20 <> 0
)
SELECT date, app_name,
       CAST(SUM(clicks) AS BIGINT) AS clicks,
       CAST(SUM(earnings_micros) AS BIGINT) AS earnings_micros,
       CAST(SUM(CAST(FLOOR(ctr * 10000) AS BIGINT)) AS BIGINT) AS ctr_bps,
       CAST(SUM(quantity) AS BIGINT) AS quantity,
       COUNT(*) AS n_rows
FROM flat
GROUP BY date, app_name
ORDER BY date, app_name
"""


# --- S1/S2/P7/P8/O1: report-spec compiler over the events fact ------------
def q_report_spec(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    fact = alerts.daily_fact(events)
    spec = ReportSpec(
        date_range=("2024-01-05", "2024-01-12"),
        dimensions=("DATE", "APP"),
        metrics=("CLICKS", "IMPRESSIONS"),
        dimension_filters={"APP": ("click", "view", "purchase")},
        sort_conditions=(("DATE", "ASCENDING"), ("APP", "ASCENDING")),
    )
    return compile_report(
        fact,
        spec,
        dim_cols={"APP": "app_name", "UNIT": "ad_unit_name"},
        metric_cols={"CLICKS": "clicks", "IMPRESSIONS": "impressions"},
    )


_ORACLE_REPORT_SPEC = """
WITH fact AS (
    SELECT CAST(ts AS DATE) AS date,
           event_type AS app_name,
           CAST(FLOOR(value * 1000) AS BIGINT) AS clicks,
           CAST(1 AS BIGINT) AS impressions
    FROM events
)
SELECT date, app_name AS app,
       CAST(SUM(clicks) AS BIGINT) AS clicks,
       CAST(SUM(impressions) AS BIGINT) AS impressions
FROM fact
WHERE date BETWEEN DATE '2024-01-05' AND DATE '2024-01-12'
  AND app_name IN ('click', 'view', 'purchase')
GROUP BY date, app_name
ORDER BY date, app
"""


# --- analytic window family (generalizes W1: lag/delta/moving/cumulative) -
def q_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    vm = F.floor(F.col("value") * 1000).cast("long")
    base = ev.select(
        "event_id", "user_id", F.col("ts").cast("long").alias("ts_epoch"), vm.alias("vm")
    )
    w = Window.partitionBy("user_id").orderBy("ts_epoch", "event_id")
    w3 = w.rowsBetween(-2, 0)
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    return base.select(
        "event_id",
        "user_id",
        "vm",
        F.row_number().over(w).alias("rn"),
        F.lag("vm").over(w).alias("prev_vm"),
        (F.col("vm") - F.lag("vm").over(w)).alias("delta_vm"),
        F.sum("vm").over(w3).alias("moving3_vm"),
        F.sum("vm").over(wcum).alias("cum_vm"),
    ).orderBy("event_id")


_ORACLE_WINDOW = """
WITH base AS (
    SELECT event_id, user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_epoch,
           CAST(FLOOR(value * 1000) AS BIGINT) AS vm
    FROM events
)
SELECT event_id, user_id, vm,
       CAST(ROW_NUMBER() OVER w AS INT) AS rn,
       LAG(vm) OVER w AS prev_vm,
       vm - LAG(vm) OVER w AS delta_vm,
       CAST(SUM(vm) OVER (PARTITION BY user_id ORDER BY ts_epoch, event_id
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
           AS moving3_vm,
       CAST(SUM(vm) OVER (PARTITION BY user_id ORDER BY ts_epoch, event_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vm
FROM base
WINDOW w AS (PARTITION BY user_id ORDER BY ts_epoch, event_id)
ORDER BY event_id
"""


# --- histogram / binning --------------------------------------------------
def q_revenue_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    bucket = F.floor(_cents("l_extendedprice") / F.lit(500_000)).cast("int")
    return (
        li.select(bucket.alias("bucket"), _cents("l_extendedprice").alias("cents"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("sum_cents"))
        .orderBy("bucket")
    )


_ORACLE_HISTOGRAM = """
WITH b AS (
    SELECT CAST(FLOOR(CAST(FLOOR(l_extendedprice * 100) AS BIGINT) / 500000.0)
                AS INT) AS bucket,
           CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS cents
    FROM lineitem
)
SELECT bucket, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM b GROUP BY bucket ORDER BY bucket
"""


# --- KMV distinct sketch (deterministic, engine-identical) ----------------
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from admob_data_pipeline_spark.operators.sketches import kmv_distinct

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", F.col("o_custkey").cast("string").alias("ck")
    )
    return kmv_distinct(o, "o_orderpriority", "ck").orderBy("o_orderpriority")


_ORACLE_KMV = """
WITH h AS (
    SELECT DISTINCT o_orderpriority AS g,
           CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 13) AS BIGINT)
               / POWER(16, 13) AS h
    FROM orders
),
ranked AS (
    SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn FROM h
),
agg AS (
    SELECT g, COUNT(*) AS n_mins, MAX(CASE WHEN rn = 64 THEN h END) AS h64
    FROM ranked WHERE rn <= 64 GROUP BY g
)
SELECT g AS o_orderpriority,
       CASE WHEN n_mins < 64 THEN CAST(n_mins AS DOUBLE)
            ELSE ROUND(63.0 / h64, 4) END AS ndv_est,
       n_mins < 64 AS is_exact
FROM agg
ORDER BY o_orderpriority
"""


# --- KMV set algebra: union / Jaccard / intersection from synopses --------
def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from admob_data_pipeline_spark.operators.sketches import kmv_overlap

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("user_id").cast("string").alias("uid")
    )
    return kmv_overlap(ev, "event_type", "uid", "click", "view")


_ORACLE_KMV_OVERLAP = """
WITH h AS (
    SELECT DISTINCT event_type AS g,
           CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13) AS BIGINT)
               / POWER(16, 13) AS h
    FROM events WHERE event_type IN ('click', 'view')
),
syn AS (
    SELECT g, (list_sort(list(h)))[1:64] AS mins FROM h GROUP BY g
),
j AS (
    SELECT a.mins AS a_mins, b.mins AS b_mins,
           (list_sort(list_distinct(a.mins || b.mins)))[1:64] AS u_mins
    FROM (SELECT mins FROM syn WHERE g = 'click') a,
         (SELECT mins FROM syn WHERE g = 'view') b
),
est AS (
    SELECT a_mins, b_mins, u_mins,
           CASE WHEN len(u_mins) < 64 THEN CAST(len(u_mins) AS DOUBLE)
                ELSE ROUND(63.0 / u_mins[64], 4) END AS union_est,
           len(list_filter(u_mins,
               x -> list_contains(a_mins, x) AND list_contains(b_mins, x)))
               AS in_both
    FROM j
)
SELECT 'click' AS set_a, 'view' AS set_b,
       union_est,
       ROUND(CAST(in_both AS DOUBLE) / len(u_mins), 6) AS jaccard_est,
       ROUND(union_est * in_both / len(u_mins), 4) AS intersect_est
FROM est
"""


# --- deterministic HLL: register state + estimate, oracle-pinned ----------
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from admob_data_pipeline_spark.operators.sketches import hll_distinct

    o = load_table(spark, sf_dir, "orders")
    return hll_distinct(o, "o_orderpriority", "o_custkey").orderBy(
        "o_orderpriority"
    )


_ORACLE_HLL = """
WITH h AS (
    SELECT o_orderpriority AS g, md5(CAST(o_custkey AS VARCHAR)) AS hx
    FROM orders
),
br AS (
    SELECT g,
           CAST(CAST('0x' || substr(hx, 1, 2) AS BIGINT) % 64 AS BIGINT) AS b,
           CASE WHEN CAST('0x' || substr(hx, 3, 13) AS BIGINT) = 0 THEN 53
                ELSE 53 - len(bin(CAST('0x' || substr(hx, 3, 13) AS BIGINT)))
           END AS rho
    FROM h
),
regs AS (SELECT g, b, MAX(rho) AS r FROM br GROUP BY g, b),
packed AS (
    SELECT g,
           list_sort(list({'b': b, 'r': r})) AS br_list,
           COUNT(*) AS n_present
    FROM regs GROUP BY g
),
summed AS (
    -- fold in bucket order (same association order as the Spark side's
    -- aggregate over the sorted array — float sums are order-sensitive)
    SELECT g, br_list, n_present,
           list_sum(list_transform(br_list, s -> POWER(2.0, -s.r)))
               AS present_sum
    FROM packed
),
est AS (
    SELECT g, n_present,
           0.709 * 64 * 64 / (present_sum + (64 - n_present)) AS raw,
           CAST(64 - n_present AS DOUBLE) AS zeros,
           md5(array_to_string(
               list_transform(br_list,
                   s -> CAST(s.b AS VARCHAR) || ':' || CAST(s.r AS VARCHAR)),
               ',')) AS register_md5
    FROM summed
)
SELECT g AS o_orderpriority,
       CAST(FLOOR((CASE WHEN raw < 2.5 * 64 AND zeros > 0
                        THEN 64 * ln(64 / zeros) ELSE raw END) * 1e4)
            AS BIGINT) AS ndv_est_e4,
       register_md5
FROM est
ORDER BY o_orderpriority
"""


def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from admob_data_pipeline_spark.operators.sketches import hll_rollup

    return hll_rollup(load_table(spark, sf_dir, "events"))


# The oracle computes weekly registers DIRECTLY from the raw events; the
# Spark plan MAX-merges stored daily partials. Hash equality of the
# register state proves the rollup merge is lossless.
_ORACLE_HLL_ROLLUP = """
WITH h AS (
    SELECT event_type AS g,
           (CAST(ts AS DATE) - DATE '1970-01-01') // 7 AS wk,
           md5(CAST(user_id AS VARCHAR)) AS hx
    FROM events
),
br AS (
    SELECT g, wk,
           CAST(CAST('0x' || substr(hx, 1, 2) AS BIGINT) % 64 AS BIGINT) AS b,
           CASE WHEN CAST('0x' || substr(hx, 3, 13) AS BIGINT) = 0 THEN 53
                ELSE 53 - len(bin(CAST('0x' || substr(hx, 3, 13) AS BIGINT)))
           END AS rho
    FROM h
),
regs AS (SELECT g, wk, b, MAX(rho) AS r FROM br GROUP BY g, wk, b),
packed AS (
    SELECT g, wk,
           list_sort(list({'b': b, 'r': r})) AS br_list,
           COUNT(*) AS n_present
    FROM regs GROUP BY g, wk
),
summed AS (
    SELECT g, wk, br_list, n_present,
           list_sum(list_transform(br_list, s -> POWER(2.0, -s.r)))
               AS present_sum
    FROM packed
),
est AS (
    SELECT g, wk, n_present,
           0.709 * 64 * 64 / (present_sum + (64 - n_present)) AS raw,
           CAST(64 - n_present AS DOUBLE) AS zeros,
           md5(array_to_string(
               list_transform(br_list,
                   s -> CAST(s.b AS VARCHAR) || ':' || CAST(s.r AS VARCHAR)),
               ',')) AS register_md5
    FROM summed
)
SELECT g AS event_type, CAST(wk AS INT) AS wk,
       CAST(FLOOR((CASE WHEN raw < 2.5 * 64 AND zeros > 0
                        THEN 64 * ln(64 / zeros) ELSE raw END) * 1e4)
            AS BIGINT) AS ndv_est_e4,
       register_md5
FROM est
ORDER BY event_type, wk
"""


# --- Count-Min sketch: frequency estimates with exact comparison ----------
def q_cm_sketch_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from admob_data_pipeline_spark.operators.sketches import cm_estimate, cm_sketch

    ev = load_table(spark, sf_dir, "events")
    sketch = cm_sketch(ev, "user_id")
    est = cm_estimate(sketch, ev.select("user_id"), "user_id")
    exact = ev.groupBy(F.col("user_id").cast("string").alias("k")).agg(
        F.count(F.lit(1)).alias("freq_exact")
    )
    return (
        est.join(exact, "k")
        .select(
            F.col("k").cast("bigint").alias("user_id"),
            "freq_est",
            "freq_exact",
            (F.col("freq_est") >= F.col("freq_exact")).alias("one_sided_ok"),
        )
        .orderBy("user_id")
    )


_ORACLE_CM = """
WITH v AS (SELECT CAST(user_id AS VARCHAR) AS v FROM events),
cells AS (
    SELECT r, CAST(CAST('0x' || substr(md5(CAST(r AS VARCHAR) || '#' || v), 1, 13)
                   AS BIGINT) % 64 AS BIGINT) AS c
    FROM v, UNNEST(generate_series(0, 3)) AS g(r)
),
sketch AS (SELECT r, c, COUNT(*) AS n FROM cells GROUP BY r, c),
keys AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS k FROM events),
probes AS (
    SELECT k, r, CAST(CAST('0x' || substr(md5(CAST(r AS VARCHAR) || '#' || k), 1, 13)
                      AS BIGINT) % 64 AS BIGINT) AS c
    FROM keys, UNNEST(generate_series(0, 3)) AS g(r)
),
est AS (
    SELECT p.k, MIN(s.n) AS freq_est
    FROM probes p JOIN sketch s USING (r, c) GROUP BY p.k
),
exact AS (
    SELECT CAST(user_id AS VARCHAR) AS k, COUNT(*) AS freq_exact
    FROM events GROUP BY k
)
SELECT CAST(e.k AS BIGINT) AS user_id,
       e.freq_est, x.freq_exact,
       e.freq_est >= x.freq_exact AS one_sided_ok
FROM est e JOIN exact x USING (k)
ORDER BY user_id
"""


# --- exact quantiles (distribution stats per group) ----------------------
def q_quantile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", _cents("l_extendedprice").alias("c")
    )
    return (
        li.groupBy("l_returnflag")
        # one array-percentile: scalar percentile(c, p) exprs each keep
        # their own value buffer — 4 separate calls buffered the group 4×
        .agg(
            F.expr("percentile(c, array(0.25, 0.5, 0.9, 0.99))").alias("ps"),
            F.min("c").alias("cmin"),
            F.max("c").alias("cmax"),
        )
        .select(
            "l_returnflag",
            F.col("ps")[0].alias("p25"),
            F.col("ps")[1].alias("p50"),
            F.col("ps")[2].alias("p90"),
            F.col("ps")[3].alias("p99"),
            "cmin",
            "cmax",
        )
        .orderBy("l_returnflag")
    )


_ORACLE_QUANTILES = """
WITH b AS (
    SELECT l_returnflag, CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS c
    FROM lineitem
)
SELECT l_returnflag,
       quantile_cont(c, 0.25) AS p25,
       quantile_cont(c, 0.5) AS p50,
       quantile_cont(c, 0.9) AS p90,
       quantile_cont(c, 0.99) AS p99,
       MIN(c) AS cmin,
       MAX(c) AS cmax
FROM b GROUP BY l_returnflag ORDER BY l_returnflag
"""


# --- as-of join: each click enriched with the latest prior purchase ------
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from admob_data_pipeline_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    vm = F.floor(F.col("value") * 1000).cast("long")
    left = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", vm.alias("vm")
    )
    right0 = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", vm.alias("pvm"), F.col("event_id").alias("pid")
    )
    # dedupe to one purchase per (user, ts): keep max pid — removes order
    # ambiguity for both engines
    w = Window.partitionBy("user_id", "ts").orderBy(F.desc("pid"))
    right = right0.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") == 1
    ).drop("_rn")
    joined = asof_join(left, right, on="user_id", ts="ts", payload_cols=["pvm", "pid"])
    return joined.select(
        "event_id",
        "user_id",
        F.col("ts").cast("long").alias("ts_epoch"),
        "vm",
        F.col("pvm_asof"),
        F.col("pid_asof"),
    ).orderBy("event_id")


_ORACLE_ASOF = """
WITH l AS (
    SELECT event_id, user_id, ts, CAST(FLOOR(value * 1000) AS BIGINT) AS vm
    FROM events WHERE event_type = 'click'
),
r AS (
    SELECT user_id, ts, CAST(FLOOR(value * 1000) AS BIGINT) AS pvm,
           event_id AS pid
    FROM events WHERE event_type = 'purchase'
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
)
SELECT l.event_id, l.user_id,
       CAST(FLOOR(epoch(l.ts)) AS BIGINT) AS ts_epoch, l.vm,
       r.pvm AS pvm_asof, r.pid AS pid_asof
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY l.event_id
"""


# --- range join: events ∈ weekly campaign windows -------------------------
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from admob_data_pipeline_spark.operators.rangejoin import range_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", F.floor(F.col("value") * 1000).cast("long").alias("vm")
    )
    bounds = ev.agg(
        F.date_trunc("week", F.min("ts")).alias("w0"), F.max("ts").alias("tmax")
    )
    campaigns = bounds.select(
        F.explode(
            F.sequence(F.col("w0"), F.col("tmax"), F.expr("interval 7 days"))
        ).alias("start_ts")
    ).select(
        "start_ts", (F.col("start_ts") + F.expr("interval 3 days")).alias("end_ts")
    )
    joined = range_join(ev, campaigns, "ts", "start_ts", "end_ts")
    return (
        joined.groupBy(F.col("start_ts").cast("long").alias("campaign_start_epoch"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("vm").alias("value_milli"))
        .orderBy("campaign_start_epoch")
    )


_ORACLE_RANGE_JOIN = """
WITH ev AS (
    SELECT event_id, ts, CAST(FLOOR(value * 1000) AS BIGINT) AS vm FROM events
),
bounds AS (
    SELECT date_trunc('week', MIN(ts)) AS w0, MAX(ts) AS tmax FROM ev
),
campaigns AS (
    SELECT unnest(generate_series(w0, tmax, INTERVAL 7 DAY)) AS start_ts FROM bounds
),
c2 AS (SELECT start_ts, start_ts + INTERVAL 3 DAY AS end_ts FROM campaigns)
SELECT CAST(FLOOR(epoch(c2.start_ts)) AS BIGINT) AS campaign_start_epoch,
       COUNT(*) AS n_events,
       CAST(SUM(ev.vm) AS BIGINT) AS value_milli
FROM ev JOIN c2 ON ev.ts >= c2.start_ts AND ev.ts <= c2.end_ts
GROUP BY c2.start_ts
ORDER BY campaign_start_epoch
"""


# --- skew mitigation: salted aggregation / replicated join ---------------
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-stage SUM over l_returnflag (3 hot values carrying all
    rows) — results must be salt-invariant and equal the plain GROUP BY."""
    from admob_data_pipeline_spark.operators.skew import salted_group_agg

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", _cents("l_extendedprice").alias("price_c")
    )
    return salted_group_agg(li, ["l_returnflag"], {"sum_price_cents": "price_c"}).orderBy(
        "l_returnflag"
    )


_ORACLE_SALTED_AGG = """
SELECT l_returnflag,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_price_cents,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replicated-salt join of orders (5 hot o_orderpriority values) to a
    tiny priority-rank dim — equal to the plain join."""
    from admob_data_pipeline_spark.operators.skew import replicated_skew_join

    o = load_table(spark, sf_dir, "orders")
    dim = (
        o.select("o_orderpriority")
        .distinct()
        .select(
            "o_orderpriority",
            F.element_at(F.split("o_orderpriority", "-"), 1)
            .cast("int")
            .alias("priority_rank"),
        )
    )
    joined = replicated_skew_join(o, dim, "o_orderpriority")
    return (
        joined.groupBy("priority_rank")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_cents("o_totalprice")).alias("sum_price_cents"),
        )
        .orderBy("priority_rank")
    )


_ORACLE_SALTED_JOIN = """
WITH dim AS (
    SELECT DISTINCT o_orderpriority,
           CAST(string_split(o_orderpriority, '-')[1] AS INT) AS priority_rank
    FROM orders
)
SELECT d.priority_rank,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_price_cents
FROM orders o JOIN dim d ON o.o_orderpriority = d.o_orderpriority
GROUP BY d.priority_rank
ORDER BY d.priority_rank
"""


# --- W1/W2 alert family ---------------------------------------------------
def q_ctr_anomaly_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 backfill end-to-end: the alert pipeline re-run AS OF a past
    date — the fact is truncated at the backfill anchor, so report_date
    resolves to that day and the 7-day trailing window precedes it,
    exactly what the reference's backfill date parameter does
    (main.py:111-120 passing an explicit report date). Same quirk join
    and thresholds as the live run."""
    from admob_data_pipeline_spark.operators import alerts

    events = load_table(spark, sf_dir, "events")
    fact = alerts.daily_fact(events).where(
        F.col("date") <= F.lit("2024-01-20")
    )
    return alerts.ctr_anomaly_from_fact(fact)


_ORACLE_ANOMALY_BACKFILL = """
WITH fact AS (
    SELECT CAST(ts AS DATE) AS date,
           event_type AS app_name,
           'u' || CAST(user_id % 8 AS VARCHAR) AS ad_unit_name,
           CAST(FLOOR(value * 1000) AS BIGINT) AS clicks,
           CAST(1 AS BIGINT) AS impressions
    FROM events
    WHERE CAST(ts AS DATE) <= DATE '2024-01-20'
),
bounds AS (SELECT MAX(date) AS report_date FROM fact),
last7 AS (
    SELECT ad_unit_name,
           CAST(SUM(clicks) AS DOUBLE) / NULLIF(SUM(impressions), 0) AS avg_ctr_7d
    FROM fact, bounds
    WHERE date BETWEEN report_date - INTERVAL 7 DAY AND report_date - INTERVAL 1 DAY
    GROUP BY app_name, ad_unit_name
),
today AS (
    SELECT app_name, ad_unit_name,
           CAST(SUM(clicks) AS DOUBLE) / NULLIF(SUM(impressions), 0) AS today_ctr
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


def q_report_spec_mediation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 — the mediation report through the SAME spec compiler, entered
    via the reference's verbatim JSON shape (``ReportSpec.from_dict``,
    main.py:122-136): mediation dim set (AD_SOURCE), earnings in exact
    integer micros, a metric DESC sort, and an IN-list filter."""
    events = load_table(spark, sf_dir, "events")
    fact = events.select(
        F.col("ts").cast("date").alias("date"),
        F.col("event_type").alias("app_name"),
        F.concat(F.lit("src"), (F.col("user_id") % 4).cast("string")).alias(
            "ad_source_name"
        ),
        F.floor(F.col("value") * 1e6).cast("long").alias("earn_micros"),
        F.lit(1).cast("long").alias("impressions"),
    )
    spec = ReportSpec.from_dict(
        {
            "dateRange": {
                "startDate": {"year": 2024, "month": 1, "day": 3},
                "endDate": {"year": 2024, "month": 1, "day": 17},
            },
            "dimensions": ["DATE", "AD_SOURCE"],
            "metrics": ["ESTIMATED_EARNINGS", "IMPRESSIONS"],
            "dimensionFilters": [
                {
                    "dimension": "AD_SOURCE",
                    "matchesAny": {"values": ["src0", "src1", "src3"]},
                }
            ],
            "sortConditions": [
                {"dimension": "DATE", "order": "ASCENDING"},
                {"metric": "ESTIMATED_EARNINGS", "order": "DESCENDING"},
            ],
        }
    )
    return compile_report(
        fact,
        spec,
        dim_cols={"AD_SOURCE": "ad_source_name", "APP": "app_name"},
        metric_cols={
            "ESTIMATED_EARNINGS": "earn_micros",
            "IMPRESSIONS": "impressions",
        },
    )


_ORACLE_REPORT_MEDIATION = """
WITH fact AS (
    SELECT CAST(ts AS DATE) AS date,
           'src' || CAST(user_id % 4 AS VARCHAR) AS ad_source,
           CAST(FLOOR(value * 1e6) AS BIGINT) AS earn_micros
    FROM events
)
SELECT date, ad_source,
       CAST(SUM(earn_micros) AS BIGINT) AS estimated_earnings,
       COUNT(*) AS impressions
FROM fact
WHERE date BETWEEN DATE '2024-01-03' AND DATE '2024-01-17'
  AND ad_source IN ('src0', 'src1', 'src3')
GROUP BY date, ad_source
ORDER BY date, estimated_earnings DESC
"""


_ORACLE_ANOMALY_QUIRK = """
WITH fact AS (
    SELECT CAST(ts AS DATE) AS date,
           event_type AS app_name,
           'u' || CAST(user_id % 8 AS VARCHAR) AS ad_unit_name,
           CAST(FLOOR(value * 1000) AS BIGINT) AS clicks,
           CAST(1 AS BIGINT) AS impressions
    FROM events
),
bounds AS (SELECT MAX(date) AS report_date FROM fact),
last7 AS (
    SELECT ad_unit_name,
           CAST(SUM(clicks) AS DOUBLE) / NULLIF(SUM(impressions), 0) AS avg_ctr_7d
    FROM fact, bounds
    WHERE date BETWEEN report_date - INTERVAL 7 DAY AND report_date - INTERVAL 1 DAY
    GROUP BY app_name, ad_unit_name
),
today AS (
    SELECT app_name, ad_unit_name,
           CAST(SUM(clicks) AS DOUBLE) / NULLIF(SUM(impressions), 0) AS today_ctr
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

def q_ctr_anomaly_bq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return alerts.ctr_anomaly_bq_verbatim(spark, sf_dir)


_ORACLE_ANOMALY_BQ = """
WITH fact AS (
    SELECT CAST(ts AS DATE) AS date,
           event_type AS app_name,
           'u' || CAST(user_id % 8 AS VARCHAR) AS ad_unit_name,
           CAST(FLOOR(value * 1000) AS BIGINT) AS clicks,
           CAST(1 AS BIGINT) AS impressions
    FROM events
),
daily AS (
    SELECT date, app_name, ad_unit_name,
           CAST(SUM(clicks) AS BIGINT) AS clicks,
           CAST(SUM(impressions) AS BIGINT) AS impressions,
           CAST(SUM(clicks) AS DOUBLE) / NULLIF(SUM(impressions), 0)
               AS impression_ctr
    FROM fact GROUP BY date, app_name, ad_unit_name
),
bounds AS (SELECT MAX(date) AS report_date FROM daily),
last7 AS (
    SELECT app_name, ad_unit_name,
           CAST(SUM(clicks) AS DOUBLE) / NULLIF(SUM(impressions), 0) AS avg_ctr_7d
    FROM daily, bounds
    WHERE date BETWEEN report_date - INTERVAL 7 DAY AND report_date - INTERVAL 1 DAY
    GROUP BY app_name, ad_unit_name
),
today AS (
    SELECT app_name, ad_unit_name, impression_ctr AS today_ctr
    FROM daily, bounds
    WHERE date = report_date
)
SELECT t.app_name, t.ad_unit_name,
       ROUND(l.avg_ctr_7d, 4) AS avg_ctr_7d,
       ROUND(t.today_ctr, 4) AS today_ctr,
       ROUND((t.today_ctr - l.avg_ctr_7d) / NULLIF(l.avg_ctr_7d, 0) * 100, 2)
           AS pct_change
FROM today t
JOIN last7 l ON t.ad_unit_name = l.ad_unit_name
WHERE ABS((t.today_ctr - l.avg_ctr_7d) / NULLIF(l.avg_ctr_7d, 0) * 100) > 25
ORDER BY pct_change DESC
"""


_ORACLE_ANOMALY_WINDOW = """
WITH fact AS (
    SELECT CAST(ts AS DATE) AS date,
           event_type AS app_name,
           'u' || CAST(user_id % 8 AS VARCHAR) AS ad_unit_name,
           CAST(FLOOR(value * 1000) AS BIGINT) AS clicks,
           CAST(1 AS BIGINT) AS impressions
    FROM events
),
bounds AS (SELECT MAX(date) AS report_date FROM fact),
last7 AS (
    SELECT app_name, ad_unit_name,
           SUM(clicks) AS clicks_7d, SUM(impressions) AS impr_7d
    FROM fact, bounds
    WHERE date BETWEEN report_date - INTERVAL 7 DAY AND report_date - INTERVAL 1 DAY
    GROUP BY app_name, ad_unit_name
),
today AS (
    SELECT app_name, ad_unit_name,
           SUM(clicks) AS clicks, SUM(impressions) AS impressions
    FROM fact, bounds
    WHERE date = report_date
    GROUP BY app_name, ad_unit_name
)
SELECT t.app_name, t.ad_unit_name,
       ROUND(CAST(t.clicks AS DOUBLE) / NULLIF(t.impressions, 0), 6) AS today_ctr,
       ROUND(CAST(l.clicks_7d AS DOUBLE) / NULLIF(l.impr_7d, 0), 6) AS avg_ctr_7d,
       ROUND((CAST(t.clicks AS DOUBLE) / NULLIF(t.impressions, 0)
              - CAST(l.clicks_7d AS DOUBLE) / NULLIF(l.impr_7d, 0))
             / NULLIF(CAST(l.clicks_7d AS DOUBLE) / NULLIF(l.impr_7d, 0), 0) * 100, 4)
           AS pct_change,
       ABS(ROUND((CAST(t.clicks AS DOUBLE) / NULLIF(t.impressions, 0)
              - CAST(l.clicks_7d AS DOUBLE) / NULLIF(l.impr_7d, 0))
             / NULLIF(CAST(l.clicks_7d AS DOUBLE) / NULLIF(l.impr_7d, 0), 0) * 100, 4))
           > 25.0 AS is_alert
FROM today t
JOIN last7 l ON t.app_name = l.app_name AND t.ad_unit_name = l.ad_unit_name
ORDER BY pct_change DESC, t.app_name, t.ad_unit_name
"""


# --- calendar rollup (generalizes main.py:127-130's precomputed MONTH/WEEK
# dims to grouping sets) ---------------------------------------------------
def q_calendar_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    monthly = o.select(
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM").alias("month"),
        "o_orderstatus",
        _cents("o_totalprice").alias("price_c"),
    )
    return (
        monthly.rollup("month", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("price_c").alias("sum_price_cents"))
        .orderBy("month", "o_orderstatus")
    )


_ORACLE_ROLLUP = """
SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
       o_orderstatus,
       COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_price_cents
FROM orders
GROUP BY ROLLUP (month, o_orderstatus)
ORDER BY month, o_orderstatus
"""


# --- F11: JSON extraction from the events props column --------------------
def q_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select((k % 10).alias("k_bucket"), k.alias("k"))
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("sum_k"))
        .orderBy("k_bucket")
    )


_ORACLE_PROPS_JSON = """
WITH e AS (
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events
)
SELECT k % 10 AS k_bucket, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS sum_k
FROM e
GROUP BY k % 10
ORDER BY k_bucket
"""


# --- VARIANT-typed semi-structured extraction ------------------------------
def q_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through Spark 4's VARIANT type:
    ``parse_json`` → ``variant_get`` with a TYPED path (the modern
    replacement for string-typed get_json_object; shredded storage makes
    this the 100 TB semi-structured path). Also probes a missing path —
    variant_get on an absent key must yield NULL, counted per group to
    pin the null-safety semantics.

    Scale: map-only parse+extract over the scan, one small aggregation.
    """
    ev = load_table(spark, sf_dir, "events")
    staged = ev.select(
        "event_type",
        F.expr("variant_get(parse_json(props), '$.k', 'long')").alias("k"),
        F.expr("variant_get(parse_json(props), '$.absent', 'long')").alias("zz"),
    )
    return (
        staged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.sum(F.when(F.col("k").isNull(), 1).otherwise(0)).alias("n_null_k"),
            F.sum(F.when(F.col("zz").isNull(), 1).otherwise(0)).alias("n_null_absent"),
        )
        .orderBy("event_type")
    )


_ORACLE_PROPS_VARIANT = """
WITH e AS (
    SELECT event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CAST(json_extract_string(props, '$.absent') AS BIGINT) AS zz
    FROM events
)
SELECT event_type, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS sum_k,
       CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_k,
       CAST(SUM(CASE WHEN zz IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_absent
FROM e
GROUP BY event_type
ORDER BY event_type
"""


# --- native recursive CTE ---------------------------------------------------
REACH_MAX_DEPTH = 3


def q_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS over the co-purchase graph through Spark 4's NATIVE
    ``WITH RECURSIVE`` — min hop distance from the smallest frequent part
    within 3 hops. The same recursion the dedup-clusters oracle runs in
    DuckDB now executes Spark-side too, so iterative reachability needs
    no hand-written driver loop for bounded depths (the unrolled-loop
    form in operators/graph.py remains the unbounded-diameter path).

    Scale: depth is capped, so the working set is bounded by
    Σ degree^depth from the seed — a frontier query, not a full
    traversal; each recursion step is one equi-join on the vertex key.
    """
    from admob_data_pipeline_spark.operators.graph import copurchase_edges

    # Spark INLINES non-recursive CTEs into every recursion step, so an
    # edges CTE inside the recursive statement re-runs the basket
    # self-join + countDistinct per iteration (measured 14 s at sf0.1).
    # Materialize the edge list once and let the recursion read it.
    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem"))  # checkpointed internally
    edges.createOrReplaceTempView("rec_edges")
    return spark.sql(_RECURSIVE_SQL.format(edges="rec_edges", depth=REACH_MAX_DEPTH))


_RECURSIVE_SQL = """
WITH RECURSIVE
adj AS (
    SELECT u AS src, v AS dst FROM {edges}
    UNION ALL
    SELECT v AS src, u AS dst FROM {edges}
),
seed AS (SELECT MIN(u) AS node FROM {edges}),
r(node, depth) AS (
    SELECT node, 0 FROM seed
    UNION ALL
    SELECT a.dst, r.depth + 1
    FROM r JOIN adj a ON a.src = r.node
    WHERE r.depth < {depth}
)
SELECT node, MIN(depth) AS min_depth
FROM r GROUP BY node ORDER BY node
"""

_ORACLE_EDGES_CTE = """(
    SELECT a.l_partkey AS u, b.l_partkey AS v
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
    JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
      ON a.l_orderkey = b.l_orderkey
    WHERE a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(DISTINCT a.l_orderkey) >= 2
)"""

_ORACLE_RECURSIVE = _RECURSIVE_SQL.format(
    edges=_ORACLE_EDGES_CTE, depth=REACH_MAX_DEPTH
)


# --- O2+limit: deterministic top-k ---------------------------------------
def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", _cents("o_totalprice").alias("price_cents"))
        .orderBy(F.desc("price_cents"), "o_orderkey")
        .limit(10)
    )


_ORACLE_TOP_ORDERS = """
SELECT o_orderkey, CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_cents
FROM orders
ORDER BY price_cents DESC, o_orderkey
LIMIT 10
"""


# --- pivot: wide-format conditional aggregation ---------------------------
def q_pivot_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue (cents) by order priority pivoted across order years.

    Pivot values are DECLARED, not discovered: Spark's pivot without an
    explicit value list runs a distinct-scan of the pivot column first —
    an extra full pass at 100 TB. With the list, the pivot compiles to one
    hash aggregation of conditional sums (same plan as the CASE oracle).
    """
    o = load_table(spark, sf_dir, "orders")
    years = ["1995", "1996", "1997"]
    wide = (
        o.withColumn("yr", F.year("o_orderdate").cast("string"))
        .where(F.col("yr").isin(years))
        .groupBy("o_orderpriority")
        .pivot("yr", years)
        .agg(F.sum(_cents("o_totalprice")))
        .orderBy("o_orderpriority")
    )
    # column "1995" → "y1995": digits-only names break unquoted SQL refs
    for y in years:
        wide = wide.withColumnRenamed(y, f"y{y}")
    return wide


_ORACLE_PIVOT = """
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN year(o_orderdate) = 1995
                     THEN CAST(FLOOR(o_totalprice * 100) AS BIGINT) END)
            AS BIGINT) AS y1995,
       CAST(SUM(CASE WHEN year(o_orderdate) = 1996
                     THEN CAST(FLOOR(o_totalprice * 100) AS BIGINT) END)
            AS BIGINT) AS y1996,
       CAST(SUM(CASE WHEN year(o_orderdate) = 1997
                     THEN CAST(FLOOR(o_totalprice * 100) AS BIGINT) END)
            AS BIGINT) AS y1997
FROM orders
WHERE year(o_orderdate) IN (1995, 1996, 1997)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- correlation from exact integer moments -------------------------------
def q_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of quantity vs price per return flag, computed
    from EXACT integer moment sums (Σx, Σy, Σx², Σy², Σxy as longs) with
    the closed form evaluated in doubles at the end.

    The built-in corr() accumulates doubles in partition order — its last
    bits differ per partitioning AND per engine, so it can never
    hash-match an oracle. Integer moments are associative/exact, and the
    final expression is a fixed sequence of IEEE ops on identical inputs.
    Values are floored to dollars so squared sums stay within int64 at
    100 TB row counts (1e10 per row-pair × rows ≪ 2^63)."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.floor("l_quantity").cast("long")
    y = F.floor("l_extendedprice").cast("long")
    base = li.select("l_returnflag", x.alias("x"), y.alias("y"))
    m = base.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
        F.col("sxy").cast("double"),
    )
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return m.select(
        "l_returnflag", "n", "sx", "sy", corr.alias("qty_price_corr")
    ).orderBy("l_returnflag")


_ORACLE_CORR = """
WITH m AS (
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sx,
           CAST(SUM(CAST(FLOOR(l_extendedprice) AS BIGINT)) AS BIGINT) AS sy,
           CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)
                    * CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sxx,
           CAST(SUM(CAST(FLOOR(l_extendedprice) AS BIGINT)
                    * CAST(FLOOR(l_extendedprice) AS BIGINT)) AS BIGINT) AS syy,
           CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)
                    * CAST(FLOOR(l_extendedprice) AS BIGINT)) AS BIGINT) AS sxy
    FROM lineitem
    GROUP BY l_returnflag
)
SELECT l_returnflag, n, sx, sy,
       (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
       / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
          * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
           AS qty_price_corr
FROM m
ORDER BY l_returnflag
"""


# --- rank-family window functions -----------------------------------------
def q_window_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile / percent_rank / cume_dist over orders
    within priority (top-5 per priority emitted). percent_rank/cume_dist
    are exact small-integer ratios — identical IEEE doubles across
    engines, left unrounded by design."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey", "o_orderpriority", _cents("o_totalprice").alias("price_c")
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("price_c"), "o_orderkey"
    )
    return (
        base.select(
            "o_orderkey",
            "o_orderpriority",
            "price_c",
            F.rank().over(w).cast("int").alias("rnk"),
            F.dense_rank().over(w).cast("int").alias("drnk"),
            F.ntile(4).over(w).cast("int").alias("quartile"),
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cum_dist"),
        )
        .where(F.col("rnk") <= 5)
        .orderBy("o_orderpriority", "rnk")
    )


_ORACLE_WINDOW_RANKS = """
WITH base AS (
    SELECT o_orderkey, o_orderpriority,
           CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_c
    FROM orders
),
ranked AS (
    SELECT o_orderkey, o_orderpriority, price_c,
           CAST(RANK() OVER w AS INT) AS rnk,
           CAST(DENSE_RANK() OVER w AS INT) AS drnk,
           CAST(NTILE(4) OVER w AS INT) AS quartile,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cum_dist
    FROM base
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY price_c DESC, o_orderkey)
)
SELECT * FROM ranked WHERE rnk <= 5
ORDER BY o_orderpriority, rnk
"""


# --- data-quality profile: per-column stats in ONE pass -------------------
_PROFILE_COLS = [
    ("o_orderkey", "key"),
    ("o_custkey", "key"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "money"),
    ("o_orderdate", "date"),
]


def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data-quality profile of ``orders``: null count,
    exact distinct count, min/max — the audit every ingestion pipeline
    runs before trusting a partition. Still ONE table scan regardless
    of column count.

    r13 shape (guide §2.3): the former single multi-distinct aggregate
    planned as SORT aggregates end to end — Catalyst's distinct rewrite
    expands the scan 6× and the string min/max buffers (o_orderstatus)
    disqualify HashAggregateExec, so every expanded row went through a
    full 6-key sort (``git show
    1a9d101:plans/r13/profile_orders_before.txt``). Instead,
    explode each row into one narrow typed (column-idx, value) record
    per column and reduce with HASH aggregates: stage 1 dedupes values
    per column with map-side partials (count per distinct value — keys
    may be strings, that's hash-friendly; only string-valued AGGREGATE
    BUFFERS are not), stage 2 folds the per-value counts into
    n_rows/nulls/ndv and takes min/max over the DEDUPED values only —
    the unavoidable string-min sort aggregate now sees Σ ndv rows, not
    6× the table. min/max commute with the monotone render transforms
    (floor-cents, timestamp→date), so rendering after the aggregate is
    value-identical to the old render-then-aggregate form.
    """
    o = load_table(spark, sf_dir, "orders")
    slots = []
    for idx, (col, kind) in enumerate(_PROFILE_COLS):
        c = F.col(col)
        slots.append(
            F.struct(
                F.lit(idx).alias("i"),
                (c if kind == "key" else F.lit(None).cast("long")).alias(
                    "vl"
                ),
                (c if kind == "money" else F.lit(None).cast("double")).alias(
                    "vd"
                ),
                (
                    c if kind == "date" else F.lit(None).cast("timestamp")
                ).alias("vt"),
                (c if kind == "str" else F.lit(None).cast("string")).alias(
                    "vs"
                ),
            )
        )
    kv = o.select(F.explode(F.array(*slots)).alias("e")).select("e.*")
    per_val = kv.groupBy("i", "vl", "vd", "vt", "vs").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    has_val = (
        F.col("vl").isNotNull()
        | F.col("vd").isNotNull()
        | F.col("vt").isNotNull()
        | F.col("vs").isNotNull()
    )
    stats = per_val.groupBy("i").agg(
        F.sum("cnt").alias("n_rows"),
        F.sum(F.when(has_val, F.lit(0)).otherwise(F.col("cnt"))).alias(
            "n_nulls"
        ),
        F.count(F.when(has_val, F.lit(1))).alias("n_distinct"),
        F.min("vl").alias("mn_l"),
        F.max("vl").alias("mx_l"),
        F.min("vd").alias("mn_d"),
        F.max("vd").alias("mx_d"),
        F.min("vt").alias("mn_t"),
        F.max("vt").alias("mx_t"),
        F.min("vs").alias("mn_s"),
        F.max("vs").alias("mx_s"),
    )
    name_map = F.create_map(
        *[
            x
            for idx, (col, _) in enumerate(_PROFILE_COLS)
            for x in (F.lit(idx), F.lit(col))
        ]
    )

    def _repr(lcol: str, dcol: str, tcol: str, scol: str) -> F.Column:
        # per-kind render, applied AFTER min/max (monotone transforms)
        kind_by_idx = {i: k for i, (_, k) in enumerate(_PROFILE_COLS)}
        branches = []
        for idx, kind in kind_by_idx.items():
            if kind == "key":
                r = F.col(lcol).cast("string")
            elif kind == "money":
                r = F.floor(F.col(dcol) * 100).cast("long").cast("string")
            elif kind == "date":
                r = F.col(tcol).cast("date").cast("string")
            else:
                r = F.col(scol)
            branches.append((F.col("i") == idx, r))
        out = F.when(branches[0][0], branches[0][1])
        for cond, r in branches[1:]:
            out = out.when(cond, r)
        return out

    return (
        stats.select(
            name_map[F.col("i")].alias("column"),
            "n_rows",
            "n_nulls",
            "n_distinct",
            _repr("mn_l", "mn_d", "mn_t", "mn_s").alias("min_repr"),
            _repr("mx_l", "mx_d", "mx_t", "mx_s").alias("max_repr"),
        )
        .orderBy("column")
    )


def _profile_oracle() -> str:
    parts = []
    for col, kind in _PROFILE_COLS:
        if kind == "money":
            expr = f"CAST(FLOOR({col} * 100) AS BIGINT)"
        elif kind == "date":
            expr = f"CAST({col} AS DATE)"
        else:
            expr = col
        parts.append(
            f"""
    SELECT '{col}' AS "column",
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           COUNT(DISTINCT {col}) AS n_distinct,
           CAST(MIN({expr}) AS VARCHAR) AS min_repr,
           CAST(MAX({expr}) AS VARCHAR) AS max_repr
    FROM orders"""
        )
    return "\nUNION ALL\n".join(parts) + '\nORDER BY "column"'


_ORACLE_PROFILE = _profile_oracle()


# --- cube: multi-dimensional aggregate with grouping flags ----------------
def q_cube_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order counts/revenue cubed over (status, priority): all four
    grouping combinations in ONE pass (Spark expands the cube map-side
    into partial aggregates — the fact table is still scanned once).
    GROUPING() flags distinguish 'aggregated-out' NULLs from data NULLs,
    which is what makes cube output joinable/filterable downstream.

    Generalizes the reference's precomputed month/week rollup dims
    (main.py:127-130): calendar_rollup covers the derived-column form,
    this covers the grouping-set form.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            # grouping() must be computed with the cube aggregate itself
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_cents("o_totalprice")).alias("revenue_cents"),
        )
        .select(
            "o_orderstatus",
            "o_orderpriority",
            "g_status",
            "g_priority",
            "n_orders",
            "revenue_cents",
        )
        .orderBy("g_status", "g_priority", "o_orderstatus", "o_orderpriority")
    )


_ORACLE_CUBE = """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority
"""


# --- semi join: EXISTS-style filtering without fan-out --------------------
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with at least one 1995 order, counted per segment.

    left_semi never duplicates the probe side (a customer with 40 orders
    appears once) and ships only the join key of the build side — the
    right way to express EXISTS at scale, vs. inner-join + distinct which
    shuffles the fan-out then pays a second agg to undo it.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.year("o_orderdate") == 1995
    )
    hit = c.join(
        o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_semi"
    )
    return (
        hit.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


_ORACLE_SEMI_JOIN = """
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND year(o.o_orderdate) = 1995)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# --- full outer join: coverage reconciliation ------------------------------
def q_full_outer_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation customer vs supplier counts via FULL OUTER join of two
    aggregates — the reconciliation shape (which keys exist on only one
    side?). Both inputs are post-aggregation (one row per nation), so the
    outer join is tiny regardless of fact-table size: aggregate first,
    then join — never outer-join raw fact tables."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    by_c = c.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    by_s = s.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_suppliers")
    )
    return (
        by_c.join(by_s, "nationkey", "full_outer")
        .select(
            "nationkey",
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
            (F.col("n_customers").isNotNull() & F.col("n_suppliers").isNotNull()).alias(
                "both_sides"
            ),
        )
        .orderBy("nationkey")
    )


_ORACLE_FULL_OUTER = """
WITH by_c AS (
    SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers
    FROM customer GROUP BY c_nationkey
),
by_s AS (
    SELECT s_nationkey AS nationkey, COUNT(*) AS n_suppliers
    FROM supplier GROUP BY s_nationkey
)
SELECT COALESCE(by_c.nationkey, by_s.nationkey) AS nationkey,
       COALESCE(n_customers, 0) AS n_customers,
       COALESCE(n_suppliers, 0) AS n_suppliers,
       n_customers IS NOT NULL AND n_suppliers IS NOT NULL AS both_sides
FROM by_c FULL OUTER JOIN by_s ON by_c.nationkey = by_s.nationkey
ORDER BY nationkey
"""


# --- A5/F12: distributed alert message formatting -------------------------
def q_alert_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = alerts.ctr_anomaly_df(load_table(spark, sf_dir, "events"), threshold=2.0)
    return alerts.format_alert_messages(scored)


_ORACLE_ALERT_MESSAGES = """
WITH fact AS (
    SELECT CAST(ts AS DATE) AS date,
           event_type AS app_name,
           'u' || CAST(user_id % 8 AS VARCHAR) AS ad_unit_name,
           CAST(FLOOR(value * 1000) AS BIGINT) AS clicks,
           CAST(1 AS BIGINT) AS impressions
    FROM events
),
bounds AS (SELECT MAX(date) AS report_date FROM fact),
last7 AS (
    SELECT ad_unit_name,
           CAST(SUM(clicks) AS DOUBLE) / NULLIF(SUM(impressions), 0) AS avg_ctr_7d
    FROM fact, bounds
    WHERE date BETWEEN report_date - INTERVAL 7 DAY AND report_date - INTERVAL 1 DAY
    GROUP BY app_name, ad_unit_name
),
today AS (
    SELECT app_name, ad_unit_name,
           CAST(SUM(clicks) AS DOUBLE) / NULLIF(SUM(impressions), 0) AS today_ctr
    FROM fact, bounds
    WHERE date = report_date
    GROUP BY app_name, ad_unit_name
),
scored AS (
    SELECT t.app_name, t.ad_unit_name,
           ROUND(t.today_ctr, 6) AS today_ctr,
           ROUND(l.avg_ctr_7d, 6) AS avg_ctr_7d,
           ROUND((t.today_ctr - l.avg_ctr_7d) / NULLIF(l.avg_ctr_7d, 0) * 100, 4)
               AS pct_change
    FROM today t JOIN last7 l ON t.ad_unit_name = l.ad_unit_name
),
lines AS (
    SELECT app_name,
           printf('- %s: today %.6f vs 7d avg %.6f (%+.4f%%)',
                  ad_unit_name, today_ctr, avg_ctr_7d, pct_change) AS line
    FROM scored
    WHERE ABS(pct_change) > 2.0
)
SELECT app_name, string_agg(line, chr(10) ORDER BY line) AS message
FROM lines
GROUP BY app_name
ORDER BY app_name
"""


def q_ctr_anomaly_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    return alerts.ctr_anomaly_sql(spark, sf_dir)


def q_ctr_anomaly_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return alerts.ctr_anomaly_df(load_table(spark, sf_dir, "events"))


def q_ctr_anomaly_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return alerts.ctr_anomaly_window(load_table(spark, sf_dir, "events"))


QUERIES = {
    "pricing_summary": q_pricing_summary,
    "global_revenue": q_global_revenue,
    "distinct_priorities": q_distinct_priorities,
    "collect_by_group": q_collect_by_group,
    "dim_join_filter": q_dim_join_filter,
    "customers_without_orders": q_customers_without_orders,
    "trailing_date_range": q_trailing_date_range,
    "union_reports": q_union_reports,
    "scalar_functions": q_scalar_functions,
    "chunk_flatten": q_chunk_flatten,
    "report_spec": q_report_spec,
    "ctr_anomaly_sql": q_ctr_anomaly_sql,
    "ctr_anomaly_bq_verbatim": q_ctr_anomaly_bq,
    "ctr_anomaly_df": q_ctr_anomaly_df,
    "ctr_anomaly_backfill": q_ctr_anomaly_backfill,
    "report_spec_mediation": q_report_spec_mediation,
    "ctr_anomaly_window": q_ctr_anomaly_window,
    "calendar_rollup": q_calendar_rollup,
    "props_json": q_props_json,
    "props_variant": q_props_variant,
    "recursive_reachability": q_recursive_reachability,
    "top_orders": q_top_orders,
    "alert_messages": q_alert_messages,
    "salted_agg": q_salted_agg,
    "salted_join": q_salted_join,
    "asof_join": q_asof_join,
    "window_analytics": q_window_analytics,
    "revenue_histogram": q_revenue_histogram,
    "quantile_stats": q_quantile_stats,
    "kmv_distinct": q_kmv_distinct,
    "kmv_overlap": q_kmv_overlap,
    "cm_sketch_freq": q_cm_sketch_freq,
    "hll_distinct": q_hll_distinct,
    "hll_rollup": q_hll_rollup,
    "range_join": q_range_join,
    "pivot_revenue": q_pivot_revenue,
    "semi_join": q_semi_join,
    "full_outer_coverage": q_full_outer_coverage,
    "cube_summary": q_cube_summary,
    "profile_orders": q_profile_orders,
    "window_ranks": q_window_ranks,
    "corr_stats": q_corr_stats,
}

ORACLES = {
    "range_join": _ORACLE_RANGE_JOIN,
    "pivot_revenue": _ORACLE_PIVOT,
    "semi_join": _ORACLE_SEMI_JOIN,
    "full_outer_coverage": _ORACLE_FULL_OUTER,
    "cube_summary": _ORACLE_CUBE,
    "profile_orders": _ORACLE_PROFILE,
    "window_ranks": _ORACLE_WINDOW_RANKS,
    "corr_stats": _ORACLE_CORR,
    "quantile_stats": _ORACLE_QUANTILES,
    "kmv_distinct": _ORACLE_KMV,
    "asof_join": _ORACLE_ASOF,
    "kmv_overlap": _ORACLE_KMV_OVERLAP,
    "cm_sketch_freq": _ORACLE_CM,
    "hll_distinct": _ORACLE_HLL,
    "hll_rollup": _ORACLE_HLL_ROLLUP,
    "window_analytics": _ORACLE_WINDOW,
    "revenue_histogram": _ORACLE_HISTOGRAM,
    "salted_agg": _ORACLE_SALTED_AGG,
    "salted_join": _ORACLE_SALTED_JOIN,
    "calendar_rollup": _ORACLE_ROLLUP,
    "props_json": _ORACLE_PROPS_JSON,
    "props_variant": _ORACLE_PROPS_VARIANT,
    "recursive_reachability": _ORACLE_RECURSIVE,
    "top_orders": _ORACLE_TOP_ORDERS,
    "alert_messages": _ORACLE_ALERT_MESSAGES,
    "pricing_summary": _ORACLE_PRICING,
    "global_revenue": _ORACLE_GLOBAL_REVENUE,
    "distinct_priorities": _ORACLE_DISTINCT,
    "collect_by_group": _ORACLE_COLLECT,
    "dim_join_filter": _ORACLE_DIM_JOIN,
    "customers_without_orders": _ORACLE_ANTI_JOIN,
    "trailing_date_range": _ORACLE_TRAILING,
    "union_reports": _ORACLE_UNION,
    "scalar_functions": _ORACLE_SCALARS,
    "chunk_flatten": _ORACLE_CHUNK_FLATTEN,
    "report_spec": _ORACLE_REPORT_SPEC,
    "ctr_anomaly_sql": _ORACLE_ANOMALY_QUIRK,
    "ctr_anomaly_bq_verbatim": _ORACLE_ANOMALY_BQ,
    "ctr_anomaly_df": _ORACLE_ANOMALY_QUIRK,
    "ctr_anomaly_backfill": _ORACLE_ANOMALY_BACKFILL,
    "report_spec_mediation": _ORACLE_REPORT_MEDIATION,
    "ctr_anomaly_window": _ORACLE_ANOMALY_WINDOW,
}
