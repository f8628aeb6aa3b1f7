"""Time-series / robust-statistics operators over the event stream.

The reference's analytics end at ratio-of-sums CTR checks
(native_CTR_alerts.py:52-96); a monitoring pipeline over the same data
also needs trend estimation, robust outlier flags, series memory
(autocorrelation), a smoothed spike detector, feature-signal ranking and
a heavy-changer census. These extend the repo's statistical-audit family
(theil_sen_trend / cusum_changepoint / rank_sum_test in
plans/analytics_ext.py) with the remaining standard kernels, all under
the cross-engine determinism playbook:

- every metric is computed in BIGINT (values int-scaled at ingest,
  quotients as two-stage ppm per playbook #23, signs split out before
  integer division per playbook #26 — Spark ``DIV`` and DuckDB ``//``
  BOTH truncate toward zero (verified r6), so they agree on signed
  operands but both drop the remainder on negatives; splitting signs
  out first means division only ever sees non-negative operands, and
  exact money splits use r = pmod(x, n), q = (x - r) DIV n);
- order statistics run over per-VALUE rollups (playbook #27): the
  ordering window is bounded by the value domain, never the row count,
  and the ×2 trick (med2 = sum of the two middle order statistics)
  keeps medians integer without a division.

Scale design: every operator collapses the event stream to a
(group, day) or (group, value) rollup FIRST — one partial-aggregated
shuffle — and runs its window/join logic on the rollup, whose size is
bounded by calendar × group cardinality (or the value domain), not by
the 100 TB fact volume.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from admob_data_pipeline_spark.sources.tables import load_table

VALUE_SCALE = 1000  # event value → integer millis, repo-wide discipline


def _vm(col: str = "value") -> Column:
    return F.floor(F.col(col) * VALUE_SCALE).cast("long")


def _signed_ppm_expr(num: str = "num", den: str = "den") -> Column:
    """sign(num) · (|num|·1e6 DIV den) with two-stage ×1000 scaling
    (playbook #23: |num|·1e6 can overflow where |num|·1000 cannot) and
    the sign split out so integer division never sees a negative operand
    (playbook #26: Spark DIV and DuckDB // both truncate toward zero and
    drop the remainder on negatives). Takes column NAMES — Spark's
    integer ``DIV`` is only reachable through SQL expression text, and
    float division would lose bits above 2^53."""
    return F.expr(
        f"CAST((CASE WHEN {num} < 0 THEN -1 ELSE 1 END)"
        f" * ((ABS({num}) * 1000 DIV {den}) * 1000"
        f"    + (ABS({num}) * 1000 % {den}) * 1000 DIV {den}) AS BIGINT)"
    )


# --- OLS trend per group ------------------------------------------------------


def ols_trend(
    ev: DataFrame, group_col: str = "event_type", value_col: str = "value"
) -> DataFrame:
    """Per-group ordinary-least-squares slope of daily revenue vs day
    index: slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), the complement of
    the robust Theil–Sen estimator (analytics_ext.q_theil_sen_trend) —
    OLS is the one a monitoring dashboard actually plots.

    Exactness: x is the integer day offset from the group's first day, y
    the int-scaled daily revenue; all four moments are exact BIGINT sums,
    and the slope is a sign-split two-stage ppm. Groups with a single
    day (den = 0) are dropped — no slope is defined.

    Overflow headroom: n·Σxy ≤ days²·Σy; at 10 years of days (3 650) and
    BIGINT daily revenue up to 1e12 the product stays under 2^63. Past
    that, lift the moment sums to DECIMAL(38) — the shape is unchanged.

    Scale: one partial-agg rollup to (group, day), one window-free
    aggregation per group. Nothing downstream of the rollup sees fact
    rows.
    """
    daily = ev.groupBy(
        F.col(group_col).alias("g"), F.col("ts").cast("date").alias("d")
    ).agg(F.sum(_vm(value_col)).alias("y"))
    first = daily.groupBy("g").agg(F.min("d").alias("d0"))
    xy = daily.join(first, "g").select(
        "g", F.datediff(F.col("d"), F.col("d0")).cast("long").alias("x"), "y"
    )
    mom = xy.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    nd = mom.select(
        "g",
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den"),
    )
    return (
        nd.where(F.col("den") > 0)
        .select(
            F.col("g").alias(group_col),
            F.col("n").alias("n_days"),
            _signed_ppm_expr().alias("slope_e6"),
        )
        .orderBy(group_col)
    )


def q_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ols_trend(load_table(spark, sf_dir, "events"))


_ORACLE_OLS = f"""
WITH daily AS (
    SELECT event_type AS g, CAST(ts AS DATE) AS d,
           CAST(SUM(CAST(FLOOR(value * {VALUE_SCALE}) AS BIGINT)) AS BIGINT) AS y
    FROM events GROUP BY g, d
),
xy AS (
    SELECT g, CAST(datediff('day', MIN(d) OVER (PARTITION BY g), d) AS BIGINT) AS x, y
    FROM daily
),
mom AS (
    SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
    FROM xy GROUP BY g
),
nd AS (
    SELECT g, n, n * sxy - sx * sy AS num, n * sxx - sx * sx AS den FROM mom
    WHERE n * sxx - sx * sx > 0
)
SELECT g AS event_type, n AS n_days,
       CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
            * ((ABS(num) * 1000 // den) * 1000
               + (ABS(num) * 1000 % den) * 1000 // den) AS BIGINT) AS slope_e6
FROM nd
ORDER BY event_type
"""


# --- robust outliers (median / MAD) -------------------------------------------

MAD_K2 = 3  # flag |x - med| > 3·MAD, i.e. 2·dev2 > 3·mad4


def _median2_of_rollup(cnt: DataFrame, key: str, val: str, m: str) -> DataFrame:
    """Exact 2×median of a (key, value, multiplicity) rollup: the sum of
    the two middle order statistics (equal for odd n), located by running
    the cumulative count over DISTINCT values — the ordering window is
    bounded by the value domain (playbook #27), never the row count, and
    the ×2 form keeps the even-n midpoint integer without division.

    Returns (key, n, med2)."""
    w_prev = (
        Window.partitionBy(key).orderBy(val).rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = cnt.select(
        key,
        val,
        m,
        F.coalesce(F.sum(m).over(w_prev), F.lit(0)).alias("cum_prev"),
    )
    tot = cnt.groupBy(key).agg(F.sum(m).alias("n"))
    j = ranked.join(tot, key)
    lo = F.expr("(n + 1) DIV 2")
    hi = F.expr("n DIV 2 + 1")
    in_row = lambda r: (F.col("cum_prev") < r) & (r <= F.col("cum_prev") + F.col(m))  # noqa: E731
    return j.groupBy(key).agg(
        F.max("n").alias("n"),
        (
            F.max(F.when(in_row(lo), F.col(val)))
            + F.max(F.when(in_row(hi), F.col(val)))
        ).cast("long").alias("med2"),
    )


def mad_outliers(
    ev: DataFrame, group_col: str = "event_type", value_col: str = "value"
) -> DataFrame:
    """Per-group robust outlier census: median and MAD (median absolute
    deviation) as exact integer order statistics, then the count of rows
    with |x − median| > 3·MAD — the robust z-score filter that survives
    the heavy-tailed value distributions a mean/stddev filter chokes on.

    Integer encoding: med2 = 2·median, dev2 = |2x − med2| = 2·|x − med|,
    mad4 = 2·median(dev2) = 4·MAD; the flag |x−med| > 3·MAD becomes the
    BIGINT comparison 2·dev2 > 3·mad4. No division anywhere.

    Scale: two (group, value) rollups (values, then deviations) — both
    partial-aggregated; the order-statistic windows run over distinct
    values per group, so a group's row count never concentrates in one
    task.
    """
    v = ev.select(F.col(group_col).alias("g"), _vm(value_col).alias("vm"))
    cnt = v.groupBy("g", "vm").agg(F.count(F.lit(1)).alias("m")).localCheckpoint()
    med = _median2_of_rollup(cnt, "g", "vm", "m")
    dev = (
        cnt.join(med.select("g", "med2"), "g")
        .select(
            "g",
            F.abs(F.lit(2) * F.col("vm") - F.col("med2")).alias("dev2"),
            "m",
        )
        .groupBy("g", "dev2")
        .agg(F.sum("m").alias("m"))
    )
    mad = _median2_of_rollup(dev, "g", "dev2", "m").select(
        "g", F.col("med2").alias("mad4")
    )
    out = (
        dev.join(mad, "g")
        .groupBy("g")
        .agg(
            F.sum(
                F.when(
                    F.lit(2) * F.col("dev2") > F.lit(MAD_K2) * F.col("mad4"),
                    F.col("m"),
                ).otherwise(F.lit(0))
            ).alias("n_outliers")
        )
    )
    return (
        med.join(mad, "g")
        .join(out, "g")
        .select(
            F.col("g").alias(group_col),
            F.col("n").cast("long").alias("n_rows"),
            "med2",
            "mad4",
            F.col("n_outliers").cast("long").alias("n_outliers"),
        )
        .orderBy(group_col)
    )


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mad_outliers(load_table(spark, sf_dir, "events"))


# Oracle computes the SAME statistics from row-level order statistics
# (ROW_NUMBER over raw rows) — a hash match doubles as an equivalence
# proof that the rollup-based Spark plan matches the textbook row form.
_ORACLE_MAD = f"""
WITH v AS (
    SELECT event_type AS g, CAST(FLOOR(value * {VALUE_SCALE}) AS BIGINT) AS vm
    FROM events
),
r AS (
    SELECT g, vm, ROW_NUMBER() OVER (PARTITION BY g ORDER BY vm) AS rn,
           COUNT(*) OVER (PARTITION BY g) AS n
    FROM v
),
med AS (
    SELECT g, CAST(MAX(n) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN rn = (n + 1) // 2 THEN vm ELSE 0 END)
                + SUM(CASE WHEN rn = n // 2 + 1 THEN vm ELSE 0 END) AS BIGINT)
               AS med2
    FROM r GROUP BY g
),
dev AS (
    SELECT v.g, ABS(2 * v.vm - med.med2) AS dev2
    FROM v JOIN med ON med.g = v.g
),
rd AS (
    SELECT g, dev2, ROW_NUMBER() OVER (PARTITION BY g ORDER BY dev2) AS rn,
           COUNT(*) OVER (PARTITION BY g) AS n
    FROM dev
),
mad AS (
    SELECT g, CAST(SUM(CASE WHEN rn = (n + 1) // 2 THEN dev2 ELSE 0 END)
                   + SUM(CASE WHEN rn = n // 2 + 1 THEN dev2 ELSE 0 END) AS BIGINT)
               AS mad4
    FROM rd GROUP BY g
),
outl AS (
    SELECT d.g, CAST(SUM(CASE WHEN 2 * d.dev2 > {MAD_K2} * mad.mad4
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad ON mad.g = d.g
    GROUP BY d.g
)
SELECT med.g AS event_type, med.n AS n_rows, med.med2, mad.mad4, outl.n_outliers
FROM med JOIN mad ON mad.g = med.g JOIN outl ON outl.g = med.g
ORDER BY event_type
"""


# --- lag-1 autocorrelation ----------------------------------------------------


def autocorr_lag1(ev: DataFrame, group_col: str = "event_type") -> DataFrame:
    """Per-group lag-1 autocorrelation of the daily event-count series —
    the series-memory check behind seasonality/trend triage (r ≈ 0:
    independent days; r → 1: strong persistence; r < 0: alternation).

    Cross-multiplied to integers: with S = Σx over the n-day series,
    num = Σ_t (n·x_t − S)(n·x_{t+1} − S)  (t = 1..n−1)
    den = Σ_t (n·x_t − S)²                (t = 1..n)
    — the n²-scaled centered moments, exact in BIGINT; r_e6 is the
    sign-split two-stage ppm of num/den. Constant series (den = 0) are
    dropped. Overflow headroom: (n·x)² ≤ (days·daily_count)²; at counts
    beyond ~3e9·day the moment sums need DECIMAL(38) — shape unchanged.

    Scale: fact rows collapse to the (group, day) rollup first; the lead
    window and the centered sums run per group over ≤ calendar-days rows.
    """
    daily = ev.groupBy(
        F.col(group_col).alias("g"), F.col("ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("x"))
    w = Window.partitionBy("g").orderBy("d")
    w_all = Window.partitionBy("g")
    t = daily.select(
        "g",
        "x",
        F.lead("x").over(w).alias("x_next"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum("x").over(w_all).alias("s"),
    )
    cx = F.col("n") * F.col("x") - F.col("s")
    cx_next = F.col("n") * F.col("x_next") - F.col("s")
    mom = t.groupBy("g").agg(
        F.max("n").cast("long").alias("n_days"),
        F.sum(F.when(F.col("x_next").isNotNull(), cx * cx_next)).alias("num"),
        F.sum(cx * cx).alias("den"),
    )
    return (
        mom.where(F.col("den") > 0)
        .select(
            F.col("g").alias(group_col),
            "n_days",
            _signed_ppm_expr().alias("r1_e6"),
        )
        .orderBy(group_col)
    )


def q_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return autocorr_lag1(load_table(spark, sf_dir, "events"))


_ORACLE_AUTOCORR = """
WITH daily AS (
    SELECT event_type AS g, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY g, d
),
t AS (
    SELECT g, x,
           LEAD(x) OVER (PARTITION BY g ORDER BY d) AS x_next,
           CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n,
           CAST(SUM(x) OVER (PARTITION BY g) AS BIGINT) AS s
    FROM daily
),
mom AS (
    SELECT g, MAX(n) AS n_days,
           CAST(SUM(CASE WHEN x_next IS NOT NULL
                         THEN (n * x - s) * (n * x_next - s) END) AS BIGINT) AS num,
           CAST(SUM((n * x - s) * (n * x - s)) AS BIGINT) AS den
    FROM t GROUP BY g
)
SELECT g AS event_type, n_days,
       CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
            * ((ABS(num) * 1000 // den) * 1000
               + (ABS(num) * 1000 % den) * 1000 // den) AS BIGINT) AS r1_e6
FROM mom
WHERE den > 0
ORDER BY event_type
"""


# --- EWMA spike detector ------------------------------------------------------

EWMA_W = 6  # trailing window length; weight on lag i is 2^(W-i)
EWMA_DEN = (1 << EWMA_W) - 1  # Σ 2^(W-i), i = 1..W  (= 63)
SPIKE_X = 2  # flag days at > 2× the trailing smoother


def ewma_spikes(
    ev: DataFrame, group_col: str = "event_type", value_col: str = "value"
) -> DataFrame:
    """Per-group EWMA spike detector over daily revenue: each day is
    compared to an exponentially-weighted average of the PREVIOUS
    ``EWMA_W`` days (decay ratio ½, truncated — weight on lag i is
    2^(W−i), denominator 2^W − 1). Truncating the tail makes the
    smoother a fixed integer linear combination of W lags: exact BIGINT
    on any engine, no recursive float state (an untruncated EWMA is a
    running float recurrence — order-sensitive and un-oracle-able).

    A day is a spike when vm·(2^W−1) > 2·ewma_num, i.e. the day runs at
    more than ``SPIKE_X``× its trailing smoother; ratio_ppm is the
    two-stage integer ppm of vm/ewma. Only days with a full W-day
    history qualify (partial windows would silently re-weight).

    Scale: (group, day) rollup first; the W lag columns are one window
    pass over calendar-bounded partitions.
    """
    daily = ev.groupBy(
        F.col(group_col).alias("g"), F.col("ts").cast("date").alias("d")
    ).agg(F.sum(_vm(value_col)).alias("vm"))
    return ewma_from_daily(daily, group_col)


# Validity window for calendar densification. The dense grid explodes each
# group's [min(d), max(d)] span, so ONE corrupt sentinel timestamp
# (1970-01-01, 9999-12-31) would otherwise inflate a 30-day group to a
# multi-thousand-row grid on both engines. Days outside the window are
# quarantined (dropped before the span is measured), mirrored in the
# oracle CTEs below. Wide enough to be policy-free for real ad data.
DENSE_MIN_DATE = "1990-01-01"
DENSE_MAX_DATE = "2099-12-31"


def _densify_daily(daily: DataFrame) -> DataFrame:
    """Zero-fill a (g, d, vm) rollup over each group's calendar span.

    Returns (g, d, vm, obs): one row per group per CALENDAR day between
    the group's observed min(d) and max(d) (within the sentinel-
    quarantine validity window), vm = 0 and obs = 0 on unobserved days.
    Shared by ewma_from_daily and dow_adjusted_spikes; the SQL mirror is
    ``_dense_ctes`` — edit both together.
    """
    daily = daily.where(
        F.col("d").between(F.lit(DENSE_MIN_DATE), F.lit(DENSE_MAX_DATE))
    )
    span = daily.groupBy("g").agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    grid = span.select("g", F.explode(F.sequence("d0", "d1")).alias("d"))
    obs_daily = daily.withColumnRenamed("vm", "vm_obs").withColumn(
        "obs", F.lit(1)
    )
    return grid.join(obs_daily, ["g", "d"], "left").select(
        "g",
        "d",
        F.coalesce("vm_obs", F.lit(0)).cast("long").alias("vm"),
        F.coalesce("obs", F.lit(0)).alias("obs"),
    )


def _dense_ctes(daily_cte: str = "daily") -> str:
    """DuckDB mirror of ``_densify_daily`` — span/grid/dense CTE chain
    (without the leading WITH), reading from ``daily_cte``."""
    return f"""
valid AS (
    SELECT * FROM {daily_cte}
    WHERE d BETWEEN DATE '{DENSE_MIN_DATE}' AND DATE '{DENSE_MAX_DATE}'
),
span AS (SELECT g, MIN(d) AS d0, MAX(d) AS d1 FROM valid GROUP BY g),
grid AS (
    SELECT g, CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
    FROM span
),
dense AS (
    SELECT grid.g, grid.d,
           CAST(COALESCE(valid.vm, 0) AS BIGINT) AS vm,
           CASE WHEN valid.d IS NULL THEN 0 ELSE 1 END AS obs
    FROM grid LEFT JOIN valid ON valid.g = grid.g AND valid.d = grid.d
)"""


def ewma_from_daily(daily: DataFrame, group_col: str = "event_type") -> DataFrame:
    """EWMA finalization over an already-built (g, d, vm) daily rollup —
    shared by the batch operator above and the streaming foreachBatch
    merge (streaming/alerts.q_streaming_ewma_spikes): daily-sum merge is
    associative, so a rollup accumulated across micro-batches finalizes
    to the identical result.

    Calendar-dense lags (``_densify_daily``): the rollup is zero-filled
    over each group's [min(d), max(d)] span before the lag window, so
    "the previous W days" means CALENDAR days — a gap in the series
    contributes zero volume instead of silently stretching the baseline
    onto older days. Only observed days are emitted; the first W
    calendar days of each group are excluded as before (partial windows
    would re-weight the smoother).

    Gap contract: after an outage LONGER than W days the first day back
    has an all-zero baseline (ewma_num = 0) and is NOT scored — no
    baseline, no verdict; it becomes the seed of the next baseline and
    scoring resumes the following day. An outage of 1..W days leaves a
    partial baseline, so the return day IS scored (against the reduced
    smoother — deliberately aggressive after a gap).
    """
    dense = _densify_daily(daily)
    w = Window.partitionBy("g").orderBy("d")
    lags = [F.lag("vm", i).over(w).alias(f"l{i}") for i in range(1, EWMA_W + 1)]
    t = dense.select("g", "d", "vm", "obs", *lags).where(
        F.col(f"l{EWMA_W}").isNotNull() & (F.col("obs") == 1)
    )
    ewma_num = sum(
        (F.col(f"l{i}") * F.lit(1 << (EWMA_W - i)) for i in range(1, EWMA_W + 1)),
        F.lit(0),
    )
    t = t.withColumn("ewma_num", ewma_num.cast("long"))
    # sign-split (playbook #26): vm < 0 (refund/chargeback days) must not
    # reach integer division — Spark DIV and DuckDB // both truncate
    ratio = F.expr(
        f"CAST((CASE WHEN vm < 0 THEN -1 ELSE 1 END)"
        f" * ((ABS(vm) * {EWMA_DEN} * 1000 DIV ewma_num) * 1000"
        f"    + (ABS(vm) * {EWMA_DEN} * 1000 % ewma_num) * 1000 DIV ewma_num)"
        f" AS BIGINT)"
    )
    return (
        t.where(F.col("ewma_num") > 0)
        .select(
            F.col("g").alias(group_col),
            "d",
            "vm",
            "ewma_num",
            ratio.alias("ratio_ppm"),
            F.when(
                F.col("vm") * F.lit(EWMA_DEN) > F.lit(SPIKE_X) * F.col("ewma_num"),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("int")
            .alias("is_spike"),
        )
        .orderBy(group_col, "d")
    )


def q_ewma_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ewma_spikes(load_table(spark, sf_dir, "events"))


_EWMA_LAGS = ",\n           ".join(
    f"LAG(vm, {i}) OVER (PARTITION BY g ORDER BY d) AS l{i}"
    for i in range(1, EWMA_W + 1)
)
_EWMA_SUM = " + ".join(f"l{i} * {1 << (EWMA_W - i)}" for i in range(1, EWMA_W + 1))

_ORACLE_EWMA = f"""
WITH daily AS (
    SELECT event_type AS g, CAST(ts AS DATE) AS d,
           CAST(SUM(CAST(FLOOR(value * {VALUE_SCALE}) AS BIGINT)) AS BIGINT) AS vm
    FROM events GROUP BY g, d
),
{_dense_ctes().strip()},
t AS (
    SELECT g, d, vm, obs,
           {_EWMA_LAGS}
    FROM dense
),
e AS (
    SELECT g, d, vm, CAST({_EWMA_SUM} AS BIGINT) AS ewma_num
    FROM t WHERE l{EWMA_W} IS NOT NULL AND obs = 1
)
SELECT g AS event_type, d, vm, ewma_num,
       CAST((CASE WHEN vm < 0 THEN -1 ELSE 1 END)
            * ((ABS(vm) * {EWMA_DEN} * 1000 // ewma_num) * 1000
               + (ABS(vm) * {EWMA_DEN} * 1000 % ewma_num) * 1000 // ewma_num)
            AS BIGINT)
           AS ratio_ppm,
       CAST(CASE WHEN vm * {EWMA_DEN} > {SPIKE_X} * ewma_num
                 THEN 1 ELSE 0 END AS INTEGER) AS is_spike
FROM e
WHERE ewma_num > 0
ORDER BY event_type, d
"""


# --- information-gain feature ranking ----------------------------------------

IG_SCALE = 1_000_000


def feature_info_gain(
    df: DataFrame, label_col: str, features: dict[str, Column]
) -> DataFrame:
    """Information-gain ranking of candidate categorical features against
    a label: IG(F) = H(label) − H(label | F) — the split criterion of
    decision trees and the standard first-pass feature audit (which
    columns carry signal about the target, which are noise).

    Each entropy term is a sum of per-cell contributions floor-scaled to
    e6 integers BEFORE summation (playbook #14 transcendental
    discipline, same form as corpus.mutual_information): H(label) sums
    −(c_l/N)·ln(c_l/N) over label margins, H(label|F) sums
    (c_fl/N)·ln(c_f/c_fl) over (feature-value, label) cells — the
    conditional form needs no per-feature-value inner normalization, so
    every quotient is a single correctly-rounded double division.

    Scale: the fact table is scanned once per feature (a stacked
    union — Spark runs them as one multi-scan stage); everything after
    the (feature, fval, label) rollup is category-bounded. No windows.
    """
    stacked = None
    for name, expr in features.items():
        part = df.select(
            F.lit(name).alias("feature"),
            expr.cast("string").alias("fval"),
            F.col(label_col).alias("label"),
        )
        stacked = part if stacked is None else stacked.unionByName(part)
    cells = (
        stacked.groupBy("feature", "fval", "label")
        .agg(F.count(F.lit(1)).alias("c_fl"))
        .localCheckpoint()
    )
    cf = cells.groupBy("feature", "fval").agg(F.sum("c_fl").alias("c_f"))
    cl = cells.groupBy("feature", "label").agg(F.sum("c_fl").alias("c_l"))
    n = cells.groupBy("feature").agg(F.sum("c_fl").alias("n"))
    h_label = (
        cl.join(n, "feature")
        .select(
            "feature",
            F.floor(
                -(F.col("c_l") / F.col("n"))
                * F.log(F.col("c_l") / F.col("n"))
                * IG_SCALE
            ).cast("long").alias("h"),
        )
        .groupBy("feature")
        .agg(F.sum("h").alias("h_label_e6"))
    )
    h_cond = (
        cells.join(cf, ["feature", "fval"])
        .join(n, "feature")
        .select(
            "feature",
            F.floor(
                (F.col("c_fl") / F.col("n"))
                * F.log(F.col("c_f") / F.col("c_fl"))
                * IG_SCALE
            ).cast("long").alias("h"),
        )
        .groupBy("feature")
        .agg(F.sum("h").alias("h_cond_e6"))
    )
    return (
        h_label.join(h_cond, "feature")
        .join(n, "feature")
        .select(
            "feature",
            F.col("n").cast("long").alias("n_rows"),
            "h_label_e6",
            "h_cond_e6",
            (F.col("h_label_e6") - F.col("h_cond_e6")).alias("info_gain_e6"),
        )
        .orderBy(F.desc("info_gain_e6"), "feature")
    )


def q_feature_info_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return feature_info_gain(
        li,
        "l_returnflag",
        {
            "linestatus": F.col("l_linestatus"),
            "ship_month": F.month("l_shipdate"),
            "qty_bucket": F.floor(F.col("l_quantity") / 10),
        },
    )


_ORACLE_IG = f"""
WITH stacked AS (
    SELECT 'linestatus' AS feature, l_linestatus AS fval,
           l_returnflag AS label
    FROM lineitem
    UNION ALL
    SELECT 'ship_month', CAST(month(l_shipdate) AS VARCHAR), l_returnflag
    FROM lineitem
    UNION ALL
    SELECT 'qty_bucket', CAST(CAST(FLOOR(l_quantity / 10) AS BIGINT) AS VARCHAR),
           l_returnflag
    FROM lineitem
),
cells AS (
    SELECT feature, fval, label, COUNT(*) AS c_fl
    FROM stacked GROUP BY feature, fval, label
),
cf AS (SELECT feature, fval, SUM(c_fl) AS c_f FROM cells GROUP BY feature, fval),
cl AS (SELECT feature, label, SUM(c_fl) AS c_l FROM cells GROUP BY feature, label),
n AS (SELECT feature, SUM(c_fl) AS n FROM cells GROUP BY feature),
h_label AS (
    SELECT cl.feature,
           CAST(SUM(CAST(FLOOR(-(CAST(c_l AS DOUBLE) / n.n)
                               * ln(CAST(c_l AS DOUBLE) / n.n)
                               * {IG_SCALE}) AS BIGINT)) AS BIGINT) AS h_label_e6
    FROM cl JOIN n ON n.feature = cl.feature
    GROUP BY cl.feature
),
h_cond AS (
    SELECT c.feature,
           CAST(SUM(CAST(FLOOR((CAST(c.c_fl AS DOUBLE) / n.n)
                               * ln(CAST(cf.c_f AS DOUBLE) / c.c_fl)
                               * {IG_SCALE}) AS BIGINT)) AS BIGINT) AS h_cond_e6
    FROM cells c
    JOIN cf ON cf.feature = c.feature AND cf.fval = c.fval
    JOIN n ON n.feature = c.feature
    GROUP BY c.feature
)
SELECT hl.feature, CAST(n.n AS BIGINT) AS n_rows, hl.h_label_e6, hc.h_cond_e6,
       CAST(hl.h_label_e6 - hc.h_cond_e6 AS BIGINT) AS info_gain_e6
FROM h_label hl
JOIN h_cond hc ON hc.feature = hl.feature
JOIN n ON n.feature = hl.feature
ORDER BY info_gain_e6 DESC, hl.feature
"""


# --- heavy changers (frequency drift between halves) -------------------------

CHANGER_TOP = 30


def heavy_changers(li: DataFrame, top_n: int = CHANGER_TOP) -> DataFrame:
    """Items whose RELATIVE frequency moved most between the first and
    second half of the observation window — the heavy-CHANGER census
    (Cormode & Muthukrishnan's companion to heavy hitters): psi/KL-style
    drift audits say THAT the distribution moved, this names the items
    that moved it.

    The window splits at the midpoint of the shipdate range (integer
    datediff halving — data-derived, no hard-coded dates; the driver
    regenerates testdata per round). Change is scored division-free by
    cross-multiplication: score = |c₂·N₁ − c₁·N₂| — items are ranked by
    the normalized-frequency delta |c₂/N₂ − c₁/N₁| without ever forming
    a quotient (·N₁N₂ is a global positive scalar). Exact BIGINT to
    ~c·N < 2^63 (≈ 1e9 item count × 1e9 corpus — past that, DECIMAL(38)).

    Scale: one scan → per-(item, half) partial-agg counts; totals are a
    2-row broadcast. Top-N bounds the output.
    """
    rng = li.agg(
        F.min(F.col("l_shipdate").cast("date")).alias("d0"),
        F.max(F.col("l_shipdate").cast("date")).alias("d1"),
    )
    d = li.select(
        "l_partkey", F.col("l_shipdate").cast("date").alias("d")
    ).crossJoin(F.broadcast(rng))
    tagged = d.select(
        "l_partkey",
        F.when(
            F.datediff(F.col("d"), F.col("d0")) * 2
            <= F.datediff(F.col("d1"), F.col("d0")),
            F.lit(1),
        )
        .otherwise(F.lit(2))
        .alias("half"),
    )
    cnt = tagged.groupBy("l_partkey").agg(
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("half") == 2, 1).otherwise(0)).alias("c2"),
    )
    tot = cnt.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    return (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            "l_partkey",
            F.col("c1").cast("long").alias("c1"),
            F.col("c2").cast("long").alias("c2"),
            F.abs(F.col("c2") * F.col("n1") - F.col("c1") * F.col("n2"))
            .cast("long")
            .alias("change_score"),
        )
        .orderBy(F.desc("change_score"), "l_partkey")
        .limit(top_n)
    )


def q_heavy_changers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return heavy_changers(load_table(spark, sf_dir, "lineitem"))


_ORACLE_CHANGERS = f"""
WITH rng AS (
    SELECT MIN(CAST(l_shipdate AS DATE)) AS d0,
           MAX(CAST(l_shipdate AS DATE)) AS d1
    FROM lineitem
),
tagged AS (
    SELECT l_partkey,
           CASE WHEN datediff('day', d0, CAST(l_shipdate AS DATE)) * 2
                     <= datediff('day', d0, d1)
                THEN 1 ELSE 2 END AS half
    FROM lineitem, rng
),
cnt AS (
    SELECT l_partkey,
           CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
           CAST(SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
    FROM tagged GROUP BY l_partkey
),
tot AS (
    SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM cnt
)
SELECT l_partkey, c1, c2,
       CAST(ABS(c2 * n1 - c1 * n2) AS BIGINT) AS change_score
FROM cnt, tot
ORDER BY change_score DESC, l_partkey
LIMIT {CHANGER_TOP}
"""


# --- Kaplan–Meier survival curve ---------------------------------------------

KM_SCALE = 1_000_000


def survival_km(ev: DataFrame) -> DataFrame:
    """Kaplan–Meier signup→purchase survival curve with right-censoring:
    subjects enter at their first signup, convert at their first
    subsequent purchase, and are censored at the end of the observation
    window — the estimator behind conversion/retention curves that a
    naive "conversion rate by day" silently biases (it drops censored
    users instead of counting them at risk).

    Exactness: S(t) = Π_{tᵢ ≤ t} (nᵢ − dᵢ)/nᵢ is a SEQUENTIAL product of
    rationals — float products are order-sensitive, so the curve is
    folded in integer ppm: s ← s·(nᵢ − dᵢ) DIV nᵢ along ascending event
    times (a deterministic sequence; sequential folds are bit-identical
    across engines, playbook #8). The Spark side folds with
    ``aggregate(slice(...))`` over the sorted event-time array; the
    oracle mirrors the identical recurrence as a recursive CTE.

    Scale: subjects collapse to per-user first-event rows (two
    partial-agg groupBys + one join); everything after is a rollup over
    DISTINCT event times — calendar-bounded (≤ observation days), so the
    single-partition sort/fold is bounded by the time domain, never the
    user count (playbook #27).
    """
    s0 = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
        .localCheckpoint()
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(s0, "user_id")
        .where(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("te"))
    )
    mx = ev.agg(F.max(F.col("ts").cast("date")).alias("dmax"))
    subj = (
        s0.join(p, "user_id", "left")
        .crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            F.when(
                F.col("te").isNotNull(),
                F.datediff(F.col("te").cast("date"), F.col("t0").cast("date")),
            )
            .otherwise(
                F.datediff(F.col("dmax"), F.col("t0").cast("date"))
            )
            .cast("long")
            .alias("t"),
            F.when(F.col("te").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("obs"),
        )
    )
    per_t = subj.groupBy("t").agg(
        F.sum("obs").alias("d"), F.count(F.lit(1)).alias("m")
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy()
    ranked = per_t.select(
        "t",
        "d",
        (
            F.sum("m").over(w_all)
            - F.coalesce(F.sum("m").over(w_prev), F.lit(0))
        ).alias("n"),
    )
    ev_times = ranked.where(F.col("d") >= 1)
    arr = ev_times.agg(
        F.array_sort(
            F.collect_list(F.struct("t", "d", "n"))
        ).alias("a")
    )
    km = arr.select(
        F.explode(
            F.expr(
                f"""transform(sequence(1, size(a)), i -> named_struct(
                    't_days', element_at(a, i).t,
                    'n_events', element_at(a, i).d,
                    'n_at_risk', element_at(a, i).n,
                    's_ppm', aggregate(slice(a, 1, i),
                                       CAST({KM_SCALE} AS BIGINT),
                                       (acc, x) -> acc * (x.n - x.d) DIV x.n)))"""
            )
        ).alias("r")
    )
    return km.select("r.*").orderBy("t_days")


def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    return survival_km(load_table(spark, sf_dir, "events"))


_ORACLE_KM = f"""
WITH RECURSIVE s0 AS (
    SELECT user_id, MIN(ts) AS t0 FROM events
    WHERE event_type = 'signup' GROUP BY user_id
),
p AS (
    SELECT e.user_id, MIN(e.ts) AS te
    FROM events e JOIN s0 ON s0.user_id = e.user_id AND e.ts > s0.t0
    WHERE e.event_type = 'purchase'
    GROUP BY e.user_id
),
mx AS (SELECT MAX(CAST(ts AS DATE)) AS dmax FROM events),
subj AS (
    SELECT s0.user_id,
           CAST(CASE WHEN p.te IS NOT NULL
                     THEN datediff('day', CAST(s0.t0 AS DATE), CAST(p.te AS DATE))
                     ELSE datediff('day', CAST(s0.t0 AS DATE), dmax) END
                AS BIGINT) AS t,
           CASE WHEN p.te IS NOT NULL THEN 1 ELSE 0 END AS obs
    FROM s0 LEFT JOIN p ON p.user_id = s0.user_id, mx
),
per_t AS (
    SELECT t, CAST(SUM(obs) AS BIGINT) AS d, CAST(COUNT(*) AS BIGINT) AS m
    FROM subj GROUP BY t
),
tot AS (SELECT CAST(SUM(m) AS BIGINT) AS n_tot FROM per_t),
ranked AS (
    SELECT t, d,
           n_tot - COALESCE(SUM(m) OVER (
               ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS n
    FROM per_t, tot
),
ev AS (
    SELECT t, d, CAST(n AS BIGINT) AS n,
           ROW_NUMBER() OVER (ORDER BY t) AS rn
    FROM ranked WHERE d >= 1
),
km(rn, t, d, n, s_ppm) AS (
    SELECT rn, t, d, n, {KM_SCALE} * (n - d) // n FROM ev WHERE rn = 1
    UNION ALL
    SELECT e.rn, e.t, e.d, e.n, k.s_ppm * (e.n - e.d) // e.n
    FROM km k JOIN ev e ON e.rn = k.rn + 1
)
SELECT t AS t_days, d AS n_events, n AS n_at_risk,
       CAST(s_ppm AS BIGINT) AS s_ppm
FROM km
ORDER BY t_days
"""


# --- sequential pattern mining (subsequence support) -------------------------

SEQ_MIN_SUPPORT = 5
SEQ_TOP = 40


def sequence_patterns(
    ev: DataFrame, min_support: int = SEQ_MIN_SUPPORT, top_n: int = SEQ_TOP
) -> DataFrame:
    """Frequent behavioral SUBSEQUENCES (PrefixSpan-style, lengths 2–3):
    how many users ever did a …then… b (…then… c), with arbitrary gaps —
    the complement of ``event_sequences`` (analytics_ext), which counts
    strictly ADJACENT trigrams. Gap-tolerant support is what journey
    mining actually needs: "signup → … → purchase" must count users with
    clicks in between.

    Containment is decided by the earliest-occurrence greedy (provably
    complete: a subsequence embedding exists iff the greedy one does):
    a→b iff any b after the FIRST a; a→b→c iff any c after the first b
    that follows the first a. All comparisons are on raw timestamps — no
    arithmetic, engine-identical.

    Scale: per-user (type, first_ts, last_ts) profiles bound the pair
    space at |types|² per user, never events²; the three-step chain adds
    one events×profiles join that is linear in the event count. Support
    is a countDistinct per pattern; min_support and top_n bound the
    output.
    """
    e = ev.select("user_id", F.col("event_type").alias("t"), "ts").localCheckpoint()
    prof = e.groupBy("user_id", "t").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    ).localCheckpoint()
    fa = prof.select("user_id", F.col("t").alias("a"), F.col("first_ts").alias("fa"))
    lb = prof.select("user_id", F.col("t").alias("b"), F.col("last_ts").alias("lb"))
    pairs = (
        fa.join(lb, "user_id")
        .where(F.col("lb") > F.col("fa"))
        .groupBy("a", "b")
        .agg(F.countDistinct("user_id").alias("support"))
        .where(F.col("support") >= min_support)
        .select(
            F.concat_ws(">", "a", "b").alias("pattern"),
            F.lit(2).alias("length"),
            F.col("support").cast("long").alias("support"),
        )
    )
    # earliest b strictly after first a
    tab = (
        e.select("user_id", F.col("t").alias("b"), F.col("ts").alias("ts_b"))
        .join(fa, "user_id")
        .where(F.col("ts_b") > F.col("fa"))
        .groupBy("user_id", "a", "b")
        .agg(F.min("ts_b").alias("tab"))
    )
    lc = prof.select("user_id", F.col("t").alias("c"), F.col("last_ts").alias("lc"))
    triples = (
        tab.join(lc, "user_id")
        .where(F.col("lc") > F.col("tab"))
        .groupBy("a", "b", "c")
        .agg(F.countDistinct("user_id").alias("support"))
        .where(F.col("support") >= min_support)
        .select(
            F.concat_ws(">", "a", "b", "c").alias("pattern"),
            F.lit(3).alias("length"),
            F.col("support").cast("long").alias("support"),
        )
    )
    return (
        pairs.unionByName(triples)
        .orderBy(F.desc("support"), "pattern")
        .limit(top_n)
    )


def q_sequence_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sequence_patterns(load_table(spark, sf_dir, "events"))


_ORACLE_SEQ = f"""
WITH prof AS (
    SELECT user_id, event_type AS t, MIN(ts) AS first_ts, MAX(ts) AS last_ts
    FROM events GROUP BY user_id, event_type
),
pairs AS (
    SELECT fa.t AS a, lb.t AS b, CAST(COUNT(DISTINCT fa.user_id) AS BIGINT)
               AS support
    FROM prof fa JOIN prof lb ON lb.user_id = fa.user_id
    WHERE lb.last_ts > fa.first_ts
    GROUP BY fa.t, lb.t
    HAVING COUNT(DISTINCT fa.user_id) >= {SEQ_MIN_SUPPORT}
),
tab AS (
    SELECT e.user_id, fa.t AS a, e.event_type AS b, MIN(e.ts) AS tab
    FROM events e JOIN prof fa ON fa.user_id = e.user_id
    WHERE e.ts > fa.first_ts
    GROUP BY e.user_id, fa.t, e.event_type
),
triples AS (
    SELECT tab.a, tab.b, lc.t AS c,
           CAST(COUNT(DISTINCT tab.user_id) AS BIGINT) AS support
    FROM tab JOIN prof lc ON lc.user_id = tab.user_id
    WHERE lc.last_ts > tab.tab
    GROUP BY tab.a, tab.b, lc.t
    HAVING COUNT(DISTINCT tab.user_id) >= {SEQ_MIN_SUPPORT}
)
SELECT * FROM (
    SELECT a || '>' || b AS pattern, 2 AS length, support FROM pairs
    UNION ALL
    SELECT a || '>' || b || '>' || c AS pattern, 3 AS length, support
    FROM triples
)
ORDER BY support DESC, pattern
LIMIT {SEQ_TOP}
"""


# --- purged temporal split ----------------------------------------------------

SPLIT_TRAIN_PCT = 70
SPLIT_EMBARGO_PCT = 5


def temporal_split(
    ev: DataFrame,
    train_pct: int = SPLIT_TRAIN_PCT,
    embargo_pct: int = SPLIT_EMBARGO_PCT,
) -> DataFrame:
    """Time-ordered train/test split with a purge embargo: train takes
    the first ``train_pct``% of the observation range, an
    ``embargo_pct``% buffer is DROPPED, and test takes the remainder —
    the leakage-safe protocol for forecasting/sequence models, where a
    random row split lets near-boundary information bleed across (the
    content-hash ``text_dataset_split`` covers i.i.d. corpora; this
    covers temporally-dependent ones). Emits per-split row/user counts,
    date bounds, and the count of users that appear in BOTH train and
    test — the residual entity overlap an entity-disjoint split would
    additionally have to remove.

    Exactness: boundaries are integer-microsecond arithmetic
    (tmin + range·pct DIV 100) on unix_micros — no timezone or float
    involvement; comparisons are pure BIGINT.

    Scale: one bounds aggregate broadcast back over the scan, one
    partial-agg per-split rollup, one (user × split-membership) rollup
    for the overlap count. No windows, no sort.
    """
    us = F.unix_micros(F.col("ts"))
    bounds = ev.agg(
        F.min(us).alias("t0"), F.max(us).alias("t1")
    )
    b = bounds.select(
        "t0",
        F.expr(f"t0 + (t1 - t0) * {train_pct} DIV 100").alias("tr_end"),
        F.expr(
            f"t0 + (t1 - t0) * {train_pct + embargo_pct} DIV 100"
        ).alias("em_end"),
    )
    tagged = ev.select(us.alias("us"), "user_id", F.col("ts").cast("date").alias("d")).crossJoin(
        F.broadcast(b)
    ).select(
        "user_id",
        "d",
        F.when(F.col("us") <= F.col("tr_end"), F.lit("train"))
        .when(F.col("us") <= F.col("em_end"), F.lit("embargo"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    per_split = tagged.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("d").alias("d_min"),
        F.max("d").alias("d_max"),
    )
    membership = tagged.groupBy("user_id").agg(
        F.max(F.when(F.col("split") == "train", 1).otherwise(0)).alias("in_tr"),
        F.max(F.when(F.col("split") == "test", 1).otherwise(0)).alias("in_te"),
    )
    overlap = membership.agg(
        F.sum(F.col("in_tr") * F.col("in_te")).alias("n_users_in_train_and_test")
    )
    return (
        per_split.crossJoin(F.broadcast(overlap))
        .select(
            "split",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_users").cast("long").alias("n_users"),
            "d_min",
            "d_max",
            F.col("n_users_in_train_and_test").cast("long").alias(
                "n_users_in_train_and_test"
            ),
        )
        .orderBy("split")
    )


def q_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return temporal_split(load_table(spark, sf_dir, "events"))


_ORACLE_TSPLIT = f"""
WITH b AS (
    SELECT MIN(epoch_us(ts)) AS t0,
           MIN(epoch_us(ts)) + (MAX(epoch_us(ts)) - MIN(epoch_us(ts)))
               * {SPLIT_TRAIN_PCT} // 100 AS tr_end,
           MIN(epoch_us(ts)) + (MAX(epoch_us(ts)) - MIN(epoch_us(ts)))
               * {SPLIT_TRAIN_PCT + SPLIT_EMBARGO_PCT} // 100 AS em_end
    FROM events
),
tagged AS (
    SELECT user_id, CAST(ts AS DATE) AS d,
           CASE WHEN epoch_us(ts) <= tr_end THEN 'train'
                WHEN epoch_us(ts) <= em_end THEN 'embargo'
                ELSE 'test' END AS split
    FROM events, b
),
per_split AS (
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           MIN(d) AS d_min, MAX(d) AS d_max
    FROM tagged GROUP BY split
),
membership AS (
    SELECT user_id,
           MAX(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS in_tr,
           MAX(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS in_te
    FROM tagged GROUP BY user_id
),
overlap AS (
    SELECT CAST(SUM(in_tr * in_te) AS BIGINT) AS n_users_in_train_and_test
    FROM membership
)
SELECT split, n_rows, n_users, d_min, d_max, n_users_in_train_and_test
FROM per_split, overlap
ORDER BY split
"""


# --- day-of-week adjusted spikes ---------------------------------------------

DOW_LOOKBACK = 4  # compare against the previous 4 same-weekday days


def dow_adjusted_spikes(
    ev: DataFrame, group_col: str = "event_type", value_col: str = "value"
) -> DataFrame:
    """Seasonally-honest spike detection: each day is compared to the
    average of the previous ``DOW_LOOKBACK`` SAME-WEEKDAY days — the
    correction that stops every Monday from alerting on a weekday/weekend
    cycle (the plain EWMA detector has no notion of weekly seasonality).

    Division-free flag: vm·L > 2·Σ(last L same-dow) ⟺ day > 2× its
    same-weekday baseline; the ratio is emitted as a sign-split two-stage
    ppm. Weekday numbering is pinned to Monday=0 on BOTH engines (Spark
    ``weekday()``, DuckDB ``isodow − 1`` — their default dayofweek
    functions disagree on Sunday).

    Calendar-dense lags (``_densify_daily``): the rollup is zero-filled
    over each group's [min(d), max(d)] span before the lag window, so
    "the previous L same-weekday days" means CALENDAR weeks — a skipped
    Monday contributes zero volume to later Mondays' baselines instead
    of stretching them onto older weeks. Only observed days are emitted;
    the same gap contract as ewma_from_daily applies per weekday (all L
    prior same-weekdays unobserved → base_sum = 0 → the day is not
    scored).

    Scale: (group, day) rollup first; lags run per (group, weekday)
    partition — calendar-bounded.
    """
    daily = ev.groupBy(
        F.col(group_col).alias("g"), F.col("ts").cast("date").alias("d")
    ).agg(F.sum(_vm(value_col)).alias("vm"))
    dense = _densify_daily(daily)
    w = Window.partitionBy("g", "dow").orderBy("d")
    lags = [F.lag("vm", i).over(w).alias(f"l{i}") for i in range(1, DOW_LOOKBACK + 1)]
    t = dense.withColumn("dow", F.weekday("d")).select(
        "g", "d", "dow", "vm", "obs", *lags
    ).where(F.col(f"l{DOW_LOOKBACK}").isNotNull() & (F.col("obs") == 1))
    base = sum(
        (F.col(f"l{i}") for i in range(2, DOW_LOOKBACK + 1)),
        F.col("l1"),
    )
    t = t.withColumn("base_sum", base.cast("long")).where(F.col("base_sum") > 0)
    ratio = F.expr(
        f"CAST((CASE WHEN vm < 0 THEN -1 ELSE 1 END)"
        f" * ((ABS(vm) * {DOW_LOOKBACK} * 1000 DIV base_sum) * 1000"
        f"    + (ABS(vm) * {DOW_LOOKBACK} * 1000 % base_sum) * 1000 DIV base_sum)"
        f" AS BIGINT)"
    )
    return t.select(
        F.col("g").alias(group_col),
        "d",
        F.col("dow").cast("int").alias("dow"),
        "vm",
        "base_sum",
        ratio.alias("ratio_ppm"),
        F.when(F.col("vm") * DOW_LOOKBACK > 2 * F.col("base_sum"), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_spike"),
    ).orderBy(group_col, "d")


def q_dow_adjusted_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dow_adjusted_spikes(load_table(spark, sf_dir, "events"))


_DOW_LAGS = ",\n           ".join(
    f"LAG(vm, {i}) OVER (PARTITION BY g, dow ORDER BY d) AS l{i}"
    for i in range(1, DOW_LOOKBACK + 1)
)
_DOW_BASE = " + ".join(f"l{i}" for i in range(1, DOW_LOOKBACK + 1))

_ORACLE_DOW_SPIKES = f"""
WITH daily AS (
    SELECT event_type AS g, CAST(ts AS DATE) AS d,
           CAST(SUM(CAST(FLOOR(value * {VALUE_SCALE}) AS BIGINT)) AS BIGINT) AS vm
    FROM events GROUP BY g, d
),
{_dense_ctes().strip()},
t AS (
    SELECT g, d, dow, vm, obs,
           {_DOW_LAGS}
    FROM (SELECT g, d, vm, obs, isodow(d) - 1 AS dow FROM dense)
),
e AS (
    SELECT g, d, dow, vm, CAST({_DOW_BASE} AS BIGINT) AS base_sum
    FROM t WHERE l{DOW_LOOKBACK} IS NOT NULL AND obs = 1
)
SELECT g AS event_type, d, CAST(dow AS INT) AS dow, vm, base_sum,
       CAST((CASE WHEN vm < 0 THEN -1 ELSE 1 END)
            * ((ABS(vm) * {DOW_LOOKBACK} * 1000 // base_sum) * 1000
               + (ABS(vm) * {DOW_LOOKBACK} * 1000 % base_sum) * 1000
                 // base_sum) AS BIGINT) AS ratio_ppm,
       CAST(CASE WHEN vm * {DOW_LOOKBACK} > 2 * base_sum THEN 1 ELSE 0 END
            AS INTEGER) AS is_spike
FROM e
WHERE base_sum > 0
ORDER BY event_type, d
"""


# --- cross-series correlation matrix -----------------------------------------


def series_correlation(ev: DataFrame, group_col: str = "event_type") -> DataFrame:
    """Pearson correlation between every pair of daily event-count
    series — the co-movement matrix behind metric-dependency discovery
    ("errors spike with purchases") and redundancy pruning of monitoring
    dashboards.

    Determinism: all five moments are exact BIGINT over the inner-joined
    day domain; r = num/√(dx·dy) evaluates √dx·√dy as two
    correctly-rounded IEEE sqrts and one product — identical expression
    text on both engines — and the floor-scaled e6 result orders pairs
    stably. |num|·1e6 must stay under 2^53 for exact floor-scaling
    (daily counts to ~3e4 over a decade of days); past that, DECIMAL
    moments — shape unchanged.

    Scale: the fact table collapses to (group, day) counts once; the
    pair join is rollup×rollup on the day key (|groups|² × days rows),
    constant-bounded.
    """
    daily = ev.groupBy(
        F.col(group_col).alias("g"), F.col("ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("x")).localCheckpoint()
    a = daily.select(F.col("g").alias("ga"), "d", F.col("x").alias("xa"))
    b = daily.select(F.col("g").alias("gb"), "d", F.col("x").alias("xb"))
    j = a.join(b, "d").where(F.col("ga") < F.col("gb"))
    mom = j.groupBy("ga", "gb").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xa").alias("sx"),
        F.sum("xb").alias("sy"),
        F.sum(F.col("xa") * F.col("xb")).alias("sxy"),
        F.sum(F.col("xa") * F.col("xa")).alias("sxx"),
        F.sum(F.col("xb") * F.col("xb")).alias("syy"),
    )
    nd = mom.select(
        "ga",
        "gb",
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("dx"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias("dy"),
    ).where((F.col("dx") > 0) & (F.col("dy") > 0))
    r = F.expr(
        "CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)"
        " * FLOOR(ABS(num) * 1000000 / (SQRT(dx) * SQRT(dy))) AS BIGINT)"
    )
    return nd.select(
        "ga", "gb", F.col("n").cast("long").alias("n_days"), r.alias("r_e6")
    ).orderBy("ga", "gb")


def q_series_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return series_correlation(load_table(spark, sf_dir, "events"))


_ORACLE_SERIES_CORR = """
WITH daily AS (
    SELECT event_type AS g, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY g, d
),
j AS (
    SELECT a.g AS ga, b.g AS gb, a.x AS xa, b.x AS xb
    FROM daily a JOIN daily b ON b.d = a.d AND a.g < b.g
),
mom AS (
    SELECT ga, gb, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(xa) AS BIGINT) AS sx, CAST(SUM(xb) AS BIGINT) AS sy,
           CAST(SUM(xa * xb) AS BIGINT) AS sxy,
           CAST(SUM(xa * xa) AS BIGINT) AS sxx,
           CAST(SUM(xb * xb) AS BIGINT) AS syy
    FROM j GROUP BY ga, gb
),
nd AS (
    SELECT ga, gb, n,
           n * sxy - sx * sy AS num,
           n * sxx - sx * sx AS dx,
           n * syy - sy * sy AS dy
    FROM mom
    WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
)
SELECT ga, gb, n AS n_days,
       CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
            * FLOOR(ABS(num) * 1000000 / (SQRT(dx) * SQRT(dy))) AS BIGINT)
           AS r_e6
FROM nd
ORDER BY ga, gb
"""


# --- lag feature table --------------------------------------------------------


def lag_features(
    ev: DataFrame, group_col: str = "event_type", value_col: str = "value"
) -> DataFrame:
    """Supervised-learning feature table over the daily revenue series:
    per (group, day) the canonical autoregressive features — lag-1,
    lag-7, day-over-day diff, and week-over-week change in sign-split
    integer ppm — the deterministic feature-engineering step a
    forecasting pipeline materializes before training. Only days with a
    full 7-day history qualify (partial-history rows would silently mix
    feature semantics).

    Scale: one (group, day) rollup; the lag window runs per group over
    calendar-bounded partitions. All arithmetic is BIGINT.
    """
    daily = ev.groupBy(
        F.col(group_col).alias("g"), F.col("ts").cast("date").alias("d")
    ).agg(F.sum(_vm(value_col)).alias("vm"))
    w = Window.partitionBy("g").orderBy("d")
    t = daily.select(
        "g",
        "d",
        "vm",
        F.lag("vm", 1).over(w).alias("lag1"),
        F.lag("vm", 7).over(w).alias("lag7"),
    ).where(F.col("lag7").isNotNull() & (F.col("lag7") > 0))
    t = t.withColumn("num", F.col("vm") - F.col("lag7")).withColumn(
        "den", F.col("lag7")
    )
    return t.select(
        F.col("g").alias(group_col),
        "d",
        "vm",
        "lag1",
        "lag7",
        (F.col("vm") - F.col("lag1")).cast("long").alias("diff1"),
        _signed_ppm_expr().alias("wow_ppm"),
    ).orderBy(group_col, "d")


def q_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lag_features(load_table(spark, sf_dir, "events"))


_ORACLE_LAG_FEATURES = f"""
WITH daily AS (
    SELECT event_type AS g, CAST(ts AS DATE) AS d,
           CAST(SUM(CAST(FLOOR(value * {VALUE_SCALE}) AS BIGINT)) AS BIGINT) AS vm
    FROM events GROUP BY g, d
),
t AS (
    SELECT g, d, vm,
           LAG(vm, 1) OVER (PARTITION BY g ORDER BY d) AS lag1,
           LAG(vm, 7) OVER (PARTITION BY g ORDER BY d) AS lag7
    FROM daily
),
e AS (
    SELECT g, d, vm, lag1, lag7, vm - lag7 AS num, lag7 AS den
    FROM t WHERE lag7 IS NOT NULL AND lag7 > 0
)
SELECT g AS event_type, d, vm, lag1, lag7,
       CAST(vm - lag1 AS BIGINT) AS diff1,
       CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
            * ((ABS(num) * 1000 // den) * 1000
               + (ABS(num) * 1000 % den) * 1000 // den) AS BIGINT) AS wow_ppm
FROM e
ORDER BY event_type, d
"""


# --- exact daily quantiles ----------------------------------------------------


def daily_quantiles(
    ev: DataFrame, group_col: str = "event_type", value_col: str = "value"
) -> DataFrame:
    """Exact per-(group, day) P50/P90 of the event value — the daily
    latency/value-band fact a monitoring dashboard plots, computed as
    true order statistics (the approx-percentile path is audited
    separately in approx_quantile_audit; this is the exact daily fact).

    med2 is the ×2-integer median (sum of the two middle order
    statistics); p90 is the value at rank ⌈0.9·n⌉ — integers end to
    end, no interpolation, engine-exact.

    Scale: the ordering window runs over DISTINCT values per (group,
    day) cell (playbook #27) with cumulative counts locating the target
    ranks — never a per-row sort of the fact stream.
    """
    v = ev.select(
        F.col(group_col).alias("g"),
        F.col("ts").cast("date").alias("d"),
        _vm(value_col).alias("vm"),
    )
    cnt = v.groupBy("g", "d", "vm").agg(F.count(F.lit(1)).alias("m"))
    w_prev = (
        Window.partitionBy("g", "d")
        .orderBy("vm")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy("g", "d")
    ranked = cnt.select(
        "g",
        "d",
        "vm",
        "m",
        F.coalesce(F.sum("m").over(w_prev), F.lit(0)).alias("cum_prev"),
        F.sum("m").over(w_all).alias("n"),
    )
    lo = F.expr("(n + 1) DIV 2")
    hi = F.expr("n DIV 2 + 1")
    p90r = F.expr("(9 * n + 9) DIV 10")
    in_row = lambda r: (F.col("cum_prev") < r) & (r <= F.col("cum_prev") + F.col("m"))  # noqa: E731
    return (
        ranked.groupBy("g", "d")
        .agg(
            F.max("n").cast("long").alias("n_rows"),
            (
                F.max(F.when(in_row(lo), F.col("vm")))
                + F.max(F.when(in_row(hi), F.col("vm")))
            ).cast("long").alias("med2"),
            F.max(F.when(in_row(p90r), F.col("vm"))).cast("long").alias("p90"),
        )
        .select(
            F.col("g").alias(group_col), "d", "n_rows", "med2", "p90"
        )
        .orderBy(group_col, "d")
    )


def q_daily_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return daily_quantiles(load_table(spark, sf_dir, "events"))


_ORACLE_DAILY_Q = f"""
WITH v AS (
    SELECT event_type AS g, CAST(ts AS DATE) AS d,
           CAST(FLOOR(value * {VALUE_SCALE}) AS BIGINT) AS vm
    FROM events
),
r AS (
    SELECT g, d, vm,
           ROW_NUMBER() OVER (PARTITION BY g, d ORDER BY vm) AS rn,
           COUNT(*) OVER (PARTITION BY g, d) AS n
    FROM v
)
SELECT g AS event_type, d, CAST(MAX(n) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN rn = (n + 1) // 2 THEN vm ELSE 0 END)
            + SUM(CASE WHEN rn = n // 2 + 1 THEN vm ELSE 0 END) AS BIGINT)
           AS med2,
       CAST(SUM(CASE WHEN rn = (9 * n + 9) // 10 THEN vm ELSE 0 END) AS BIGINT)
           AS p90
FROM r
GROUP BY g, d
ORDER BY event_type, d
"""


# --- equi-depth histogram boundaries -----------------------------------------

EQUIDEPTH_BUCKETS = 10


def equidepth_histogram(
    orders: DataFrame, n_buckets: int = EQUIDEPTH_BUCKETS
) -> DataFrame:
    """Exact equi-depth histogram of order value: bucket j's upper fence
    is the value at rank ⌈j·n/B⌉ — the boundary set an optimizer stores
    for selectivity estimation and a binning pass uses for balanced
    stratification (equi-WIDTH histograms collapse under skew; depth
    boundaries adapt to it).

    Scale: the ordering window runs over DISTINCT cent values with
    cumulative counts (playbook #27); each boundary is located by rank
    containment — no per-row sort, no sampling, exact integers.
    """
    v = orders.select(
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    cnt = v.groupBy("cents").agg(F.count(F.lit(1)).alias("m"))
    w_prev = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy()
    ranked = cnt.select(
        "cents",
        "m",
        F.coalesce(F.sum("m").over(w_prev), F.lit(0)).alias("cum_prev"),
        F.sum("m").over(w_all).alias("n"),
    )
    j = F.explode(F.sequence(F.lit(1), F.lit(n_buckets))).alias("bucket")
    expanded = ranked.select("cents", "m", "cum_prev", "n", j)
    rank_j = F.expr(f"(bucket * n + {n_buckets - 1}) DIV {n_buckets}")
    hit = (F.col("cum_prev") < rank_j) & (rank_j <= F.col("cum_prev") + F.col("m"))
    return (
        expanded.where(hit)
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            F.col("cents").alias("upper_cents"),
            rank_j.cast("long").alias("rank_at"),
            F.col("n").cast("long").alias("n_rows"),
        )
        .orderBy("bucket")
    )


def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return equidepth_histogram(load_table(spark, sf_dir, "orders"))


_ORACLE_EQUIDEPTH = f"""
WITH v AS (
    SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents FROM orders
),
r AS (
    SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS rn,
           COUNT(*) OVER () AS n
    FROM v
),
b AS (SELECT j.bucket FROM generate_series(1, {EQUIDEPTH_BUCKETS}) AS j(bucket))
SELECT CAST(b.bucket AS INT) AS bucket, r.cents AS upper_cents,
       CAST((b.bucket * r.n + {EQUIDEPTH_BUCKETS - 1}) // {EQUIDEPTH_BUCKETS}
            AS BIGINT) AS rank_at,
       CAST(r.n AS BIGINT) AS n_rows
FROM b JOIN r
  ON r.rn = (b.bucket * r.n + {EQUIDEPTH_BUCKETS - 1}) // {EQUIDEPTH_BUCKETS}
ORDER BY bucket
"""


# --- Pareto frontier (2D skyline) --------------------------------------------


def pareto_frontier(part: DataFrame) -> DataFrame:
    """2-objective skyline over the part catalog: parts not strictly
    dominated on (minimize price, maximize size) — the multi-objective
    shortlist query ("no cheaper part is at least as large"). A part is
    dominated iff some part has (price <, size ≥) or (price ≤, size >);
    equal-on-both pairs do not dominate each other, so exact duplicates
    both survive.

    The O(n²) dominance test collapses to two RANGE-frame window maxima
    over the price ordering (strictly-cheaper max-size, and
    cheaper-or-equal max-size) — integer cents ordering so the range
    frame is exact on both engines.

    Scale: one dimension-bounded window pass (part is a catalog, not the
    fact stream); at a billion-row catalog the same algebra runs per
    price-band partition with a band-boundary fix-up pass.
    """
    p = part.select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
        F.col("p_size").cast("long").alias("size"),
    )
    w_lt = (
        Window.orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_le = (
        Window.orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    t = p.select(
        "p_partkey",
        "price_cents",
        "size",
        F.max("size").over(w_lt).alias("max_sz_lt"),
        F.max("size").over(w_le).alias("max_sz_le"),
    )
    dominated = (
        (F.col("max_sz_lt").isNotNull() & (F.col("max_sz_lt") >= F.col("size")))
        | (F.col("max_sz_le") > F.col("size"))
    )
    return (
        t.where(~dominated)
        .select("p_partkey", "price_cents", "size")
        .orderBy("price_cents", "p_partkey")
    )


def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pareto_frontier(load_table(spark, sf_dir, "part"))


_ORACLE_PARETO = """
WITH p AS (
    SELECT p_partkey,
           CAST(FLOOR(p_retailprice * 100) AS BIGINT) AS price_cents,
           CAST(p_size AS BIGINT) AS size
    FROM part
),
t AS (
    SELECT p_partkey, price_cents, size,
           MAX(size) OVER (ORDER BY price_cents
                           RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS max_sz_lt,
           MAX(size) OVER (ORDER BY price_cents
                           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS max_sz_le
    FROM p
)
SELECT p_partkey, price_cents, size
FROM t
WHERE NOT ((max_sz_lt IS NOT NULL AND max_sz_lt >= size)
           OR max_sz_le > size)
ORDER BY price_cents, p_partkey
"""


# --- churn labeling -----------------------------------------------------------

CHURN_QUIET_PCT = 25  # inactive through the final 25% of the window = churned


def churn_labels(ev: DataFrame, quiet_pct: int = CHURN_QUIET_PCT) -> DataFrame:
    """Churn label + feature rollup per user: a user is labeled churned
    when their LAST event precedes the final ``quiet_pct``% of the
    observation window — the deterministic labeling pass that turns the
    event log into a supervised training table (features: activity count,
    active days, value sum, tenure and recency in days). Boundary
    arithmetic is integer microseconds, consistent with temporal_split.

    Scale: one per-user aggregation over the fact scan (partial-agg);
    the boundary is a 1-row broadcast.
    """
    us = F.unix_micros(F.col("ts"))
    bounds = ev.agg(F.min(us).alias("t0"), F.max(us).alias("t1")).select(
        "t0",
        "t1",
        F.expr(f"t1 - (t1 - t0) * {quiet_pct} DIV 100").alias("quiet_start"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct(F.col("ts").cast("date")).alias("n_active_days"),
        F.sum(_vm()).alias("value_milli"),
        F.min(us).alias("first_us"),
        F.max(us).alias("last_us"),
    )
    return (
        per_user.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("n_active_days").cast("long").alias("n_active_days"),
            F.col("value_milli").cast("long").alias("value_milli"),
            F.expr("(last_us - first_us) DIV 86400000000").cast("long").alias(
                "tenure_days"
            ),
            F.expr("(t1 - last_us) DIV 86400000000").cast("long").alias(
                "recency_days"
            ),
            F.when(F.col("last_us") < F.col("quiet_start"), 1)
            .otherwise(0)
            .cast("int")
            .alias("churned"),
        )
        .orderBy("user_id")
    )


def q_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    return churn_labels(load_table(spark, sf_dir, "events"))


_ORACLE_CHURN = f"""
WITH b AS (
    SELECT MIN(epoch_us(ts)) AS t0, MAX(epoch_us(ts)) AS t1,
           MAX(epoch_us(ts)) - (MAX(epoch_us(ts)) - MIN(epoch_us(ts)))
               * {CHURN_QUIET_PCT} // 100 AS quiet_start
    FROM events
),
per_user AS (
    SELECT user_id, COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_active_days,
           CAST(SUM(CAST(FLOOR(value * {VALUE_SCALE}) AS BIGINT)) AS BIGINT)
               AS value_milli,
           MIN(epoch_us(ts)) AS first_us, MAX(epoch_us(ts)) AS last_us
    FROM events GROUP BY user_id
)
SELECT user_id, n_events, n_active_days, value_milli,
       CAST((last_us - first_us) // 86400000000 AS BIGINT) AS tenure_days,
       CAST((t1 - last_us) // 86400000000 AS BIGINT) AS recency_days,
       CAST(CASE WHEN last_us < quiet_start THEN 1 ELSE 0 END AS INTEGER)
           AS churned
FROM per_user, b
ORDER BY user_id
"""


# --- A/B assignment + sample-ratio-mismatch check -----------------------------

AB_SEED = "ab-seed-1"
AB_ARMS = 2
SRM_SCALE = 1_000_000


def ab_assignment_srm(ev: DataFrame, seed: str = AB_SEED, arms: int = AB_ARMS) -> DataFrame:
    """Deterministic experiment assignment + sample-ratio-mismatch audit:
    users hash into ``arms`` buckets (md5(seed|user) mod arms — stable
    across engines/runs/sessions, the property a real assignment service
    must have), and the per-arm census is scored with the SRM chi-square
    statistic Σ (O−E)²/E against the uniform expectation — the first
    check any experiment readout runs. Chi-square terms are floor-scaled
    e6 integers over exact integer O and cross-multiplied E = n/arms
    handled as (arms·O − n)²/(arms·n) to stay division-free until the
    final scaling.

    Scale: map-only assignment + an |arms|-row rollup.
    """
    arm = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws("|", F.lit(seed), F.col("user_id").cast("string"))
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        % arms
    )
    users = ev.select("user_id").distinct().select("user_id", arm.alias("arm"))
    per_arm = users.groupBy("arm").agg(F.count(F.lit(1)).alias("o"))
    tot = per_arm.agg(F.sum("o").alias("n"))
    # (O - n/arms)^2 / (n/arms) = (arms*O - n)^2 / (arms*n)
    j = per_arm.crossJoin(F.broadcast(tot))
    dev = arms * F.col("o") - F.col("n")
    # dev² stays in BIGINT but the ×SRM_SCALE hop goes through DOUBLE —
    # mirrors the oracle's evaluation order, so the int64 ceiling moves
    # from |dev| ≈ 3e3 (would ANSI-overflow) to the shared 2^53 double
    # precision bound (|dev| ≈ 9.4e7 users of imbalance).
    term = F.floor(
        (dev * dev).cast("double") * SRM_SCALE / (arms * F.col("n"))
    ).cast("long")
    return (
        j.select(
            F.col("arm").cast("int").alias("arm"),
            F.col("o").cast("long").alias("n_users"),
            term.alias("srm_term_e6"),
        )
        .orderBy("arm")
    )


def q_ab_assignment_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ab_assignment_srm(load_table(spark, sf_dir, "events"))


_ORACLE_AB_SRM = f"""
WITH users AS (
    SELECT DISTINCT user_id,
           CAST('0x' || substr(md5('{AB_SEED}' || '|'
                                   || CAST(user_id AS VARCHAR)), 1, 13)
                AS BIGINT) % {AB_ARMS} AS arm
    FROM events
),
per_arm AS (
    SELECT arm, CAST(COUNT(*) AS BIGINT) AS o FROM users GROUP BY arm
),
tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM per_arm)
SELECT CAST(arm AS INT) AS arm, o AS n_users,
       CAST(FLOOR(CAST(({AB_ARMS} * o - n) * ({AB_ARMS} * o - n) AS DOUBLE)
                  * {SRM_SCALE} / ({AB_ARMS} * n)) AS BIGINT) AS srm_term_e6
FROM per_arm, tot
ORDER BY arm
"""


QUERIES = {
    "ols_trend": q_ols_trend,
    "mad_outliers": q_mad_outliers,
    "autocorr_lag1": q_autocorr_lag1,
    "ewma_spikes": q_ewma_spikes,
    "feature_info_gain": q_feature_info_gain,
    "heavy_changers": q_heavy_changers,
    "survival_km": q_survival_km,
    "sequence_patterns": q_sequence_patterns,
    "temporal_split": q_temporal_split,
    "dow_adjusted_spikes": q_dow_adjusted_spikes,
    "series_correlation": q_series_correlation,
    "lag_features": q_lag_features,
    "pareto_frontier": q_pareto_frontier,
    "churn_labels": q_churn_labels,
    "ab_assignment_srm": q_ab_assignment_srm,
    "daily_quantiles": q_daily_quantiles,
    "equidepth_histogram": q_equidepth_histogram,
}

ORACLES = {
    "ols_trend": _ORACLE_OLS,
    "mad_outliers": _ORACLE_MAD,
    "autocorr_lag1": _ORACLE_AUTOCORR,
    "ewma_spikes": _ORACLE_EWMA,
    "feature_info_gain": _ORACLE_IG,
    "heavy_changers": _ORACLE_CHANGERS,
    "survival_km": _ORACLE_KM,
    "sequence_patterns": _ORACLE_SEQ,
    "temporal_split": _ORACLE_TSPLIT,
    "dow_adjusted_spikes": _ORACLE_DOW_SPIKES,
    "series_correlation": _ORACLE_SERIES_CORR,
    "lag_features": _ORACLE_LAG_FEATURES,
    "pareto_frontier": _ORACLE_PARETO,
    "churn_labels": _ORACLE_CHURN,
    "ab_assignment_srm": _ORACLE_AB_SRM,
    "daily_quantiles": _ORACLE_DAILY_Q,
    "equidepth_histogram": _ORACLE_EQUIDEPTH,
}
