"""Statistical operators: planted-signal recovery + partition invariance."""

from __future__ import annotations

import datetime

from pyspark.sql import Row

from admob_data_pipeline_spark.operators.stats import (
    autocorr_lag1,
    ewma_spikes,
    mad_outliers,
    ols_trend,
)


def _ev(day: int, etype: str, value: float, uid: int = 1) -> Row:
    return Row(
        event_id=day * 1000 + uid,
        ts=datetime.datetime(2024, 1, 1) + datetime.timedelta(days=day, hours=uid),
        user_id=uid,
        event_type=etype,
        value=value,
        props="{}",
    )


def test_ols_recovers_exact_linear_slope(spark):
    # y = 5 + 2.5·x value units → int-scaled vm = 5000 + 2500·x millis, so
    # the exact slope is 2500 millis/day and slope_e6 = 2500·1e6.
    rows = [_ev(d, "a", 5.0 + 2.5 * d) for d in range(10)]
    out = ols_trend(spark.createDataFrame(rows)).collect()
    assert len(out) == 1
    assert out[0].slope_e6 == 2500 * 1_000_000


def test_ols_negative_slope_sign(spark):
    rows = [_ev(d, "a", 100.0 - 3.0 * d) for d in range(8)]
    out = ols_trend(spark.createDataFrame(rows)).first()
    assert out.slope_e6 == -3000 * 1_000_000


def test_ols_drops_single_day_groups(spark):
    rows = [_ev(0, "only", 1.0), _ev(0, "only", 2.0)] + [
        _ev(d, "ok", float(d)) for d in range(3)
    ]
    out = ols_trend(spark.createDataFrame(rows)).collect()
    assert [r.event_type for r in out] == ["ok"]


def test_mad_flags_planted_outliers(spark):
    # 50 inliers at 10.0 ± 0.002, 3 gross outliers at 500 — MAD is tiny,
    # outliers sit far beyond 3·MAD.
    rows = [_ev(0, "a", 10.0 + 0.001 * (i % 5), uid=i) for i in range(50)]
    rows += [_ev(1, "a", 500.0, uid=100 + i) for i in range(3)]
    out = mad_outliers(spark.createDataFrame(rows)).first()
    assert out.n_rows == 53
    assert out.n_outliers == 3
    assert out.med2 // 2 in range(10000, 10005)


def test_mad_constant_group_has_zero_mad_and_outliers(spark):
    rows = [_ev(0, "c", 7.0, uid=i) for i in range(9)]
    out = mad_outliers(spark.createDataFrame(rows)).first()
    assert out.mad4 == 0
    assert out.n_outliers == 0
    assert out.med2 == 2 * 7000


def test_mad_even_count_midpoint(spark):
    # values 1,2,3,4 → med2 = 2+3 = 5 (in millis: 5000)
    rows = [_ev(0, "e", float(v), uid=v) for v in (1, 2, 3, 4)]
    out = mad_outliers(spark.createDataFrame(rows)).first()
    assert out.med2 == 2000 + 3000


def test_autocorr_alternating_series_is_negative(spark):
    # daily counts alternate 1,3,1,3,... → strong negative lag-1 memory
    rows = []
    for d in range(12):
        n = 1 if d % 2 == 0 else 3
        rows += [_ev(d, "alt", 1.0, uid=u) for u in range(n)]
    out = autocorr_lag1(spark.createDataFrame(rows)).first()
    assert out.r1_e6 < -800_000  # close to -1


def test_autocorr_trend_series_is_positive(spark):
    rows = []
    for d in range(12):
        rows += [_ev(d, "up", 1.0, uid=u) for u in range(d + 1)]
    out = autocorr_lag1(spark.createDataFrame(rows)).first()
    assert out.r1_e6 > 500_000


def test_ewma_flags_spike_day_only(spark):
    # 6 flat warmup days at 10, then a 10× day, then flat again
    vals = [10.0] * 6 + [100.0] + [10.0] * 3
    rows = [_ev(d, "s", v) for d, v in enumerate(vals)]
    out = ewma_spikes(spark.createDataFrame(rows)).collect()
    # only days 6..9 have full history
    assert [r.is_spike for r in out] == [1, 0, 0, 0]
    spike = out[0]
    # flat smoother: ewma_num = 10000·63 → ratio = 10×
    assert spike.ewma_num == 10000 * 63
    assert spike.ratio_ppm == 10 * 1_000_000


def test_ewma_requires_full_history(spark):
    rows = [_ev(d, "w", 1.0) for d in range(5)]  # < W+1 days
    assert ewma_spikes(spark.createDataFrame(rows)).count() == 0


def test_ewma_gap_days_count_as_zero_volume(spark):
    # 6 warmup days at 10, a 5-day gap, then one day back at 10. The lag
    # window is CALENDAR days: the post-gap day's baseline is
    # (0,0,0,0,0,10) — only lag-6 (weight 2^0 = 1) observed — so a flat
    # return-to-normal day scores 63× its smoother and flags as a spike.
    # Before densification the gap silently stretched the window onto
    # the warmup days and the day looked flat (ratio 1×).
    rows = [_ev(d, "gap", 10.0) for d in range(6)] + [_ev(11, "gap", 10.0)]
    out = ewma_spikes(spark.createDataFrame(rows)).collect()
    assert len(out) == 1  # unobserved gap days are not emitted
    (r,) = out
    assert r.ewma_num == 10_000  # 1 × lag-6 weight, gaps contribute 0
    assert r.ratio_ppm == 63 * 1_000_000
    assert r.is_spike == 1


def test_ewma_gap_longer_than_window_unscored_then_reseeds(spark):
    # Outage LONGER than W: the return day's baseline is all zeros
    # (ewma_num = 0) → not scored (no baseline, no verdict); the day
    # after is scored against a baseline seeded by the return day alone.
    rows = [_ev(d, "deep", 10.0) for d in range(6)] + [
        _ev(14, "deep", 10.0),
        _ev(15, "deep", 10.0),
    ]
    out = {r.d.day - 1: r for r in ewma_spikes(spark.createDataFrame(rows)).collect()}
    assert 14 not in out  # return day has no baseline
    assert 15 in out  # scored against the reseeded baseline
    assert out[15].ewma_num == 10_000 * 32  # lag-1 weight 2^5, rest zero
    assert out[15].is_spike == 0  # 63/32 ≈ 2× is NOT > SPIKE_X strictly


def test_dow_spikes_skipped_weekday_counts_as_zero(spark):
    # Five consecutive Mondays at 10, the middle one missing: the sixth
    # Monday's 4-week baseline is (10, 10, 0, 10)·scale — the skipped
    # week contributes zero instead of pulling in a fifth-oldest Monday.
    from admob_data_pipeline_spark.operators.stats import dow_adjusted_spikes

    import datetime

    mondays = [0, 7, 14, 28, 35]  # day 21 skipped
    rows = [_ev(d, "mon", 10.0) for d in mondays]
    out = {
        (r.d - datetime.date(2024, 1, 1)).days: r
        for r in dow_adjusted_spikes(spark.createDataFrame(rows)).collect()
    }
    # day 28: lags are days 21(0-filled), 14, 7, 0 — and day 35: lags are
    # days 28, 21(0-filled), 14, 7. Earlier days lack a full 4-lag history.
    assert sorted(out) == [28, 35]
    assert out[28].base_sum == 30_000 and out[35].base_sum == 30_000
    assert out[35].is_spike == 0  # 10k·4 = 40k ≤ 2·30k


def test_stats_partition_invariance(spark):
    rows = [
        _ev(d % 17, "p", float((d * 7) % 23) + 0.5, uid=d % 11) for d in range(400)
    ]
    for op in (ols_trend, mad_outliers, autocorr_lag1, ewma_spikes):
        a = op(spark.createDataFrame(rows).repartition(2)).collect()
        b = op(spark.createDataFrame(rows).repartition(32)).collect()
        assert a == b, op.__name__


def test_info_gain_perfect_vs_useless_feature(spark):
    # label == copy → IG = H(label); constant feature → IG = 0
    rows = [
        Row(l_returnflag=f, l_linestatus=f, l_quantity=1.0,
            l_shipdate=datetime.datetime(2024, 1, 1))
        for f in ["A", "N", "R"] * 30
    ]
    from admob_data_pipeline_spark.operators.stats import feature_info_gain
    from pyspark.sql import functions as F

    out = {
        r.feature: r
        for r in feature_info_gain(
            spark.createDataFrame(rows),
            "l_returnflag",
            {"copy": F.col("l_linestatus"), "const": F.lit("x")},
        ).collect()
    }
    assert out["const"].info_gain_e6 == 0
    # perfect predictor: conditional entropy 0 → gain == H(label)
    assert out["copy"].h_cond_e6 == 0
    assert out["copy"].info_gain_e6 == out["copy"].h_label_e6 > 0


def test_survival_km_hand_computed(spark):
    from admob_data_pipeline_spark.operators.stats import survival_km

    # all users sign up on day 0; A,B convert day 2, D converts day 5,
    # C never converts (censored at the day-5 window end).
    rows = []
    for uid, name in enumerate("ABCD"):
        rows.append(_ev(0, "signup", 1.0, uid=uid))
    rows += [_ev(2, "purchase", 1.0, uid=0), _ev(2, "purchase", 1.0, uid=1)]
    rows.append(_ev(5, "purchase", 1.0, uid=3))
    out = [
        (r.t_days, r.n_events, r.n_at_risk, r.s_ppm)
        for r in survival_km(spark.createDataFrame(rows)).collect()
    ]
    # t=2: n=4, d=2 -> S=0.5; t=5: n=2 (C still at risk), d=1 -> S=0.25
    assert out == [(2, 2, 4, 500_000), (5, 1, 2, 250_000)]


def test_survival_km_monotone_nonincreasing(spark):
    from admob_data_pipeline_spark.operators.stats import survival_km

    rows = []
    for uid in range(40):
        rows.append(_ev(uid % 3, "signup", 1.0, uid=uid))
        if uid % 4 != 0:
            rows.append(_ev(uid % 3 + 1 + uid % 5, "purchase", 1.0, uid=uid))
    curve = [r.s_ppm for r in survival_km(spark.createDataFrame(rows)).collect()]
    assert all(a >= b for a, b in zip(curve, curve[1:]))
    assert curve[0] <= 1_000_000


def test_temporal_split_order_and_no_future_leak(spark):
    from admob_data_pipeline_spark.operators.stats import temporal_split

    rows = [_ev(d, "t", 1.0, uid=d % 7) for d in range(100)]
    out = {r.split: r for r in temporal_split(spark.createDataFrame(rows)).collect()}
    assert set(out) == {"train", "embargo", "test"}
    # temporal ordering: train strictly precedes test date ranges
    assert out["train"].d_max <= out["embargo"].d_min
    assert out["embargo"].d_max <= out["test"].d_min
    # ~70/5/25 row split of 100 days
    assert 60 <= out["train"].n_rows <= 80
    assert out["embargo"].n_rows <= 10


def test_dow_spikes_weekly_pattern_not_flagged(spark):
    from admob_data_pipeline_spark.operators.stats import dow_adjusted_spikes

    # strong weekly cycle (weekend 10x weekday) repeated verbatim: no day
    # deviates from its same-weekday baseline -> zero spikes
    rows = []
    for d in range(42):
        v = 100.0 if d % 7 in (5, 6) else 10.0
        rows.append(_ev(d, "wk", v))
    out = dow_adjusted_spikes(spark.createDataFrame(rows)).collect()
    assert len(out) > 0
    assert all(r.is_spike == 0 for r in out)
    # inject one 5x day -> exactly that day flags
    rows.append(_ev(42, "wk", 50.0))  # day 42 is weekday (42%7==0), base 10
    out2 = dow_adjusted_spikes(spark.createDataFrame(rows)).collect()
    spikes = [r for r in out2 if r.is_spike == 1]
    assert len(spikes) == 1 and spikes[0].ratio_ppm == 5_000_000


def test_series_correlation_perfect_and_anti(spark):
    from admob_data_pipeline_spark.operators.stats import series_correlation

    rows = []
    for d in range(10):
        n = d + 1
        rows += [_ev(d, "a", 1.0, uid=u) for u in range(n)]
        rows += [_ev(d, "b", 1.0, uid=u) for u in range(n)]          # = a
        rows += [_ev(d, "c", 1.0, uid=u) for u in range(11 - n)]     # anti
    out = {(r.ga, r.gb): r.r_e6 for r in series_correlation(spark.createDataFrame(rows)).collect()}
    assert out[("a", "b")] in (999_999, 1_000_000)
    assert out[("a", "c")] in (-999_999, -1_000_000)


def test_lag_features_values(spark):
    from admob_data_pipeline_spark.operators.stats import lag_features

    rows = [_ev(d, "x", float(10 + d)) for d in range(10)]
    out = lag_features(spark.createDataFrame(rows)).collect()
    # first qualifying day is day 7: vm=17000, lag1=16000, lag7=10000
    first = out[0]
    assert (first.vm, first.lag1, first.lag7, first.diff1) == (
        17000, 16000, 10000, 1000
    )
    assert first.wow_ppm == 700_000  # (17000-10000)/10000


def test_pareto_frontier_brute_force_equivalence(spark):
    from pyspark.sql import Row
    from admob_data_pipeline_spark.operators.stats import pareto_frontier

    import itertools, random
    rng = random.Random(7)
    parts = [Row(p_partkey=i, p_name="", p_brand="", p_type="",
                 p_size=rng.randint(1, 20),
                 p_retailprice=float(rng.randint(100, 999)) / 10)
             for i in range(60)]
    got = {r.p_partkey for r in pareto_frontier(spark.createDataFrame(parts)).collect()}
    pts = {p.p_partkey: (int(p.p_retailprice * 100), p.p_size) for p in parts}
    def dominated(k):
        pk, sk = pts[k]
        return any((p < pk and s >= sk) or (p <= pk and s > sk)
                   for o, (p, s) in pts.items() if o != k)
    want = {k for k in pts if not dominated(k)}
    assert got == want


def test_churn_labels_flags_inactive_users(spark):
    from admob_data_pipeline_spark.operators.stats import churn_labels

    # user 1 active across the window; user 2 silent after day 10 of 100
    rows = [_ev(d, "t", 1.0, uid=1) for d in range(0, 100, 5)]
    rows += [_ev(d, "t", 1.0, uid=2) for d in range(0, 11, 5)]
    out = {r.user_id: r for r in churn_labels(spark.createDataFrame(rows)).collect()}
    assert out[1].churned == 0
    assert out[2].churned == 1
    assert out[2].recency_days >= 80


def test_ab_assignment_balanced_and_deterministic(spark):
    from pyspark.sql import Row
    from admob_data_pipeline_spark.operators.stats import ab_assignment_srm
    import datetime

    rows = [Row(event_id=i, ts=datetime.datetime(2024, 1, 1), user_id=i,
                event_type="x", value=1.0, props="{}") for i in range(2000)]
    df = spark.createDataFrame(rows)
    a = [(r.arm, r.n_users, r.srm_term_e6) for r in ab_assignment_srm(df).collect()]
    b = [(r.arm, r.n_users, r.srm_term_e6) for r in ab_assignment_srm(df).collect()]
    assert a == b and len(a) == 2
    assert sum(n for _, n, _ in a) == 2000
    # hash balance: chi-square total for 1 dof should be far below 10.83
    # (p=0.001) for a uniform hash on 2000 users
    assert sum(t for _, _, t in a) < int(10.83 * 1_000_000)


def test_daily_quantiles_exact_small_case(spark):
    from admob_data_pipeline_spark.operators.stats import daily_quantiles

    # one day, values 1..10 -> med2 = 5+6, p90 = value at rank 9
    rows = [_ev(0, "q", float(v), uid=v) for v in range(1, 11)]
    out = daily_quantiles(spark.createDataFrame(rows)).first()
    assert out.n_rows == 10
    assert out.med2 == 5000 + 6000
    assert out.p90 == 9000


def test_equidepth_histogram_balanced_depths(spark):
    from pyspark.sql import Row
    import datetime
    from admob_data_pipeline_spark.operators.stats import equidepth_histogram

    rows = [Row(o_orderkey=i, o_custkey=1, o_orderstatus="F",
                o_totalprice=float(i), o_orderdate=datetime.datetime(2024, 1, 1),
                o_orderpriority="1") for i in range(1, 101)]
    out = equidepth_histogram(spark.createDataFrame(rows)).collect()
    # 100 uniform values, 10 buckets -> fences at 10,20,...,100 (cents x100)
    assert [r.upper_cents for r in out] == [j * 10 * 100 for j in range(1, 11)]
    assert all(r.n_rows == 100 for r in out)


def test_degenerate_denominators_emit_null_not_ansi_error(spark, tmp_path):
    # One empty class (KS / rank-sum) or all-zero revenue (Gini): the
    # statistic is undefined → NULL row, matching DuckDB's `x // 0 →
    # NULL` instead of Spark ANSI's DivideByZeroError. Build inputs that
    # drive each denominator to zero through the public query path.
    from pyspark.sql import Row

    from admob_data_pipeline_spark.plans.analytics_ext import (
        q_ks_test,
        q_rank_sum_test,
        q_revenue_gini,
    )

    d = str(tmp_path)
    # every customer in one segment -> the non-segment class is empty
    spark.createDataFrame(
        [Row(c_custkey=i, c_mktsegment="BUILDING", c_nationkey=1) for i in (1, 2)]
    ).write.mode("overwrite").parquet(f"{d}/customer.parquet")
    # all order totals zero -> Gini den = n * total = 0
    spark.createDataFrame(
        [
            Row(
                o_orderkey=i,
                o_custkey=i,
                o_totalprice=0.0,
                o_orderdate=datetime.date(2024, 1, i),
                o_orderpriority="1-URGENT",
                o_orderstatus="O",
            )
            for i in (1, 2)
        ]
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")

    [ks] = q_ks_test(spark, d).collect()
    assert ks.ks_ppm is None and 0 in (ks.n1, ks.n2)
    [rs] = q_rank_sum_test(spark, d).collect()
    assert rs.auc_ppm is None
    [g] = q_revenue_gini(spark, d).collect()
    assert g.gini_ppm is None and g.total_cents == 0
