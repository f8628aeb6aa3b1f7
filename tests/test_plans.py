"""Physical-plan pins: the properties that make these plans survive a
100× scale-up (SURVEY.md §4). A regression here is a performance bug even
when results stay correct."""

from __future__ import annotations

from pyspark.sql import functions as F

from admob_data_pipeline_spark.plans import explain, relational
from admob_data_pipeline_spark.sources.tables import load_table


def test_pricing_summary_pushes_filter_and_prunes_columns(spark, sf_dir):
    df = relational.q_pricing_summary(spark, sf_dir)
    pushed = explain.pushed_filters(df)
    assert any("l_shipdate" in p for p in pushed), pushed
    schemas = explain.scan_read_schemas(df)
    # scan must read only the 5 referenced columns, not all 11
    assert len(schemas) == 1
    for col in ("l_returnflag", "l_linestatus", "l_quantity"):
        assert col in schemas[0]
    for col in ("l_orderkey", "l_partkey", "l_suppkey", "l_tax"):
        assert col not in schemas[0], schemas[0]


def test_pricing_summary_partial_aggregation(spark, sf_dir):
    """partial (map-side) + final HashAggregate — one shuffle of pre-agg'd
    rows, never raw rows."""
    df = relational.q_pricing_summary(spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan or "Partial" in plan


def test_dim_join_is_broadcast_not_shuffle(spark, sf_dir):
    df = relational.q_dim_join_filter(spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # fact side must not shuffle for the join


def test_alert_join_is_broadcast(spark, sf_dir):
    df = relational.q_ctr_anomaly_df(spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_in_list_filter_reaches_scan(spark, sf_dir):
    df = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select("c_custkey")
    )
    pushed = explain.pushed_filters(df)
    assert any("c_mktsegment" in p and "In" in p for p in pushed), pushed


def test_dedup_operators_never_cartesian(spark, sf_dir):
    """The whole point of LSH/banding: candidate generation must be an
    equi-join on bucket keys — a CartesianProduct (or broadcast NL join)
    anywhere means the O(N²) pair space leaked back in."""
    from admob_data_pipeline_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    for df in (
        dedup.ngram_jaccard_pairs(docs),
        dedup.minhash_lsh_pairs(docs),
        dedup.simhash_pairs(docs),
    ):
        plan = explain.formatted_plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_verifies_before_dedup_shuffle(spark, sf_dir):
    """simhash_pairs must apply the hamming verification map-side and
    only then dedup: the distinct's exchange partitions on the verified
    (a, b, hamming) triple. An exchange carrying sim_a/sim_b means the
    FULL band-collision candidate set is shuffling before the bit_count
    filter — the shape that dies first at corpus scale."""
    from admob_data_pipeline_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    plan = explain.formatted_plan(dedup.simhash_pairs(docs))
    shuffles = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert shuffles, plan
    assert not any("sim_a" in l or "sim_b" in l for l in shuffles), shuffles


def test_topk_uses_limit_not_global_sort(spark, sf_dir):
    """ORDER BY + LIMIT must compile to TakeOrderedAndProject — a
    per-partition top-k + merge, not a full global sort."""
    df = relational.q_top_orders(spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan


def test_pivot_is_single_aggregation_no_distinct_prepass(spark, sf_dir):
    """Declared pivot values must compile to ONE conditional-sum hash
    aggregation; an undeclared pivot runs a distinct-scan of the pivot
    column first (an extra full pass over the fact table at scale)."""
    df = relational.q_pivot_revenue(spark, sf_dir)
    plan = explain.formatted_plan(df)
    # one parquet scan only: an undeclared pivot value list adds a second
    # scan (the distinct pre-pass). Spark's declared pivot is a two-phase
    # aggregation — (key, yr) pre-agg then pivot-first — both over the
    # same single scan, which is the shape we want at scale.
    # formatted output names each node twice (tree + details): 2 mentions
    # per physical scan, so one scan == exactly 2
    assert plan.count("Scan parquet") == 2, plan


def test_semi_join_no_fanout_operators(spark, sf_dir):
    """left_semi must stay a semi join (no fan-out + dedup recovery)."""
    df = relational.q_semi_join(spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_decontaminate_broadcasts_benchmark_grams(spark, sf_dir):
    """The benchmark gram set must broadcast — the training side of a
    decontamination pass must never shuffle for the match."""
    from admob_data_pipeline_spark.operators import corpus

    df = corpus.q_decontaminate(spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "BroadcastHashJoin" in plan


def test_grouping_sets_single_scan_expand(spark, sf_dir):
    """GROUPING SETS must be one scan + Expand + one partial/final
    aggregate — not three separate scans of the fact table."""
    from admob_data_pipeline_spark.plans import analytics_ext

    df = analytics_ext.q_grouping_sets_calendar(spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "Expand" in plan
    # formatted output names each physical scan twice (tree + details)
    assert plan.count("Scan parquet") == 2, plan


def test_bloom_join_filter_reaches_dim_scan(spark, sf_dir):
    """The selective priority/date predicate must reach the orders scan as
    a pushed filter — that's what the runtime bloom filter is built from."""
    from admob_data_pipeline_spark.plans import analytics_ext

    df = analytics_ext.q_bloom_pruned_join(spark, sf_dir)
    pushed = explain.pushed_filters(df)
    assert any("o_orderpriority" in p for p in pushed), pushed


def test_ivf_assignment_is_map_only(spark, sf_dir):
    """Centroid assignment must not materialize the N×C pair space: no
    join/cross-product may appear between the scan and the mapInPandas
    assignment stage (probe/search joins later in the plan are fine and
    must be broadcast)."""
    from admob_data_pipeline_spark.operators import similarity
    from admob_data_pipeline_spark.sources.tables import load_table as lt

    emb = lt(spark, sf_dir, "embeddings")
    assigned = similarity.assign_lists(
        similarity.with_vec(emb)[0],
        similarity.with_vec(emb)[0]
        .where(F.col("vec_id") % 25 == 0)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv")),
    )
    plan = explain.formatted_plan(assigned)
    assert "Join" not in plan and "CartesianProduct" not in plan, plan


def test_pii_redact_is_map_only(spark, sf_dir):
    """The PII scrub must not shuffle: pure projection over the scan."""
    from admob_data_pipeline_spark.operators import text as text_ops

    df = text_ops.q_pii_redact(spark, sf_dir)
    plan = explain.formatted_plan(df)
    # the only exchange allowed is the widen repartition + final sort
    assert plan.count("Exchange hashpartitioning") == 0, plan


def test_sliding_window_single_aggregate(spark, sf_dir):
    """The 7d/1d sliding window must be ONE expand + one aggregate —
    not a self-join per offset."""
    from admob_data_pipeline_spark.plans import analytics_ext

    df = analytics_ext.q_sliding_window_rates(spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert plan.count("Scan parquet") == 2  # one scan (counted twice)
    assert "Join" not in plan, plan


def test_drift_psi_contributions_nonnegative(spark):
    """(p_cur − p_base)·ln(p_cur/p_base) has same-sign factors, so every
    category's PSI contribution is ≥ 0; totals match the category sums."""
    from admob_data_pipeline_spark.plans.analytics_ext import q_drift_psi

    rows = q_drift_psi(spark, "/root/testdata/sf0.001").collect()
    assert rows and all(r.psi_e6 >= 0 for r in rows)
    assert all(r.n_base + r.n_cur > 0 for r in rows)


def test_event_gaps_invariants(spark):
    from admob_data_pipeline_spark.plans.analytics_ext import q_event_gaps

    rows = q_event_gaps(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r.max_gap_us >= 0
        assert 0 <= r.n_long_gaps <= max(r.n_events - 1, 0)
        if r.n_events == 1:
            assert r.max_gap_us == 0 and r.n_long_gaps == 0


def test_benford_audit_shares_sum_to_one(spark):
    from admob_data_pipeline_spark.plans.analytics_ext import (
        BENFORD_PPM,
        q_benford_audit,
    )

    rows = q_benford_audit(spark, "/root/testdata/sf0.001").collect()
    assert {r.digit for r in rows} <= set(range(1, 10))
    assert sum(r.observed_ppm for r in rows) <= 1_000_000  # floor-div shares
    for r in rows:
        assert r.expected_ppm == BENFORD_PPM[r.digit]
        assert r.dev_ppm == r.observed_ppm - r.expected_ppm


def test_jackknife_replicates_bracket_global_mean(spark):
    from admob_data_pipeline_spark.plans.analytics_ext import q_jackknife_replicates
    from admob_data_pipeline_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    reps = q_jackknife_replicates(spark, "/root/testdata/sf0.001").collect()
    o = load_table(spark, "/root/testdata/sf0.001", "orders")
    stats = o.select(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    mean = stats.s / stats.n
    assert sum(r.n_g for r in reps) == stats.n
    assert min(r.loo_mean_cents for r in reps) <= mean <= max(r.loo_mean_cents for r in reps)


def test_theil_sen_is_outlier_robust_and_cusum_finds_shift(spark):
    """Synthetic check via the daily machinery on real data: theil-sen
    returns exactly one row whose rank is the lower median; cusum's flag
    is the day maximizing the division-free deviation."""
    from admob_data_pipeline_spark.plans.analytics_ext import (
        q_cusum_changepoint,
        q_theil_sen_trend,
    )

    ts_rows = q_theil_sen_trend(spark, "/root/testdata/sf0.001").collect()
    assert len(ts_rows) == 1 and ts_rows[0].n_pairs > 0
    cp = q_cusum_changepoint(spark, "/root/testdata/sf0.001").collect()
    assert len(cp) == 1
    assert 1 <= cp[0].cp_index <= cp[0].n_days
    assert cp[0].score_max >= 0


def test_revenue_gini_bounds_and_extremes(spark):
    from pyspark.sql import Row

    from admob_data_pipeline_spark.plans.analytics_ext import q_revenue_gini

    rows = q_revenue_gini(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 1
    assert 0 <= rows[0].gini_ppm < 1_000_000


def test_revenue_gini_survives_bigint_ppm_overflow(spark, tmp_path):
    """r12 regression pin: the rank-weighted sum grows ~n²·x̄, and
    num·1000 crossed 2^63 already at sf0.1 (ArithmeticException under
    the noop sink; the rows-only sweep had pruned the column). The
    moments now ride DECIMAL(38,0) — this fixture makes num·1000
    overflow BIGINT on just three customers and checks the exact
    floor(num·1e6/den) against plain Python integers."""
    from pyspark.sql import Row

    from admob_data_pipeline_spark.plans.analytics_ext import q_revenue_gini

    # integer-valued doubles < 2^53, so floor(price·100) is exact
    prices = [1e10, 5e12, 9e13]
    cents = [int(p) * 100 for p in prices]
    a, b, c = sorted(cents)
    num = 2 * (c - a)  # Σ(2i−n−1)x for n=3 distinct ascending values
    den = 3 * (a + b + c)
    assert num * 1000 > 2**63 - 1  # the old two-stage form overflowed here
    spark.createDataFrame(
        [Row(o_custkey=i + 1, o_totalprice=p) for i, p in enumerate(prices)]
    ).write.parquet(str(tmp_path / "orders.parquet"))
    r = q_revenue_gini(spark, str(tmp_path)).collect()
    assert len(r) == 1
    assert r[0].n_customers == 3
    assert r[0].total_cents == a + b + c
    assert r[0].gini_ppm == num * 1_000_000 // den


def test_rank_sum_auc_bounds_and_symmetry(spark):
    from admob_data_pipeline_spark.plans.analytics_ext import q_rank_sum_test

    r = q_rank_sum_test(spark, "/root/testdata/sf0.001").collect()[0]
    assert r.n1 > 0 and r.n2 > 0
    assert 0 <= r.auc_ppm <= 1_000_000  # AUC ∈ [0, 1]
    assert 0 <= r.u2_stat <= 2 * r.n1 * r.n2  # U ∈ [0, n1·n2], ×2 scale


def test_event_sequences_are_true_trigram_counts(spark):
    from admob_data_pipeline_spark.plans.analytics_ext import q_event_sequences
    from admob_data_pipeline_spark.sources.tables import load_table

    rows = q_event_sequences(spark, "/root/testdata/sf0.001").collect()
    assert rows
    ev = load_table(spark, "/root/testdata/sf0.001", "events").collect()
    by_user = {}
    for e in sorted(ev, key=lambda e: (e.ts, e.event_id)):
        by_user.setdefault(e.user_id, []).append(e.event_type)
    from collections import Counter

    want = Counter()
    for seq in by_user.values():
        for i in range(len(seq) - 2):
            want[tuple(seq[i : i + 3])] += 1
    for r in rows:
        assert want[(r.e1, r.e2, r.e3)] == r.n_occurrences


def test_ks_and_chi_square_invariants(spark):
    from admob_data_pipeline_spark.plans.analytics_ext import (
        q_chi_square,
        q_ks_test,
    )

    ks = q_ks_test(spark, "/root/testdata/sf0.001").collect()[0]
    assert 0 <= ks.ks_ppm <= 1_000_000
    assert 0 <= ks.d_scaled <= ks.n1 * ks.n2
    chi = q_chi_square(spark, "/root/testdata/sf0.001").collect()[0]
    assert chi.chi2_e4 >= -chi.n_cells  # each floored term ≥ -1 only via ulp; sum ≥ -cells
    assert chi.dof > 0 and chi.n_cells > chi.dof


def test_approx_quantile_audit_bounds_hold_across_partitionings(spark):
    from admob_data_pipeline_spark.plans.analytics_ext import q_approx_quantile_audit

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in ("2", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            rows = q_approx_quantile_audit(spark, "/root/testdata/sf0.001").collect()
            assert len(rows) == 4
            assert all(r.approx_in_bounds for r in rows)
            # exact order statistics are partition-independent by construction
            exacts = sorted((r.q_permille, r.exact_value) for r in rows)
            vals = [v for _, v in exacts]
            assert vals == sorted(vals)  # monotone in q
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_cohort_ltv_curves_are_monotone(spark):
    from admob_data_pipeline_spark.plans.analytics_ext import q_cohort_ltv

    rows = q_cohort_ltv(spark, "/root/testdata/sf0.001").collect()
    assert rows
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r.cohort_m, []).append((r.age_months, r.cum_value_milli))
    for pts in by_cohort.values():
        pts.sort()
        vals = [v for _, v in pts]
        assert vals == sorted(vals)  # cumulative LTV never decreases


def test_assortativity_reads_edges_from_checkpoint(spark, sf_dir):
    """The co-purchase edge derivation must be materialized ONCE: the
    degree/adjacency branches re-plan their whole input subtree, and
    without the checkpoint this query's final plan held 12 parquet scans
    of lineitem (measured round 4). Zero scans = every branch reads the
    checkpointed edge list."""
    from admob_data_pipeline_spark.operators import graph

    df = graph.q_degree_assortativity(spark, sf_dir)
    assert explain.formatted_plan(df).count("Scan parquet") == 0


def test_attribution_linear_conserves_every_micro(spark, sf_dir):
    """Largest-remainder splitting must conserve money exactly: summing
    credit_micros over ALL rows (attributed + unattributed) equals the
    sum of floor(value*1e6) over purchases — no lost or invented micros."""
    from pyspark.sql import functions as F

    from admob_data_pipeline_spark.plans.analytics_ext import (
        q_attribution_linear,
    )
    from admob_data_pipeline_spark.sources.tables import load_table

    out = q_attribution_linear(spark, sf_dir)
    credited = out.agg(F.sum("credit_micros")).first()[0]
    purchases = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .agg(F.sum(F.floor(F.col("value") * 1e6).cast("long")))
        .first()[0]
    )
    assert credited == purchases


def test_attribution_linear_conserves_negative_refund_micros(spark):
    """Sign-safe split: a refund purchase (negative value) with a touch
    count that does not divide it must STILL conserve every micro —
    plain truncating DIV/% drops the remainder on negatives."""
    import datetime

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from admob_data_pipeline_spark.plans.analytics_ext import (
        attribution_linear,
    )

    t0 = datetime.datetime(2024, 1, 10, 12, 0, 0)
    ev = spark.createDataFrame(
        [
            Row(event_id=1, ts=t0, user_id=7, event_type="view", value=0.0, props="{}"),
            Row(event_id=2, ts=t0 + datetime.timedelta(hours=1), user_id=7,
                event_type="click", value=0.0, props="{}"),
            # earn = floor(-7e-6 * 1e6) = -7, split across 2 touches
            Row(event_id=3, ts=t0 + datetime.timedelta(hours=2), user_id=7,
                event_type="purchase", value=-7e-6, props="{}"),
        ]
    )
    out = attribution_linear(ev)
    total = out.agg(F.sum("credit_micros")).first()[0]
    assert total == -7
    # earliest touch takes the remainder micro: r = pmod(-7, 2) = 1,
    # q = (-7 - 1) / 2 = -4 → credits (-3, -4)
    rows = {r.touch_type: r.credit_micros for r in out.collect()}
    assert rows == {"view": -3, "click": -4}


def test_attribution_split_grid_conserves_and_balances(spark):
    """Conservation across a sign/remainder grid: with one purchase per
    user and every (earn, n_touches) combination — negative, zero, and
    positive earns, dividing and non-dividing touch counts — the summed
    credits must equal the summed purchase micros exactly."""
    import datetime

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from admob_data_pipeline_spark.plans.analytics_ext import (
        attribution_linear,
    )

    t0 = datetime.datetime(2024, 1, 10, 12, 0, 0)
    rows, eid = [], 0
    cases = [(-1, 3), (-7, 2), (-1000001, 7), (0, 2), (1, 3), (7, 2),
             (999999, 4), (5, 5)]
    for u, (earn_micros, n_touch) in enumerate(cases):
        for i in range(n_touch):
            eid += 1
            rows.append(Row(event_id=eid, ts=t0 + datetime.timedelta(minutes=i),
                            user_id=u, event_type="view", value=0.0, props="{}"))
        eid += 1
        rows.append(Row(event_id=eid, ts=t0 + datetime.timedelta(hours=1),
                        user_id=u, event_type="purchase",
                        value=earn_micros / 1e6, props="{}"))
    ev = spark.createDataFrame(rows)
    # run the pipeline at per-touch grain by grouping back per user: one
    # purchase per user, all on one day, so (day, touch_type) rolls all
    # users together — instead check global conservation and per-user
    # split balance via the raw events
    out = attribution_linear(ev)
    total = out.agg(F.sum("credit_micros")).first()[0]
    import math

    # floor(value*1e6) on the double round-trips exactly at these magnitudes
    expect = sum(math.floor((e / 1e6) * 1e6) for e, _ in cases)
    assert total == expect


def test_attribution_salted_matches_linear_and_joins_on_salt(spark, sf_dir):
    """The skew-salted pair join must (a) produce byte-identical output
    to attribution_linear and (b) actually carry the salt in the join
    key (the whole point — subdividing the hot user_id key)."""
    from pyspark.sql import functions as F

    from admob_data_pipeline_spark.plans.analytics_ext import (
        q_attribution_linear,
        q_attribution_salted,
    )

    lin = q_attribution_linear(spark, sf_dir)
    sal = q_attribution_salted(spark, sf_dir)
    assert sal.collect() == lin.collect()
    plan = sal._jdf.queryExecution().executedPlan().toString()
    join_lines = [l for l in plan.splitlines() if "Join" in l]
    assert any("salt" in l for l in join_lines), join_lines


def test_attribution_weighted_models_conserve_on_the_same_grid(spark):
    """The position-based and time-decay models run the SAME sign/
    remainder grid as linear (negative/zero/positive earns, dividing and
    non-dividing touch counts — n=5 exercises the n>=3 U-shape weights
    and 5-day decay spreads) and must conserve every micro: the weighted
    largest-remainder core's leftover distribution is exact for any
    integer weight vector."""
    import datetime
    import math

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from admob_data_pipeline_spark.plans.analytics_ext import (
        q_attribution_position,
        q_attribution_timedecay,
    )

    t0 = datetime.datetime(2024, 1, 10, 12, 0, 0)
    rows, eid = [], 0
    cases = [(-1, 3), (-7, 2), (-1000001, 7), (0, 2), (1, 3), (7, 2),
             (999999, 4), (5, 5), (41, 1), (-13, 5)]
    for u, (earn_micros, n_touch) in enumerate(cases):
        for i in range(n_touch):
            eid += 1
            # spread touches across DAYS so time-decay weights differ
            rows.append(Row(event_id=eid,
                            ts=t0 - datetime.timedelta(days=i, minutes=i),
                            user_id=u, event_type="view", value=0.0,
                            props="{}"))
        eid += 1
        rows.append(Row(event_id=eid, ts=t0 + datetime.timedelta(hours=1),
                        user_id=u, event_type="purchase",
                        value=earn_micros / 1e6, props="{}"))
    ev = spark.createDataFrame(rows)
    expect = sum(math.floor((e / 1e6) * 1e6) for e, _ in cases)

    import admob_data_pipeline_spark.plans.analytics_ext as ax

    for q in (q_attribution_position, q_attribution_timedecay):
        orig = ax.load_table
        ax.load_table = lambda s, sf, name: ev
        try:
            out = q(spark, "ignored")
        finally:
            ax.load_table = orig
        total = out.agg(F.sum("credit_micros")).first()[0]
        assert total == expect, q.__name__


def test_attribution_decay_sweep_conserves_at_every_half_life(spark, sf_dir):
    """Each half-life row set of the sweep must independently conserve
    all purchase micros — the integer weight tables differ per h but the
    largest-remainder core is exact for any of them."""
    from pyspark.sql import functions as F

    from admob_data_pipeline_spark.plans.analytics_ext import (
        ATTR_DECAY_HALF_LIVES,
        q_attribution_decay_sweep,
    )
    from admob_data_pipeline_spark.sources.tables import load_table

    out = q_attribution_decay_sweep(spark, sf_dir)
    per_h = {
        r.half_life_days: r.total
        for r in out.groupBy("half_life_days")
        .agg(F.sum("credit_micros").alias("total"))
        .collect()
    }
    purchases = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .agg(F.sum(F.floor(F.col("value") * 1e6).cast("long")))
        .first()[0]
    )
    assert set(per_h) == set(ATTR_DECAY_HALF_LIVES)
    assert all(v == purchases for v in per_h.values()), per_h


def test_attribution_position_u_shape_is_exactly_40_20_40(spark):
    """With n>=3 touches and an earn divisible by 5, the first and last
    positions take exactly 40% each and the middle pool exactly 20% —
    the integer-weight construction (2(n-2)/5(n-2)) makes the split
    exact, not approximate."""
    import datetime

    from pyspark.sql import Row

    import admob_data_pipeline_spark.plans.analytics_ext as ax

    t0 = datetime.datetime(2024, 1, 10, 12, 0, 0)
    rows = [
        Row(event_id=i + 1, ts=t0 + datetime.timedelta(minutes=i),
            user_id=1, event_type="view", value=0.0, props="{}")
        for i in range(5)
    ]
    rows.append(Row(event_id=9, ts=t0 + datetime.timedelta(hours=1),
                    user_id=1, event_type="purchase", value=1.0, props="{}"))
    ev = spark.createDataFrame(rows)
    orig = ax.load_table
    ax.load_table = lambda s, sf, name: ev
    try:
        out = {r.position: r.credit_micros
               for r in ax.q_attribution_position(spark, "ignored").collect()}
    finally:
        ax.load_table = orig
    assert out == {"first": 400000, "last": 400000, "middle": 200000}


def test_attribution_timedecay_halves_per_day(spark):
    """Two touches one day apart: the fresher touch must take exactly
    2/3 of the purchase (weights 2:1), remainder micro to the larger
    remainder — pinning the 1-day half-life semantics."""
    import datetime

    from pyspark.sql import Row

    import admob_data_pipeline_spark.plans.analytics_ext as ax

    t0 = datetime.datetime(2024, 1, 10, 12, 0, 0)
    ev = spark.createDataFrame([
        Row(event_id=1, ts=t0 - datetime.timedelta(days=1), user_id=1,
            event_type="view", value=0.0, props="{}"),
        Row(event_id=2, ts=t0, user_id=1,
            event_type="click", value=0.0, props="{}"),
        Row(event_id=3, ts=t0 + datetime.timedelta(hours=1), user_id=1,
            event_type="purchase", value=0.000003, props="{}"),
    ])
    orig = ax.load_table
    ax.load_table = lambda s, sf, name: ev
    try:
        out = {r.touch_type: r.credit_micros
               for r in ax.q_attribution_timedecay(spark, "ignored").collect()}
    finally:
        ax.load_table = orig
    # earn=3; same-day click w=128, day-old view w=64, W=192:
    # click base = (3*128 - pmod(384,192)) / 192 = 2, view base = 1,
    # remainders both 0 → exact 2:1 split
    assert out == {"click": 2, "view": 1}


def test_ivm_join_delta_quadrants_all_load_bearing(spark, sf_dir):
    """Each of the four join quadrants (old⋈old stored state + the three
    delta terms, including the ΔA⋈ΔB cross term naive maintenance drops)
    must be non-empty at test SF, and the maintained view must equal the
    from-scratch recompute row-for-row on Spark alone."""
    from pyspark.sql import functions as F

    from admob_data_pipeline_spark.plans.analytics_ext import (
        IVM_MOD_L,
        IVM_MOD_O,
        _rev_cents,
        q_ivm_join_delta,
    )
    from admob_data_pipeline_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        (F.col("o_orderkey") % IVM_MOD_O == 0).alias("o_new"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", _rev_cents().alias("rev_c"),
        ((F.col("l_orderkey") + F.col("l_linenumber")) % IVM_MOD_L == 0).alias("l_new"),
    )
    j = o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
    quad = {
        (r.o_new, r.l_new): r.n
        for r in j.groupBy("o_new", "l_new").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for q in [(False, False), (True, False), (False, True), (True, True)]:
        assert quad.get(q, 0) > 0, f"empty quadrant {q}: delta term untested"

    direct = (
        j.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_items"), F.sum("rev_c").alias("revenue_cents"))
        .orderBy("o_custkey")
        .collect()
    )
    maintained = q_ivm_join_delta(spark, sf_dir).collect()
    assert [tuple(r) for r in maintained] == [tuple(r) for r in direct]


def test_skew_audit_invariants(spark, sf_dir):
    from admob_data_pipeline_spark.plans.analytics_ext import q_skew_audit

    rows = q_skew_audit(spark, sf_dir).collect()
    assert 0 < len(rows) <= 10
    counts = [r.n_events for r in rows]
    assert counts == sorted(counts, reverse=True)
    ratios = [r.skew_ratio_x1000 for r in rows]
    # ratio is monotone in n_events (same total/n_keys scaling), and the
    # synthetic events keys are near-uniform so the hot keys sit near the
    # mean — ~1.0x, never orders of magnitude — but must stay positive
    assert ratios == sorted(ratios, reverse=True)
    for r in rows:
        assert 0 <= r.share_ppm <= 1_000_000
        assert r.skew_ratio_x1000 > 0


def test_embedding_drift_psi_counts_partition_the_corpus(spark, sf_dir):
    from admob_data_pipeline_spark.plans.analytics_ext import (
        EMB_DRIFT_PLANES,
        q_embedding_drift_psi,
    )
    from admob_data_pipeline_spark.sources.tables import load_table

    rows = q_embedding_drift_psi(spark, sf_dir).collect()
    assert 0 < len(rows) <= 2 ** EMB_DRIFT_PLANES
    n = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r.n_base + r.n_cur for r in rows) == n
    # PSI contributions are >= 0 up to the e6 floor (each term is
    # (p-q)ln(p/q) >= 0); the floor can push a tiny term to -1 at most
    assert all(r.psi_e6 >= -1 for r in rows)


def test_lateral_topk_decorrelates_to_window_group_limit(spark, sf_dir):
    """The LATERAL ORDER BY..LIMIT subquery must decorrelate into
    WindowGroupLimit (partial per-partition top-k before the shuffle) —
    a per-customer nested loop (CartesianProduct / BroadcastNL) here
    would be the non-scalable plan. Result-side: at most N rows per
    customer, each customer's rows sorted by price."""
    from admob_data_pipeline_spark.plans.analytics_ext import (
        LATERAL_TOP_N,
        q_lateral_top_orders,
    )

    df = q_lateral_top_orders(spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan
    per: dict[int, list[int]] = {}
    for r in df.collect():
        per.setdefault(r.c_custkey, []).append(r.price_cents)
    assert per
    for prices in per.values():
        assert len(prices) <= LATERAL_TOP_N
        assert prices == sorted(prices, reverse=True)


def test_embedding_decontaminate_flags_are_sound(spark, sf_dir):
    from admob_data_pipeline_spark.operators.similarity import (
        EMB_DECON_MOD,
        EMB_DECON_TAU,
        q_embedding_decontaminate,
    )
    from admob_data_pipeline_spark.sources.tables import load_table

    rows = q_embedding_decontaminate(spark, sf_dir).collect()
    assert rows, "no semantic contamination flagged: threshold vacuous"
    n_bench = (
        load_table(spark, sf_dir, "embeddings")
        .where(f"vec_id % {EMB_DECON_MOD} = 0")
        .count()
    )
    for r in rows:
        assert r.vec_id % EMB_DECON_MOD != 0  # bench never flags itself
        assert 1 <= r.n_bench_hits <= n_bench
        assert r.max_cos >= EMB_DECON_TAU


def test_interval_overlap_join_is_bucketed_not_cartesian(spark, sf_dir):
    """The overlap join must meet on the hour-bucket EQUI-join — a raw
    theta join would plan as a nested-loop product. Result invariants:
    overlap_us >= 0 (the residual filter admits touching intervals),
    and every pair's session start must be a real sessionize_batch
    session start (shared _session_rows labeling)."""
    from admob_data_pipeline_spark.plans.analytics_ext import (
        q_interval_overlap_join,
    )
    from admob_data_pipeline_spark.streaming.alerts import sessionize_batch
    from admob_data_pipeline_spark.sources.tables import load_table

    df = q_interval_overlap_join(spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    rows = df.collect()
    assert rows
    starts = {
        (r.user_id, r.session_start_epoch)
        for r in sessionize_batch(load_table(spark, sf_dir, "events")).collect()
    }
    for r in rows[:500]:
        assert r.overlap_us >= 0
        assert (r.user_id, r.s_start_us // 1_000_000) in starts


def test_ivm_retract_group_elimination_is_load_bearing(spark, sf_dir):
    """The retraction query's HAVING must actually remove groups at
    test SF: the stored view has groups fully deleted by the retract
    batch (no resurrecting inserts), and none of them appears in the
    maintained output — a zombie zero-count group fails here even if
    the value hash happens to collide."""
    from pyspark.sql import functions as F

    from admob_data_pipeline_spark.plans.analytics_ext import (
        q_ivm_retract_delta,
    )
    from admob_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"), "event_type"
    )
    grp_del = (F.dayofmonth("day") + F.length("event_type")) % 3 == 0
    eliminated = {
        (r.day, r.event_type)
        for r in ev.where(grp_del).select("day", "event_type").distinct().collect()
    }
    assert eliminated, "fixture produced no deleted groups: HAVING untested"
    out = {
        (r.day, r.event_type)
        for r in q_ivm_retract_delta(spark, sf_dir).collect()
    }
    assert out and not (out & eliminated)
