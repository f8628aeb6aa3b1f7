"""Similarity-search properties: exactness of brute force, measured recall
of the LSH path, cosine identities."""

from __future__ import annotations

from pyspark.sql import Row

from admob_data_pipeline_spark.operators import similarity
from admob_data_pipeline_spark.plans.explain import formatted_plan
from admob_data_pipeline_spark.sources.tables import load_table


def _emb(spark, vecs):
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v], label=0) for i, v in enumerate(vecs)]
    )


def test_cosine_identity_and_orthogonal(spark):
    d = _emb(spark, [[1, 0], [2, 0], [0, 3]])
    top = similarity.topk_bruteforce(d, [0], k=2).collect()
    assert [(r.vec_id, r.cos_sim) for r in top] == [(1, 1.0), (2, 0.0)]


def test_lsh_is_subset_with_measured_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qids = similarity.QUERY_IDS
    brute = {
        (r.qid, r.vec_id) for r in similarity.topk_bruteforce(emb, qids).collect()
    }
    lsh_rows = similarity.topk_lsh(emb, qids).collect()
    # every LSH hit must be a real vector pair with correctly-ranked cosine
    # within its bucket; recall vs brute force is < 1 by design — just
    # require the approximation finds a nonzero share of true neighbors.
    lsh = {(r.qid, r.vec_id) for r in lsh_rows}
    assert lsh  # non-empty
    # 500 near-orthogonal vectors over 2^8 buckets ≈ 2 candidates/bucket:
    # recall is structurally low at this density (grows with N per bucket).
    recall = len(lsh & brute) / len(brute)
    assert recall > 0, f"sign-LSH recall collapsed: {recall}"


def test_neardup_blocked_bit_identical_to_rowwise(spark, sf_dir):
    """The blocked numpy formulation must reproduce the row-wise fold plan
    exactly (same per-dimension summation order → same doubles)."""
    emb = load_table(spark, sf_dir, "embeddings")
    rowwise = {(r.a, r.b): r.cos_sim for r in similarity.neardup_pairs(emb).collect()}
    blocked = {
        (r.a, r.b): r.cos_sim
        for r in similarity.neardup_pairs_blocked(emb).collect()
    }
    assert rowwise == blocked


def test_ivf_with_trained_kmeans_centroids(spark, sf_dir):
    """The k-means trainer plugs into the identical search plan; trained
    lists should recall a reasonable share of true neighbors (and strictly
    more than chance) while probing only nprobe/k of the data."""
    emb = load_table(spark, sf_dir, "embeddings")
    qids = similarity.QUERY_IDS
    cents = similarity.train_kmeans_centroids(emb, n_clusters=10)
    assert cents.columns == ["cid", "cv"] and cents.count() == 10
    got = similarity.topk_ivf(emb, qids, nprobe=3, centroids=cents).collect()
    brute = {
        (r.qid, r.vec_id) for r in similarity.topk_bruteforce(emb, qids).collect()
    }
    hits = {(r.qid, r.vec_id) for r in got}
    assert hits, "trained-IVF returned no candidates"
    recall = len(hits & brute) / len(brute)
    # 10 lists, 3 probed → ~30% of data scanned; near-orthogonal synthetic
    # vectors make lists weakly informative, so require better-than-nothing
    # recall, and exact per-query ranking within the probed candidate set.
    assert recall > 0, f"trained-IVF recall collapsed: {recall}"
    for r in got:
        assert 1 <= r.rank <= similarity.DEFAULT_K


def test_neardup_lsh_subset_of_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {(r.a, r.b) for r in similarity.neardup_pairs(emb).collect()}
    approx = {(r.a, r.b) for r in similarity.neardup_pairs(emb, lsh=True).collect()}
    assert approx <= exact


def test_pq_adc_consistent_with_codes(spark, sf_dir):
    """ADC search must rank by the SAME distances the quantizer reports:
    a candidate's ADC distance to itself-as-query equals its own
    reconstruction error (the LUT rows its codes select are exactly the
    per-slot best distances summed)."""
    emb = load_table(spark, sf_dir, "embeddings")
    got = similarity.pq_adc_topk(emb, similarity.QUERY_IDS).collect()
    assert len(got) == len(similarity.QUERY_IDS) * similarity.DEFAULT_K
    by_q = {}
    for r in got:
        assert r.vec_id != r.qid
        by_q.setdefault(r.qid, []).append((r.rank, r.adc_e6))
    for q, rows in by_q.items():
        rows.sort()
        ranks = [r for r, _ in rows]
        dists = [d for _, d in rows]
        assert ranks == list(range(1, similarity.DEFAULT_K + 1))
        assert dists == sorted(dists), f"ADC ranks out of distance order for qid={q}"


def test_ann_recall_audit_bounds(spark, sf_dir):
    from admob_data_pipeline_spark.operators.similarity import q_ann_recall_audit

    rows = q_ann_recall_audit(spark, sf_dir).collect()
    assert len(rows) == 8
    for r in rows:
        assert 0 <= r.n_hits <= r.n_exact
        assert r.recall_ppm == r.n_hits * 1_000_000 // r.n_exact


def test_ivfpq_is_adc_restricted_to_probed_lists(spark, sf_dir):
    """IVF-PQ results must be a per-query prefix of full-corpus ADC
    ranking restricted to the probed candidate set: every returned
    neighbor's ADC distance appears in the full ADC table with the same
    value, and ranks are 1..k in distance order."""
    emb = load_table(spark, sf_dir, "embeddings")
    qids = similarity.QUERY_IDS
    full = {
        (r.qid, r.vec_id): r.adc_e6
        for r in similarity.pq_adc_topk(emb, qids, k=10**6).collect()
    }
    got = similarity.ivfpq_topk(emb, qids).collect()
    assert len(got) == len(qids) * similarity.DEFAULT_K
    for r in got:
        assert full[(r.qid, r.vec_id)] == r.adc_e6
    by_q = {}
    for r in got:
        by_q.setdefault(r.qid, []).append((r.rank, r.adc_e6))
    for rows in by_q.values():
        rows.sort()
        assert [d for _, d in rows] == sorted(d for _, d in rows)


def test_dim_stats_flags_dead_dimension(spark):
    from pyspark.sql import Row

    from admob_data_pipeline_spark.operators.similarity import dim_stats

    emb = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, 0.0, 0.5], label=0),
            Row(vec_id=1, embedding=[-1.0, 0.0, 0.5], label=0),
        ]
    )
    rows = {r.dim: r for r in dim_stats(emb).collect()}
    assert rows[2].n_zero == 2 and rows[2].mean == 0.0 and rows[2].ex2 == 0.0
    assert rows[1].mean == 0.0 and rows[1].ex2 > 0  # alive: variance survives
    assert rows[3].x_min == 0.5 and rows[3].x_max == 0.5


def test_hard_negatives_are_cross_label_and_ranked(spark, sf_dir):
    from admob_data_pipeline_spark.operators.similarity import (
        QUERY_IDS,
        hard_negatives,
    )
    from admob_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    rows = hard_negatives(emb, QUERY_IDS).collect()
    assert rows
    by_anchor = {}
    for r in rows:
        assert r.label != labels[r.qid]        # negatives only
        assert r.vec_id != r.qid
        by_anchor.setdefault(r.qid, []).append(r)
    for qid, rs in by_anchor.items():
        assert [r.neg_rank for r in rs] == list(range(1, len(rs) + 1))
        sims = [r.cos_sim for r in rs]
        assert sims == sorted(sims, reverse=True)  # hardest first


def test_label_noise_flags_planted_mislabel(spark):
    """Three tight same-label clusters + one vector mislabeled inside a
    cluster: the audit must flag exactly the planted one."""
    import math

    from pyspark.sql import Row

    from admob_data_pipeline_spark.operators.similarity import label_noise_audit

    def vec(base, eps):
        v = [x + eps for x in base]
        return v

    rows = []
    a, b = [1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]
    for i in range(4):
        rows.append(Row(vec_id=i, embedding=vec(a, i * 0.01), label=0))
    for i in range(4, 8):
        rows.append(Row(vec_id=i, embedding=vec(b, (i - 4) * 0.01), label=1))
    rows.append(Row(vec_id=8, embedding=vec(a, 0.02), label=1))  # planted noise
    emb = spark.createDataFrame(rows)
    got = {r.vec_id: r for r in label_noise_audit(emb, n_planes=2).collect()}
    assert got[8].flagged and got[8].majority_label == 0
    assert not any(got[i].flagged for i in range(8))


def test_standardize_zero_mean_unit_variance(spark):
    from pyspark.sql import Row
    from admob_data_pipeline_spark.operators.similarity import embedding_standardize

    # dim 1 spread, dim 2 constant (zero variance -> z = 0)
    rows = [Row(vec_id=i, embedding=[float(i) / 10 - 0.25, 0.125], label=0) for i in range(6)]
    out = embedding_standardize(spark.createDataFrame(rows)).collect()
    d1 = [r.z_e4 for r in out if r.dim == 1]
    d2 = [r.z_e4 for r in out if r.dim == 2]
    assert all(z == 0 for z in d2)
    # zero mean (floor-scaled sum within rounding of 0) and unit spread
    assert abs(sum(d1)) <= len(d1)  # each floor loses < 1 ulp of e4
    var = sum(z * z for z in d1) / len(d1)
    assert 0.9 * 10_000**2 < var < 1.1 * 10_000**2


def test_standardize_partition_invariance(spark, sf_dir):
    from admob_data_pipeline_spark.sources.tables import load_table
    from admob_data_pipeline_spark.operators.similarity import embedding_standardize

    emb = load_table(spark, sf_dir, "embeddings").limit(100)
    a = embedding_standardize(emb.repartition(2)).collect()
    b = embedding_standardize(emb.repartition(32)).collect()
    assert a == b


def test_covariance_diagonal_matches_dim_moments(spark):
    from pyspark.sql import Row
    from admob_data_pipeline_spark.operators.similarity import (
        COV_SCALE,
        embedding_covariance,
    )

    vecs = [[0.1, -0.2, 0.3], [0.0, 0.25, -0.1], [0.4, 0.1, 0.2]]
    rows = [Row(vec_id=i, embedding=v, label=0) for i, v in enumerate(vecs)]
    out = {(r.i, r.j): r for r in embedding_covariance(spark.createDataFrame(rows)).collect()}
    import math

    xs = [[math.floor(x * COV_SCALE) for x in v] for v in vecs]
    # hand-check diagonal and one off-diagonal cell
    assert out[(1, 1)].sxy == sum(v[0] * v[0] for v in xs)
    assert out[(1, 2)].sxy == sum(v[0] * v[1] for v in xs)
    assert out[(1, 2)].sx == sum(v[0] for v in xs)
    assert out[(1, 2)].sy == sum(v[1] for v in xs)
    assert len(out) == 6  # upper triangle of 3x3


def test_random_projection_seeded_and_linear(spark):
    from pyspark.sql import Row
    from admob_data_pipeline_spark.operators.similarity import (
        embedding_random_projection,
    )

    rows = [Row(vec_id=i, embedding=[0.1 * i, -0.2, 0.05 * i], label=0)
            for i in range(5)]
    df = spark.createDataFrame(rows)
    a = [(r.vec_id, r.r, r.proj) for r in embedding_random_projection(df).collect()]
    b = [(r.vec_id, r.r, r.proj) for r in embedding_random_projection(df).collect()]
    assert a == b  # seeded determinism
    # the zero vector projects to ~zero in every direction
    z = embedding_random_projection(
        spark.createDataFrame([Row(vec_id=0, embedding=[0.0, 0.0, 0.0], label=0)])
    ).collect()
    assert all(r.proj == 0 for r in z)
    # different seed -> different sketch
    c = [(r.vec_id, r.r, r.proj)
         for r in embedding_random_projection(df, seed="other").collect()]
    assert a != c


def test_coreset_picks_extremes_first(spark):
    from pyspark.sql import Row
    from admob_data_pipeline_spark.operators.similarity import coreset_kcenter

    # three tight clusters; greedy must visit all three clusters within
    # the first three picks (farthest-point guarantees cluster coverage)
    vecs = (
        [(i, [0.0, 0.0]) for i in range(5)]
        + [(10 + i, [1.0, 1.0]) for i in range(5)]
        + [(20 + i, [-1.0, 1.0]) for i in range(5)]
    )
    rows = [Row(vec_id=i, embedding=v, label=0) for i, v in vecs]
    out = coreset_kcenter(spark.createDataFrame(rows), k=3).collect()
    clusters = {r.vec_id // 10 for r in out}
    assert clusters == {0, 1, 2}
    # radius sequence is non-increasing after the seed
    d2s = [r.d2 for r in out][1:]
    assert all(a >= b for a, b in zip(d2s, d2s[1:]))


def test_coreset_never_reselects_a_center(spark):
    from pyspark.sql import Row
    from admob_data_pipeline_spark.operators.similarity import coreset_kcenter

    # all-identical vectors: every post-seed dmin is 0; picks must still
    # be DISTINCT points, not the seed repeated
    rows = [Row(vec_id=i, embedding=[0.5, 0.5], label=0) for i in range(4)]
    out = coreset_kcenter(spark.createDataFrame(rows), k=3).collect()
    ids = [r.vec_id for r in out]
    assert len(ids) == len(set(ids)) == 3
    assert all(r.d2 == 0 for r in out[1:])


def test_kmeans_separates_planted_clusters(spark):
    from pyspark.sql import Row
    from admob_data_pipeline_spark.operators.similarity import kmeans_lloyd

    # two tight planted clusters, k=2 -> memberships 10/10 and near-zero
    # within-cluster inertia relative to the cluster separation
    rows = [Row(vec_id=i, embedding=[0.01 * (i % 3), 0.0], label=0) for i in range(10)]
    rows += [Row(vec_id=100 + i, embedding=[1.0 + 0.01 * (i % 3), 1.0], label=0)
             for i in range(10)]
    out = kmeans_lloyd(spark.createDataFrame(rows), k=2).collect()
    assert sorted(r.n_members for r in out) == [10, 10]
    # inertia per cluster is bounded by the tiny intra-cluster jitter
    assert all(r.inertia < 10 * (3 * 100) ** 2 for r in out)


def test_kmeans_partition_invariance(spark, sf_dir):
    from admob_data_pipeline_spark.sources.tables import load_table
    from admob_data_pipeline_spark.operators.similarity import kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings").limit(120)
    a = kmeans_lloyd(emb.repartition(2)).collect()
    b = kmeans_lloyd(emb.repartition(32)).collect()
    assert a == b


def _py_knn_edges(vecs, k, n_tables, planes, budget=0):
    """Pure-python reference of the multi-table, GLOBAL-budget-probed
    LSH k-NN graph: query i's candidate buckets are its base bucket per
    table plus ``budget`` single-bit flips of its globally
    lowest-|coordinate| bits across ALL tables (ties → lowest flat
    index; out-of-range margins are 1e308, matching the engines'
    COALESCE); candidates j are matched on their BASE (table, bucket)
    only (asymmetric probing, query side)."""
    import math

    def table_bucket(v, t):
        return "".join(
            "1" if (t * planes + j < len(v) and v[t * planes + j] >= 0) else "0"
            for j in range(planes)
        )

    def query_buckets(v):
        out = {(t, table_bucket(v, t)) for t in range(n_tables)}
        margins = sorted(
            (abs(v[fi]) if fi < len(v) else 1e308, fi)
            for fi in range(n_tables * planes)
        )
        for _, fi in margins[:budget]:
            t, j = divmod(fi, planes)
            bits = list(table_bucket(v, t))
            bits[j] = "0" if bits[j] == "1" else "1"
            out.add((t, "".join(bits)))
        return out

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(dot / (na * nb), 6)

    expect = []
    for i, vi in enumerate(vecs):
        qb = query_buckets(vi)
        mates = {
            j
            for t in range(n_tables)
            for j, vj in enumerate(vecs)
            if j != i and (t, table_bucket(vj, t)) in qb
        }
        ranked = sorted((-cos(vi, vecs[j]), j) for j in mates)
        for rank, (_, j) in enumerate(ranked[:k], start=1):
            expect.append((i, rank, j))
    return expect


def test_knn_graph_matches_per_bucket_reference(spark):
    """Single-table mode: knn_graph = per-node top-k among SIGN-BUCKET
    mates — verify edges, ordering, and the k cap against a pure-python
    reference on a small set with known bucket structure."""
    vecs = [
        [1.0, 1.0, 0.5, 0.2],
        [1.0, 0.9, 0.4, 0.1],
        [0.9, 1.0, 0.6, 0.3],
        [-1.0, -1.0, -0.5, -0.2],
        [-1.0, -0.8, -0.4, -0.1],
        [1.0, -1.0, 0.5, -0.2],
    ]
    d = _emb(spark, vecs)
    got = [
        (r.src, r.rank, r.dst)
        for r in similarity.knn_graph(
            d, k=2, n_tables=1, planes_per_table=4, probe_budget=1
        ).collect()
    ]
    assert sorted(got) == sorted(_py_knn_edges(vecs, 2, 1, 4, budget=1))


def test_knn_graph_multi_table_unions_candidates(spark):
    """OR-construction semantics: a pair colliding only in table 2 still
    produces an edge; a pair colliding in BOTH tables produces exactly
    one edge (dedup before the top-k window)."""
    # table 0 = signs of coords [0,1], table 1 = signs of coords [2,3]
    vecs = [
        [1.0, 1.0, 1.0, 1.0],    # t0 bucket 11, t1 bucket 11
        [1.0, 1.0, 0.9, 0.8],    # collides with 0 in BOTH tables
        [-1.0, -1.0, 0.5, 0.3],  # t0 bucket 00, t1 bucket 11 → only t1 collides with 0
        [-1.0, -0.9, -1.0, -1.0],  # collides with 2 in t0 only
    ]
    d = _emb(spark, vecs)
    got = [
        (r.src, r.rank, r.dst)
        for r in similarity.knn_graph(
            d, k=3, n_tables=2, planes_per_table=2, probe_budget=1
        ).collect()
    ]
    expect = _py_knn_edges(vecs, 3, 2, 2, budget=1)
    assert sorted(got) == sorted(expect)
    # pair (0,1) collides in both tables but appears exactly once per
    # direction; pair (0,2) collides only in table 1 and IS an edge
    srcs_dsts = [(s, t) for (s, _, t) in got]
    assert srcs_dsts.count((0, 1)) == 1
    assert (0, 2) in srcs_dsts


def test_knn_graph_degrades_past_the_vector_width(spark):
    """Tables whose coordinate block lies past the embedding width must
    degrade to constant '0' bits (try_element_at), NOT throw under ANSI
    mode — the contract that makes "raise n_tables" a safe recall lever
    on any embedding width. 2-dim vectors with 2 tables × 2 planes:
    table 1 reads coords [3,4], entirely out of range."""
    vecs = [
        [1.0, 1.0],
        [1.0, 0.9],
        [-1.0, -1.0],
        [1.0, -0.5],
    ]
    d = _emb(spark, vecs)
    got = [
        (r.src, r.rank, r.dst)
        for r in similarity.knn_graph(
            d, k=2, n_tables=2, planes_per_table=2, probe_budget=1
        ).collect()
    ]
    # the python reference treats missing coords as '0' bits — table 1
    # therefore buckets EVERY vector together (all-'0' block); its
    # margins are all 1e308, so the global budget spends the flip on a
    # REAL coordinate (the smallest in-range |margin|) on both the
    # engines and the reference
    assert sorted(got) == sorted(_py_knn_edges(vecs, 2, 2, 2, budget=1))


def test_knn_graph_multiprobe_flips_lowest_margin_bit(spark):
    """Probe semantics: a pair whose buckets differ in exactly the
    query's lowest-|coordinate| bit becomes a candidate with budget=1
    but NOT with budget=0, and probing is ASYMMETRIC (query side only) —
    x probing into y's bucket does not imply y probes into x's."""
    vecs = [
        [0.05, 1.0, 1.0, 1.0],   # bucket 1111, weakest bit 0 → probe 0111
        [-0.05, 0.9, 0.9, 0.9],  # bucket 0111, weakest bit 0 → probe 1111
        [1.0, 1.0, -0.05, 1.0],  # bucket 1101, weakest bit 2 → probe 1111
    ]
    d = _emb(spark, vecs)

    def edges(budget):
        return sorted(
            (r.src, r.rank, r.dst)
            for r in similarity.knn_graph(
                d, k=3, n_tables=1, planes_per_table=4, probe_budget=budget
            ).collect()
        )

    assert edges(0) == []  # no two vectors share a base bucket
    got = edges(1)
    assert got == sorted(_py_knn_edges(vecs, 3, 1, 4, budget=1))
    pairs = {(s, t) for (s, _, t) in got}
    assert (0, 1) in pairs and (1, 0) in pairs
    # 2 probes INTO 0's bucket; 0's single probe (bit 0) misses 2's bucket
    assert (2, 0) in pairs and (0, 2) not in pairs


def test_knn_graph_rejects_budget_beyond_total_bits(spark):
    """probe_budget > n_tables·planes has no B-th distinct bit to flip —
    refuse with a clear error (the oracle's rk <= budget filter would
    silently cap instead, so the engines would diverge)."""
    import pytest

    d = _emb(spark, [[1.0, 1.0], [1.0, 0.9]])
    with pytest.raises(ValueError, match="probe_budget"):
        similarity.knn_graph(
            d, k=1, n_tables=1, planes_per_table=2, probe_budget=3
        )


def test_knn_graph_second_flip_is_second_lowest_bit(spark):
    """budget=2 adds the second-lowest-|margin| single-bit flip — pinned
    against the python reference on a pair reachable only via that
    second flip."""
    vecs = [
        [0.05, 0.1, 1.0, 1.0],    # bucket 1111; flip1→0111, flip2→1011
        [0.9, -0.1, 0.9, 0.9],    # bucket 1011 — only the SECOND flip hits
        [-0.5, -0.6, -0.7, -0.8],  # bucket 0000 — unreachable either way
    ]
    d = _emb(spark, vecs)
    got = sorted(
        (r.src, r.rank, r.dst)
        for r in similarity.knn_graph(
            d, k=3, n_tables=1, planes_per_table=4, probe_budget=2
        ).collect()
    )
    assert got == sorted(_py_knn_edges(vecs, 3, 1, 4, budget=2))
    pairs = {(s, t) for (s, _, t) in got}
    assert (0, 1) in pairs
    one_flip = {
        (r.src, r.dst)
        for r in similarity.knn_graph(
            d, k=3, n_tables=1, planes_per_table=4, probe_budget=1
        ).collect()
    }
    assert (0, 1) not in one_flip


def test_knn_graph_global_budget_concentrates_on_weak_table(spark):
    """The r8 GLOBAL allocation: with 2 tables × 2 planes and budget=2,
    a query whose two weakest margins BOTH live in table 0 spends both
    flips there — reaching a mate two bit-flips away in table 0 — and
    spends none on table 1 (per-table allocation would have probed
    table 1 instead). Pinned against the python reference."""
    vecs = [
        # table 0 reads coords [0,1], table 1 reads coords [2,3]
        [0.05, 0.08, 1.0, 1.0],   # t0 bucket 11 (both margins tiny), t1 11
        [-0.9, 0.9, 0.9, 0.8],    # t0 bucket 01 — reachable via flip of bit 0
        [0.9, -0.9, 0.95, 0.85],  # t0 bucket 10 — reachable via flip of bit 1
        [-0.8, -0.7, -1.0, -1.0],  # t0 00, t1 00 — two flips away, unreachable
    ]
    d = _emb(spark, vecs)
    got = sorted(
        (r.src, r.rank, r.dst)
        for r in similarity.knn_graph(
            d, k=3, n_tables=2, planes_per_table=2, probe_budget=2
        ).collect()
    )
    assert got == sorted(_py_knn_edges(vecs, 3, 2, 2, budget=2))
    pairs = {(s, t) for (s, _, t) in got}
    # both of 0's probes landed in table 0: vectors 1 AND 2 become
    # candidates of 0 (per-table allocation would have reached only one
    # of them, spending the other flip on confident table 1)
    assert (0, 1) in pairs and (0, 2) in pairs
    # 3 stays unreachable FROM 0: two flips away in table 0, and 0's
    # budget left table 1 unprobed — while 3's own query-side budget
    # (weakest bits 0.7/0.8, also both in table 0) reaches 1 and 2,
    # the asymmetric-probing shape
    assert (0, 3) not in pairs
    assert (3, 1) in pairs and (3, 2) in pairs


def test_knn_bucket_stage_stays_inside_codegen(spark):
    """Regression pin for the r7 64 KB janino overflow: with
    ``spark.sql.codegen.fallback=false`` a whole-stage-codegen compile
    failure RAISES instead of silently running interpreted, so this test
    fails if the bucket build's generated code ever regrows past the JVM
    method limit. Runs the DEFAULT table/plane/probe shape (the one that
    overflowed) on real embeddings."""
    old = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        assert similarity.knn_graph(emb).count() > 0
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)


def test_knn_hubness_covers_all_nodes_including_orphans(spark):
    """The in-degree histogram must account for EVERY vector exactly once
    and include zero-in-edge nodes as the in_degree=0 row."""
    import collections

    from admob_data_pipeline_spark.operators.similarity import (
        knn_graph,
        knn_hubness,
    )

    vecs = [
        [1.0, 1.0, 0.5, 0.2],
        [1.0, 0.9, 0.4, 0.1],
        [-1.0, -1.0, -0.5, -0.2],   # alone in its bucket → orphan
    ]
    d = _emb(spark, vecs)
    got = {
        r.in_degree: r.n_nodes
        for r in knn_hubness(
            d, k=2, n_tables=1, planes_per_table=4, probe_budget=1
        ).collect()
    }
    cnt = collections.Counter(
        r.dst
        for r in knn_graph(
            d, k=2, n_tables=1, planes_per_table=4, probe_budget=1
        ).collect()
    )
    want = dict(
        collections.Counter(cnt.get(i, 0) for i in range(len(vecs)))
    )
    assert got == want
    assert sum(got.values()) == len(vecs)
    assert got.get(0, 0) >= 1  # the orphan contributes a zero row


def test_knn_recall_by_label_partitions_global_counts(spark, sf_dir):
    """Per-label recall rows must partition the global audit's counts:
    summing n_exact/n_hits over labels reproduces knn_graph_recall's
    totals (same probes, same graph, same exact baseline)."""
    from admob_data_pipeline_spark.operators.similarity import (
        q_knn_graph_recall,
        q_knn_recall_by_label,
    )

    sf = sf_dir
    by_label = q_knn_recall_by_label(spark, sf).collect()
    glob = q_knn_graph_recall(spark, sf).collect()[0]
    assert sum(r.n_exact for r in by_label) == glob.n_exact
    assert sum(r.n_hits for r in by_label) == glob.n_hits
    for r in by_label:
        assert 0 <= r.n_hits <= r.n_exact
        assert 0 <= r.recall_ppm <= 1_000_000


def test_knn_mutual_edges_exactly_the_bidirectional_pairs(spark, sf_dir):
    """knn_mutual_edges = the undirected pairs present in BOTH directions
    of the directed graph — no more, no less."""
    from admob_data_pipeline_spark.operators import similarity

    sf = sf_dir
    from admob_data_pipeline_spark.sources.tables import load_table

    edges = {
        (r.src, r.dst)
        for r in similarity.knn_graph(
            load_table(spark, sf, "embeddings")
        ).collect()
    }
    expect = {
        (s, d) for (s, d) in edges if s < d and (d, s) in edges
    }
    got = {
        (r.src, r.dst)
        for r in similarity.q_knn_mutual_edges(spark, sf).collect()
    }
    assert got == expect and got, "mutual set should be non-empty"


def test_mutual_knn_clusters_partition_the_mutual_node_set(spark, sf_dir):
    """Cluster sizes must partition exactly the nodes that carry a mutual
    edge (components of an edge list have >= 2 nodes each), and the
    cluster id is the min member by construction."""
    from admob_data_pipeline_spark.operators import similarity
    from admob_data_pipeline_spark.sources.tables import load_table

    sf = sf_dir
    mutual = similarity.mutual_knn_edges(
        load_table(spark, sf, "embeddings")
    ).collect()
    nodes = {r.src for r in mutual} | {r.dst for r in mutual}
    clusters = similarity.q_dedup_mutual_knn_clusters(spark, sf).collect()
    assert sum(r.n_vecs for r in clusters) == len(nodes)
    assert all(r.n_vecs >= 2 for r in clusters)
    assert all(r.cluster in nodes for r in clusters)


def test_neardup_sweep_monotone_and_consistent_with_lsh_op(spark, sf_dir):
    """The sweep must be non-increasing in tau, and its row at the
    production threshold (30 = NEARDUP_THRESHOLD*100) must equal the
    registered embedding_neardup_lsh pair count — cross-op consistency."""
    from admob_data_pipeline_spark.operators.similarity import (
        NEARDUP_THRESHOLD,
        neardup_pairs,
        q_embedding_neardup_sweep,
    )
    from admob_data_pipeline_spark.sources.tables import load_table

    rows = {r.tau_pct: r.n_pairs for r in
            q_embedding_neardup_sweep(spark, sf_dir).collect()}
    taus = sorted(rows)
    assert all(rows[a] >= rows[b] for a, b in zip(taus, taus[1:]))
    assert rows[20] > 0, "lowest tau should keep some pairs"
    lsh_n = neardup_pairs(
        load_table(spark, sf_dir, "embeddings"), NEARDUP_THRESHOLD, lsh=True
    ).count()
    assert rows[int(NEARDUP_THRESHOLD * 100)] == lsh_n


def test_knn_recall_by_source_partitions_global_counts(spark, sf_dir):
    """Per-source recall rows must partition the global audit's counts —
    same contract as the per-label grain (shared _recall_by_attr)."""
    from admob_data_pipeline_spark.operators.similarity import (
        q_knn_graph_recall,
        q_knn_recall_by_source,
    )

    by_source = q_knn_recall_by_source(spark, sf_dir).collect()
    glob = q_knn_graph_recall(spark, sf_dir).collect()[0]
    assert sum(r.n_exact for r in by_source) == glob.n_exact
    assert sum(r.n_hits for r in by_source) == glob.n_hits
    for r in by_source:
        assert 0 <= r.n_hits <= r.n_exact
        assert 0 <= r.recall_ppm <= 1_000_000


def test_retrieval_ndcg_matches_pure_python_recompute(spark, sf_dir):
    """Third-implementation pin: recompute every probe's DCG/IDCG/NDCG
    from the raw exact top-k and the metadata tables with plain Python
    ints — catches a semantics drift that lands identically in both SQL
    dialects. Also pins the within-list-ideal bounds (dcg <= idcg,
    ndcg_ppm <= 1e6, idcg = 0 only when every gain is 0)."""
    from admob_data_pipeline_spark.operators.similarity import (
        _NDCG_W,
        KNN_K,
        KNN_PROBE_MAX,
        q_retrieval_ndcg,
        topk_bruteforce,
    )
    from admob_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    label = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    source = {r.doc_id: r.source for r in docs.select("doc_id", "source").collect()}
    exact = topk_bruteforce(emb, list(range(KNN_PROBE_MAX)), k=KNN_K).collect()

    per_q: dict[int, list[tuple[int, int]]] = {}
    for r in exact:
        rel = int(label[r.qid] == label[r.vec_id]) + int(
            source[r.qid] == source[r.vec_id]
        )
        per_q.setdefault(r.qid, []).append((r.rank, (1 << rel) - 1))
    want = {}
    for q, rows in per_q.items():
        dcg = sum(g * _NDCG_W[rk] for rk, g in rows)
        ideal = sorted(rows, key=lambda t: (-t[1], t[0]))
        idcg = sum(g * _NDCG_W[i + 1] for i, (_, g) in enumerate(ideal))
        want[q] = (dcg, idcg, 0 if idcg == 0 else dcg * 1_000_000 // idcg)

    got = {r.src: (r.dcg, r.idcg, r.ndcg_ppm) for r in
           q_retrieval_ndcg(spark, sf_dir).collect()}
    assert got == want
    for dcg, idcg, ndcg in got.values():
        assert 0 <= dcg <= idcg
        assert 0 <= ndcg <= 1_000_000
    assert any(v[0] > 0 for v in got.values()), "all-zero gains: audit is vacuous"


def test_retrieval_mrr_matches_pure_python_recompute(spark, sf_dir):
    """Third-implementation pin for MRR: first same-label rank and its
    integer reciprocal recomputed from the raw exact top-k in Python."""
    from admob_data_pipeline_spark.operators.similarity import (
        KNN_K,
        KNN_PROBE_MAX,
        q_retrieval_mrr,
        topk_bruteforce,
    )
    from admob_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    label = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    exact = topk_bruteforce(emb, list(range(KNN_PROBE_MAX)), k=KNN_K).collect()
    first: dict[int, int] = {}
    for r in exact:
        if label[r.qid] == label[r.vec_id]:
            first[r.qid] = min(first.get(r.qid, r.rank), r.rank)
    got = {r.src: (r.first_rel_rank, r.rr_e6) for r in
           q_retrieval_mrr(spark, sf_dir).collect()}
    assert set(got) == set(range(KNN_PROBE_MAX))
    for src, (rk, rr) in got.items():
        if src in first:
            assert rk == first[src] and rr == 1_000_000 // first[src]
        else:
            assert rk is None and rr == 0


def test_knn_label_modularity_invariants(spark, sf_dir):
    """Degrees must double-count edges exactly (sum d_sum = 2m), internal
    edges can't exceed m, and Q = sum(q_num)/4m^2 must lie in Newman's
    [-1/2, 1] range — the identities that pin the integer-numerator
    formulation to real modularity."""
    from admob_data_pipeline_spark.operators.similarity import (
        mutual_knn_edges,
        q_knn_label_modularity,
    )
    from admob_data_pipeline_spark.sources.tables import load_table

    rows = q_knn_label_modularity(spark, sf_dir).collect()
    assert rows
    m = mutual_knn_edges(load_table(spark, sf_dir, "embeddings")).count()
    assert sum(r.d_sum for r in rows) == 2 * m
    assert 0 <= sum(r.e_in for r in rows) <= m
    q = sum(r.q_num for r in rows) / (4 * m * m)
    assert -0.5 <= q <= 1.0
    for r in rows:
        assert r.q_num == 4 * m * r.e_in - r.d_sum * r.d_sum


def test_semdedup_dedups_within_clusters_only(spark):
    """SemDeDup semantics on planted structure: two well-separated
    clusters, near-dups WITHIN each cluster are dropped
    (keep-lowest-id), and a cross-cluster pair above the cosine
    threshold is NOT a candidate — the volume cut that defines the
    cluster-then-dedup composite (global near-dup WOULD flag it)."""
    vecs = [
        [1.0, 0.0],    # id 0 — seed of cluster A
        [0.0, 1.0],    # id 1 — seed of cluster B
        [0.99, 0.01],  # id 2 — A near-dup of 0
        [0.01, 0.99],  # id 3 — B near-dup of 1
        [0.98, 0.02],  # id 4 — A near-dup of 0 and 2
        [0.6, 0.8],    # id 5 — cluster B, but cos(5, 0) = 0.6 ≥ 0.3:
                       # a CROSS-cluster near-dup SemDeDup must skip
    ]
    d = _emb(spark, vecs)
    got = {
        r.cid: (r.n_members, r.n_pairs, r.n_dropped, r.n_survivors)
        for r in similarity.semdedup_stats(d, k=2, threshold=0.3).collect()
    }
    # cluster A = {0, 2, 4}: 3 within pairs, drop {2, 4}
    # cluster B = {1, 3, 5}: 3 within pairs, drop {3, 5}
    assert got == {0: (3, 3, 2, 1), 1: (3, 3, 2, 1)}
    # the cross-cluster pair (0, 5) clears the threshold globally —
    # exact global near-dup flags it, the cluster cut does not
    glob = {
        (r.a, r.b) for r in similarity.neardup_pairs(d, threshold=0.3).collect()
    }
    assert (0, 5) in glob


def test_ivfpq_chunked_serving_identical(spark, sf_dir, monkeypatch):
    """Above the SERVE_QID_BATCH literal-plan cap the query batch is
    served in chunks and unioned; rows must be identical to one-shot
    serving (scoring/ranking/tie-breaks are per-qid)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qids = similarity.QUERY_IDS  # 8 ids
    one_shot = similarity.ivfpq_topk(emb, qids).collect()
    monkeypatch.setattr(similarity, "SERVE_QID_BATCH", 3)
    chunked = similarity.ivfpq_topk(emb, qids)
    assert "Union" in formatted_plan(chunked)  # the chunked path ran
    assert [tuple(r) for r in chunked.collect()] == [tuple(r) for r in one_shot]
