"""Behavioral tests for dedup operators (beyond the oracle equivalence
checks in test_queries_oracle.py): recall/precision properties that the
oracles can't express."""

from __future__ import annotations

from pyspark.sql import Row

from admob_data_pipeline_spark.operators import dedup
from admob_data_pipeline_spark.sources.tables import load_table


def _docs(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )


def test_exact_duplicates_grouping(spark):
    d = _docs(spark, ["a b c", "a b c", "x y z", "a b c"])
    got = {
        r.canonical_doc_id: r.n_docs
        for r in dedup.exact_duplicates(d).collect()
    }
    assert got == {0: 3, 2: 1}


def test_jaccard_identical_docs_is_one(spark):
    base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
    d = _docs(spark, [base, base, "q r s t u v w x y z"])
    pairs = dedup.ngram_jaccard_pairs(d, threshold=0.99)
    got = [(r.a, r.b, r.jaccard) for r in pairs.collect()]
    assert got == [(0, 1, 1.0)]


def test_minhash_lsh_precision_and_high_sim_recall(spark, sf_dir):
    """LSH output must be a subset of true Jaccard pairs (precision 1 —
    candidates are exact-verified), and catch all high-similarity pairs
    (banding prob ≈ 0.97 at s=0.8 — on this corpus, all ≥0.8 pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    truth = {
        (r.a, r.b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    lsh = {(r.a, r.b): r.jaccard for r in dedup.minhash_lsh_pairs(docs).collect()}
    assert set(lsh) <= set(truth)
    high = {p for p, j in truth.items() if j >= 0.8}
    assert high <= set(lsh)


def test_simhash_banding_is_exhaustive_for_hamming_le_3(spark):
    """≤3 differing bits cannot touch all 4 fifteen-bit bands → band
    joining has 100% recall at the hamming≤3 verification threshold."""
    texts = [f"tok{i} tok{i+1} tok{i+2} shared0 shared1 shared2" for i in range(12)]
    d = _docs(spark, texts)
    sim = {r.doc_id: r.simhash for r in dedup.simhash(d).collect()}
    expected = {
        (a, b)
        for a in sim
        for b in sim
        if a < b and bin(sim[a] ^ sim[b]).count("1") <= dedup.HAMMING_MAX
    }
    got = {(r.a, r.b) for r in dedup.simhash_pairs(d).collect()}
    assert got == expected


def test_simhash_pairs_rejects_hamming_beyond_band_guarantee(spark):
    """4 fixed bands are pigeonhole-exact only for hamming ≤ 3; a larger
    threshold must raise instead of silently returning <1 recall."""
    import pytest

    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_pairs(_docs(spark, ["a b c"]), hamming_max=4)


def test_paragraph_dedup_detects_shared_segment(spark):
    from pyspark.sql import Row

    # docs 0 and 1 share an identical 32-token opening segment; doc 2 is
    # disjoint. Shared segments must be flagged for BOTH sharers only.
    seg = " ".join(f"tok{i}" for i in range(32))
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text=seg + " tail0 one two"),
            Row(doc_id=1, text=seg + " tail1 three four"),
            Row(doc_id=2, text=" ".join(f"other{i}" for i in range(40))),
        ]
    )
    got = {r.doc_id: r for r in dedup.paragraph_dedup(docs).collect()}
    assert got[0].n_segments == 2 and got[0].n_shared_segments == 1
    assert got[1].n_segments == 2 and got[1].n_shared_segments == 1
    assert got[2].n_shared_segments == 0
    assert got[0].shared_ratio == 0.5


def test_prefix_filter_equals_bruteforce(spark):
    """Prefix filtering is EXACT at the threshold: its output must equal
    the all-pairs shingle-set Jaccard join (recall 1, precision 1)."""
    from itertools import combinations

    from pyspark.sql import Row

    texts = [
        "a b c d e",
        "a b c d f",  # shares 2 of 4 union shingles with doc0 → j = 0.5
        "z y x w v",
        "z y x w v",  # identical → j = 1.0
        "a b q r s",
        "completely different words here now",
    ]
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    got = {
        (r.a, r.b): r.jaccard
        for r in dedup.prefix_filter_pairs(docs, threshold=0.5).collect()
    }

    def sh(t):
        toks = t.split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sets = {i: sh(t) for i, t in enumerate(texts)}
    want = {}
    for a, b in combinations(sets, 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if union and inter * 2 >= union:  # t = 0.5, integer cross-mult
            want[(a, b)] = round(inter / union, 6)
    assert got == want and want  # non-empty: the crafted pairs must hit


def test_prefix_filter_df_join_is_aqe_sized_not_forced(spark):
    """The token→df build side is vocabulary-sized (unbounded at web
    scale), so prefix_filter_pairs must NOT force a broadcast: AQE sizes
    the join from runtime shuffle bytes — broadcast when small, shuffle
    join when the threshold says no — and the pairs are identical either
    way."""
    from pyspark.sql import Row

    texts = ["a b c d e", "a b c d f", "z y x w v", "z y x w v"]
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )

    def final_plan(df):
        df.collect()  # AQE finalizes plans only on execution
        return df._jdf.queryExecution().executedPlan().toString()

    small = dedup.prefix_filter_pairs(docs, threshold=0.5)
    assert "BroadcastHashJoin" in final_plan(small)

    confs = [
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
    ]
    prev = {c: spark.conf.get(c, None) for c in confs}
    for c in confs:  # models a build side too big to ship
        spark.conf.set(c, "-1")
    try:
        no_bcast = dedup.prefix_filter_pairs(docs, threshold=0.5)
        plan = final_plan(no_bcast)
    finally:
        for c, v in prev.items():
            spark.conf.unset(c) if v is None else spark.conf.set(c, v)
    assert "BroadcastHashJoin" not in plan  # no forced broadcast anywhere
    assert sorted(map(tuple, no_bcast.collect())) == sorted(
        map(tuple, small.collect())
    )


def test_containment_detects_embedded_doc(spark):
    """A short doc fully embedded in a long one: containment(short→long)=1
    while the symmetric Jaccard stays below threshold."""
    short = "w0 w1 w2 w3 w4"
    long = short + " " + " ".join(f"z{i}" for i in range(30))
    d = _docs(spark, [short, long])
    got = {(r.src, r.dst): r.containment for r in dedup.containment_pairs(d).collect()}
    assert got == {(0, 1): 1.0}
    assert dedup.ngram_jaccard_pairs(d).count() == 0


def test_incremental_lsh_batch_vs_index_only(spark):
    """doc 0/5/10 are the 'batch' (id%5==0). A batch doc duplicating an
    index doc is reported; two identical BATCH docs are not (batch-internal
    pairs are out of scope), nor are index-internal dups."""
    base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
    texts = {0: base, 5: base, 10: "q r s t u v w x y z",
             1: base, 2: "m n o p q r s t u v", 3: "m n o p q r s t u v"}
    d = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in sorted(texts.items())]
    )
    got = {(r.batch_doc, r.index_doc) for r in dedup.incremental_lsh_pairs(d).collect()}
    assert (0, 1) in got and (5, 1) in got     # batch dup of index doc
    assert (0, 5) not in got and (5, 0) not in got  # batch-internal
    assert (2, 3) not in got and (3, 2) not in got  # index-internal


def test_keep_best_prefers_longest_then_min_id(spark):
    base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
    longer = base + " extra tail tokens here"
    d = spark.createDataFrame(
        [Row(doc_id=0, text=base, n_chars=len(base)),
         Row(doc_id=1, text=longer, n_chars=len(longer)),
         Row(doc_id=2, text="q r s t u v w x y z", n_chars=19)]
    )
    got = {r.cluster_id: r for r in dedup.keep_best_per_cluster(d).collect()}
    assert got[0].keep_doc == 1 and got[0].n_docs == 2 and got[0].n_dropped == 1
    assert got[2].keep_doc == 2 and got[2].n_dropped == 0


def test_threshold_pairs_filters_on_integers_not_the_rounded_jaccard(spark):
    """The threshold core keeps an exact 0.5 and drops 0.49999975, whose
    6-place display value is also 0.5: the filter is integer cross-
    multiplication, the rounded column is display-only (playbook #2)."""
    inter = spark.createDataFrame(
        [(0, 1, 2), (2, 3, 1_000_000)], "a long, b long, n_inter long"
    )
    sizes = spark.createDataFrame(
        [(0, 3), (1, 3), (2, 1_500_000), (3, 1_500_001)], "doc_id long, n long"
    )
    sa = sizes.select(sizes.doc_id.alias("a"), sizes.n.alias("n_a"))
    sb = sizes.select(sizes.doc_id.alias("b"), sizes.n.alias("n_b"))
    assert [tuple(r) for r in dedup.threshold_pairs(inter, sa, sb, 0.5).collect()] == [
        (0, 1, 0.5)
    ]
    assert round(1_000_000 / 2_000_001, 6) == 0.5  # the dropped pair displays as 0.5


def test_substring_dup_counts_cross_doc_windows_only(spark):
    # doc0 shares its first 5-gram with doc1; doc2 is too short for any
    # window; doc3 repeats a 5-gram WITHIN itself only (no cross-doc
    # occurrence) — positional windows count, but only cross-doc grams
    # mark them duplicated.
    d = _docs(
        spark,
        [
            "a b c d e f",
            "a b c d e z1 z2 z3",
            "s t u",
            "r1 r2 r3 r4 r5 r1 r2 r3 r4 r5",
        ],
    )
    got = {
        r.doc_id: (r.n_windows, r.n_dup_windows, r.dup_ppm)
        for r in dedup.substring_dup_stats(d).collect()
    }
    assert got == {
        0: (2, 1, 500_000),
        1: (4, 1, 250_000),
        2: (0, 0, 0),
        3: (6, 0, 0),
    }


def test_cross_split_leakage_is_cross_split_subset_of_pairs(spark, sf_dir):
    """Leakage audit = exactly the near-dup pairs whose members fall in
    different splits; same-split near-dups are excluded."""
    from admob_data_pipeline_spark.operators.text import dataset_split

    docs = load_table(spark, sf_dir, "documents")
    pairs = {(r.a, r.b) for r in dedup.ngram_jaccard_pairs(docs).collect()}
    splits = {r.doc_id: r.split for r in dataset_split(docs).collect()}
    want = {(a, b) for a, b in pairs if splits[a] != splits[b]}
    leaks = dedup.cross_split_leakage(docs).collect()
    assert {(r.a, r.b) for r in leaks} == want
    assert all(r.split_a != r.split_b for r in leaks)
    assert all(r.split_a == splits[r.a] and r.split_b == splits[r.b] for r in leaks)


def test_cluster_stats_accounting(spark):
    base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
    d = _docs(spark, [base, base, base, "q r s t u v w x y z"])
    got = {r.cluster_size: (r.n_clusters, r.n_docs, r.n_removable)
           for r in dedup.cluster_stats(d).collect()}
    assert got == {1: (1, 1, 0), 3: (1, 3, 2)}


def test_weighted_jaccard_penalizes_repetition_asymmetry(spark):
    """Set Jaccard sees these as identical (same distinct shingles);
    weighted Jaccard must score the repetition-skewed pair below 1."""
    base = "w0 w1 w2 w3 w4"
    rep = base + " " + base + " " + base  # same shingle SET, 3x counts + seam shingles
    d = _docs(spark, [base, base, rep])
    got = {(r.a, r.b): r.w_jaccard for r in dedup.weighted_jaccard_pairs(d).collect()}
    assert got[(0, 1)] == 1.0                     # identical docs: J_w = 1
    assert all(v < 1.0 for k, v in got.items() if k != (0, 1))


def test_minimizer_shared_run_guarantee(spark):
    """Two docs sharing a run of >= w+k-1 tokens must share a minimizer:
    the shared run spans a full shingle window, and window-min is a
    function of the window content alone."""
    run = " ".join(f"r{i}" for i in range(dedup.MINIMIZER_W + 3 - 1))
    d = _docs(
        spark,
        [
            "aa bb cc " + run + " dd ee ff",
            "xx yy zz " + run + " qq ww",
            "totally different text with no shared window at all here",
        ],
    )
    from pyspark.sql import functions as F

    mz = dedup.minimizer_fingerprints(d)
    by_doc = {
        r.doc_id: set(r.ms)
        for r in mz.groupBy("doc_id")
        .agg(F.collect_set("mz").alias("ms"))
        .collect()
    }
    assert by_doc[0] & by_doc[1], "shared run must yield a shared minimizer"


def test_minimizer_sketch_is_smaller_than_shingle_set(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    n_sh = dedup.doc_shingles(docs).count()
    n_mz = dedup.minimizer_fingerprints(docs).count()
    assert n_mz < n_sh / 1.5  # ~2/(w+1) = 0.4 expected


def test_minimizer_identical_docs_pair(spark):
    base = " ".join(f"t{i}" for i in range(30))
    d = _docs(spark, [base, base, "a b c d e f g h i j k l m"])
    got = [(r.a, r.b, r.jaccard_mz) for r in dedup.minimizer_pairs(d).collect()]
    assert got == [(0, 1, 1.0)]


def test_minimizer_partition_invariance(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(200)
    a = dedup.minimizer_pairs(docs.repartition(2)).collect()
    b = dedup.minimizer_pairs(docs.repartition(32)).collect()
    assert a == b


def test_lsh_sweep_recall_increases_with_threshold(spark, sf_dir):
    """Banding probability 1-(1-s^r)^b is increasing in s, so measured
    recall must be non-decreasing across the threshold sweep, reaching
    ~1 at 0.9."""
    docs = load_table(spark, sf_dir, "documents")
    out = dedup.lsh_recall_sweep(docs).collect()
    assert [r.threshold_pct for r in out] == [50, 60, 70, 80, 90]
    recalls = [r.recall_ppm for r in out]
    assert all(a <= b for a, b in zip(recalls, recalls[1:]))
    assert recalls[-1] >= 900_000
    # sanity: truth sets shrink as the threshold rises
    truths = [r.n_truth for r in out]
    assert all(a >= b for a, b in zip(truths, truths[1:]))


def test_hot_cap_guard_fallback_preserves_results(spark, monkeypatch):
    """Forcing the stop-shingle cap join past its broadcast threshold
    (plain shuffle join instead of broadcast anti-join) must not change
    the emitted pair set — the tier-2 guard is a strategy choice only.

    max_df=5 makes the shared-shingle hot list NON-empty (asserted): at
    the default cap this corpus has zero hot shingles and `0 <= 0`
    would still take the broadcast branch, pinning nothing."""
    from admob_data_pipeline_spark.operators import util

    near = "a b c d e f g h"
    hot = "x y z w v u t s"
    # 3 docs sharing `near` shingles (df=3 <= 5: kept, near-dup pairs
    # survive) + 7 docs sharing `hot` shingles (df=7 > 5: capped away).
    texts = [f"{near} tok{i}" for i in range(3)] + [
        f"{hot} other{i}" for i in range(7)
    ]
    d = _docs(spark, texts)
    capped = dedup._capped_shingles(d, 3, max_df=5)
    n_all = dedup.doc_shingles(d, 3).count()
    assert capped.count() < n_all  # the cap really dropped hot shingles
    want = sorted(map(tuple, dedup.ngram_jaccard_pairs(d, max_df=5).collect()))
    monkeypatch.setattr(util, "BROADCAST_ROW_LIMIT", 0)
    got = sorted(map(tuple, dedup.ngram_jaccard_pairs(d, max_df=5).collect()))
    assert got == want and want


def test_simhash_matches_pure_python_reference(spark):
    """Third-implementation pin: the 60-bit signature must equal a
    hashlib-based reference (md5 15-hex prefix -> bits -> +/-1 majority
    vote, ties -> 1) computed entirely outside both engines."""
    import hashlib

    texts = ["alpha beta gamma", "alpha beta delta", "epsilon zeta"]
    d = _docs(spark, texts)
    got = {r.doc_id: r.simhash for r in dedup.simhash(d).collect()}

    def ref(text):
        toks = sorted(set(text.lower().split()))
        votes = [0] * dedup.SIMHASH_BITS
        for t in toks:
            hv = int(hashlib.md5(t.encode()).hexdigest()[: dedup.SIMHASH_BITS // 4], 16)
            for j in range(dedup.SIMHASH_BITS):
                bit = (hv >> (dedup.SIMHASH_BITS - 1 - j)) & 1
                votes[j] += 1 if bit else -1
        return sum(
            (1 if votes[j] >= 0 else 0) << (dedup.SIMHASH_BITS - 1 - j)
            for j in range(dedup.SIMHASH_BITS)
        )

    assert got == {i: ref(t) for i, t in enumerate(texts)}


def test_minhash_signatures_match_pure_python_reference(spark):
    """Third-implementation pin for the Kirsch-Mitzenmacher MinHash:
    h_i(s) = (h1 + i*h2) mod 2^61-1 with h1/h2 = md5 hex[0:15]/[16:31]
    of each distinct 3-token shingle, min per seed — computed with
    hashlib only, outside both engines."""
    import hashlib

    texts = ["a b c d e f", "a b c d e g", "q r s t u v w"]
    d = _docs(spark, texts)
    sig = {
        r.doc_id: tuple(r[f"m{i}"] for i in range(dedup.N_HASHES))
        for r in dedup.minhash_signatures(dedup.doc_shingles(d)).collect()
    }

    def ref(text):
        toks = text.lower().split(" ")
        sh = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        mins = [None] * dedup.N_HASHES
        for s_ in sh:
            hx = hashlib.md5(s_.encode()).hexdigest()
            h1, h2 = int(hx[0:15], 16), int(hx[16:31], 16)
            for i in range(dedup.N_HASHES):
                v = (h1 + i * h2) % dedup.MERSENNE_61
                if mins[i] is None or v < mins[i]:
                    mins[i] = v
        return tuple(mins)

    assert sig == {i: ref(t) for i, t in enumerate(texts)}


def test_tfidf_cosine_downweights_common_shingles(spark):
    """idf weighting: a pair sharing only a corpus-ubiquitous shingle must
    score below a pair sharing an equally-sized rare shingle, and an
    exact duplicate scores 1.0."""
    common = "alpha beta gamma"
    texts = [
        f"{common} one two three four",      # 0: common + unique tail
        f"{common} five six seven eight",    # 1: shares ONLY common w/ 0
        "rare1 rare2 rare3 x y z w",         # 2: rare trigram pair...
        "rare1 rare2 rare3 p q r s",         # 3: ...shared with 2 only
        f"{common} one two three four",      # 4: exact dup of 0
    ] + [f"{common} filler{i} a b c" for i in range(6)]  # make 'common' high-df
    d = _docs(spark, texts)
    rows = {
        (r.a, r.b): r.cos_sim
        for r in dedup.tfidf_cosine_pairs(d, threshold=0.0).collect()
    }
    assert rows[(0, 4)] == 1.0
    assert rows[(2, 3)] > rows[(0, 1)]


def test_tfidf_cosine_zero_norm_docs_dropped_not_crashed(spark):
    """Docs whose every shingle is corpus-ubiquitous (df == N → idf floor
    0) have zero norms: the pair must be DROPPED (NULL cosine, like the
    DuckDB oracle), not raise ANSI DIVIDE_BY_ZERO."""
    d = _docs(spark, ["w1 w2 w3", "w1 w2 w3"])
    assert dedup.tfidf_cosine_pairs(d, threshold=0.0).collect() == []
