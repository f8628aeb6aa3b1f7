"""Text-operator edge cases the oracles don't exercise."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from admob_data_pipeline_spark.operators import text as T


def _docs(spark, texts, langs=None):
    langs = langs or ["en"] * len(texts)
    return spark.createDataFrame(
        [
            Row(doc_id=i, text=t, lang=l, source="s", n_chars=len(t))
            for i, (t, l) in enumerate(zip(texts, langs))
        ]
    )


def test_shingles_short_doc_guard(spark):
    """Spark sequence() descends for n<1 — the guard must yield empty."""
    d = _docs(spark, ["one two", "one", "a b c d"])
    sh = d.select(
        "doc_id", F.size(T.shingles(T.tokens(F.col("text")), 3)).alias("n")
    )
    got = {r.doc_id: r.n for r in sh.collect()}
    assert got == {0: 0, 1: 0, 2: 2}


def test_quality_scores_crafted(spark):
    d = _docs(spark, ["the cat and the hat"])
    r = T.quality_scores(d).first()
    assert r.n_tokens == 5
    assert r.stopword_ratio == 0.6  # the, and, the
    assert r.non_alpha_ratio == round(4 / 19, 6)  # 4 spaces


def test_language_id_markers_and_und(spark):
    d = _docs(spark, ["der hund und die katze", "qqq zzz"], ["de", "en"])
    got = {r.doc_id: r.lang_pred for r in T.language_id(d).collect()}
    assert got[0] == "de"
    assert got[1] == "und"  # no marker hits


def test_fingerprint_stability(spark):
    d = _docs(spark, ["a b c d e", "a b c d e"])
    rows = T.fingerprints(d).collect()
    assert rows[0].fp_md5 == rows[1].fp_md5
    assert rows[0].fp_min_shingle == rows[1].fp_min_shingle


def test_pii_redact_crafted(spark):
    d = _docs(
        spark,
        [
            "mail me at jo.doe+x@test-site.org or 555-123-4567 from 10.0.0.1",
            "no pii here at all",
        ],
    )
    got = {r.doc_id: r for r in T.pii_redact(d).collect()}
    assert (got[0].n_emails, got[0].n_phones, got[0].n_ips) == (1, 1, 1)
    assert (got[1].n_emails, got[1].n_phones, got[1].n_ips) == (0, 0, 0)
    # redaction replaces every match: re-scrubbing redacted text finds none
    redacted = d.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("text"), T.PII_PATTERNS[0][1], "<EMAIL>"),
                T.PII_PATTERNS[1][1],
                "<PHONE>",
            ),
            T.PII_PATTERNS[2][1],
            "<IP>",
        ).alias("text"),
    )
    rescrub = {r.doc_id: r for r in T.pii_redact(redacted).collect()}
    assert rescrub[0].n_emails == rescrub[0].n_phones == rescrub[0].n_ips == 0
    # and the hash of independently-redacted text matches the operator's
    assert got[0].redacted_md5 == {
        r.doc_id: r for r in redacted.select(
            "doc_id", F.md5("text").alias("m")
        ).collect()
    }[0].m


def test_length_bucket_sample_full_rate_bucket(spark):
    # 10 tiny docs land in len_lt_32 whose rate is 1.0 — all kept
    d = _docs(spark, [f"w{i} x y" for i in range(10)])
    row = {r.bucket: r for r in T.length_bucket_sample(d).collect()}["len_lt_32"]
    assert (row.n_docs, row.n_kept) == (10, 10)
    assert row.first_kept == 0


def test_bpe_merge_pairs_crafted(spark):
    """'aaab aaab ab' → pair 'aa' appears 2 per 'aaab' occurrence (wf=2),
    'ab' once per word; 1-char words are excluded from the pair index."""
    d = _docs(spark, ["aaab aaab ab", "x"])
    got = {r.pair: r.n_merge for r in T.bpe_merge_pairs(d).collect()}
    assert got == {"aa": 4, "ab": 3}
    assert "x" not in got


def test_vocab_coverage_monotone_and_exact(spark, sf_dir):
    from admob_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    rows = T.vocab_coverage(docs).collect()
    assert [r.vocab_size for r in rows] == [100, 500, 2000]
    cov = [r.coverage_ppm for r in rows]
    assert cov == sorted(cov), "coverage must grow with vocab size"
    for r in rows:
        assert 0 < r.covered <= r.total
        assert r.coverage_ppm == r.covered * 1_000_000 // r.total


def test_curation_funnel_accounting(spark):
    """3 docs: one exact dup (dropped at stage 1), one too-short survivor
    of stage 1 dropped at stage 2. n_in chains: 3 → 2 → 1 → 1 → 1."""
    long_ok = " ".join(f"tok{i}" for i in range(25))
    d = _docs(spark, [long_ok, long_ok, "short doc"])
    rows = {r.stage: r for r in T.curation_funnel(d).collect()}
    assert rows["duplicate"].n_in == 3 and rows["duplicate"].n_dropped == 1
    assert rows["too_short"].n_in == 2 and rows["too_short"].n_dropped == 1
    assert rows["non_alpha"].n_out == 1
    for r in rows.values():
        assert r.n_out == r.n_in - r.n_dropped


def test_bpe_train_feeds_merges_forward(spark):
    """Merge 2 must be built FROM merge 1's token ('ab' + 'c'), proving
    the trainer re-segments between iterations instead of re-counting
    raw char pairs three times."""
    d = _docs(spark, ["abc"] * 10 + ["abd"] * 6)
    got = [(r.merge_rank, r.pair, r.n_merge) for r in T.bpe_train(d).collect()]
    assert got == [(1, "(a)(b)", 16), (2, "(ab)(c)", 10), (3, "(ab)(d)", 6)]


def test_bpe_train_greedy_adjacent_runs(spark):
    """Back-to-back and self-adjacent pairs merge like greedy BPE:
    'aaaa' under merge (a)(a) becomes (aa)(aa), not (a)(aaa)."""
    d = _docs(spark, ["aaaa"] * 3)
    got = [(r.merge_rank, r.pair, r.n_merge) for r in T.bpe_train(d, n_iters=2).collect()]
    # iter1: pairs (a)(a) ×3 per word ×3 docs = 9; resegment → (aa)(aa)
    # iter2: (aa)(aa) ×1 per word ×3 docs = 3
    assert got == [(1, "(a)(a)", 9), (2, "(aa)(aa)", 3)]


def test_bpe_encode_applies_all_merges(spark):
    """After 3 merges on the abc/abd corpus the words are single pieces —
    encode must surface the merged pieces with corpus-weighted counts."""
    d = _docs(spark, ["abc"] * 10 + ["abd"] * 6)
    got = {r.piece: r.n_occ for r in T.bpe_encode(d).collect()}
    assert got == {"abc": 10, "abd": 6}


def test_word_dropout_deterministic_and_bounded(spark):
    d = _docs(spark, ["a b c d e f g h i j " * 5])
    r1 = T.word_dropout(d).collect()[0]
    r2 = T.word_dropout(d).collect()[0]
    assert (r1.n_kept, r1.aug_fingerprint) == (r2.n_kept, r2.aug_fingerprint)
    assert 0 < r1.n_kept <= r1.n_tokens
    # a different seed redraws the mask
    r3 = T.word_dropout(d, seed="aug-seed-2").collect()[0]
    assert r3.aug_fingerprint != r1.aug_fingerprint


def test_char_entropy_orders_repetitive_below_natural(spark):
    d = _docs(spark, ["aaaaaaaaaaaaaaaa", "the quick brown fox jumps"])
    got = {r.doc_id: r for r in T.char_entropy(d).collect()}
    assert got[0].entropy_e6 == 0 and got[0].n_distinct_chars == 1
    assert got[1].entropy_e6 > got[0].entropy_e6


def _ref_bpe(word_freqs, n_iters):
    """Independent pure-Python greedy BPE trainer (explicit left-to-right
    merge scan) — the semantics the bracketed-replace encoding must equal."""
    segs = {w: list(w) for w in word_freqs}
    merges = []
    for _ in range(n_iters):
        counts = {}
        for w, f in word_freqs.items():
            t = segs[w]
            for i in range(len(t) - 1):
                counts[(t[i], t[i + 1])] = counts.get((t[i], t[i + 1]), 0) + f
        if not counts:
            break
        (a, b), n = min(
            counts.items(), key=lambda kv: (-kv[1], f"({kv[0][0]})({kv[0][1]})")
        )
        merges.append((f"({a})({b})", n))
        for w, t in segs.items():
            out, i = [], 0
            while i < len(t):
                if i + 1 < len(t) and t[i] == a and t[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(t[i])
                    i += 1
            segs[w] = out
    return merges


def test_bpe_train_equals_python_greedy_reference(spark):
    """Adversarial fuzz over a 2-letter alphabet (maximal merge overlap:
    runs like 'aaaa', alternations like 'abab') — the distributed
    bracketed-replace trainer must match an explicit greedy scan."""
    import random

    rng = random.Random(7)
    words = [
        "".join(rng.choice("ab") for _ in range(rng.randint(2, 6)))
        for _ in range(40)
    ]
    freqs = {}
    for w in words:
        freqs[w] = freqs.get(w, 0) + 1
    d = _docs(spark, [" ".join(words)])
    got = [(r.pair, r.n_merge) for r in T.bpe_train(d, n_iters=4).collect()]
    assert got == _ref_bpe(freqs, 4)


def test_collocations_rank_fixed_phrase_first(spark):
    from pyspark.sql import Row
    from admob_data_pipeline_spark.operators.text import collocations

    # "aa bb" always adjacent (perfect collocation); "cc"/"dd" common but
    # never adjacent to each other more than chance.
    docs = [Row(doc_id=i, text="aa bb " + " ".join(["cc", "dd"] * 6)) for i in range(20)]
    out = collocations(spark.createDataFrame(docs), min_count=5)
    rows = out.collect()
    top = rows[0]
    assert top.bigram == "aa bb"
    assert top.c_ab == 20 and top.c_a == 20 and top.c_b == 20


def test_group_kfold_is_entity_disjoint(spark, sf_dir):
    from pyspark.sql import functions as F
    from admob_data_pipeline_spark.operators.text import KFOLD_K, group_kfold
    from admob_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = group_kfold(docs).collect()
    # every source maps to exactly one fold (fold is a function of source)
    assert sum(r.n_sources for r in out) == docs.select("source").distinct().count()
    assert sum(r.n_docs for r in out) == docs.count()
    assert all(0 <= r.fold < KFOLD_K for r in out)


def test_fingerprints_match_pure_python_reference(spark):
    """Third-implementation pin: full-text md5 and the lexicographic-min
    shingle md5 (1-hash MinHash) recomputed with hashlib only."""
    import hashlib

    from pyspark.sql import Row

    from admob_data_pipeline_spark.operators import text as t

    texts = ["Alpha Beta Gamma Delta", "one two", "x y z w v"]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=s_) for i, s_ in enumerate(texts)]
    )
    got = {
        r.doc_id: (r.fp_md5, r.fp_min_shingle, r.n_shingles)
        for r in t.fingerprints(df).collect()
    }

    def ref(text):
        lt = text.lower()
        toks = lt.split(" ")
        sh = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]
        fp = hashlib.md5(lt.encode()).hexdigest()
        mins = min(
            (hashlib.md5(x.encode()).hexdigest() for x in sh), default=None
        )
        return (fp, mins, len(sh))

    assert got == {i: ref(s_) for i, s_ in enumerate(texts)}


def test_stratified_split_exact_quotas_and_two_phase_rank(spark, sf_dir):
    """Every stratum's bucket sizes must sit at the cumulative-floor
    quotas exactly (train = floor(.8n), train+val = floor(.9n), total =
    n) — the property the probabilistic dataset_split cannot give — and
    the two-phase (prefix-offset) rank must reproduce the naive
    per-stratum window rank the oracle uses."""
    from pyspark.sql import functions as F

    from admob_data_pipeline_spark.operators.text import (
        q_stratified_split_exact,
    )
    from admob_data_pipeline_spark.sources.tables import load_table

    rows = q_stratified_split_exact(spark, sf_dir).collect()
    per: dict[tuple, dict] = {}
    for r in rows:
        per.setdefault((r.lang, r.source), {})[r.split] = r.n_docs
    totals = {
        (r.lang, r.source): r.n
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(per) == set(totals)
    for k, buckets in per.items():
        n = totals[k]
        tr = buckets.get("train", 0)
        va = buckets.get("val", 0)
        te = buckets.get("test", 0)
        assert tr + va + te == n
        assert tr == n * 80 // 100
        assert tr + va == n * 90 // 100


# Strings whose lowercasing has context or special cases: final sigma,
# dotted capital I, titlecase digraphs, sharp s, fullwidth letters and
# ligatures.
ICU_PARITY_TEXTS = [
    "ΟΔΟΣ Σ",
    "ΑΣ.",
    "İstanbul KIRMIZI",
    "ÀÉÎÕÜ ß",
    "ＡＢＣ",
    "ǅungla Ǆ",
    "Ω Å K",
    "中文 Ünïcödé",
    "ﬁ ﬀ",
]


def test_tokens_same_with_icu_case_mapping_on_and_off(spark):
    """``get_spark`` turns ``spark.sql.icu.caseMappings.enabled`` off (its
    one-time set-up is paid by every fresh JVM's first ``lower()``);
    ``tokens()`` must give the same tokens either way. DuckDB's
    ``lower()`` differs from BOTH settings on final sigma (σ, not ς)
    and on İ (plain i, not i + U+0307): a gap between the engines that
    exists with ICU on too — the oracle corpora are ASCII — and that
    this setting does not widen."""
    key = "spark.sql.icu.caseMappings.enabled"
    before = spark.conf.get(key)
    d = _docs(spark, ICU_PARITY_TEXTS)
    got = {}
    try:
        for flag in ("true", "false"):
            spark.conf.set(key, flag)
            rows = d.select("doc_id", T.tokens(F.col("text")).alias("t")).collect()
            got[flag] = {r.doc_id: r.t for r in rows}
    finally:
        spark.conf.set(key, before)
    assert got["true"] == got["false"]
    assert got["false"] == {
        i: t.lower().split(" ") for i, t in enumerate(ICU_PARITY_TEXTS)
    }
