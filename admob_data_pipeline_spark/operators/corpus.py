"""Corpus-curation operators for LLM training-data pipelines (BASELINE.json
north-star extensions; no reference analogue — the reference's only text
processing is report-label coalescing, native_CTR_alerts.py:104-106).

Three ops every large-scale pre-training pipeline runs:

- **decontamination** — drop/flag training docs that share n-grams with an
  evaluation benchmark. Scale shape: the benchmark is tiny relative to the
  corpus, so its distinct n-gram set broadcasts; the corpus side is a
  map-side semi-match + one shuffle of only the matching (doc, gram) pairs
  for the per-doc count. The 100 TB side never shuffles unmatched rows.
- **repetition scoring** — fraction of duplicate n-grams inside each doc
  (the Gopher/C4 repetition gate). Pure per-row column arithmetic: no
  shuffle at all, whole pass is map-only over the scan.
- **TF-IDF top terms** — classic term weighting; tf and df via two
  hash aggregations, df joined back broadcast (token vocabulary ≪ corpus).
  Scores are floor-scaled to integers so ln() last-ulp differences between
  engines cannot flip a rank (cross-engine determinism playbook).

n-gram width is corpus-calibrated (the synthetic corpus draws ~30 distinct
tokens, so 3-grams already discriminate; real pipelines use 8-13).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from admob_data_pipeline_spark.operators.dedup import pair_overlap
from admob_data_pipeline_spark.operators.text import shingles, tokens
from admob_data_pipeline_spark.operators.util import join_small, widen_if_narrow
from admob_data_pipeline_spark.sources.tables import load_table

DECONTAM_N = 3
BENCH_MOD = 100  # doc_id % BENCH_MOD == 0 → benchmark member (fixture rule)
REPEAT_N = 2
REPEAT_MAX_DUP_FRAC = 0.2
TFIDF_TOP = 3
TFIDF_SCALE = 10_000


def _doc_ngrams(docs: DataFrame, n: int, text_col: str = "text") -> DataFrame:
    """(doc_id, gram) DISTINCT pairs — distinct-per-doc before the explode
    leaves the row, so downstream joins/aggs never see within-doc dups."""
    return widen_if_narrow(docs).select(
        "doc_id",
        F.explode(F.array_distinct(shingles(tokens(F.col(text_col)), n))).alias("gram"),
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = DECONTAM_N,
    text_col: str = "text",
) -> DataFrame:
    """Per training doc: how many distinct n-grams it shares with the
    benchmark, and the contamination verdict.

    The benchmark's distinct gram set is broadcast — the training side is
    scanned once, matched map-side, and only hits shuffle for the count.
    Docs with zero overlap are reported too (n_shared = 0, clean), so the
    output is a full audit table, not just the kill list.
    """
    train_grams = _doc_ngrams(docs, n, text_col)
    # materialized (r12): join_small's broadcast-safety count and the
    # broadcast build itself each re-ran the benchmark explode+distinct;
    # the checkpoint computes it once (benchmark gram set — tiny by the
    # operator's own contract)
    bench_grams = (
        _doc_ngrams(benchmark, n, text_col).select("gram").distinct()
        .localCheckpoint()
    )
    hits = (
        join_small(train_grams, bench_grams, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("long").alias("n_shared_ngrams"),
            (F.coalesce(F.col("n_shared"), F.lit(0)) > 0).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


def repetition_scores(
    docs: DataFrame,
    n: int = REPEAT_N,
    max_dup_frac: float = REPEAT_MAX_DUP_FRAC,
    text_col: str = "text",
) -> DataFrame:
    """Within-document repeated-n-gram fraction (Gopher-style repetition
    gate): dup_frac = 1 - distinct/total over the doc's n-grams; docs above
    ``max_dup_frac`` fail. Map-only — both counts are array expressions on
    the already-built shingle array, no explode and no shuffle."""
    staged = widen_if_narrow(docs).select(
        "doc_id", shingles(tokens(F.col(text_col)), n).alias("g")
    )
    total = F.size("g")
    distinct = F.size(F.array_distinct("g"))
    dup_frac = F.round(F.try_divide(total - distinct, total), 6)
    return staged.select(
        "doc_id",
        total.alias("n_ngrams"),
        distinct.alias("n_distinct"),
        dup_frac.alias("dup_frac"),
        F.coalesce(dup_frac <= max_dup_frac, F.lit(True)).alias("keep"),
    ).orderBy("doc_id")


def tfidf_top_terms(
    docs: DataFrame,
    top: int = TFIDF_TOP,
    text_col: str = "text",
) -> DataFrame:
    """Top-``top`` TF-IDF terms per document.

    score = tf · ln(N/df), floor-scaled to an integer at 1e4 so the
    transcendental's last ulp can never flip an ordering across engines.

    Plan shape — the tf table feeds both the df aggregate and the scoring
    join, and Spark will NOT exchange-reuse a self-derived branch (the
    optimizer prunes the two copies differently, so their canonical plans
    diverge and the corpus is scanned + exploded twice — measured in the
    plan audit). A token-partitioned WINDOW would reuse one pass but puts
    a hot token's entire doc-frequency in one task — unbounded skew at
    100 TB. The scale-safe answer is explicit materialization:
    ``localCheckpoint`` computes tf once and lets both
    consumers read it, keeping df a partial-aggregated (skew-immune)
    groupBy. At cluster scale this is the standard recompute-vs-
    materialize call for a reused intermediate (``checkpoint()`` to
    storage if executor memory is tight).
    """
    tok = widen_if_narrow(docs).select(
        "doc_id", F.explode(tokens(F.col(text_col))).alias("token")
    )
    tf = (
        tok.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()
    )
    df_tab = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.count()  # one tiny job; a literal keeps the plan join-free
    score = F.floor(
        F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")) * TFIDF_SCALE
    ).cast("long")
    scored = join_small(tf, df_tab, "token").select(
        "doc_id", "token", "tf", "df", score.alias("score_scaled")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_scaled"), F.col("token")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= top)
        .orderBy("doc_id", "rnk")
    )


# ---------------------------------------------------------------- queries


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % BENCH_MOD == 0)
    train = docs.where(F.col("doc_id") % BENCH_MOD != 0)
    return decontaminate(train, bench)


_DUCK_GRAMS = """
    SELECT doc_id,
           list_distinct([array_to_string(toks[i:i+{span}], ' ')
                          FOR i IN generate_series(1, len(toks) - {gap})]) AS grams
    FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents {where})
"""


def _grams_cte(n: int, where: str) -> str:
    return _DUCK_GRAMS.format(span=n - 1, gap=n - 1, where=where)


_ORACLE_DECONTAM = f"""
WITH train AS ({_grams_cte(DECONTAM_N, f"WHERE doc_id % {BENCH_MOD} <> 0")}),
bench AS (
    SELECT DISTINCT unnest(grams) AS gram
    FROM ({_grams_cte(DECONTAM_N, f"WHERE doc_id % {BENCH_MOD} = 0")})
),
hits AS (
    SELECT t.doc_id, COUNT(*) AS n_shared
    FROM (SELECT doc_id, unnest(grams) AS gram FROM train) t
    JOIN bench USING (gram)
    GROUP BY t.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared_ngrams,
       COALESCE(h.n_shared, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id % {BENCH_MOD} <> 0
ORDER BY d.doc_id
"""


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_scores(load_table(spark, sf_dir, "documents"))


_ORACLE_REPETITION = f"""
WITH g AS (
    SELECT doc_id,
           [array_to_string(toks[i:i+{REPEAT_N - 1}], ' ')
            FOR i IN generate_series(1, len(toks) - {REPEAT_N - 1})] AS grams
    FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)
)
SELECT doc_id,
       CAST(len(grams) AS INT) AS n_ngrams,
       CAST(len(list_distinct(grams)) AS INT) AS n_distinct,
       ROUND(CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
             / NULLIF(len(grams), 0), 6) AS dup_frac,
       COALESCE(ROUND(CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
             / NULLIF(len(grams), 0), 6) <= {REPEAT_MAX_DUP_FRAC}, TRUE) AS keep
FROM g
ORDER BY doc_id
"""


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tfidf_top_terms(load_table(spark, sf_dir, "documents"))


_ORACLE_TFIDF = f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.token, tf.tf, df.df,
           CAST(FLOOR(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df)
                      * {TFIDF_SCALE}) AS BIGINT) AS score_scaled
    FROM tf JOIN df USING (token), n
),
ranked AS (
    SELECT doc_id, token, tf, df, score_scaled,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY score_scaled DESC, token
           ) AS INT) AS rnk
    FROM scored
)
SELECT doc_id, token, tf, df, score_scaled, rnk
FROM ranked WHERE rnk <= {TFIDF_TOP}
ORDER BY doc_id, rnk
"""




SAMPLE_RATES = {"en": 0.5, "de": 0.8, "es": 0.8, "fr": 0.8, "zh": 0.8}
SAMPLE_SEED = "stratified-seed-1"


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float] | None = None,
    seed: str = SAMPLE_SEED,
    stratum_col: str = "lang",
) -> DataFrame:
    """Deterministic per-stratum sampling: doc kept iff
    md5(seed|doc_id)-fraction < rate(stratum). Downsampling dominant
    strata (here: English) while keeping the tail is the standard
    rebalancing move in corpus assembly. Map-only, reproducible across
    runs/engines (same md5 → same sample), no shuffle.

    Rate lookup is a literal CASE chain — strata are a small closed set;
    at scale an unbounded stratum set would join a broadcast rates table
    instead."""
    rates = rates or SAMPLE_RATES
    frac = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.lit(seed), F.col("doc_id").cast("string"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(16**13))
    )
    rate = F.lit(None).cast("double")
    expr = None
    for stratum, r in sorted(rates.items()):
        cond = F.col(stratum_col) == stratum
        expr = F.when(cond, F.lit(r)) if expr is None else expr.when(cond, F.lit(r))
    rate = expr.otherwise(F.lit(0.0))
    return (
        docs.select("doc_id", F.col(stratum_col).alias("stratum"))
        .where(frac < rate)
        .orderBy("doc_id")
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stratified_sample(load_table(spark, sf_dir, "documents"))


_SAMPLE_CASE = " ".join(
    f"WHEN '{s}' THEN {r}" for s, r in sorted(SAMPLE_RATES.items())
)

_ORACLE_SAMPLE = f"""
SELECT doc_id, lang AS stratum
FROM documents
WHERE CAST('0x' || substr(md5('{SAMPLE_SEED}' || '|' || CAST(doc_id AS VARCHAR)), 1, 13)
           AS BIGINT) / {float(16**13)!r}
      < CASE lang {_SAMPLE_CASE} ELSE 0.0 END
ORDER BY doc_id
"""


# --- composite curation gate (C4/Gopher-rule shape) --------------------------

GATE_MIN_TOKENS = 20
GATE_MAX_TOKENS = 80
GATE_MIN_MEAN_LEN = 2  # chars/token bounds (Gopher uses 3..10)
GATE_MAX_MEAN_LEN = 8
GATE_MIN_STOP_PCT = 2  # >= 2% stopword tokens (C4's "has stopwords" rule)
GATE_MAX_NONALPHA_PCT = 25
GATE_MAX_DUP2_PCT = 10  # <= 10% duplicate 2-grams (repetition rule)


def curation_gate(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The COMPOSITE pre-training curation gate: every per-doc quality
    rule a C4/Gopher-style filter applies, evaluated in one map-only pass
    with a per-rule verdict column — the decision table a pipeline
    actually acts on (individual signals live in ``text_quality_scores``
    / ``text_repetition``; this is their AND with auditable reasons).

    Every rule is an INTEGER cross-multiplication (stop_hits·100 ≥
    pct·n_tokens, never a float ratio), so the verdicts are exact on any
    engine and any partitioning. Which documents pass depends on the
    corpus, not on float luck.

    Scale: pure column arithmetic on the scan — no explode, no shuffle,
    no UDF; at 100 TB this is a single map-only pass fused into
    whole-stage codegen."""
    return curation_gate_columns(widen_if_narrow(docs), text_col).orderBy(
        "doc_id"
    )


def _gate_cols(text_col: str = "text") -> dict[str, F.Column]:
    """The gate's column EXPRESSIONS by output name — the single
    definition behind curation_gate_columns and the fused
    rules-vs-classifier agreement scan."""
    from admob_data_pipeline_spark.operators.text import STOPWORDS

    t = tokens(F.col(text_col))
    n_tok = F.size(t)
    n_chars = F.length(text_col)
    stop_hits = F.size(F.filter(t, lambda x: x.isin(*STOPWORDS)))
    alpha_only = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z]", "")
    grams = shingles(t, 2)
    total2 = F.size(grams)
    dup2 = total2 - F.size(F.array_distinct(grams))
    # chars belonging to tokens: total minus the n_tok-1 separators
    wordish = n_chars - n_tok + 1
    len_ok = (n_tok >= GATE_MIN_TOKENS) & (n_tok <= GATE_MAX_TOKENS)
    mean_len_ok = (wordish >= GATE_MIN_MEAN_LEN * n_tok) & (
        wordish <= GATE_MAX_MEAN_LEN * n_tok
    )
    stop_ok = stop_hits * 100 >= GATE_MIN_STOP_PCT * n_tok
    alpha_ok = (n_chars - F.length(alpha_only)) * 100 <= (
        GATE_MAX_NONALPHA_PCT * n_chars
    )
    rep_ok = F.coalesce(dup2 * 100 <= GATE_MAX_DUP2_PCT * total2, F.lit(True))
    return {
        "n_tokens": n_tok,
        "len_ok": len_ok,
        "mean_len_ok": mean_len_ok,
        "stop_ok": stop_ok,
        "alpha_ok": alpha_ok,
        "rep_ok": rep_ok,
        "keep": len_ok & mean_len_ok & stop_ok & alpha_ok & rep_ok,
    }


def curation_gate_columns(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The gate's map-only projection, WITHOUT the sort or the local
    split widening — shared VERBATIM by the batch query and the
    streaming twin (streaming/alerts.py), so the batch and stream cells
    are identical by construction (the same single-sourcing contract as
    the network_*_col family). Being a pure stateless projection, it is
    trivially incremental: no watermark, no state store, append mode."""
    cols = _gate_cols(text_col)
    return docs.select(
        "doc_id", *[c.alias(n) for n, c in cols.items()]
    )


def q_curation_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation_gate(load_table(spark, sf_dir, "documents"))


# --- classifier-based quality filtering (the CCNet/FineWeb inference path)

QC_DIM = 1024  # hashed feature buckets
QC_WEIGHT_RANGE = 1000  # weights in [-1000, 1000] milli-units
QC_BIAS_MILLI = -1500  # negative prior: empty/feature-poor docs fail
QC_MULT = 2654435761  # Knuth multiplicative hash constant


def quality_classifier_scores(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Classifier-based quality filtering — the INFERENCE half of the
    CCNet/FineWeb pipeline stage that the rule gate (curation_gate)
    complements: a hashed linear model over word-BIGRAM features
    (fastText's architecture: bag of hashed n-grams → linear layer),
    scored entirely in integer milli-units so the keep/drop decision is
    exact on any engine and any partitioning. Training happens offline;
    what a 100 TB pipeline runs per document is exactly this map-only
    pass. The deterministic weight table stands in for trained weights:
    w(b) = (b·KNUTH) mod (2R+1) − R over QC_DIM buckets — the SERVING
    data flow (hash → lookup → sum → threshold) is the real contract,
    test-pinned and oracle-gated; swapping in trained weights is a
    broadcast-table change, not a plan change.

    Scale: no explode, no shuffle, no UDF — per-row array transform +
    integer fold fused into whole-stage codegen, exactly like the rule
    gate."""
    return quality_classifier_columns(
        widen_if_narrow(docs), text_col
    ).orderBy("doc_id")


def _classifier_cols(text_col: str = "text") -> dict[str, F.Column]:
    """The classifier's column EXPRESSIONS by output name — the single
    definition behind quality_classifier_columns and the fused
    rules-vs-classifier agreement scan."""
    grams = shingles(tokens(F.col(text_col)), 2)
    # per feature: bucket = md5-hash mod DIM, then the deterministic
    # weight (bucket·KNUTH) mod (2R+1) − R, all in one transform lambda
    contribs = F.transform(
        grams,
        lambda x: (
            (
                F.conv(F.substring(F.md5(x), 1, 13), 16, 10).cast("long")
                % QC_DIM
            )
            * QC_MULT
            % (2 * QC_WEIGHT_RANGE + 1)
            - QC_WEIGHT_RANGE
        ).cast("long"),
    )
    logit = F.lit(QC_BIAS_MILLI).cast("long") + F.aggregate(
        contribs, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return {
        "n_feats": F.size(grams).cast("int"),
        "logit_milli": logit,
        "keep": logit > 0,
    }


def quality_classifier_columns(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """The classifier's map-only projection WITHOUT the sort or split
    widening — shared VERBATIM by the batch query and the streaming twin
    (streaming/alerts.py), same single-sourcing contract as
    curation_gate_columns: a stateless projection streams in append
    mode with no watermark or state store."""
    cols = _classifier_cols(text_col)
    return docs.select(
        "doc_id", *[c.alias(n) for n, c in cols.items()]
    )


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_classifier_scores(load_table(spark, sf_dir, "documents"))


_ORACLE_QUALITY_CLASSIFIER = f"""
WITH t AS (
    SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
),
g AS (
    SELECT doc_id,
           CASE WHEN len(toks) >= 2
                THEN [array_to_string(toks[i:i+1], ' ')
                      FOR i IN generate_series(1, len(toks) - 1)]
                ELSE [] END AS grams
    FROM t
),
s AS (
    SELECT doc_id, len(grams) AS n_feats,
           {QC_BIAS_MILLI} + COALESCE(list_sum(list_transform(grams, x ->
               (CAST('0x' || substr(md5(x), 1, 13) AS BIGINT) % {QC_DIM})
               * {QC_MULT} % {2 * QC_WEIGHT_RANGE + 1}
               - {QC_WEIGHT_RANGE})), 0) AS logit_milli
    FROM g
)
SELECT doc_id, CAST(n_feats AS INT) AS n_feats,
       CAST(logit_milli AS BIGINT) AS logit_milli,
       logit_milli > 0 AS keep
FROM s
ORDER BY doc_id
"""


def _curation_gate_oracle() -> str:
    from admob_data_pipeline_spark.operators.text import STOPWORDS

    return f"""
WITH t AS (
    SELECT doc_id, string_split(lower(text), ' ') AS toks,
           length(text) AS n_chars,
           length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS n_alpha
    FROM documents
),
sig AS (
    SELECT doc_id, len(toks) AS n_tok, n_chars, n_alpha,
           len(list_filter(toks, x -> x IN {STOPWORDS!r})) AS stop_hits,
           [array_to_string(toks[i:i+1], ' ')
            FOR i IN generate_series(1, len(toks) - 1)] AS grams
    FROM t
),
rules AS (
    SELECT doc_id, n_tok,
           (n_tok >= {GATE_MIN_TOKENS} AND n_tok <= {GATE_MAX_TOKENS})
               AS len_ok,
           (n_chars - n_tok + 1 >= {GATE_MIN_MEAN_LEN} * n_tok
            AND n_chars - n_tok + 1 <= {GATE_MAX_MEAN_LEN} * n_tok)
               AS mean_len_ok,
           stop_hits * 100 >= {GATE_MIN_STOP_PCT} * n_tok AS stop_ok,
           (n_chars - n_alpha) * 100 <= {GATE_MAX_NONALPHA_PCT} * n_chars
               AS alpha_ok,
           COALESCE((len(grams) - len(list_distinct(grams))) * 100
                    <= {GATE_MAX_DUP2_PCT} * len(grams), TRUE) AS rep_ok
    FROM sig
)
SELECT doc_id, CAST(n_tok AS INT) AS n_tokens,
       len_ok, mean_len_ok, stop_ok, alpha_ok, rep_ok,
       (len_ok AND mean_len_ok AND stop_ok AND alpha_ok AND rep_ok) AS keep
FROM rules
ORDER BY doc_id
"""


_ORACLE_CURATION_GATE = _curation_gate_oracle()


def q_curation_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rules-vs-model agreement audit: the 2×2 confusion between the
    C4/Gopher rule gate and the learned quality classifier — the table a
    pipeline owner reads BEFORE swapping one filter stage for the other
    (the off-diagonal cells are exactly the documents whose fate would
    change). Cells carry counts and exact ppm shares.

    Single-sourcing: the two keep decisions come from the SAME column
    expressions behind the registered projections (_gate_cols /
    _classifier_cols), so this audit can never drift from either op —
    and because they are expressions, both evaluate in ONE map-only
    pass over the scan (no second corpus scan, no doc_id join). The
    rollup is 4 rows."""
    docs = widen_if_narrow(load_table(spark, sf_dir, "documents"))
    flags = docs.select(
        _gate_cols()["keep"].alias("rule_keep"),
        _classifier_cols()["keep"].alias("model_keep"),
    )
    cells = (
        flags.groupBy("rule_keep", "model_keep")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    tot = cells.agg(F.sum("n_docs").alias("n"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "rule_keep",
            "model_keep",
            "n_docs",
            F.expr("CAST(n_docs * 1000000 DIV n AS BIGINT)").alias(
                "share_ppm"
            ),
        )
        .orderBy("rule_keep", "model_keep")
    )


_ORACLE_CURATION_AGREEMENT = f"""
WITH rg AS (
    SELECT doc_id, keep AS rule_keep FROM ({_ORACLE_CURATION_GATE})
),
mg AS (
    SELECT doc_id, keep AS model_keep FROM ({_ORACLE_QUALITY_CLASSIFIER})
),
cells AS (
    SELECT rule_keep, model_keep, COUNT(*) AS n_docs
    FROM rg JOIN mg USING (doc_id)
    GROUP BY rule_keep, model_keep
),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM cells)
SELECT rule_keep, model_keep,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_docs * 1000000 // n AS BIGINT) AS share_ppm
FROM cells, tot
ORDER BY rule_keep, model_keep
"""


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP = 3
BM25_SCALE = 10_000


def _bm25_tf(docs: DataFrame, text_col: str) -> DataFrame:
    """Checkpointed (doc_id, token, tf) table — the single corpus pass
    both BM25 ops derive everything else from."""
    tok = widen_if_narrow(docs).select(
        "doc_id", F.explode(tokens(F.col(text_col))).alias("token")
    )
    return (
        tok.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()
    )


def _bm25_stats(tf: DataFrame) -> DataFrame:
    """One-row (n_docs, avgdl) corpus scalars."""
    return tf.agg(
        F.countDistinct("doc_id").alias("n_docs"),
        (F.sum("tf") / F.countDistinct("doc_id")).alias("avgdl"),
    )


def _bm25_score(k1: float, b: float) -> F.Column:
    """Floor-scaled integer Okapi score over (tf, df, dl, n_docs, avgdl)
    columns — ONE definition shared by the per-doc top-terms op and the
    retrieval op, so the two can never silently compute different BM25s."""
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_norm = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return F.floor(idf * tf_norm * BM25_SCALE).cast("long")


def bm25_top_terms(
    docs: DataFrame,
    top: int = BM25_TOP,
    k1: float = BM25_K1,
    b: float = BM25_B,
    text_col: str = "text",
) -> DataFrame:
    """Top-``top`` Okapi BM25 terms per document.

    idf = ln(1 + (N-df+0.5)/(df+0.5)); tf normalized by document length
    against the corpus mean. Corpus scalars (N, avgdl) attach as a
    broadcast one-row cross join — no driver-side collect, the plan stays
    fully declarative and cluster-executable. Scores floor-scale to
    integers before ranking (transcendental ulp discipline, as tfidf).

    Plan shape: tf is computed ONCE and materialized
    (``localCheckpoint`` — see tfidf_top_terms for why
    exchange reuse can't do this and why a token-partitioned window
    would skew); df, dl, and the corpus scalars all derive from the
    checkpointed tf table. dl is a doc-partitioned window (bounded
    partitions — a doc has bounded length, unlike a token's corpus-wide
    frequency), df stays a partial-aggregated groupBy broadcast back,
    and (n_docs, avgdl) re-aggregate tf in one tiny job. Net: the corpus
    is scanned + exploded exactly once, and every aggregate is
    skew-immune.
    """
    tf = _bm25_tf(docs, text_col)
    df_tab = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = join_small(
        tf.withColumn("dl", F.sum("tf").over(Window.partitionBy("doc_id"))),
        df_tab,
        "token",
    ).crossJoin(F.broadcast(_bm25_stats(tf)))
    ranked = scored.select(
        "doc_id", "token", "tf", "df", "dl",
        _bm25_score(k1, b).alias("score_scaled"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_scaled"), F.col("token"))
    return (
        ranked.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= top)
        .orderBy("doc_id", "rnk")
    )


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_top_terms(load_table(spark, sf_dir, "documents"))


# Shared oracle fragments: ONE definition of the corpus tables and of the
# Okapi score expression, composed by both BM25 oracles — mirrors the
# Spark side's _bm25_tf/_bm25_score single-sourcing.
_DUCK_BM25_TABLES = """
tok AS (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
stats AS (
    SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl
)
"""

_DUCK_BM25_SCORE = f"""CAST(FLOOR(
               ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
               * (tf.tf * ({BM25_K1} + 1))
               / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / stats.avgdl))
               * {BM25_SCALE}
           ) AS BIGINT)"""

_ORACLE_BM25 = f"""
WITH {_DUCK_BM25_TABLES},
scored AS (
    SELECT tf.doc_id, tf.token, tf.tf, df.df, dl.dl,
           {_DUCK_BM25_SCORE} AS score_scaled
    FROM tf JOIN df USING (token) JOIN dl USING (doc_id), stats
),
ranked AS (
    SELECT doc_id, token, tf, df, dl, score_scaled,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY score_scaled DESC, token
           ) AS INT) AS rnk
    FROM scored
)
SELECT doc_id, token, tf, df, dl, score_scaled, rnk
FROM ranked WHERE rnk <= {BM25_TOP}
ORDER BY doc_id, rnk
"""


# --- BM25 retrieval ---------------------------------------------------------

BM25_QUERY = ("spark", "join", "window")  # deterministic query terms
BM25_SEARCH_TOP = 10


def bm25_search(
    docs: DataFrame,
    query_terms: tuple[str, ...] = BM25_QUERY,
    top: int = BM25_SEARCH_TOP,
    k1: float = BM25_K1,
    b: float = BM25_B,
    text_col: str = "text",
    require_all: bool = False,
) -> DataFrame:
    """Top-``top`` documents for a term query by summed Okapi BM25 — the
    retrieval side of ``bm25_top_terms``'s scoring (a search engine's
    ranked lookup, and the retrieval leg of RAG-style corpus curation).

    Per-term scores floor-scale to integers BEFORE the per-doc sum
    (transcendental ulp discipline), so the document score is an exact
    BIGINT under any partitioning; ties break on doc_id.

    Scale: the corpus is scanned+exploded once into the checkpointed tf
    table (shared derivation with ``bm25_top_terms``); after that the
    RETRIEVAL side is posting-bounded — the query terms' postings
    (Σ df(term) rows) supply their own dfs, document lengths are
    aggregated ONLY for candidate docs (broadcast semi-join on the
    candidate ids before the dl rollup), and the one-row corpus scalars
    cross-attach broadcast. No vocabulary-wide or corpus-wide shuffle
    exists on the per-query path; (n_docs, avgdl) is the single corpus
    aggregate, amortized across queries in a real serving setup.
    """
    tf = _bm25_tf(docs, text_col)
    # tiny (≤ Σ df(term) rows), reused by df, candidate ids, and scoring
    postings = tf.where(F.col("token").isin(list(query_terms))).localCheckpoint()
    require_all_n = len(set(query_terms)) if require_all else None
    return _bm25_rank_postings(tf, postings, top, k1, b, require_all_n)


def _bm25_rank_postings(
    tf: DataFrame | None,
    postings: DataFrame,
    top: int,
    k1: float,
    b: float,
    require_all_n: int | None = None,
    exclude_doc: int | None = None,
    doclen: DataFrame | None = None,
    stats: DataFrame | tuple | None = None,
) -> DataFrame:
    """The posting-bounded BM25 ranking core shared by the term-query
    retrieval ops, the hybrid search's lexical leg, and the PERSISTED
    index's serving path: given the query terms' postings, score
    candidates and return the top-``top`` ranked rows. Document lengths
    and the corpus scalars come from ``doclen``/``stats`` when provided
    (the persisted-index tables, operators/retrieval_index.py) and are
    derived from the checkpointed ``tf`` table otherwise — ONE ranking
    definition either way, so the persisted path can never drift from
    the inline one. Postings that already carry their term's ``df`` or
    their doc's ``dl`` column skip that lookup, and ``stats`` may be the
    collected ``(n_docs, avgdl)`` pair, attached as literals.
    ``exclude_doc`` drops one doc from the CANDIDATES only, AFTER df is
    taken from the postings — a more-like-this query must not count the
    probe out of its terms' dfs."""
    all_postings = postings  # df counts the excluded doc too
    if exclude_doc is not None:
        postings = postings.where(F.col("doc_id") != exclude_doc)
    scored = postings
    if "df" not in postings.columns:
        # df per query term == posting rows per term (tf is doc-distinct)
        df_q = all_postings.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
        scored = scored.join(F.broadcast(df_q), "token")
    if "dl" not in postings.columns:
        cand = postings.select("doc_id").distinct()
        # dl over ALL the candidate docs' terms — but only theirs: the
        # broadcast semi-join filters FIRST (map-side), so the rollup
        # shuffles just the matching docs' tf rows — or, on the
        # persisted path, reads just their precomputed doclen rows
        if doclen is not None:
            dl_cand = doclen.join(F.broadcast(cand), "doc_id", "left_semi")
        else:
            dl_cand = (
                tf.join(F.broadcast(cand), "doc_id", "left_semi")
                .groupBy("doc_id")
                .agg(F.sum("tf").alias("dl"))
            )
        scored = scored.join(dl_cand, "doc_id")
    if isinstance(stats, tuple):
        n_docs, avgdl = stats
        scored = scored.select(
            "*",
            F.lit(n_docs).cast("long").alias("n_docs"),
            F.lit(avgdl).cast("double").alias("avgdl"),
        )
    else:
        scored = scored.crossJoin(
            F.broadcast(stats if stats is not None else _bm25_stats(tf))
        )
    per_term = scored.select(
        "doc_id",
        _bm25_score(k1, b).alias("s"),
    )
    doc_scores = per_term.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms_matched"),
        F.sum("s").alias("score_scaled"),
    )
    if require_all_n is not None:
        # conjunctive (AND) semantics: a doc must match EVERY query term.
        # tf is doc-distinct per token, so n_terms_matched counts distinct
        # matched terms — the standard intersect-the-postings filter,
        # applied on the already-posting-bounded rollup (no extra join).
        # require_all_n is the DISTINCT term count (a duplicated query
        # term could never reach the raw term count) on both engines
        doc_scores = doc_scores.where(
            F.col("n_terms_matched") == require_all_n
        )
    # top-k via orderBy+limit (TakeOrderedAndProject: per-partition
    # partial top-k, merge of k rows) — a bare global row_number window
    # would serialize every matching doc through one task at corpus
    # scale; the rank window then runs over ≤ top rows.
    head = doc_scores.orderBy(F.desc("score_scaled"), F.col("doc_id")).limit(top)
    w = Window.orderBy(F.desc("score_scaled"), F.col("doc_id"))
    return (
        head.withColumn("rnk", F.row_number().over(w).cast("int"))
        .orderBy("rnk")
    )


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_search(load_table(spark, sf_dir, "documents"))


_BM25_QUERY_LIST = ", ".join(f"'{t}'" for t in BM25_QUERY)

_ORACLE_BM25_SEARCH = f"""
WITH {_DUCK_BM25_TABLES},
per_term AS (
    SELECT tf.doc_id,
           {_DUCK_BM25_SCORE} AS s
    FROM tf JOIN df USING (token) JOIN dl USING (doc_id), stats
    WHERE tf.token IN ({_BM25_QUERY_LIST})
),
doc_scores AS (
    SELECT doc_id, COUNT(*) AS n_terms_matched,
           CAST(SUM(s) AS BIGINT) AS score_scaled
    FROM per_term GROUP BY doc_id
),
ranked AS (
    SELECT doc_id, n_terms_matched, score_scaled,
           CAST(ROW_NUMBER() OVER (
               ORDER BY score_scaled DESC, doc_id
           ) AS INT) AS rnk
    FROM doc_scores
)
SELECT doc_id, n_terms_matched, score_scaled, rnk
FROM ranked WHERE rnk <= {BM25_SEARCH_TOP}
ORDER BY rnk
"""


def q_bm25_search_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (AND) retrieval: same postings, same scores as
    ``bm25_search``, but a document qualifies only if it matches EVERY
    query term — the default semantics of most search engines' implicit
    AND. The filter is a predicate on the posting-intersection rollup,
    so the per-query path stays posting-bounded."""
    return bm25_search(
        load_table(spark, sf_dir, "documents"), require_all=True
    )


_ORACLE_BM25_SEARCH_AND = f"""
WITH {_DUCK_BM25_TABLES},
per_term AS (
    SELECT tf.doc_id,
           {_DUCK_BM25_SCORE} AS s
    FROM tf JOIN df USING (token) JOIN dl USING (doc_id), stats
    WHERE tf.token IN ({_BM25_QUERY_LIST})
),
doc_scores AS (
    SELECT doc_id, COUNT(*) AS n_terms_matched,
           CAST(SUM(s) AS BIGINT) AS score_scaled
    FROM per_term GROUP BY doc_id
    HAVING COUNT(*) = {len(set(BM25_QUERY))}
),
ranked AS (
    SELECT doc_id, n_terms_matched, score_scaled,
           CAST(ROW_NUMBER() OVER (
               ORDER BY score_scaled DESC, doc_id
           ) AS INT) AS rnk
    FROM doc_scores
)
SELECT doc_id, n_terms_matched, score_scaled, rnk
FROM ranked WHERE rnk <= {BM25_SEARCH_TOP}
ORDER BY rnk
"""


# --- BM25 phrase retrieval ---------------------------------------------------

BM25_PHRASE = ("hash", "join")  # deterministic adjacent-pair phrase query


def bm25_phrase_search(
    docs: DataFrame,
    phrase: tuple[str, str] = BM25_PHRASE,
    top: int = BM25_SEARCH_TOP,
    k1: float = BM25_K1,
    b: float = BM25_B,
    text_col: str = "text",
) -> DataFrame:
    """Top-``top`` documents for an exact PHRASE query — BM25 where the
    "term" is the adjacent-pair occurrence (positional-index retrieval,
    the building block of quoted-phrase search). tf = phrase occurrences
    per doc, df = docs containing the phrase; dl and the corpus scalars
    come from the SAME ``_bm25_tf``/``_bm25_stats`` derivation as the
    term ops, so phrase scores live on the term ops' scale.

    Scale: the positional pass filters to the two phrase words MAP-SIDE
    before any shuffle — the adjacency join moves only those postings
    (Σ df(word) rows), keyed by (doc, position). Document lengths
    aggregate only for candidate docs behind a broadcast semi-join; the
    rank window runs over ≤ top rows (orderBy+limit first)."""
    w1, w2 = phrase
    tf = _bm25_tf(docs, text_col)
    tokp = widen_if_narrow(docs).select(
        "doc_id", F.posexplode(tokens(F.col(text_col))).alias("pos", "token")
    )
    first = tokp.where(F.col("token") == w1).select("doc_id", "pos")
    second = tokp.where(F.col("token") == w2).select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    ptf = (
        first.join(second, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()  # tiny (≤ phrase-df rows); reused by df + scoring
    )
    pdf = ptf.agg(F.count(F.lit(1)).alias("df"))
    dl_cand = (
        tf.join(F.broadcast(ptf.select("doc_id")), "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.sum("tf").alias("dl"))
    )
    scored = (
        ptf.join(dl_cand, "doc_id")
        .crossJoin(F.broadcast(pdf))
        .crossJoin(F.broadcast(_bm25_stats(tf)))
        .select("doc_id", "tf", _bm25_score(k1, b).alias("score_scaled"))
    )
    head = scored.orderBy(F.desc("score_scaled"), F.col("doc_id")).limit(top)
    w = Window.orderBy(F.desc("score_scaled"), F.col("doc_id"))
    return head.withColumn("rnk", F.row_number().over(w).cast("int")).orderBy(
        "rnk"
    )


def q_bm25_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_phrase_search(load_table(spark, sf_dir, "documents"))


_ORACLE_BM25_PHRASE = f"""
WITH {_DUCK_BM25_TABLES},
p AS (SELECT doc_id, string_split(lower(text), ' ') AS parts FROM documents),
tokp AS (
    SELECT doc_id,
           unnest([{{'pos': i, 'token': parts[i]}}
                   FOR i IN generate_series(1, len(parts))],
                  recursive := true)
    FROM p
),
occ AS (
    SELECT a.doc_id
    FROM tokp a JOIN tokp b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    WHERE a.token = '{BM25_PHRASE[0]}' AND b.token = '{BM25_PHRASE[1]}'
),
ptf AS (SELECT doc_id, COUNT(*) AS tf FROM occ GROUP BY doc_id),
pdf AS (SELECT COUNT(*) AS df FROM ptf),
scored AS (
    SELECT tf.doc_id, tf.tf,
           {_DUCK_BM25_SCORE} AS score_scaled
    FROM ptf tf JOIN dl ON dl.doc_id = tf.doc_id, pdf df, stats
),
ranked AS (
    SELECT doc_id, tf, score_scaled,
           CAST(ROW_NUMBER() OVER (
               ORDER BY score_scaled DESC, doc_id
           ) AS INT) AS rnk
    FROM scored
)
SELECT doc_id, tf, score_scaled, rnk
FROM ranked WHERE rnk <= {BM25_SEARCH_TOP}
ORDER BY rnk
"""


# --- pairwise source similarity matrix ---------------------------------------


def q_source_similarity_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard between EVERY source pair — the corpus-composition
    matrix read when deciding which acquisition sources are redundant
    (complement of ``source_divergence``'s per-source-vs-corpus KL and
    ``ngram_novelty``'s unique-contribution view; this one says WHICH
    pairs overlap). Zero-overlap pairs appear as explicit rows — absence
    of overlap is the actionable signal. Thresholds are exact integer
    ppm over the 3-gram set universe shared with decontamination.

    Scale: the (source, gram) distinct table is ONE vocabulary-sized
    shuffle; the intersection join is gram-keyed and posting-bounded —
    per gram the pair fan-out is (sources containing it)² ≤ |sources|²,
    a SCHEMA-bounded constant, never corpus-scale; the full pair grid is
    |sources|² rows built from the broadcast sizes rollup."""
    docs = load_table(spark, sf_dir, "documents")
    sg = _source_grams(docs, DECONTAM_N)  # shared with ngram_novelty
    # sizes over ALL observed sources, not just gram-bearing ones: a
    # source whose docs are all shorter than the shingle width must
    # still appear in every pair row (n=0, jaccard 0) — absence of
    # overlap is the contract, so the source list comes from documents
    gram_counts = sg.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    sizes = (
        docs.select("source")
        .distinct()
        .join(gram_counts, "source", "left")
        .select(
            "source", F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n")
        )
    )
    inter = pair_overlap(sg, "gram", ("source_a", "source_b"), key="source")
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    grid = sa.join(
        F.broadcast(sb), F.col("source_a") < F.col("source_b")
    )
    return (
        grid.join(inter, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            F.coalesce(F.col("n_inter"), F.lit(0).cast("long")).alias(
                "n_inter"
            ),
            "n_a",
            "n_b",
            F.expr(
                "CAST(COALESCE(COALESCE(n_inter, 0) * 1000000 "
                "DIV NULLIF(n_a + n_b - COALESCE(n_inter, 0), 0), 0)"
                " AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
        .orderBy("source_a", "source_b")
    )


_ORACLE_SOURCE_SIM = f"""
WITH sg AS (
    SELECT DISTINCT source, gram FROM (
        SELECT source,
               unnest([array_to_string(toks[i:i+{DECONTAM_N - 1}], ' ')
                       FOR i IN generate_series(1, len(toks) - {DECONTAM_N - 1})])
                   AS gram
        FROM (SELECT source, string_split(lower(text), ' ') AS toks
              FROM documents)
    )
),
sizes AS (
    SELECT d.source, COUNT(g.gram) AS n
    FROM (SELECT DISTINCT source FROM documents) d
    LEFT JOIN sg g ON g.source = d.source
    GROUP BY d.source
),
inter AS (
    SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_inter
    FROM sg a JOIN sg b ON b.gram = a.gram AND a.source < b.source
    GROUP BY a.source, b.source
)
SELECT sa.source AS source_a, sb.source AS source_b,
       CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS n_inter,
       CAST(sa.n AS BIGINT) AS n_a,
       CAST(sb.n AS BIGINT) AS n_b,
       CAST(COALESCE(COALESCE(i.n_inter, 0) * 1000000
            // NULLIF(sa.n + sb.n - COALESCE(i.n_inter, 0), 0), 0) AS BIGINT)
           AS jaccard_ppm
FROM sizes sa
JOIN sizes sb ON sa.source < sb.source
LEFT JOIN inter i ON i.source_a = sa.source AND i.source_b = sb.source
ORDER BY source_a, source_b
"""


# --- hybrid (lexical + vector) retrieval -------------------------------------

HYBRID_PROBE = 7  # "more-like-this" probe doc; embeddings↔documents share ids
HYBRID_QTERMS = 3  # probe terms for the lexical leg (its top BM25 terms)
RRF_POOL = 20  # per-leg candidate pool
RRF_K = 60  # the standard RRF rank damper (Cormack et al.)
RRF_SCALE = 1_000_000_000  # integer 1/(k+rank) contributions: SCALE DIV (k+r)
HYBRID_TOP = 10


def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval with Reciprocal Rank Fusion — the modern RAG
    retrieval shape: a lexical leg (BM25 more-like-this: the probe doc's
    top-``HYBRID_QTERMS`` BM25 terms query the corpus) and a vector leg
    (exact cosine top-k from the probe's embedding) each rank a
    ``RRF_POOL`` candidate pool, and the fusion score is the integer
    RRF sum Σ_legs SCALE DIV (k + rank) — rank-only fusion, so the two
    legs' incomparable score scales never need calibration, and the
    result is exact BIGINT arithmetic on both engines.

    Scale: the lexical leg is posting-bounded end-to-end (probe terms'
    postings → _bm25_rank_postings, the same core as bm25_search; df is
    taken BEFORE the probe doc is excluded from candidates); the vector
    leg is a 1×N broadcast brute-force scan (the LSH path would swap in
    at corpus scale); the fusion joins two ≤ RRF_POOL-row lists — a
    driver-free full-outer join of two tiny sides."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    from admob_data_pipeline_spark.operators.similarity import topk_bruteforce

    spark = docs.sparkSession
    tf = _bm25_tf(docs, "text")
    # r12 (guide §1/§2.4): the probe-side artifacts are all BOUNDED —
    # one document's term rows, the per-probe-token dfs, the 1-row
    # corpus scalars (same driver-artifact class as the PQ codebooks).
    # Collect them and score the probe terms over a LITERAL frame
    # instead of the former window + two broadcast joins + crossJoin
    # over the checkpointed tf: the jobs drop from 8 (ptf checkpoint +
    # broadcast builds) to 3 collects + one tiny local scoring job, and
    # the posting cut becomes a map-only isin. Engine parity: dl is an
    # exact integer sum, df/n_docs exact counts, and the float BM25
    # selection still evaluates _bm25_score in the JVM on the identical
    # values, so the picked terms cannot drift from the oracle's.
    ptf_rows = tf.where(F.col("doc_id") == HYBRID_PROBE).collect()
    probe_tokens = [r["token"] for r in ptf_rows]
    dl_probe = sum(int(r["tf"]) for r in ptf_rows)
    df_rows = (
        tf.where(F.col("token").isin(probe_tokens))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    )
    df_map = {r["token"]: int(r["df"]) for r in df_rows}
    st = _bm25_stats(tf).collect()[0]
    n_docs, avgdl = int(st["n_docs"]), float(st["avgdl"])
    qscored = spark.createDataFrame(
        [
            (r["token"], int(r["tf"]), dl_probe, df_map[r["token"]], n_docs, avgdl)
            for r in ptf_rows
        ],
        "token string, tf long, dl long, df long, n_docs long, avgdl double",
    ).select("token", _bm25_score(BM25_K1, BM25_B).alias("s"))
    qterm_list = [
        r["token"]
        for r in qscored.orderBy(F.desc("s"), "token")
        .limit(HYBRID_QTERMS)
        .select("token")
        .collect()
    ]
    postings = tf.where(F.col("token").isin(qterm_list))
    stats_lit = spark.createDataFrame(
        [(n_docs, avgdl)], "n_docs long, avgdl double"
    )
    lex = _bm25_rank_postings(
        tf,
        postings,
        RRF_POOL,
        BM25_K1,
        BM25_B,
        exclude_doc=HYBRID_PROBE,
        stats=stats_lit,  # literal 1-row frame: no re-aggregation of tf
    ).select("doc_id", F.col("rnk").alias("lex_rank"))
    vec = topk_bruteforce(emb, [HYBRID_PROBE], k=RRF_POOL).select(
        F.col("vec_id").alias("doc_id"), F.col("rank").cast("int").alias("vec_rank")
    )
    fused = lex.join(vec, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "vec_rank",
        (
            F.coalesce(F.expr(f"{RRF_SCALE} DIV ({RRF_K} + lex_rank)"), F.lit(0))
            + F.coalesce(F.expr(f"{RRF_SCALE} DIV ({RRF_K} + vec_rank)"), F.lit(0))
        )
        .cast("long")
        .alias("rrf_score"),
    )
    head = fused.orderBy(F.desc("rrf_score"), "doc_id").limit(HYBRID_TOP)
    w = Window.orderBy(F.desc("rrf_score"), F.col("doc_id"))
    return head.withColumn("rnk", F.row_number().over(w).cast("int")).orderBy(
        "rnk"
    )


_ORACLE_HYBRID_RRF = f"""
WITH {_DUCK_BM25_TABLES},
base AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS nrm
    FROM embeddings
),
qsc AS (
    SELECT tf.token, {_DUCK_BM25_SCORE} AS s
    FROM tf JOIN df USING (token) JOIN dl USING (doc_id), stats
    WHERE tf.doc_id = {HYBRID_PROBE}
),
qterms AS (SELECT token FROM qsc ORDER BY s DESC, token LIMIT {HYBRID_QTERMS}),
per_term AS (
    SELECT tf.doc_id, {_DUCK_BM25_SCORE} AS s
    FROM tf JOIN df USING (token) JOIN dl USING (doc_id), stats
    WHERE tf.token IN (SELECT token FROM qterms)
      AND tf.doc_id <> {HYBRID_PROBE}
),
doc_scores AS (
    SELECT doc_id, CAST(SUM(s) AS BIGINT) AS score_scaled
    FROM per_term GROUP BY doc_id
),
lex AS (
    SELECT doc_id, lex_rank FROM (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY score_scaled DESC, doc_id
               ) AS INT) AS lex_rank
        FROM doc_scores
    ) WHERE lex_rank <= {RRF_POOL}
),
vq AS (SELECT v, nrm FROM base WHERE vec_id = {HYBRID_PROBE}),
vscored AS (
    SELECT b.vec_id AS doc_id,
           ROUND(list_dot_product(q.v, b.v) / NULLIF(q.nrm * b.nrm, 0), 6)
               AS cos_sim
    FROM base b, vq q WHERE b.vec_id <> {HYBRID_PROBE}
),
vec AS (
    SELECT doc_id, vec_rank FROM (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY cos_sim DESC, doc_id
               ) AS INT) AS vec_rank
        FROM vscored
    ) WHERE vec_rank <= {RRF_POOL}
),
fused AS (
    SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id, l.lex_rank, v.vec_rank,
           CAST(COALESCE({RRF_SCALE} // ({RRF_K} + l.lex_rank), 0)
              + COALESCE({RRF_SCALE} // ({RRF_K} + v.vec_rank), 0)
               AS BIGINT) AS rrf_score
    FROM lex l FULL OUTER JOIN vec v ON v.doc_id = l.doc_id
),
ranked AS (
    SELECT doc_id, lex_rank, vec_rank, rrf_score,
           CAST(ROW_NUMBER() OVER (
               ORDER BY rrf_score DESC, doc_id
           ) AS INT) AS rnk
    FROM fused
)
SELECT doc_id, lex_rank, vec_rank, rrf_score, rnk
FROM ranked WHERE rnk <= {HYBRID_TOP}
ORDER BY rnk
"""


# --- unigram-LM quality score ----------------------------------------------
LM_SCALE = 10_000  # per-token NLL floor-scaled to integers (playbook #14:
                   # ln() differs in the last ulp across engines; ints sum
                   # exactly and order-independently)


def lm_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document negative log-likelihood under an add-one-smoothed
    unigram LM fit on the corpus itself — the cheap perplexity-style
    quality gate (high NLL ⇒ rare-token-heavy / atypical text).

    p(t) = (count(t) + 1) / (N + V). Each token's −ln p is floor-scaled
    to an integer BEFORE summing, so the per-doc sum is exact and
    order-independent; the average is the quotient of two bigints
    (identical across engines).

    Scale shape: one explode + token-count aggregate builds the LM (the
    vocab table is ≪ corpus — low millions of rows at 100 TB — and
    broadcasts); the scoring side is a broadcast map-side join + one
    per-doc aggregate. The corpus shuffles only (doc_id, token-hash)
    pairs, never text. The vocab table is materialized
    (``localCheckpoint``) because both the scoring join and the (N, V)
    scalars read it — a tiny table, cheap to pin; the exploded corpus
    itself is deliberately NOT materialized (recomputing one explode
    beats spilling a corpus-sized intermediate at 100 TB)."""
    docs = widen_if_narrow(docs)
    tok = docs.select("doc_id", F.explode(tokens(F.col(text_col))).alias("token"))
    counts = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    stats = counts.agg(
        F.sum("c").alias("n_total"), F.count(F.lit(1)).alias("v_size")
    )  # one row — broadcast scalar
    nll_scaled = F.floor(
        -F.log((F.col("c") + 1) / (F.col("n_total") + F.col("v_size"))) * LM_SCALE
    ).cast("long")
    scored = (
        join_small(tok, counts, "token")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", nll_scaled.alias("nll_e4"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("nll_e4").alias("nll_sum_e4"),
        )
        .withColumn("avg_nll_e4", F.col("nll_sum_e4") / F.col("n_tokens"))
        .orderBy("doc_id")
    )


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm_score(load_table(spark, sf_dir, "documents"))


_ORACLE_LM = f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
    FROM documents
),
counts AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token),
stats AS (SELECT SUM(c) AS n_total, COUNT(*) AS v_size FROM counts),
scored AS (
    SELECT t.doc_id,
           CAST(FLOOR(-ln((c + 1) / CAST(n_total + v_size AS DOUBLE))
                      * {LM_SCALE}) AS BIGINT) AS nll_e4
    FROM tok t JOIN counts USING (token), stats
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(nll_e4) AS BIGINT) AS nll_sum_e4,
       CAST(SUM(nll_e4) AS BIGINT) / COUNT(*) AS avg_nll_e4
FROM scored
GROUP BY doc_id
ORDER BY doc_id
"""


# --- per-source distribution divergence ------------------------------------
KL_SCALE = 10_000


def source_divergence(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """KL divergence of each source's token distribution from the corpus
    distribution — the drift/quality audit that flags a crawl shard whose
    language suddenly shifts. Add-one smoothing on both sides; each
    token's contribution p·ln(p/q) is floor-scaled to an integer before
    summing (transcendental ulp discipline), so the aggregate is exact.

    Scale: token counts per (source, token) — one shuffle; the corpus
    vocabulary aggregate derives from the checkpointed per-source counts
    (≪ corpus); scalars broadcast. The corpus is scanned once."""
    docs = widen_if_narrow(docs)
    st = (
        docs.select("source", F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c_st"))
        .localCheckpoint()
    )
    tot_s = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    corpus = st.groupBy("token").agg(F.sum("c_st").alias("c_t"))
    stats = corpus.agg(
        F.sum("c_t").alias("n_total"), F.count(F.lit(1)).alias("v_size")
    )
    joined = join_small(
        st.join(F.broadcast(tot_s), "source"), corpus, "token"
    ).crossJoin(F.broadcast(stats))
    p = (F.col("c_st") + 1) / (F.col("n_s") + F.col("v_size"))
    q = (F.col("c_t") + 1) / (F.col("n_total") + F.col("v_size"))
    contrib = F.floor(p * F.log(p / q) * KL_SCALE).cast("long")
    return (
        joined.select("source", contrib.alias("kl_e4"))
        .groupBy("source")
        .agg(F.sum("kl_e4").alias("kl_sum_e4"), F.count(F.lit(1)).alias("n_terms"))
        .orderBy("source")
    )


def q_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    return source_divergence(load_table(spark, sf_dir, "documents"))


_ORACLE_DIVERGENCE = f"""
WITH st AS (
    SELECT source, unnest(string_split(lower(text), ' ')) AS token
    FROM documents
),
counts AS (
    SELECT source, token, COUNT(*) AS c_st FROM st GROUP BY source, token
),
tot_s AS (SELECT source, SUM(c_st) AS n_s FROM counts GROUP BY source),
corpus AS (SELECT token, SUM(c_st) AS c_t FROM counts GROUP BY token),
stats AS (SELECT SUM(c_t) AS n_total, COUNT(*) AS v_size FROM corpus),
contrib AS (
    SELECT c.source,
           CAST(FLOOR(
               ((c.c_st + 1) / CAST(t.n_s + s.v_size AS DOUBLE))
               * ln(((c.c_st + 1) / CAST(t.n_s + s.v_size AS DOUBLE))
                    / ((co.c_t + 1) / CAST(s.n_total + s.v_size AS DOUBLE)))
               * {KL_SCALE}) AS BIGINT) AS kl_e4
    FROM counts c
    JOIN tot_s t USING (source)
    JOIN corpus co USING (token), stats s
)
SELECT source,
       CAST(SUM(kl_e4) AS BIGINT) AS kl_sum_e4,
       COUNT(*) AS n_terms
FROM contrib
GROUP BY source
ORDER BY source
"""


def bigram_lm_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document NLL under an add-one-smoothed BIGRAM LM fit on the
    corpus — the context-sensitive upgrade of :func:`lm_score` (a doc of
    common words in an uncommon ORDER now scores high, which unigrams
    can't see; this is the fluency axis of quality filtering).

    p(w2|w1) = (c(w1,w2) + 1) / (c1(w1) + V), −ln floor-scaled to an
    integer per bigram before summing (playbook #14), so sums are exact.

    Scale shape: bigrams are built map-side from the token array (an
    array transform — no self-join, no positional shuffle); bigram counts
    are one partial-aggregated groupBy. Both model tables join back via
    ``join_small`` — a bigram vocabulary grows faster than unigram, so the
    broadcast guard (shuffle fallback above the row threshold) matters
    here first. Docs need ≥ 2 tokens to have a bigram; shorter docs are
    excluded by construction (mirrored in the oracle)."""
    docs = widen_if_narrow(docs)
    t = tokens(F.col(text_col))
    # guard sequence(1, size-1) against size < 2 (Spark emits a DESCENDING
    # [1, 0] when start > stop) by filtering short docs first
    with_bg = (
        docs.select("doc_id", t.alias("t"))
        .where(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> struct(t[i-1] AS w1, t[i] AS w2))"
                )
            ).alias("bg"),
        )
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    bg = with_bg.localCheckpoint()
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    # unigram context counts + V from the full token stream (ALL positions,
    # standard conditional-LM denominator)
    tok = docs.select("doc_id", F.explode(t).alias("token"))
    c1 = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c1")).localCheckpoint()
    v_size = F.lit(c1.count()).cast("long")
    nll = F.floor(
        -F.log((F.col("c12") + 1) / (F.col("c1") + v_size)) * LM_SCALE
    ).cast("long")
    scored = join_small(
        join_small(bg, c12, ["w1", "w2"]),
        c1.withColumnRenamed("token", "w1"),
        "w1",
    ).select("doc_id", nll.alias("nll_e4"))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("nll_e4").alias("nll_sum_e4"),
        )
        .withColumn("avg_nll_e4", F.col("nll_sum_e4") / F.col("n_bigrams"))
        .orderBy("doc_id")
    )


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bigram_lm_score(load_table(spark, sf_dir, "documents"))


_ORACLE_BIGRAM_LM = f"""
WITH t AS (
    SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
),
bg AS (
    SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
    FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS g(i)
    WHERE len(toks) >= 2
),
c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
tok AS (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
    FROM documents
),
c1 AS (SELECT token, COUNT(*) AS c1 FROM tok GROUP BY token),
v AS (SELECT COUNT(*) AS v_size FROM c1),
scored AS (
    SELECT b.doc_id,
           CAST(FLOOR(-ln((c.c12 + 1) / CAST(u.c1 + v.v_size AS DOUBLE))
                      * {LM_SCALE}) AS BIGINT) AS nll_e4
    FROM bg b
    JOIN c12 c ON c.w1 = b.w1 AND c.w2 = b.w2
    JOIN c1 u ON u.token = b.w1
    CROSS JOIN v
)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       CAST(SUM(nll_e4) AS BIGINT) AS nll_sum_e4,
       CAST(SUM(nll_e4) AS BIGINT) / COUNT(*) AS avg_nll_e4
FROM scored
GROUP BY doc_id
ORDER BY doc_id
"""


def mixture_weights(
    docs: DataFrame, budget: int = 100_000, temperature_sqrt: bool = True
) -> DataFrame:
    """Domain-mixing weights for training-set composition: each source's
    sampling share under temperature-scaled sampling (α = 0.5, i.e.
    weight ∝ √count — the standard flattening that keeps small domains
    from vanishing and large domains from dominating), plus the document
    quota each source gets out of a sampling ``budget``.

    Determinism: IEEE-754 sqrt is correctly rounded (bit-identical on any
    engine), and each weight is floor-scaled to integer micro-units BEFORE
    the cross-source total, so the normalization is an exact BIGINT sum in
    any partition/engine order; shares are integer ppm.

    Scale: one map-side-combined groupBy on source (the corpus collapses
    to |sources| rows), then a scalar cross join — nothing else moves."""
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = (
        F.floor(F.sqrt(F.col("n_docs")) * 1e6).cast("long")
        if temperature_sqrt
        else (F.col("n_docs") * F.lit(1_000_000)).cast("long")
    )
    weighted = counts.select("source", "n_docs", w.alias("weight_e6"))
    total = weighted.agg(F.sum("weight_e6").alias("total_e6"))
    return (
        weighted.crossJoin(total)
        .select(
            "source",
            "n_docs",
            "weight_e6",
            F.expr("CAST(weight_e6 * 1000000 DIV total_e6 AS BIGINT)").alias(
                "share_ppm"
            ),
            F.expr(
                f"CAST({budget} * weight_e6 DIV total_e6 AS BIGINT)"
            ).alias("quota_docs"),
        )
        .orderBy("source")
    )


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mixture_weights(load_table(spark, sf_dir, "documents"))


MIX_SEED = "mix-seed-1"


def mixture_epoch_plan(docs: DataFrame, key: str = "lang") -> DataFrame:
    """MATERIALIZE the temperature mix (the half ``mixture_weights``
    stops short of): given per-``key`` α=0.5 weights, turn the corpus
    budget (B = total docs) into an executable per-key sampling plan —
    ``quota`` docs of each key, expressed as ``full_epochs`` complete
    passes plus a ``remainder`` drawn deterministically (md5 order, the
    corpus sampling convention). This is how multilingual LLM runs
    (mT5/XLM-R-style) actually realize p_l ∝ n_l^α: low-resource keys
    repeat for multiple epochs, high-resource keys are subsampled, and
    the remainder draw must be reproducible so every re-run of the
    pipeline trains on the same documents (``remainder_docid_sum`` is
    the exact-integer witness of WHICH docs were drawn, not just how
    many).

    Exact-integer discipline: the weight is isqrt(n·1e12) — floor
    square root with a ±1 correction step, so the weight is exactly
    ⌊√n·1e6⌋ on both engines regardless of libm rounding — and every
    share/quota is BIGINT DIV arithmetic. n·1e12 needs n ≤ 9.2e6 per
    key; past that BOTH engines raise on the overflow (ANSI) — drop the
    weight scale for larger corpora rather than silently wrapping.

    Scale: one groupBy over the corpus for the counts (k rows), one
    window rank per key for the remainder draw — the draw scans the
    corpus once; everything else is k-row arithmetic."""
    counts = docs.groupBy(key).agg(F.count(F.lit(1)).alias("n_docs"))
    # exact integer sqrt: double sqrt is within 1 ulp, so one correction
    # step pins ⌊√x⌋ exactly (x = n·1e12 ≤ 2^63 for n ≤ 9.2e6 … guarded)
    isqrt = (
        "CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE) * 1e12)) AS BIGINT)"
    )
    w = (
        f"(CASE WHEN ({isqrt} + 1) * ({isqrt} + 1) <= n_docs * "
        f"CAST(1e12 AS BIGINT) THEN {isqrt} + 1 "
        f"WHEN {isqrt} * {isqrt} > n_docs * CAST(1e12 AS BIGINT) "
        f"THEN {isqrt} - 1 ELSE {isqrt} END)"
    )
    weighted = counts.select(
        key, "n_docs", F.expr(w).cast("long").alias("weight_e6")
    )
    totals = weighted.agg(
        F.sum("weight_e6").alias("total_w"),
        F.sum("n_docs").alias("budget"),
    )
    plan = weighted.crossJoin(F.broadcast(totals)).select(
        key,
        "n_docs",
        "weight_e6",
        F.expr("weight_e6 * 1000000 DIV total_w").alias("share_ppm"),
        F.expr("budget * weight_e6 DIV total_w").alias("quota"),
    )
    plan = plan.select(
        key,
        "n_docs",
        "weight_e6",
        "share_ppm",
        "quota",
        F.expr("quota DIV n_docs").alias("full_epochs"),
        F.expr("quota % n_docs").alias("remainder"),
    ).localCheckpoint()  # feeds the draw join AND the final projection
    ranked = docs.select(
        key,
        "doc_id",
        F.row_number()
        .over(
            Window.partitionBy(key).orderBy(
                F.md5(
                    F.concat_ws(
                        "|", F.lit(MIX_SEED), F.col("doc_id").cast("string")
                    )
                ),
                "doc_id",
            )
        )
        .alias("rk"),
    )
    drawn = (
        ranked.join(plan.select(key, "remainder"), key)
        .where(F.col("rk") <= F.col("remainder"))
        .groupBy(key)
        .agg(F.sum("doc_id").alias("remainder_docid_sum"))
    )
    return (
        plan.join(drawn, key, "left")
        .select(
            key,
            "n_docs",
            "weight_e6",
            "share_ppm",
            "quota",
            "full_epochs",
            "remainder",
            F.coalesce("remainder_docid_sum", F.lit(0))
            .cast("long")
            .alias("remainder_docid_sum"),
        )
        .orderBy(key)
    )


def q_mixture_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mixture_epoch_plan(load_table(spark, sf_dir, "documents"))


_ORACLE_MIXTURE_EPOCH = f"""
WITH counts AS (
    SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
),
weighted AS (
    SELECT lang, n_docs,
           (CASE WHEN (s + 1) * (s + 1) <= n_docs * CAST(1e12 AS BIGINT)
                 THEN s + 1
                 WHEN s * s > n_docs * CAST(1e12 AS BIGINT) THEN s - 1
                 ELSE s END) AS weight_e6
    FROM (
        SELECT lang, n_docs,
               CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE) * 1e12)) AS BIGINT)
                   AS s
        FROM counts
    )
),
totals AS (
    SELECT CAST(SUM(weight_e6) AS BIGINT) AS total_w,
           CAST(SUM(n_docs) AS BIGINT) AS budget
    FROM weighted
),
plan AS (
    SELECT w.lang, w.n_docs, w.weight_e6,
           w.weight_e6 * 1000000 // t.total_w AS share_ppm,
           t.budget * w.weight_e6 // t.total_w AS quota
    FROM weighted w, totals t
),
plan2 AS (
    SELECT lang, n_docs, weight_e6, share_ppm, quota,
           quota // n_docs AS full_epochs,
           quota % n_docs AS remainder
    FROM plan
),
ranked AS (
    SELECT lang, doc_id,
           ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5('{MIX_SEED}' || '|' || CAST(doc_id AS VARCHAR)),
                        doc_id
           ) AS rk
    FROM documents
),
drawn AS (
    SELECT r.lang, CAST(SUM(r.doc_id) AS BIGINT) AS remainder_docid_sum
    FROM ranked r JOIN plan2 p ON p.lang = r.lang
    WHERE r.rk <= p.remainder
    GROUP BY r.lang
)
SELECT p.lang,
       CAST(p.n_docs AS BIGINT) AS n_docs,
       CAST(p.weight_e6 AS BIGINT) AS weight_e6,
       CAST(p.share_ppm AS BIGINT) AS share_ppm,
       CAST(p.quota AS BIGINT) AS quota,
       CAST(p.full_epochs AS BIGINT) AS full_epochs,
       CAST(p.remainder AS BIGINT) AS remainder,
       CAST(COALESCE(d.remainder_docid_sum, 0) AS BIGINT)
           AS remainder_docid_sum
FROM plan2 p LEFT JOIN drawn d ON d.lang = p.lang
ORDER BY p.lang
"""


def q_curation_pipeline_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation pipeline as ONE oracle-checked query —
    the chain a pre-training data run actually executes, with per-stage
    accounting so every dropped document is attributable:

    1. GATE: the C4/Gopher rule composite (``curation_gate_columns`` —
       the registered gate's exact column expressions, map-only);
    2. NEAR-DUP DROP: shingle-set Jaccard ≥ threshold pairs among the
       GATED docs (``ngram_jaccard_pairs`` verbatim — the fixture has
       no exact duplicates at oracle SF, so the composite uses the
       stage that actually fires); the higher id of every qualifying
       pair is dropped (keep-lowest-id, the dedup family convention);
    3. MIX: the α=0.5 temperature epoch plan over the survivors
       (``mixture_epoch_plan`` verbatim — quotas, epochs, and the
       deterministic remainder draw now computed on the CURATED corpus,
       which is what a real run samples from).

    One row per language: raw → gated → unique counts, then the full
    sampling plan. Every stage reuses the registered single-point
    helper, so this composite can never drift from the stage queries —
    and the oracle recomputes the whole chain relationally, so a gate
    regression, a dedup over/under-drop, or a quota shift anywhere in
    the pipeline fails one hash.

    Scale: gate is map-only; the near-dup stage is the shared-shingle
    join (candidate-bounded, never N²); the mix is k-row arithmetic
    plus one rank scan — the composite adds NO new shuffle shape over
    its stages."""
    from admob_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    gate = curation_gate_columns(widen_if_narrow(docs)).select("doc_id", "keep")
    gated = docs.join(gate.where(F.col("keep")), "doc_id").localCheckpoint()
    dropped = (
        ngram_jaccard_pairs(gated)
        .select(F.col("b").alias("doc_id"))
        .distinct()
    )
    uniq = (
        gated.join(dropped, "doc_id", "left_anti")
        .select("doc_id", "lang")
        .localCheckpoint()  # feeds the mixture count AND the rank draw
    )
    plan = mixture_epoch_plan(uniq, "lang")
    n_raw = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_raw"))
    n_gated = gated.groupBy("lang").agg(F.count(F.lit(1)).alias("n_gated"))
    return (
        n_raw.join(n_gated, "lang", "left")
        .join(plan, "lang", "left")
        .select(
            "lang",
            "n_raw",
            F.coalesce("n_gated", F.lit(0)).cast("long").alias("n_gated"),
            F.col("n_docs").cast("long").alias("n_unique"),
            "weight_e6",
            "share_ppm",
            "quota",
            "full_epochs",
            "remainder",
            "remainder_docid_sum",
        )
        .orderBy("lang")
    )


def _curation_pipeline_oracle() -> str:
    from admob_data_pipeline_spark.operators.dedup import (
        _DUCK_SHINGLES,
        JACCARD_THRESHOLD,
        MAX_DF,
    )

    gate = _curation_gate_oracle()
    shingles = _DUCK_SHINGLES.format(max_df=MAX_DF, src="gated").strip()
    t_scaled = int(round(JACCARD_THRESHOLD * 1_000_000))
    return f"""
WITH gated AS (
    SELECT d.doc_id, d.text, d.lang
    FROM documents d
    JOIN ({gate}) g ON g.doc_id = d.doc_id
    WHERE g.keep
),
{{shingles}},
pairs AS (
    SELECT sa.doc_id AS a, sb.doc_id AS b, COUNT(*) AS n_inter
    FROM sh sa JOIN sh sb
      ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
    GROUP BY 1, 2
),
dropped AS (
    SELECT DISTINCT p.b AS doc_id
    FROM pairs p
    JOIN sizes za ON za.doc_id = p.a
    JOIN sizes zb ON zb.doc_id = p.b
    WHERE p.n_inter * 1000000
          >= {{t_scaled}} * (za.n_sh + zb.n_sh - p.n_inter)
),
uniq AS (
    SELECT g.doc_id, g.lang FROM gated g
    WHERE g.doc_id NOT IN (SELECT doc_id FROM dropped)
),
counts AS (SELECT lang, COUNT(*) AS n_docs FROM uniq GROUP BY lang),
weighted AS (
    SELECT lang, n_docs,
           (CASE WHEN (s + 1) * (s + 1) <= n_docs * CAST(1e12 AS BIGINT)
                 THEN s + 1
                 WHEN s * s > n_docs * CAST(1e12 AS BIGINT) THEN s - 1
                 ELSE s END) AS weight_e6
    FROM (
        SELECT lang, n_docs,
               CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE) * 1e12)) AS BIGINT)
                   AS s
        FROM counts
    )
),
totals AS (
    SELECT CAST(SUM(weight_e6) AS BIGINT) AS total_w,
           CAST(SUM(n_docs) AS BIGINT) AS budget
    FROM weighted
),
plan2 AS (
    SELECT lang, n_docs, weight_e6, share_ppm, quota,
           quota // n_docs AS full_epochs,
           quota % n_docs AS remainder
    FROM (
        SELECT w.lang, w.n_docs, w.weight_e6,
               w.weight_e6 * 1000000 // t.total_w AS share_ppm,
               t.budget * w.weight_e6 // t.total_w AS quota
        FROM weighted w, totals t
    )
),
ranked AS (
    SELECT lang, doc_id,
           ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5('{MIX_SEED}' || '|' || CAST(doc_id AS VARCHAR)),
                        doc_id
           ) AS rk
    FROM uniq
),
drawn AS (
    SELECT r.lang, CAST(SUM(r.doc_id) AS BIGINT) AS remainder_docid_sum
    FROM ranked r JOIN plan2 p ON p.lang = r.lang
    WHERE r.rk <= p.remainder
    GROUP BY r.lang
),
acct AS (
    SELECT d.lang, COUNT(*) AS n_raw,
           COUNT(*) FILTER (WHERE g.keep) AS n_gated
    FROM documents d JOIN ({gate}) g ON g.doc_id = d.doc_id
    GROUP BY d.lang
)
SELECT a.lang,
       CAST(a.n_raw AS BIGINT) AS n_raw,
       CAST(a.n_gated AS BIGINT) AS n_gated,
       CAST(p.n_docs AS BIGINT) AS n_unique,
       CAST(p.weight_e6 AS BIGINT) AS weight_e6,
       CAST(p.share_ppm AS BIGINT) AS share_ppm,
       CAST(p.quota AS BIGINT) AS quota,
       CAST(p.full_epochs AS BIGINT) AS full_epochs,
       CAST(p.remainder AS BIGINT) AS remainder,
       CAST(COALESCE(d2.remainder_docid_sum, 0) AS BIGINT)
           AS remainder_docid_sum
FROM acct a
LEFT JOIN plan2 p ON p.lang = a.lang
LEFT JOIN drawn d2 ON d2.lang = a.lang
ORDER BY a.lang
""".format(shingles=shingles, t_scaled=t_scaled)


_ORACLE_CURATION_PIPELINE = _curation_pipeline_oracle()



_ORACLE_MIXTURE = """
WITH counts AS (
    SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
),
weighted AS (
    SELECT source, n_docs,
           CAST(FLOOR(sqrt(n_docs) * 1e6) AS BIGINT) AS weight_e6
    FROM counts
),
total AS (SELECT CAST(SUM(weight_e6) AS BIGINT) AS total_e6 FROM weighted)
SELECT w.source, w.n_docs, w.weight_e6,
       CAST(w.weight_e6 * 1000000 // t.total_e6 AS BIGINT) AS share_ppm,
       CAST(100000 * w.weight_e6 // t.total_e6 AS BIGINT) AS quota_docs
FROM weighted w, total t
ORDER BY w.source
"""


# --- per-source novelty ------------------------------------------------------
NOVELTY_N = 3


def _source_grams(docs: DataFrame, n: int) -> DataFrame:
    """Distinct (source, gram) pairs — the source-keyed twin of
    _doc_ngrams, shared by ngram_novelty and the source-similarity
    matrix (checkpointed: both consumers read it at least twice)."""
    return (
        widen_if_narrow(docs)
        .select(
            "source",
            F.explode(
                F.array_distinct(shingles(tokens(F.col("text")), n))
            ).alias("gram"),
        )
        .distinct()
        .localCheckpoint()
    )


def ngram_novelty(docs: DataFrame, k: int = NOVELTY_N) -> DataFrame:
    """Per-source novel-content contribution: of each source's distinct
    k-grams, what fraction appears in NO other source. The
    acquisition-prioritization metric — a crawl source whose novelty is
    near zero adds volume but no new content, and is the first candidate
    to drop when balancing a mixture.

    Scale: one corpus scan → distinct (source, gram) pairs (one shuffle
    on the pair); the gram→source-count census aggregates those pairs
    (vocabulary-of-grams-sized); the unique-gram set joins back via
    join_small. The corpus text is touched once.
    """
    sg = _source_grams(docs, k)
    uniq = (
        sg.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_sources"))
        .where(F.col("n_sources") == 1)
        .select("gram")
        .localCheckpoint()
    )
    n_grams = sg.groupBy("source").agg(F.count(F.lit(1)).alias("n_grams"))
    n_unique = (
        join_small(sg, uniq, "gram")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )
    return (
        n_grams.join(n_unique, "source", "left")
        .select(
            "source",
            "n_grams",
            F.coalesce("n_unique", F.lit(0)).cast("long").alias("n_unique"),
        )
        .select(
            "source",
            "n_grams",
            "n_unique",
            # per-source counts are corpus-fraction-sized; e6 scale is safe
            # per group (two-stage ppm is for corpus-scale sums)
            F.expr("n_unique * 1000000 DIV n_grams").alias("novelty_ppm"),
        )
        .orderBy("source")
    )


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_novelty(load_table(spark, sf_dir, "documents"))


_ORACLE_NOVELTY = f"""
WITH t AS (
    SELECT source, string_split(lower(text), ' ') AS toks FROM documents
),
sg AS (
    SELECT DISTINCT source,
           unnest(list_distinct(
               [array_to_string(toks[i:i+{NOVELTY_N - 1}], ' ')
                FOR i IN generate_series(1, len(toks) - {NOVELTY_N - 1})]
           )) AS gram
    FROM t
),
uniq AS (
    SELECT gram FROM sg GROUP BY gram HAVING COUNT(*) = 1
),
g AS (SELECT source, COUNT(*) AS n_grams FROM sg GROUP BY source),
u AS (
    SELECT source, COUNT(*) AS n_unique
    FROM sg WHERE gram IN (SELECT gram FROM uniq)
    GROUP BY source
)
SELECT g.source, g.n_grams,
       CAST(COALESCE(u.n_unique, 0) AS BIGINT) AS n_unique,
       CAST(COALESCE(u.n_unique, 0) * 1000000 // g.n_grams AS BIGINT)
           AS novelty_ppm
FROM g LEFT JOIN u USING (source)
ORDER BY g.source
"""


# --- categorical mutual information ----------------------------------------
MI_SCALE = 1_000_000


def mutual_information(
    docs: DataFrame, col_a: str = "lang", col_b: str = "source"
) -> DataFrame:
    """Pointwise mutual-information audit between two categorical columns:
    each (a, b) cell contributes p(a,b)·ln(p(a,b)/(p(a)p(b))); the sum is
    the columns' mutual information. Used to detect feature leakage
    (a "random" shard assignment that actually correlates with language)
    and to validate that a stratification key carries signal.

    Determinism: the probability ratio is computed as
    (n/n_a)·(n_tot/n_b) — two correctly-rounded quotients and one product,
    written identically in both engines — and each cell's contribution is
    floor-scaled to an e6 integer before any summation (playbook #14).
    This form also never overflows: n·n_tot as integers would pass 2^63
    at corpus scale, the quotient form stays in double range.

    Scale: one scan → one groupBy on the (a,b) cell (category-bounded);
    margins and totals derive from the checkpointed cell table and
    broadcast back. No window functions.
    """
    cells = (
        docs.groupBy(col_a, col_b)
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    ma = cells.groupBy(col_a).agg(F.sum("n").alias("n_a"))
    mb = cells.groupBy(col_b).agg(F.sum("n").alias("n_b"))
    tot = cells.agg(F.sum("n").alias("n_tot"))
    j = (
        cells.join(F.broadcast(ma), col_a)
        .join(F.broadcast(mb), col_b)
        .crossJoin(F.broadcast(tot))
    )
    p = F.col("n") / F.col("n_tot")
    ratio = (F.col("n") / F.col("n_a")) * (F.col("n_tot") / F.col("n_b"))
    return j.select(
        col_a,
        col_b,
        F.col("n").cast("long").alias("n"),
        F.floor(p * F.log(ratio) * MI_SCALE).cast("long").alias("mi_e6"),
    ).orderBy(col_a, col_b)


def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mutual_information(load_table(spark, sf_dir, "documents"))


_ORACLE_MI = f"""
WITH cells AS (
    SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY lang, source
),
ma AS (SELECT lang, SUM(n) AS n_a FROM cells GROUP BY lang),
mb AS (SELECT source, SUM(n) AS n_b FROM cells GROUP BY source),
tot AS (SELECT SUM(n) AS n_tot FROM cells)
SELECT c.lang, c.source, CAST(c.n AS BIGINT) AS n,
       CAST(FLOOR((CAST(c.n AS DOUBLE) / n_tot)
                  * ln((CAST(c.n AS DOUBLE) / n_a)
                       * (CAST(n_tot AS DOUBLE) / n_b))
                  * {MI_SCALE}) AS BIGINT) AS mi_e6
FROM cells c JOIN ma USING (lang) JOIN mb USING (source), tot
ORDER BY c.lang, c.source
"""


# --- per-source document cap -------------------------------------------------
CAP_PER_SOURCE = 15


def source_cap_sample(docs: DataFrame, cap: int = CAP_PER_SOURCE) -> DataFrame:
    """Per-domain document cap: keep at most ``cap`` docs per source,
    chosen by a content-stable hash rank — the max-pages-per-domain rule
    every web-corpus pipeline applies so one crawl-heavy site cannot
    dominate the training mix. Hash rank (md5 of seed|doc_id), not
    random(), so the kept set is reproducible across runs and engines;
    changing the seed redraws the sample without touching data.

    Scale: one shuffle partitioned by source; row_number's per-group
    state is O(1) and the cap bounds the output per group. A pathological
    hot source makes one fat partition — at that point swap in the
    groupBy+slice form (collect_list capped) or pre-filter with an
    approximate per-source count; the hash-rank semantics stay identical.
    """
    rk = F.md5(
        F.concat_ws("|", F.lit("cap-seed-1"), F.col("doc_id").cast("string"))
    )
    w = Window.partitionBy("source").orderBy(rk.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "source")
        .withColumn("rank_in_source", F.row_number().over(w).cast("long"))
        .where(F.col("rank_in_source") <= cap)
        .orderBy("source", "rank_in_source")
    )


def q_source_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return source_cap_sample(load_table(spark, sf_dir, "documents"))


_ORACLE_SOURCE_CAP = f"""
WITH r AS (
    SELECT doc_id, source,
           ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5('cap-seed-1' || '|' || CAST(doc_id AS VARCHAR)), doc_id
           ) AS rank_in_source
    FROM documents
)
SELECT doc_id, source, CAST(rank_in_source AS BIGINT) AS rank_in_source
FROM r WHERE rank_in_source <= {CAP_PER_SOURCE}
ORDER BY source, rank_in_source
"""


# --- DSIR-style hashed-n-gram importance weights ----------------------------
DSIR_BUCKETS = 1024
DSIR_SCALE = 10_000


def importance_weights(
    docs: DataFrame,
    target_lang: str = "en",
    n_buckets: int = DSIR_BUCKETS,
    text_col: str = "text",
) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al., 2023):
    score each doc by how much its hashed-unigram profile looks like a
    target distribution vs the raw corpus. Both distributions live over
    ``n_buckets`` hash buckets (md5 → bucket), add-1 smoothed; a doc's
    weight is Σ_tokens [ln p_target(b) − ln p_raw(b)]. Docs with high
    weight are up-sampled toward the target domain — here the target is
    the ``lang = target_lang`` slice, i.e. "select docs that look like
    English" from a mixed-language crawl.

    Cross-engine determinism: each bucket's log-ratio is floor-scaled to
    an e4 integer BEFORE the per-doc sum (transcendental-ulp playbook
    #14), so the aggregate is an exact integer sum in any engine or
    partitioning.

    Scale: one corpus scan explodes tokens→buckets (materialized once,
    eager localCheckpoint); bucket counts for target and raw come from
    ONE aggregation with a conditional sum (no second corpus pass); the
    n_buckets-row ratio table broadcasts back. Shuffles: one on bucket
    (bounded at n_buckets), one per-doc rollup on doc_id.
    """
    docs = widen_if_narrow(docs)
    tb = (
        docs.select(
            "doc_id",
            (F.col("lang") == target_lang).alias("is_tgt"),
            F.explode(tokens(F.col(text_col))).alias("token"),
        )
        .select(
            "doc_id",
            "is_tgt",
            (
                F.conv(F.substring(F.md5(F.col("token")), 1, 12), 16, 10).cast("long")
                % n_buckets
            ).alias("bucket"),
        )
        .localCheckpoint()
    )
    counts = tb.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c_raw"),
        F.sum(F.when(F.col("is_tgt"), 1).otherwise(0)).alias("c_tgt"),
    )
    stats = counts.agg(
        F.sum("c_raw").alias("n_raw"), F.sum("c_tgt").alias("n_tgt")
    )
    p_tgt = (F.col("c_tgt") + 1) / (F.col("n_tgt") + n_buckets)
    p_raw = (F.col("c_raw") + 1) / (F.col("n_raw") + n_buckets)
    lr = (
        counts.crossJoin(F.broadcast(stats))
        .select(
            "bucket",
            F.floor((F.log(p_tgt) - F.log(p_raw)) * DSIR_SCALE)
            .cast("long")
            .alias("lr_e4"),
        )
        .localCheckpoint()
    )
    per_doc = (
        join_small(tb.select("doc_id", "bucket"), lr, "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lr_e4").alias("iw_sum_e4"),
        )
    )
    return (
        docs.select("doc_id", "lang")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("iw_sum_e4", F.lit(0)).cast("long").alias("iw_sum_e4"),
        )
        .orderBy("doc_id")
    )


def q_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return importance_weights(load_table(spark, sf_dir, "documents"))


_ORACLE_DSIR = f"""
WITH tok AS (
    SELECT doc_id, lang = 'en' AS is_tgt,
           unnest(string_split(lower(text), ' ')) AS token
    FROM documents
),
tb AS (
    SELECT doc_id, is_tgt,
           CAST('0x' || substr(md5(token), 1, 12) AS BIGINT) % {DSIR_BUCKETS} AS bucket
    FROM tok
),
counts AS (
    SELECT bucket, COUNT(*) AS c_raw,
           SUM(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS c_tgt
    FROM tb GROUP BY bucket
),
stats AS (SELECT SUM(c_raw) AS n_raw, SUM(c_tgt) AS n_tgt FROM counts),
lr AS (
    SELECT bucket,
           CAST(FLOOR((ln((c_tgt + 1) / CAST(n_tgt + {DSIR_BUCKETS} AS DOUBLE))
                       - ln((c_raw + 1) / CAST(n_raw + {DSIR_BUCKETS} AS DOUBLE)))
                      * {DSIR_SCALE}) AS BIGINT) AS lr_e4
    FROM counts, stats
),
per_doc AS (
    SELECT doc_id, COUNT(*) AS n_tokens, SUM(lr_e4) AS iw_sum_e4
    FROM tb JOIN lr USING (bucket)
    GROUP BY doc_id
)
SELECT d.doc_id, d.lang,
       CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(p.iw_sum_e4, 0) AS BIGINT) AS iw_sum_e4
FROM documents d
LEFT JOIN per_doc p USING (doc_id)
ORDER BY d.doc_id
"""


QUERIES = {
    "ngram_novelty": q_ngram_novelty,
    "mutual_information": q_mutual_information,
    "source_cap_sample": q_source_cap_sample,
    "importance_weights": q_importance_weights,
    "mixture_weights": q_mixture_weights,
    "mixture_epoch_plan": q_mixture_epoch_plan,
    "curation_pipeline_audit": q_curation_pipeline_audit,
    "text_bigram_lm": q_bigram_lm,
    "text_bm25": q_bm25,
    "bm25_search": q_bm25_search,
    "bm25_search_and": q_bm25_search_and,
    "curation_gate": q_curation_gate,
    "quality_classifier": q_quality_classifier,
    "curation_agreement": q_curation_agreement,
    "source_similarity_matrix": q_source_similarity_matrix,
    "bm25_phrase_search": q_bm25_phrase_search,
    "hybrid_search_rrf": q_hybrid_search_rrf,
    "text_lm_score": q_lm_score,
    "source_divergence": q_source_divergence,
    "stratified_sample": q_stratified_sample,
    "text_decontaminate": q_decontaminate,
    "text_repetition": q_repetition,
    "text_tfidf": q_tfidf,
}

ORACLES = {
    "ngram_novelty": _ORACLE_NOVELTY,
    "mutual_information": _ORACLE_MI,
    "source_cap_sample": _ORACLE_SOURCE_CAP,
    "importance_weights": _ORACLE_DSIR,
    "mixture_weights": _ORACLE_MIXTURE,
    "mixture_epoch_plan": _ORACLE_MIXTURE_EPOCH,
    "curation_pipeline_audit": _ORACLE_CURATION_PIPELINE,
    "text_bigram_lm": _ORACLE_BIGRAM_LM,
    "text_bm25": _ORACLE_BM25,
    "bm25_search": _ORACLE_BM25_SEARCH,
    "bm25_search_and": _ORACLE_BM25_SEARCH_AND,
    "curation_gate": _ORACLE_CURATION_GATE,
    "quality_classifier": _ORACLE_QUALITY_CLASSIFIER,
    "curation_agreement": _ORACLE_CURATION_AGREEMENT,
    "source_similarity_matrix": _ORACLE_SOURCE_SIM,
    "bm25_phrase_search": _ORACLE_BM25_PHRASE,
    "hybrid_search_rrf": _ORACLE_HYBRID_RRF,
    "text_lm_score": _ORACLE_LM,
    "source_divergence": _ORACLE_DIVERGENCE,
    "stratified_sample": _ORACLE_SAMPLE,
    "text_decontaminate": _ORACLE_DECONTAM,
    "text_repetition": _ORACLE_REPETITION,
    "text_tfidf": _ORACLE_TFIDF,
}
