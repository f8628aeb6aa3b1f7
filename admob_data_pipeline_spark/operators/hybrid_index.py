"""Hybrid (lexical + vector) retrieval served ENTIRELY from persisted
indexes — the RAG serving stack as artifact composition.

The inline ``hybrid_search_rrf`` (operators/corpus.py) derives both legs
from the raw tables inside the query. Here the same more-like-this
query runs without touching the corpus or the embedding table beyond
the probe row: the lexical leg reads the persisted BM25 postings/doclen/
stats (query-term selection included — the probe's top terms come off
its own posting rows), the vector leg is the persisted IVF-PQ index's
two-stage search (ADC shortlist → exact-cosine rerank), and the fusion
is the same integer Reciprocal Rank Fusion. Rank-only fusion means the
two legs' incomparable scales never need calibration — and that the
vector leg may legitimately rank by its index's (quantized-shortlist)
view of the corpus rather than the exact-scan view: the oracle
recomputes exactly that split, IVF-PQ shortlist semantics included.

Reference: aamir-dp/admob-data-pipeline has no retrieval surface; this
composes the brief's persisted-index families into the serving shape a
production RAG deployment runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from admob_data_pipeline_spark.operators.ann_index import (
    _ORACLE_INDEX_UPSERT,
    ANN_INDEX,
    _reranked,
    ann_index_build,
    ann_index_compact,
    ann_index_delete,
    ann_index_upsert,
    load_ann_quantizers,
)
from admob_data_pipeline_spark.operators.corpus import (
    _DUCK_BM25_SCORE,
    _DUCK_BM25_TABLES,
    BM25_B,
    BM25_K1,
    HYBRID_PROBE,
    HYBRID_QTERMS,
    HYBRID_TOP,
    RRF_K,
    RRF_POOL,
    RRF_SCALE,
    _bm25_score,
)
from admob_data_pipeline_spark.operators.epoch_index import (
    drain_stream,
    index_view,
    latest_versions,
    mask_deleted,
    scratch_index,
)
from admob_data_pipeline_spark.operators.retrieval_index import (
    BM25_INDEX,
    _bm25_rank_latest,
    bm25_index_build,
    bm25_index_compact,
    bm25_index_delete,
    bm25_index_upsert,
)
from admob_data_pipeline_spark.operators.util import par_ops
from admob_data_pipeline_spark.operators.similarity import (
    _DUCK_BASE,
    _ORACLE_IVFPQ,
    DEFAULT_K,
    PQ_MOD,
    PQ_SLOTS,
)
from admob_data_pipeline_spark.sources.tables import load_table

VEC_SHORTLIST = 2 * RRF_POOL  # ADC shortlist feeding the exact rerank


def _build_both(docs, bp: str, bm25_path: str, emb, ap: str, ann_path: str) -> None:
    """Build the two side-by-side indexes concurrently. The hybrid
    lifecycle is a sequence of (bm25-op, ann-op) pairs over DISJOINT
    tables, paths and epoch ledgers, so each pair runs through
    :func:`par_ops` and the lexical tokenize/shuffle overlaps the vector
    kernel on idle cores (guide §2.6); each build's internal table
    writes are already pooled."""
    par_ops(
        lambda: bm25_index_build(docs, bp, bm25_path),
        lambda: ann_index_build(emb, ap, ann_path),
    )


def _probe_profile(spark: SparkSession, bm25_prefix: str, probe: int):
    """``({token: tf}, dl, n_docs, avgdl)``: the probe's term profile at
    its LATEST version, with the index's frozen scalars — ``({}, ...)``
    when the probe is not live. ONE bounded collect, a tagged union of
    the probe's posting, doclen and tombstone rows and the stats row,
    resolved here by the families' LSM rules (operators/epoch_index.py):
    the latest version is the newest doclen epoch (a re-upserted probe
    profiles and normalizes by its current text, not a blend of
    versions), and a tombstone stamped at or after it kills it."""
    postings, doclen, tomb = index_view(spark, bm25_prefix, "postings", "doclen")
    me = F.col("doc_id") == probe
    none = F.lit(None)

    def part(df, tag, token, n, epoch, avgdl):
        return df.select(
            F.lit(tag).alias("tag"),
            token.cast("string").alias("token"),
            n.cast("long").alias("n"),
            epoch.cast("long").alias("epoch"),
            avgdl.cast("double").alias("avgdl"),
        )

    rows = (
        part(postings.where(me), 0, F.col("token"), F.col("tf"), F.col("epoch"), none)
        .union(part(doclen.where(me), 1, none, F.col("dl"), F.col("epoch"), none))
        .union(part(tomb.where(me), 2, none, none, F.col("deleted_at_epoch"), none))
        .union(
            part(
                spark.table(f"{bm25_prefix}_stats"),
                3,
                none,
                F.col("n_docs"),
                none,
                F.col("avgdl"),
            )
        )
        .collect()
    )
    n_docs, avgdl = next(
        ((r["n"], r["avgdl"]) for r in rows if r["tag"] == 3), (None, None)
    )
    dls = {r["epoch"]: r["n"] for r in rows if r["tag"] == 1}
    latest = max(dls, default=None)
    if (
        latest is None
        or n_docs is None
        or any(r["tag"] == 2 and r["epoch"] >= latest for r in rows)
    ):
        return {}, None, n_docs, avgdl
    terms = {r["token"]: r["n"] for r in rows if r["tag"] == 0 and r["epoch"] == latest}
    return terms, dls[latest], n_docs, avgdl


def hybrid_index_search(
    spark: SparkSession,
    emb: DataFrame,
    bm25_prefix: str,
    ann_prefix: str,
    probe: int = HYBRID_PROBE,
    top: int = HYBRID_TOP,
) -> DataFrame:
    """More-like-this hybrid RRF from the two persisted indexes.

    Lexical leg (index-only): the probe's posting rows ARE its term
    profile — score them with index-derived dfs, the probe's stored
    doclen, and the frozen scalars to pick the top query terms, then
    rank the pool through the shared ``_bm25_rank_postings`` core fed
    from the index tables (probe excluded from candidates AFTER df).
    Vector leg (index-only): two-stage persisted ANN serving — ADC
    shortlist of ``VEC_SHORTLIST`` from the bucketed code table, exact
    cosine rerank to the pool. Fusion: integer RRF, one rollup of the two
    ≤ pool-row lists."""
    postings_all, doclen, tomb = index_view(spark, bm25_prefix, "postings", "doclen")
    postings_all = mask_deleted(postings_all, tomb, "doc_id")

    def _lex() -> DataFrame:
        terms, dl, n_docs, avgdl = _probe_profile(spark, bm25_prefix, probe)
        # The probe's top terms by BM25 against index-derived dfs: one
        # bounded collect over its own terms' postings, its profile fed
        # in as literals. df per probe term is a countDistinct so a
        # re-upserted doc holding the term in both its versions counts
        # once. (A doc whose LATEST version dropped the term still counts
        # here until compaction purges the stale row — bounded drift in
        # the probe's TERM-SELECTION score only; the ranking df
        # downstream is computed over the latest-masked postings.)
        qterms = []
        if terms:
            tf = F.create_map(*[F.lit(x) for kv in terms.items() for x in kv])
            qterms = [
                r["token"]
                for r in postings_all.where(F.col("token").isin(list(terms)))
                .groupBy("token")
                .agg(F.countDistinct("doc_id").alias("df"))
                .select(
                    "token",
                    "df",
                    F.element_at(tf, F.col("token")).alias("tf"),
                    F.lit(dl).cast("long").alias("dl"),
                    F.lit(n_docs).cast("long").alias("n_docs"),
                    F.lit(avgdl).cast("double").alias("avgdl"),
                )
                .select("token", _bm25_score(BM25_K1, BM25_B).alias("s"))
                .orderBy(F.desc("s"), "token")
                .limit(HYBRID_QTERMS)
                .collect()
            ]
        return _bm25_rank_latest(
            postings_all.where(F.col("token").isin(qterms)),
            doclen,
            (n_docs, avgdl),
            RRF_POOL,
            BM25_K1,
            BM25_B,
            exclude_doc=probe,
        ).select("doc_id", F.col("rnk").alias("lex_rank"))

    def _vec() -> DataFrame:
        return _reranked(
            emb, [probe], ann_prefix, k=RRF_POOL, rerank_r=VEC_SHORTLIST
        ).select(
            F.col("vec_id").alias("doc_id"),
            F.col("rank").cast("int").alias("vec_rank"),
        )

    # The two legs read DISJOINT index families (bm25 tables vs ann
    # tables) and each runs eager steps while being built — the lexical
    # leg its profile and term-selection collects, the vector leg the
    # bounded probe/LUT collect inside ann_index_search — so construct
    # them CONCURRENTLY (guide §2.6); the fused plan below is identical
    # either way.
    lex, vec = par_ops(_lex, _vec)
    # each leg ranks a doc at most once, so one rollup of the two lists
    # is their full outer join on doc_id — one exchange, not two
    none = F.lit(None).cast("int")
    fused = (
        lex.select("doc_id", "lex_rank", none.alias("vec_rank"))
        .unionByName(vec.select("doc_id", none.alias("lex_rank"), "vec_rank"))
        .groupBy("doc_id")
        .agg(F.max("lex_rank").alias("lex_rank"), F.max("vec_rank").alias("vec_rank"))
    ).select(
        "doc_id",
        "lex_rank",
        "vec_rank",
        (
            F.coalesce(
                F.expr(f"{RRF_SCALE} DIV ({RRF_K} + lex_rank)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"{RRF_SCALE} DIV ({RRF_K} + vec_rank)"), F.lit(0)
            )
        )
        .cast("long")
        .alias("rrf_score"),
    )
    head = fused.orderBy(F.desc("rrf_score"), "doc_id").limit(top)
    w = Window.orderBy(F.desc("rrf_score"), F.col("doc_id"))
    return head.withColumn("rnk", F.row_number().over(w).cast("int")).orderBy(
        "rnk"
    )


def q_hybrid_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build both indexes in scratch, serve the hybrid query from them
    alone. The oracle recomputes the exact split: index-derived lexical
    leg (identical to the inline one — same corpus, same frozen-scalar
    derivation) fused with the IVF-PQ-shortlist exact-rerank vector
    leg."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    with scratch_index(spark, BM25_INDEX, ANN_INDEX) as (out, bp, ap):
        _build_both(docs, bp, f"{out}/bm25", emb, ap, f"{out}/ann")
        rows = hybrid_index_search(spark, emb, bp, ap).collect()
    return spark.createDataFrame(
        rows,
        "doc_id bigint, lex_rank int, vec_rank int, rrf_score bigint,"
        " rnk int",
    )


def _live_sets(spark: SparkSession, bm25_prefix: str, ann_prefix: str):
    """The two indexes' live doc-id sets under the families' LSM
    ordering (:func:`latest_versions` with the tombstones): a
    re-upserted doc counts once and a doc re-ingested after its delete
    counts as resurrected, exactly matching what serving exposes."""
    bm_live = latest_versions(
        spark.table(f"{bm25_prefix}_doclen"),
        "doc_id",
        tombstones=spark.table(f"{bm25_prefix}_tombstones"),
    ).select("doc_id")
    ann_live = latest_versions(
        spark.table(f"{ann_prefix}_codes"),
        "vec_id",
        tombstones=spark.table(f"{ann_prefix}_tombstones"),
    ).select(F.col("vec_id").alias("doc_id"))
    return bm_live, ann_live


def hybrid_index_parity(
    spark: SparkSession, bm25_prefix: str, ann_prefix: str
) -> DataFrame:
    """CROSS-INDEX consistency audit — the check a hybrid deployment
    runs after independent per-index maintenance: BM25 and ANN are
    upserted and deleted by SEPARATE jobs, and nothing in either index
    asserts the other still serves the same document set. A doc deleted
    from one index but not the other silently skews RRF fusion (its leg
    keeps voting, the other never does). One reconciliation pass over
    the two live id sets — (distinct doclen ids minus BM25 tombstones)
    full-outer-joined with (distinct code ids minus ANN tombstones) —
    plus the raw tombstone counts. A healthy pair shows n_*_only = 0
    (modulo genuine corpus asymmetry: docs without embeddings or vice
    versa); anything else names the skew direction and size.

    Scale: one distinct per index side + one join — maintenance-cadence
    cost, same order as the drift audits; the tombstone sides broadcast
    (bounded by compaction cadence)."""
    bm_live, ann_live = _live_sets(spark, bm25_prefix, ann_prefix)
    bm_tomb = spark.table(f"{bm25_prefix}_tombstones")
    ann_tomb = spark.table(f"{ann_prefix}_tombstones")
    j = bm_live.withColumn("in_bm", F.lit(1)).join(
        ann_live.withColumn("in_ann", F.lit(1)), "doc_id", "full_outer"
    )
    counts = j.agg(
        F.count("in_bm").alias("n_bm25_live"),
        F.count("in_ann").alias("n_ann_live"),
        F.sum(
            (F.col("in_bm").isNotNull() & F.col("in_ann").isNotNull()).cast(
                "long"
            )
        ).alias("n_both"),
        F.sum(
            (F.col("in_bm").isNotNull() & F.col("in_ann").isNull()).cast(
                "long"
            )
        ).alias("n_bm25_only"),
        F.sum(
            (F.col("in_bm").isNull() & F.col("in_ann").isNotNull()).cast(
                "long"
            )
        ).alias("n_ann_only"),
    )
    tombs = (
        bm_tomb.select("doc_id")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_tomb_bm25"))
        .crossJoin(
            ann_tomb.select("vec_id")
            .distinct()
            .agg(F.count(F.lit(1)).alias("n_tomb_ann"))
        )
    )
    return counts.crossJoin(F.broadcast(tombs))


# wrapper slices: base = id % 4 != 3, delta = id % 4 == 3; deletes
# id % 10 == 1 from BOTH indexes (consistent) and id % 10 == 2 from the
# ANN side only (the injected skew the audit must surface).
PARITY_DELTA_MOD = 4
PARITY_DEL_BOTH = 1
PARITY_DEL_ANN_ONLY = 2


def _interleaved_lifecycle(spark, sf_dir: str, bp: str, ap: str, out: str):
    """Shared parity/repair fixture: build both indexes on the base
    slice, upsert the held-out quarter to each (auto-epoch — exercises
    the claim_epoch ledger mint), delete one slice from BOTH and one
    extra slice from the ANN side only (the injected skew)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    _build_both(
        docs.where(F.col("doc_id") % PARITY_DELTA_MOD != 3),
        bp,
        f"{out}/bm25",
        emb.where(F.col("vec_id") % PARITY_DELTA_MOD != 3),
        ap,
        f"{out}/ann",
    )
    par_ops(
        lambda: bm25_index_upsert(
            docs.where(F.col("doc_id") % PARITY_DELTA_MOD == 3), bp
        ),
        lambda: ann_index_upsert(
            emb.where(F.col("vec_id") % PARITY_DELTA_MOD == 3), ap
        ),
    )
    # the two deletes touch disjoint tombstone tables/ledgers — overlap
    # them like the (bm25, ann) upsert pair above (guide §2.6)
    par_ops(
        lambda: bm25_index_delete(
            spark,
            docs.where(F.col("doc_id") % 10 == PARITY_DEL_BOTH).select(
                "doc_id"
            ),
            bp,
        ),
        lambda: ann_index_delete(
            spark,
            emb.where(
                (F.col("vec_id") % 10).isin(
                    PARITY_DEL_BOTH, PARITY_DEL_ANN_ONLY
                )
            ).select("vec_id"),
            ap,
        ),
    )
    return docs, emb


def q_hybrid_index_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved per-index lifecycle, then reconcile: build both
    indexes on the base slice, upsert the held-out quarter to each
    (auto-epoch — exercises the claim_epoch ledger mint), delete one
    slice from BOTH and one extra slice from the ANN side only, then
    audit. The oracle recomputes both live sets from the raw tables, so
    a doc lost or resurrected by either index's lifecycle — or an audit
    that fails to notice the injected one-sided delete — fails the
    hash. The wrapper also asserts the serving invariant the audit
    protects: the hybrid RRF output contains no consistently-deleted
    doc (each leg masks its own tombstones)."""
    with scratch_index(spark, BM25_INDEX, ANN_INDEX) as (out, bp, ap):
        docs, emb = _interleaved_lifecycle(spark, sf_dir, bp, ap, out)
        # the audit and the serving check are independent post-lifecycle
        # READS (no session conf touched) — overlap them (guide §2.6)
        rows, served = par_ops(
            lambda: hybrid_index_parity(spark, bp, ap).collect(),
            lambda: hybrid_index_search(spark, emb, bp, ap).collect(),
        )
        assert not any(r.doc_id % 10 == PARITY_DEL_BOTH for r in served), (
            "hybrid surfaced a consistently-deleted doc"
        )
    return spark.createDataFrame(
        rows,
        "n_bm25_live bigint, n_ann_live bigint, n_both bigint,"
        " n_bm25_only bigint, n_ann_only bigint, n_tomb_bm25 bigint,"
        " n_tomb_ann bigint",
    )


_ORACLE_HYBRID_PARITY = f"""
WITH {_DUCK_BM25_TABLES},
bm_live AS (
    SELECT DISTINCT doc_id FROM tf WHERE doc_id % 10 <> {PARITY_DEL_BOTH}
),
ann_live AS (
    SELECT vec_id AS doc_id FROM embeddings
    WHERE vec_id % 10 NOT IN ({PARITY_DEL_BOTH}, {PARITY_DEL_ANN_ONLY})
),
j AS (
    SELECT b.doc_id IS NOT NULL AS in_bm,
           a.doc_id IS NOT NULL AS in_ann
    FROM bm_live b FULL OUTER JOIN ann_live a ON a.doc_id = b.doc_id
)
SELECT CAST(SUM(CASE WHEN in_bm THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bm25_live,
       CAST(SUM(CASE WHEN in_ann THEN 1 ELSE 0 END) AS BIGINT)
           AS n_ann_live,
       CAST(SUM(CASE WHEN in_bm AND in_ann THEN 1 ELSE 0 END) AS BIGINT)
           AS n_both,
       CAST(SUM(CASE WHEN in_bm AND NOT in_ann THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bm25_only,
       CAST(SUM(CASE WHEN NOT in_bm AND in_ann THEN 1 ELSE 0 END) AS BIGINT)
           AS n_ann_only,
       (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM documents
        WHERE doc_id % 10 = {PARITY_DEL_BOTH}) AS n_tomb_bm25,
       (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) FROM embeddings
        WHERE vec_id % 10 IN ({PARITY_DEL_BOTH}, {PARITY_DEL_ANN_ONLY}))
           AS n_tomb_ann
FROM j
"""


def hybrid_index_repair(
    spark: SparkSession,
    bm25_prefix: str,
    ann_prefix: str,
    expected_asymmetry: DataFrame | None = None,
) -> tuple[int, int]:
    """RECONCILE the two indexes to their live-set INTERSECTION — the
    remedy for the skew :func:`hybrid_index_parity` detects. A doc only
    one index still serves skews RRF fusion (one leg votes, the other
    never can), whether the cause is a lost delete, a partial ingest,
    or genuine corpus asymmetry; the fair-fusion fix is the same for
    all three: tombstone each side's one-sided docs, so both legs rank
    over the same candidate universe. Deletes are the indexes' own
    logical-delete primitives — replay-safe appends, purged at the next
    compaction; the repair is idempotent (re-running finds empty
    differences). Returns (n deleted from bm25, n deleted from ann).

    ``expected_asymmetry``: a ``doc_id`` DataFrame naming docs whose
    one-sidedness is INTENTIONAL (e.g. a text-only corpus slice that
    legitimately has no embeddings). Those docs are exempt — the repair
    reconciles operational skew without deleting a deployment's known
    asymmetric surface."""
    bm_live, ann_live = _live_sets(spark, bm25_prefix, ann_prefix)
    bm_only = bm_live.join(ann_live, "doc_id", "left_anti")
    ann_only = ann_live.join(bm_live, "doc_id", "left_anti")
    if expected_asymmetry is not None:
        allow = expected_asymmetry.select("doc_id")
        bm_only = bm_only.join(allow, "doc_id", "left_anti")
        ann_only = ann_only.join(allow, "doc_id", "left_anti")
    # pins, counts, deletes: each pair is independent across the two
    # families (disjoint tables/ledgers) — overlap them (guide §2.6)
    bm_only, ann_only = par_ops(
        bm_only.localCheckpoint, ann_only.localCheckpoint
    )
    n_bm, n_ann = par_ops(bm_only.count, ann_only.count)
    par_ops(
        lambda: n_bm
        and bm25_index_delete(spark, bm_only.select("doc_id"), bm25_prefix),
        lambda: n_ann
        and ann_index_delete(
            spark,
            ann_only.select(F.col("doc_id").alias("vec_id")),
            ann_prefix,
        ),
    )
    return n_bm, n_ann


def q_hybrid_index_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parity remedy under the driver gate: the interleaved lifecycle
    WITH the injected one-sided delete, then REPAIR to the live-set
    intersection, then re-audit. The oracle recomputes the post-repair
    state from the raw tables (both live sets equal the pre-repair
    intersection; tombstone counts grow by exactly the one-sided
    differences), so a repair that under- or over-deletes fails the
    hash. The wrapper also asserts zero one-sided docs remain and that
    the hybrid serving output stays inside the reconciled universe."""
    with scratch_index(spark, BM25_INDEX, ANN_INDEX) as (out, bp, ap):
        docs, emb = _interleaved_lifecycle(spark, sf_dir, bp, ap, out)
        n_bm, n_ann = hybrid_index_repair(spark, bp, ap)
        # the injected ANN-only delete MUST surface as BM25-only live
        # docs for the repair to remove — n_bm == 0 means the skew was
        # silently missed
        assert n_bm > 0, (n_bm, n_ann)
        # re-audit + serving check are independent post-repair READS —
        # overlap them (guide §2.6)
        rows, served = par_ops(
            lambda: hybrid_index_parity(spark, bp, ap).collect(),
            lambda: hybrid_index_search(spark, emb, bp, ap).collect(),
        )
        assert rows[0]["n_bm25_only"] == 0 and rows[0]["n_ann_only"] == 0, (
            rows
        )
        # served ⊆ live, checked WITHOUT collecting the corpus-scale
        # live set (guide §5): the served ids are bounded (≤ top), so
        # count their hits in the live set distributively and compare
        served_ids = sorted({int(r["doc_id"]) for r in served})
        n_live_hits = (
            _live_sets(spark, bp, ap)[0]
            .where(F.col("doc_id").isin(served_ids))
            .count()
        )
        assert n_live_hits == len(served_ids), (n_live_hits, served_ids)
    return spark.createDataFrame(
        rows,
        "n_bm25_live bigint, n_ann_live bigint, n_both bigint,"
        " n_bm25_only bigint, n_ann_only bigint, n_tomb_bm25 bigint,"
        " n_tomb_ann bigint",
    )


def q_streaming_hybrid_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RAG stack maintained from ONE stream — the arrival unit is a
    document WITH its embedding, and each micro-batch upserts BOTH
    persisted indexes inside a single foreachBatch using the batch id
    as the SHARED idempotency epoch: a replayed batch rewrites its own
    partition on each side, so at-least-once delivery can never skew
    the pair (the divergence hybrid_index_parity exists to catch cannot
    be introduced by the transport — asserted after the stream drains).
    Both indexes are built over the RAG corpus (docs that have
    embeddings) on the base slice; the held-out quarter arrives across
    two micro-batches; serving is the persisted-hybrid RRF.

    The oracle recomputes the full frozen-artifact split from first
    principles: the lexical leg over the union corpus with
    BUILD-FROZEN (n_docs, avgdl), the vector leg as the base-frozen
    IVF-PQ shortlist (quantizers sampled from the base slice only)
    exact-cosine reranked — a dropped or replayed epoch on EITHER side
    fails the hash."""
    import os

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    # the RAG corpus: documents that have an embedding (identical to
    # `documents` at the oracle SFs; the restriction matters at SFs
    # where the doc table is a superset)
    corpus_docs = docs.join(
        emb.select(F.col("vec_id").alias("doc_id")), "doc_id"
    )
    with scratch_index(spark, BM25_INDEX, ANN_INDEX) as (out, bp, ap):
        src = os.path.join(out, "arrivals")
        _build_both(
            corpus_docs.where(F.col("doc_id") % PARITY_DELTA_MOD != 3),
            bp,
            f"{out}/bm25",
            emb.where(F.col("vec_id") % PARITY_DELTA_MOD != 3),
            ap,
            f"{out}/ann",
        )
        arrivals = corpus_docs.where(
            F.col("doc_id") % PARITY_DELTA_MOD == 3
        ).join(
            emb.select(F.col("vec_id").alias("doc_id"), "embedding"),
            "doc_id",
        ).select("doc_id", "text", "embedding")
        # the delta arrives as two files → two foreachBatch epochs
        for half in (0, 1):
            arrivals.where(
                F.expr(f"pmod(doc_id div {PARITY_DELTA_MOD}, 2)") == half
            ).coalesce(1).write.mode("append").parquet(src)

        # frozen-quantizer contract: one load serves every micro-batch
        # of the stream (guide §5; see load_ann_quantizers)
        quant = load_ann_quantizers(spark, ap)

        def ingest_both(batch, eid):
            # ONE epoch id for BOTH indexes: a replay rewrites the same
            # partition on each side, so the pair converges together
            # (explicit epoch — no ledger mint — so the two family
            # ingests are independent and overlap, guide §2.6)
            par_ops(
                lambda: bm25_index_upsert(
                    batch.select("doc_id", "text"), bp, epoch=eid
                ),
                lambda: ann_index_upsert(
                    batch.select(F.col("doc_id").alias("vec_id"), "embedding"),
                    ap,
                    epoch=eid,
                    quantizers=quant,
                ),
            )

        drain_stream(
            spark, arrivals.schema, src, os.path.join(out, "ckpt"), ingest_both
        )
        # the transport cannot skew the pair — audit before serving
        row = hybrid_index_parity(spark, bp, ap).first()
        assert row["n_bm25_only"] == 0 and row["n_ann_only"] == 0, row
        rows = hybrid_index_search(spark, emb, bp, ap).collect()
    return spark.createDataFrame(
        rows,
        "doc_id bigint, lex_rank int, vec_rank int, rrf_score bigint,"
        " rnk int",
    )


def q_streaming_hybrid_maintained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The RAG stack's long-running shape: ONE document+embedding
    stream feeding BOTH indexes with a shared epoch, a MAINTENANCE
    WINDOW in the middle compacting BOTH sides, then a NEW stream with
    a fresh checkpoint — the hybrid twin of ``streaming_bm25_maintained``
    / ``streaming_ann_maintained`` / ``streaming_dedup_maintained``.

    Two pair-safety properties are pinned on top of the single-family
    compositions: (1) the window must fold BOTH ledgers before stream 2
    starts (asserted next_epoch == 0 on each side) — compacting only
    one side would let stream 2's restarted batch id 0 silently
    overwrite the other side's live epoch-0 partition, skewing the pair
    in exactly the way the shared-epoch transport exists to prevent;
    (2) stream 2's positional insertInto resumes against BOTH
    compaction-rewritten layouts, so a column-order permutation in
    either family's rewrite fails the hash. Parity is audited after the
    window AND after stream 2. Oracle: the streaming-hybrid oracle
    verbatim — the full delta present exactly once on both sides,
    compaction invisible to RRF."""
    import os

    from admob_data_pipeline_spark.sinks.writers import next_epoch

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    corpus_docs = docs.join(
        emb.select(F.col("vec_id").alias("doc_id")), "doc_id"
    )
    with scratch_index(spark, BM25_INDEX, ANN_INDEX) as (out, bp, ap):
        _build_both(
            corpus_docs.where(F.col("doc_id") % PARITY_DELTA_MOD != 3),
            bp,
            f"{out}/bm25",
            emb.where(F.col("vec_id") % PARITY_DELTA_MOD != 3),
            ap,
            f"{out}/ann",
        )
        # loaded once, after the build (frozen thereafter; the
        # maintenance-window compaction never touches the quantizers)
        quant = load_ann_quantizers(spark, ap)

        def ingest_both(batch, eid):
            # ONE epoch id for BOTH indexes (see q_streaming_hybrid_ingest)
            par_ops(
                lambda: bm25_index_upsert(batch.select("doc_id", "text"), bp, epoch=eid),
                lambda: ann_index_upsert(
                    batch.select(F.col("doc_id").alias("vec_id"), "embedding"),
                    ap,
                    epoch=eid,
                    quantizers=quant,
                ),
            )

        arrivals = corpus_docs.where(
            F.col("doc_id") % PARITY_DELTA_MOD == 3
        ).join(
            emb.select(F.col("vec_id").alias("doc_id"), "embedding"),
            "doc_id",
        ).select("doc_id", "text", "embedding")
        sub = F.expr(f"pmod(doc_id div {PARITY_DELTA_MOD}, 4)")
        for phase, slices in (("one", (0, 1)), ("two", (2, 3))):
            src = os.path.join(out, f"arrivals_{phase}")
            for s in slices:
                arrivals.where(sub == s).coalesce(1).write.mode(
                    "append"
                ).parquet(src)
            if phase == "two":
                # maintenance window: BOTH sides must fold before the
                # fresh checkpoint reuses batch id 0
                par_ops(
                    lambda: bm25_index_compact(spark, bp),
                    lambda: ann_index_compact(spark, ap),
                )
                assert next_epoch(spark, f"{bp}_postings") == 0
                assert next_epoch(spark, f"{ap}_codes") == 0
                row = hybrid_index_parity(spark, bp, ap).first()
                assert row["n_bm25_only"] == 0 and row["n_ann_only"] == 0, row
            drain_stream(
                spark,
                arrivals.schema,
                src,
                os.path.join(out, f"ckpt_{phase}"),
                ingest_both,
            )
        row = hybrid_index_parity(spark, bp, ap).first()
        assert row["n_bm25_only"] == 0 and row["n_ann_only"] == 0, row
        rows = hybrid_index_search(spark, emb, bp, ap).collect()
    return spark.createDataFrame(
        rows,
        "doc_id bigint, lex_rank int, vec_rank int, rrf_score bigint,"
        " rnk int",
    )


# vector leg: the base-frozen upsert oracle (quantizers sampled from
# the base slice only) widened to the shortlist; lexical leg: the
# hybrid CTEs with the corpus restricted to docs-with-embeddings and
# the scalars FROZEN over the base slice.
_shortlist_frozen_sql = _ORACLE_INDEX_UPSERT.replace(
    f"WHERE rank <= {DEFAULT_K}", f"WHERE rank <= {VEC_SHORTLIST}"
).strip()
assert _shortlist_frozen_sql != _ORACLE_INDEX_UPSERT.strip()

_DUCK_BM25_TABLES_RAG = _DUCK_BM25_TABLES.replace(
    "AS token FROM documents",
    "AS token FROM documents"
    "\n    WHERE doc_id IN (SELECT vec_id FROM embeddings)",
).replace(
    "CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl",
    "CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl"
    f"\n    WHERE doc_id % {PARITY_DELTA_MOD} <> 3",
)
assert _DUCK_BM25_TABLES_RAG != _DUCK_BM25_TABLES
assert _DUCK_BM25_TABLES_RAG.count("WHERE doc_id % ") == 1

_ORACLE_STREAMING_HYBRID = f"""
WITH {_DUCK_BM25_TABLES_RAG},
short AS (
    {_shortlist_frozen_sql}
),
eb AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS nrm
    FROM embeddings
),
rescored AS (
    SELECT s.vec_id AS doc_id,
           ROUND(list_dot_product(q.v, b.v) / NULLIF(q.nrm * b.nrm, 0), 6)
               AS cos_sim
    FROM short s
    JOIN eb q ON q.vec_id = s.qid
    JOIN eb b ON b.vec_id = s.vec_id
    WHERE s.qid = {HYBRID_PROBE}
),
vec AS (
    SELECT doc_id, vec_rank FROM (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY cos_sim DESC, doc_id
               ) AS INT) AS vec_rank
        FROM rescored
    ) WHERE vec_rank <= {RRF_POOL}
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


def hybrid_index_autopilot(
    spark: SparkSession,
    bm25_prefix: str,
    ann_prefix: str,
    reconcile: str = "report",
    max_skew_frac: float = 0.02,
    expected_asymmetry: DataFrame | None = None,
) -> list:
    """ONE policy-driven maintenance cycle for the hybrid layer — the
    cross-index analogue of the per-family autopilots: run the parity
    audit; if either side serves docs the other cannot vote on, apply
    the ``reconcile`` policy. The hybrid layer owns no storage of its
    own, so this is its entire ops surface; per-index maintenance
    (compaction, drift remedies) belongs to the families' own
    autopilots. Idempotent under every policy. Returns the action log.

    The audit CANNOT distinguish operational skew (a lost delete, a
    partial ingest) from genuine corpus asymmetry (docs that simply
    have no embeddings) — and intersection-reconcile DELETES the
    one-sided docs, so an unattended loop that always repairs would
    mass-tombstone a healthy asymmetric deployment on its first cycle.
    Destructive reconcile is therefore opt-in:

    - ``reconcile="report"`` (default): never delete — log the skew
      (``parity:...``) for an operator to triage.
    - ``reconcile="bounded"``: repair only when the one-sided fraction
      of the larger live set is ≤ ``max_skew_frac`` (operational skew
      is incremental; corpus asymmetry is typically structural and
      large). Above the bound, report instead
      (``parity:...:exceeds-skew-bound``).
    - ``reconcile="always"``: unconditional intersection-reconcile —
      the pre-gating behavior, for deployments that ingest both sides
      from one source and KNOW asymmetry is always a fault.

    ``expected_asymmetry`` (a ``doc_id`` DataFrame) exempts a known
    asymmetric slice from both the skew measurement and the repair, so
    ``bounded``/``always`` stay safe on deployments with a declared
    text-only or vector-only surface. The ``bounded`` ratio is then
    computed entirely NET of the declared slice — numerator and
    denominator — so ``max_skew_frac`` bounds the operational one-sided
    fraction of the shared universe regardless of how large the
    declared surface is."""
    if reconcile not in ("report", "bounded", "always"):
        raise ValueError(f"unknown reconcile policy: {reconcile!r}")
    row = hybrid_index_parity(spark, bm25_prefix, ann_prefix).first()
    actions: list = []
    n_bm_only, n_ann_only = row["n_bm25_only"], row["n_ann_only"]
    n_bm_live, n_ann_live = row["n_bm25_live"], row["n_ann_live"]
    if expected_asymmetry is not None and (n_bm_only or n_ann_only):
        # measure skew NET of the declared asymmetric slice — numerator
        # AND denominator: the bound must cap the operational one-sided
        # fraction of the SHARED universe; leaving the declared slice in
        # the denominator would inflate the effective bound on any
        # deployment whose declared surface is a large fraction of one
        # side (e.g. a mostly-text-only corpus)
        bm_live, ann_live = _live_sets(spark, bm25_prefix, ann_prefix)
        allow = expected_asymmetry.select("doc_id")
        bm_net = bm_live.join(allow, "doc_id", "left_anti").localCheckpoint()
        ann_net = ann_live.join(allow, "doc_id", "left_anti").localCheckpoint()
        n_bm_only = bm_net.join(ann_live, "doc_id", "left_anti").count()
        n_ann_only = ann_net.join(bm_live, "doc_id", "left_anti").count()
        n_bm_live, n_ann_live = bm_net.count(), ann_net.count()
    if not (n_bm_only or n_ann_only):
        return actions
    skew_report = f"parity:bm25-only={n_bm_only},ann-only={n_ann_only}"
    if reconcile == "report":
        actions.append(skew_report)
        return actions
    if reconcile == "bounded":
        live = max(n_bm_live, n_ann_live, 1)
        if (n_bm_only + n_ann_only) / live > max_skew_frac:
            actions.append(f"{skew_report}:exceeds-skew-bound")
            return actions
    n_bm, n_ann = hybrid_index_repair(
        spark, bm25_prefix, ann_prefix, expected_asymmetry
    )
    actions.append(f"repair:bm25-{n_bm},ann-{n_ann}")
    return actions


def q_hybrid_index_autopilot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cross-index ops loop under the driver gate: the interleaved
    lifecycle with the injected one-sided delete, then the full policy
    ladder — the default report-only cycle must log the skew WITHOUT
    deleting anything, a ``bounded`` cycle must refuse (the injected
    10% skew exceeds the 2% bound — indistinguishable from corpus
    asymmetry), and only the explicit ``always`` opt-in reconciles.
    A second ``always`` cycle must be a no-op (idempotence). The oracle
    is the post-repair reconciliation recomputed from the raw tables
    (shared with hybrid_index_repair)."""
    with scratch_index(spark, BM25_INDEX, ANN_INDEX) as (out, bp, ap):
        _interleaved_lifecycle(spark, sf_dir, bp, ap, out)
        before = hybrid_index_parity(spark, bp, ap).first()
        acts = hybrid_index_autopilot(spark, bp, ap)  # default: report
        assert len(acts) == 1 and acts[0].startswith("parity:"), acts
        acts = hybrid_index_autopilot(spark, bp, ap, reconcile="bounded")
        assert len(acts) == 1 and acts[0].endswith(":exceeds-skew-bound"), (
            acts
        )
        # neither non-destructive cycle touched the indexes
        assert hybrid_index_parity(spark, bp, ap).first() == before
        actions = hybrid_index_autopilot(spark, bp, ap, reconcile="always")
        assert len(actions) == 1 and actions[0].startswith("repair:"), (
            actions
        )
        assert (
            hybrid_index_autopilot(spark, bp, ap, reconcile="always") == []
        )  # idempotent
        rows = hybrid_index_parity(spark, bp, ap).collect()
    return spark.createDataFrame(
        rows,
        "n_bm25_live bigint, n_ann_live bigint, n_both bigint,"
        " n_bm25_only bigint, n_ann_only bigint, n_tomb_bm25 bigint,"
        " n_tomb_ann bigint",
    )


# post-repair state from first principles: both live sets collapse to
# the pre-repair intersection; each tombstone set grows by exactly its
# side's one-sided difference (disjoint from the lifecycle deletes)
_ORACLE_HYBRID_REPAIR = f"""
WITH {_DUCK_BM25_TABLES},
bm_live0 AS (
    SELECT DISTINCT doc_id FROM tf WHERE doc_id % 10 <> {PARITY_DEL_BOTH}
),
ann_live0 AS (
    SELECT vec_id AS doc_id FROM embeddings
    WHERE vec_id % 10 NOT IN ({PARITY_DEL_BOTH}, {PARITY_DEL_ANN_ONLY})
),
both_live AS (
    SELECT doc_id FROM bm_live0 INTERSECT SELECT doc_id FROM ann_live0
),
n_inter AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM both_live),
bm_only AS (
    SELECT doc_id FROM bm_live0 EXCEPT SELECT doc_id FROM ann_live0
),
ann_only AS (
    SELECT doc_id FROM ann_live0 EXCEPT SELECT doc_id FROM bm_live0
)
SELECT n AS n_bm25_live,
       n AS n_ann_live,
       n AS n_both,
       CAST(0 AS BIGINT) AS n_bm25_only,
       CAST(0 AS BIGINT) AS n_ann_only,
       (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM documents
        WHERE doc_id % 10 = {PARITY_DEL_BOTH})
       + (SELECT CAST(COUNT(*) AS BIGINT) FROM bm_only) AS n_tomb_bm25,
       (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) FROM embeddings
        WHERE vec_id % 10 IN ({PARITY_DEL_BOTH}, {PARITY_DEL_ANN_ONLY}))
       + (SELECT CAST(COUNT(*) AS BIGINT) FROM ann_only) AS n_tomb_ann
FROM n_inter
"""


# vector leg: the inline IVF-PQ chain widened to the shortlist, exact-
# cosine reranked, filtered to the probe; lexical leg: the inline hybrid
# oracle's CTEs verbatim (the persisted derivation is value-identical).
_shortlist_sql = _ORACLE_IVFPQ.replace(
    f"WHERE rank <= {DEFAULT_K}", f"WHERE rank <= {VEC_SHORTLIST}"
).strip()
assert _shortlist_sql != _ORACLE_IVFPQ.strip()

_ORACLE_HYBRID_INDEX = f"""
WITH {_DUCK_BM25_TABLES},
short AS (
    {_shortlist_sql}
),
eb AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS nrm
    FROM embeddings
),
rescored AS (
    SELECT s.vec_id AS doc_id,
           ROUND(list_dot_product(q.v, b.v) / NULLIF(q.nrm * b.nrm, 0), 6)
               AS cos_sim
    FROM short s
    JOIN eb q ON q.vec_id = s.qid
    JOIN eb b ON b.vec_id = s.vec_id
    WHERE s.qid = {HYBRID_PROBE}
),
vec AS (
    SELECT doc_id, vec_rank FROM (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY cos_sim DESC, doc_id
               ) AS INT) AS vec_rank
        FROM rescored
    ) WHERE vec_rank <= {RRF_POOL}
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


# Re-upsert (replace) slice for the hybrid composition: includes the
# PROBE itself, so the lexical leg's latest-version PROFILE mask (the
# probe's own term profile must come off its newest text) is exercised
# along with the candidate-side masks in both legs.
HYB_RE_MOD, HYB_RE_REM = 9, HYBRID_PROBE % 9
assert HYBRID_PROBE % HYB_RE_MOD == HYB_RE_REM


def q_hybrid_index_reupsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RE-UPSERT (replace) semantics across the COMPOSED serving stack:
    build both indexes over the full corpus, then re-ingest a REVISED
    version of the ``doc_id % 9 == 7`` slice into BOTH — text doubled
    on the BM25 side (tf and dl exactly 2×), vectors NEGATED on the ANN
    side (every cosine flips, so list assignment and the ADC shortlist
    genuinely change). The slice includes the probe doc itself, so the
    hybrid query must profile the probe by its LATEST text (the
    doclen-manifest mask), rank lexical candidates by latest tf/dl with
    df counted once per doc, and shortlist vector candidates from the
    latest codes (the supersession tombstones stamped by
    ``ann_index_upsert`` mask the build-epoch rows). Compacting both
    indexes must purge every superseded version without changing the
    fused ranking. The oracle recomputes both legs over the REVISED
    corpus with build-frozen artifacts — (n_docs, avgdl) over the
    ORIGINAL corpus, IVF centroids and PQ codebooks sampled from the
    ORIGINAL vectors — and query/rerank vectors from the raw table
    (serving passes the raw ``embeddings`` corpus for both)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    revised_docs = docs.where(
        F.col("doc_id") % HYB_RE_MOD == HYB_RE_REM
    ).select("doc_id", F.concat_ws(" ", "text", "text").alias("text"))
    revised_emb = emb.where(
        F.col("vec_id") % HYB_RE_MOD == HYB_RE_REM
    ).select("vec_id", F.transform("embedding", lambda x: -x).alias("embedding"))
    with scratch_index(spark, BM25_INDEX, ANN_INDEX) as (out, bp, ap):
        _build_both(docs, bp, f"{out}/bm25", emb, ap, f"{out}/ann")
        par_ops(
            lambda: bm25_index_upsert(revised_docs, bp),
            lambda: ann_index_upsert(revised_emb, ap),
        )
        pre = hybrid_index_search(spark, emb, bp, ap).collect()
        par_ops(
            lambda: bm25_index_compact(spark, bp),
            lambda: ann_index_compact(spark, ap),
        )
        # the five post-compaction verification reads are independent
        # (guide §2.6): the two dupe censuses and two tombstone counts
        # back-fill cores under the fused re-search
        def _dupe_count(t: str, k: str) -> int:
            return (
                spark.table(t)
                .groupBy(k)
                .count()
                .where(F.col("count") > 1)
                .count()
            )

        d_bm, d_ann, n_tb, n_ta, rows = par_ops(
            lambda: _dupe_count(f"{bp}_doclen", "doc_id"),
            lambda: _dupe_count(f"{ap}_codes", "vec_id"),
            lambda: spark.table(f"{bp}_tombstones").count(),
            lambda: spark.table(f"{ap}_tombstones").count(),
            lambda: hybrid_index_search(spark, emb, bp, ap).collect(),
        )
        for t, d in ((f"{bp}_doclen", d_bm), (f"{ap}_codes", d_ann)):
            assert d == 0, f"{t}: {d} keys kept >1 version post-compaction"
        assert n_tb == 0
        assert n_ta == 0
        assert rows == pre, "compaction changed the fused ranking"
    return spark.createDataFrame(
        rows,
        "doc_id bigint, lex_rank int, vec_rank int, rrf_score bigint,"
        " rnk int",
    )


# ---- revised-corpus oracle fragments (string surgery on the inline
# oracles, each replacement asserted to have taken — the established
# pattern of the per-family reupsert oracles) ----

# BM25 tables over the revised corpus; the one-row scalars stay frozen
# over the ORIGINAL corpus (build predates the revision).
_DUCK_BM25_TABLES_RE = f"""
corpus AS (
    SELECT doc_id,
           CASE WHEN doc_id % {HYB_RE_MOD} = {HYB_RE_REM}
                THEN text || ' ' || text ELSE text END AS text
    FROM documents
),
tok AS (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM corpus
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
stats AS (
    SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
    FROM (
        SELECT doc_id, COUNT(*) AS dl
        FROM (SELECT doc_id,
                     unnest(string_split(lower(text), ' ')) AS token
              FROM documents)
        GROUP BY doc_id
    )
)
"""

# Vector base, the ann family's revised-corpus pattern: ``base`` (the
# alias every downstream CTE reads) becomes the REVISED vectors — what
# the index holds after the re-upsert, latest version per id — so codes
# and list assignment follow it for free; the quantizer samples and the
# query rows are re-pointed at ``orig``. Negation preserves the norm,
# so nrm carries over unchanged.
_DUCK_ANN_RE = f"""orig AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS nrm
    FROM embeddings
),
base AS (
    SELECT vec_id,
           CASE WHEN vec_id % {HYB_RE_MOD} = {HYB_RE_REM}
                THEN list_transform(v, x -> -x) ELSE v END AS v,
           nrm
    FROM orig
)"""

_CB_FROM_BASE = f"""FROM base, UNNEST(generate_series(0, {PQ_SLOTS - 1})) AS g(s)
    WHERE vec_id % {PQ_MOD} = s"""
_CENTS_LINE = (
    "cents AS (SELECT vec_id AS cid, v AS cv, nrm AS cn"
    " FROM base WHERE vec_id % 25 = 0)"
)
_Q_LINE = "q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM base WHERE vec_id < 8)"
for _frag in (_CB_FROM_BASE, _CENTS_LINE, _Q_LINE):
    assert _shortlist_sql.count(_frag) == 1, _frag

_shortlist_sql_re = (
    _shortlist_sql
    .replace(_DUCK_BASE.strip(), _DUCK_ANN_RE.strip(), 1)
    # quantizer samples and query rows: the original vectors
    .replace(_CB_FROM_BASE, _CB_FROM_BASE.replace("base", "orig"), 1)
    .replace(_CENTS_LINE, _CENTS_LINE.replace("FROM base", "FROM orig"), 1)
    .replace(_Q_LINE, _Q_LINE.replace("FROM base", "FROM orig"), 1)
)
assert "FROM orig" in _shortlist_sql_re
# the only remaining readers of ``base`` are codes' slot decomposition
# and the list assignment — the two serving surfaces the index rewrites
assert _shortlist_sql_re.count("FROM base") == 2

_ORACLE_HYBRID_REUPSERT = _ORACLE_HYBRID_INDEX.replace(
    _DUCK_BM25_TABLES, _DUCK_BM25_TABLES_RE, 1
).replace(_shortlist_sql, _shortlist_sql_re, 1)
assert _DUCK_BM25_TABLES_RE in _ORACLE_HYBRID_REUPSERT
assert _shortlist_sql_re in _ORACLE_HYBRID_REUPSERT
# the exact rerank and the probe's query vector read the raw corpus
# table on both sides — eb stays FROM embeddings
assert "FROM embeddings" in _ORACLE_HYBRID_REUPSERT


# the guarded-autopilot fixture: doc_id % 7 == 3 is the DECLARED
# text-only slice (built into BM25, never into ANN) and
# doc_id % 100 == 5 (outside that slice) is the injected operational
# skew (deleted from ANN only).
GUARD_TEXT_ONLY_MOD, GUARD_TEXT_ONLY_REM = 7, 3
GUARD_OP_MOD, GUARD_OP_REM = 100, 5


def q_hybrid_index_autopilot_guarded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The unattended ops loop on a HEALTHY asymmetric deployment — the
    scenario destructive auto-reconcile would destroy: BM25 serves the
    whole corpus, ANN only the slice that has embeddings (doc_id % 7
    ≠ 3), plus a small injected operational skew (1% deleted from ANN
    only). The default report-only cycle must log the gross skew and
    delete NOTHING (the declared surface keeps serving); a ``bounded``
    cycle with the declared slice as ``expected_asymmetry`` must repair
    exactly the operational skew (net 1% ≤ the 2% bound) while leaving
    the text-only docs alone; a second such cycle is quiet. The oracle
    recomputes the end state from the raw corpus: live sets, the
    intact asymmetric surface, and tombstone counts that grow by
    exactly the operational slice on each side."""
    with scratch_index(spark, BM25_INDEX, ANN_INDEX) as (out, bp, ap):
        docs = load_table(spark, sf_dir, "documents")
        emb = load_table(spark, sf_dir, "embeddings")
        text_only = F.col("vec_id") % GUARD_TEXT_ONLY_MOD == (
            GUARD_TEXT_ONLY_REM
        )
        op_skew = (F.col("vec_id") % GUARD_OP_MOD == GUARD_OP_REM) & ~(
            text_only
        )
        ann_corpus = emb.where(~text_only)
        _build_both(docs, bp, f"{out}/bm25", ann_corpus, ap, f"{out}/ann")
        ann_index_delete(spark, emb.where(op_skew).select("vec_id"), ap)
        # the DECLARED surface is structural: every doc the vector side
        # was never built over (the % 7 slice plus, at SFs where the
        # embedding table covers only part of the corpus, the docs with
        # no embedding row at all) — exactly what a deployment would
        # register as its expected asymmetry
        declared = docs.select("doc_id").join(
            ann_corpus.select(F.col("vec_id").alias("doc_id")),
            "doc_id",
            "left_anti",
        )

        before = hybrid_index_parity(spark, bp, ap).first()
        acts = hybrid_index_autopilot(spark, bp, ap)  # default: report
        assert len(acts) == 1 and acts[0].startswith("parity:"), acts
        assert hybrid_index_parity(spark, bp, ap).first() == before
        acts = hybrid_index_autopilot(
            spark, bp, ap, reconcile="bounded", expected_asymmetry=declared
        )
        assert len(acts) == 1 and acts[0].startswith("repair:"), acts
        assert acts[0].endswith(",ann-0"), acts  # nothing left ANN-side
        acts = hybrid_index_autopilot(
            spark, bp, ap, reconcile="bounded", expected_asymmetry=declared
        )
        assert acts == []  # healthy asymmetric deployment is QUIET
        rows = hybrid_index_parity(spark, bp, ap).collect()
        # the declared text-only surface survived the whole loop
        n_declared = declared.count()
        assert rows[0]["n_bm25_only"] == n_declared, (rows, n_declared)
    return spark.createDataFrame(
        rows,
        "n_bm25_live bigint, n_ann_live bigint, n_both bigint,"
        " n_bm25_only bigint, n_ann_only bigint, n_tomb_bm25 bigint,"
        " n_tomb_ann bigint",
    )


_ORACLE_HYBRID_GUARDED = f"""
WITH d AS (SELECT doc_id FROM documents),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d
      WHERE doc_id % {GUARD_TEXT_ONLY_MOD} = {GUARD_TEXT_ONLY_REM}),
o AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d
      WHERE doc_id % {GUARD_OP_MOD} = {GUARD_OP_REM}
        AND doc_id % {GUARD_TEXT_ONLY_MOD} <> {GUARD_TEXT_ONLY_REM}),
a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d)
SELECT a.n - o.n          AS n_bm25_live,
       a.n - t.n - o.n    AS n_ann_live,
       a.n - t.n - o.n    AS n_both,
       t.n                AS n_bm25_only,
       CAST(0 AS BIGINT)  AS n_ann_only,
       o.n                AS n_tomb_bm25,
       o.n                AS n_tomb_ann
FROM a, t, o
"""


QUERIES = {
    "hybrid_index_search": q_hybrid_index_search,
    "hybrid_index_reupsert": q_hybrid_index_reupsert,
    "hybrid_index_parity": q_hybrid_index_parity,
    "hybrid_index_repair": q_hybrid_index_repair,
    "hybrid_index_autopilot": q_hybrid_index_autopilot,
    "hybrid_index_autopilot_guarded": q_hybrid_index_autopilot_guarded,
    "streaming_hybrid_ingest": q_streaming_hybrid_ingest,
    "streaming_hybrid_maintained": q_streaming_hybrid_maintained,
}

ORACLES = {
    "hybrid_index_search": _ORACLE_HYBRID_INDEX,
    # both legs over the revised corpus, artifacts build-frozen over
    # the original — the composed replace-semantics gate
    "hybrid_index_reupsert": _ORACLE_HYBRID_REUPSERT,
    "hybrid_index_parity": _ORACLE_HYBRID_PARITY,
    "hybrid_index_repair": _ORACLE_HYBRID_REPAIR,
    # the cross-index ops cycle ends in the repaired state — shared
    # oracle, plus an in-wrapper idempotence assert
    "hybrid_index_autopilot": _ORACLE_HYBRID_REPAIR,
    # report-only + bounded-with-allowlist end state from the raw corpus
    "hybrid_index_autopilot_guarded": _ORACLE_HYBRID_GUARDED,
    # one stream, one shared epoch, both indexes: hybrid RRF with
    # base-frozen artifacts on both legs, recomputed from scratch
    "streaming_hybrid_ingest": _ORACLE_STREAMING_HYBRID,
    # dual-compaction window mid-stream: both sides fold, pair parity
    # holds, full delta exactly once — the streaming-hybrid oracle verbatim
    "streaming_hybrid_maintained": _ORACLE_STREAMING_HYBRID,
}
