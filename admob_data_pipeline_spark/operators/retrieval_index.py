"""Persisted BM25 index: build ONCE, serve MANY — the text-side twin of
the persisted ANN index (operators/ann_index.py).

The inline retrieval queries (``bm25_search`` and friends) re-tokenize
the corpus inside every query. A production search deployment builds
the inverted index once and serves every query from the persisted
layout:

- :func:`bm25_index_build` writes FIVE tables: ``<prefix>_postings``
  (token, doc_id, tf) — the inverted index, hash-BUCKETED on ``token``
  and sorted within buckets so a term lookup prunes both buckets (via
  the bucket hash) and row groups (via token min/max), —
  ``<prefix>_doclen`` (doc_id, dl), bucketed on ``doc_id`` for the
  candidate-length join, and ``<prefix>_stats`` (n_docs, avgdl — one
  row, frozen at build time exactly like the ANN index's quantizers).
- :func:`bm25_index_search` serves a term query reading ONLY those
  tables — no corpus scan, no tokenizer, no explode anywhere in the
  plan (test-pinned): the terms' postings come out of the bucketed scan
  with the IN-filter pushed to parquet, dfs come from the postings
  themselves, candidate doc lengths are a semi-joined point lookup on
  the doclen table, and the ranking core is corpus.py's
  ``_bm25_rank_postings`` — the SAME function the inline queries run,
  so the persisted path cannot drift from the inline one.

Beyond the three core tables, the build writes ``<prefix>_positions``
(quoted-phrase serving) and ``<prefix>_tombstones`` (logical deletes).
Lifecycle (round 9): exactly-once epoch ingest, compaction with
tombstone purge, vocabulary-drift rebuild trigger, and as-of time
travel via epoch partition pruning.

Parity contract: identical corpus → identical (df, dl, n_docs, avgdl)
→ identical floor-scaled integer scores, so the registered search
query reuses the inline ``bm25_search`` oracle VERBATIM.

Reference: aamir-dp/admob-data-pipeline has no retrieval surface; this
family is part of the brief's first-class LLM-data-pipeline additions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from admob_data_pipeline_spark.operators.corpus import (
    _DUCK_BM25_SCORE,
    _DUCK_BM25_TABLES,
    _ORACLE_BM25_PHRASE,
    _ORACLE_BM25_SEARCH,
    BM25_B,
    BM25_K1,
    BM25_PHRASE,
    BM25_QUERY,
    BM25_SEARCH_TOP,
    _bm25_rank_postings,
    _bm25_score,
    _bm25_stats,
)
from admob_data_pipeline_spark.operators.epoch_index import (
    EpochIndex,
    drain_stream,
    drop_index_tables,
    index_autopilot,
    index_compact,
    index_delete,
    index_view,
    ingested_since_build,
    keep_latest,
    latest_versions,
    mask_deleted,
    scratch_index,
    write_empty_tombstones,
)
from admob_data_pipeline_spark.operators.util import par_ops
from admob_data_pipeline_spark.sinks.writers import (
    BASE_EPOCH,
    claim_epoch,
    index_manifest,
    next_epoch,
    overwrite_epoch_partition,
    snapshot_tombstones,
    write_epoch_bucketed,
)
from admob_data_pipeline_spark.sources.tables import load_table

POSTINGS_BUCKETS = 8

# doclen is the version manifest: serving masks every version of a doc
# below its latest epoch there, and compaction purges those versions.
BM25_INDEX = EpochIndex(
    name="bm25_idx",
    tables=(
        ("postings", True),
        ("doclen", True),
        ("positions", True),
        ("stats", False),
        ("tombstones", False),
    ),
    key="doc_id",
    ledger="postings",
    rewrites=(
        ("postings", "token", POSTINGS_BUCKETS),
        ("doclen", "doc_id", POSTINGS_BUCKETS),
        ("positions", "token", POSTINGS_BUCKETS),
    ),
    versions="doclen",
)


def bm25_index_build(docs: DataFrame, table_prefix: str, path: str) -> None:
    """Tokenize the corpus ONCE and persist the inverted index: the
    bucketed postings table, the bucketed doc-length table, and the
    one-row frozen corpus scalars. Ingest pays one corpus pass + two
    bucketed writes; every subsequent query touches only its terms'
    postings.

    The one pass is the positional postings, checkpointed: tf, doclen
    and the scalars derive from it exactly as :func:`bm25_index_upsert`
    derives them (tf = occurrences per (doc_id, token), dl = occurrences
    per doc ≡ Σtf)."""
    spark = docs.sparkSession
    pos = _bm25_positions(docs).localCheckpoint()
    tf = _tf_of(pos)
    drop_index_tables(spark, BM25_INDEX, table_prefix)

    def _write_postings() -> None:
        write_epoch_bucketed(
            tf,
            f"{table_prefix}_postings",
            key="token",
            n_buckets=POSTINGS_BUCKETS,
            path=f"{path}/postings",
        )

    def _write_doclen() -> None:
        write_epoch_bucketed(
            _dl_of(pos),
            f"{table_prefix}_doclen",
            key="doc_id",
            n_buckets=POSTINGS_BUCKETS,
            path=f"{path}/doclen",
        )

    def _write_positions() -> None:
        write_epoch_bucketed(
            pos,
            f"{table_prefix}_positions",
            key="token",
            n_buckets=POSTINGS_BUCKETS,
            path=f"{path}/positions",
        )

    def _write_stats() -> None:
        _bm25_stats(tf).write.mode("overwrite").format("parquet").option(
            "path", f"{path}/stats"
        ).saveAsTable(f"{table_prefix}_stats")

    # The five table writes are mutually independent (distinct tables,
    # distinct paths); run them concurrently so the tiny catalog writes'
    # DDL+commit latency and the tf-derived aggregates overlap the
    # bucketed postings write (guide §2.6 — overlap independent jobs;
    # same pattern as ann_index_build). The tokenize subtrees execute in
    # parallel on idle cores instead of serializing behind a checkpoint
    # barrier (ROUND_NOTES.md, measured loser #3).
    par_ops(
        lambda: write_empty_tombstones(spark, BM25_INDEX, table_prefix, path),
        _write_postings,
        _write_doclen,
        _write_positions,
        _write_stats,
    )


def bm25_index_search(
    spark: SparkSession,
    query_terms: tuple[str, ...],
    table_prefix: str,
    top: int = BM25_SEARCH_TOP,
    k1: float = BM25_K1,
    b: float = BM25_B,
    require_all: bool = False,
    as_of_epoch: int | None = None,
) -> DataFrame:
    """Serve a term query from the PERSISTED index — no corpus scan, no
    tokenizer, no explode; the ranking core is the inline queries'
    ``_bm25_rank_postings`` fed from the index tables."""
    postings, doclen, tomb = index_view(
        spark, table_prefix, "postings", "doclen", as_of_epoch=as_of_epoch
    )
    # df counts only surviving postings; rows purge at the next compaction
    postings = mask_deleted(
        postings.where(F.col("token").isin(list(query_terms))), tomb, "doc_id"
    ).localCheckpoint()  # tiny (Σ df(term) rows), read by df/cand/score
    return _bm25_rank_latest(
        postings,
        doclen,
        spark.table(f"{table_prefix}_stats"),
        top,
        k1,
        b,
        require_all_n=len(set(query_terms)) if require_all else None,
    )


def _bm25_rank_latest(
    postings: DataFrame,
    doclen: DataFrame,
    stats: DataFrame | tuple,
    top: int,
    k1: float,
    b: float,
    require_all_n: int | None = None,
    exclude_doc: int | None = None,
) -> DataFrame:
    """Rank tombstone-masked postings at each candidate's LATEST version
    through ``_bm25_rank_postings`` — the serving tail of
    :func:`bm25_index_search` and of the hybrid search's lexical leg.

    RE-UPSERT (replace) semantics: a doc re-ingested into a later epoch
    supersedes every earlier version — serving must score ONLY its
    latest version, else tf/df double-count and the candidate set
    duplicates. The doclen table is the version manifest (exactly one
    row per ingested version of a doc), so one bucketed doclen scan
    (broadcast-semi filtered to the tiny candidate set, rollup on the
    bucket key: no exchange) yields BOTH the mask and the latest dl: one
    broadcast join on ``(doc_id, epoch)`` keeps the latest-version
    postings and attaches their dl, so _bm25_rank_postings needs no
    length lookup of its own. A term dropped by the new version scores
    zero even though no new posting row replaced the old one. Stale
    versions purge physically at the next compaction (stale-version
    anti in bm25_index_compact), which keeps this mask a no-op-cost
    broadcast join in steady state. ``stats``: the stats table, or its
    collected ``(n_docs, avgdl)`` pair."""
    dl_latest = latest_versions(doclen, "doc_id", "dl", among=postings)
    latest = postings.join(F.broadcast(dl_latest), ["doc_id", "epoch"])
    # df per term over the latest postings: a window on token — the
    # postings' bucket key, so no exchange when they come straight from
    # the bucketed scan — not an aggregate joined back, which re-plans
    # the latest-version join a second time
    df = F.count(F.lit(1)).over(Window.partitionBy("token"))
    return _bm25_rank_postings(
        None,
        latest.withColumn("df", df),
        top,
        k1,
        b,
        require_all_n,
        exclude_doc=exclude_doc,
        stats=stats,
    )


def _bm25_positions(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(token, doc_id, pos) — the positional postings a quoted-phrase
    query needs. Larger than the per-doc tf postings (one row per token
    OCCURRENCE) — the standard positional-index space tradeoff."""
    from admob_data_pipeline_spark.operators.text import tokens
    from admob_data_pipeline_spark.operators.util import widen_if_narrow

    return widen_if_narrow(docs).select(
        "doc_id", F.posexplode(tokens(F.col(text_col))).alias("pos", "token")
    ).select("token", "doc_id", "pos")


def _tf_of(pos: DataFrame) -> DataFrame:
    """(token, doc_id, tf) postings from positional postings: a count of
    occurrences per (doc_id, token), bit-identical to ``_bm25_tf``."""
    return (
        pos.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select("token", "doc_id", "tf")
    )


def _dl_of(pos: DataFrame) -> DataFrame:
    """(doc_id, dl) from positional postings: Σtf per doc ≡ its row count."""
    return pos.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))


def bm25_index_phrase(
    spark: SparkSession,
    phrase: tuple[str, str] = BM25_PHRASE,
    table_prefix: str = "bm25_idx",
    top: int = BM25_SEARCH_TOP,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Quoted-phrase serving from the PERSISTED positional index — no
    corpus scan, no tokenizer: the two phrase words' occurrences come
    out of the bucketed positions table (IN-filter pushed), adjacency
    is a (doc_id, pos)-keyed self-join over those Σ df(word) rows,
    phrase df recomputes from the surviving matches (tombstone-masked),
    candidate lengths are point lookups on the doclen table, and the
    corpus scalars are the frozen build-time row — so results are
    row-identical to the inline ``bm25_phrase_search`` (shared oracle
    VERBATIM)."""
    w1, w2 = phrase
    pos, doclen, tomb = index_view(spark, table_prefix, "positions", "doclen")
    pos = mask_deleted(
        pos.where(F.col("token").isin([w1, w2])), tomb, "doc_id"
    ).localCheckpoint()  # tiny (Σ df(word) occurrence rows)
    # adjacency must be computed within ONE version of a doc —
    # occurrences from a stale epoch would pair with the re-upserted
    # version's positions
    dl_latest = latest_versions(
        doclen, "doc_id", "dl", among=pos
    ).localCheckpoint()  # ≤ candidate rows; read by mask + dl join
    pos = keep_latest(pos, dl_latest, "doc_id")
    first = pos.where(F.col("token") == w1).select("doc_id", "pos")
    second = pos.where(F.col("token") == w2).select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    ptf = (
        first.join(second, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()  # ≤ phrase-df rows; reused by df + scoring
    )
    pdf = ptf.agg(F.count(F.lit(1)).alias("df"))
    dl_cand = dl_latest.join(
        F.broadcast(ptf.select("doc_id")), "doc_id", "left_semi"
    ).select("doc_id", "dl")
    scored = (
        ptf.join(dl_cand, "doc_id")
        .crossJoin(F.broadcast(pdf))
        .crossJoin(
            F.broadcast(
                spark.table(f"{table_prefix}_stats").select("n_docs", "avgdl")
            )
        )
        .select("doc_id", "tf", _bm25_score(k1, b).alias("score_scaled"))
    )
    head = scored.orderBy(F.desc("score_scaled"), F.col("doc_id")).limit(top)
    w = Window.orderBy(F.desc("score_scaled"), F.col("doc_id"))
    return head.withColumn("rnk", F.row_number().over(w).cast("int")).orderBy(
        "rnk"
    )


def bm25_index_upsert(
    delta: DataFrame, table_prefix: str, epoch: int | None = None
) -> None:
    """Incrementally ingest NEW documents into the persisted inverted
    index: tokenize the delta only, land its postings and doc lengths
    as their own ``epoch`` PARTITION with the same bucket specs (the
    layout survives — pinned in tests/test_retrieval_index.py), and
    leave the corpus scalars (n_docs, avgdl) FROZEN at build time — the
    same rebuild-cadence contract as the ANN index's quantizers and the
    dedup index's stop list. Scores therefore stay comparable across
    the ingest (idf and length normalization don't drift per batch);
    search after an upsert equals the inline ranking over the union
    corpus WITH base-frozen scalars, which is exactly what the
    registered oracle recomputes. The base corpus is never rescanned
    or retokenized.

    ``epoch`` is the idempotency key (dynamic partition overwrite —
    a replayed batch rewrites its own partition, never double-appends;
    the contract streaming foreachBatch maintenance needs). Batch
    callers may omit it to auto-assign via :func:`claim_epoch` — an
    atomic ledger mint, so concurrent batch ingest jobs can never
    overwrite each other's partition (the loser remints).

    RE-UPSERT of an EXISTING doc is REPLACE: serving masks every
    earlier version by latest ingest epoch (the doclen version
    manifest, see ``bm25_index_search``) and the next compaction
    physically purges the superseded rows. Re-upserting a TOMBSTONED
    doc RESURRECTS it (the epoch-aware tombstone mask kills only
    versions at-or-before the delete's stamp — LSM ordering, uniform
    across the index families). Contract: a delta batch is doc-unique
    (two rows sharing a doc_id within ONE batch merge into one combined
    document at tokenization)."""
    spark = delta.sparkSession
    if epoch is None:
        epoch = claim_epoch(spark, f"{table_prefix}_postings")
    # ONE tokenize pass (guide §2.4 — the ann family's fused-ingest
    # treatment applied here): the positional postings are a superset of
    # the tf postings, so materialize positions once and DERIVE the
    # other two tables from the checkpoint — tf as a count of
    # occurrences per (doc_id, token) (bit-identical to _bm25_tf's
    # explode+count) and doclen DIRECTLY as a count of occurrences per
    # doc (Σtf per doc ≡ row count per doc). The old shape tokenized
    # the delta TWICE per micro-batch (once for tf, once for
    # positions); no intermediate tf checkpoint either — the two
    # derived aggregates run concurrently from the one checkpoint
    # instead of serializing behind a second materialization (the r12
    # "rejected #1" lesson).
    pos = _bm25_positions(delta).localCheckpoint()
    # The three epoch writes are independent (distinct tables) and read
    # only the checkpoint above — overlap them (guide §2.6; safe under
    # the refcounted overwrite toggle). This is the per-micro-batch job
    # floor for streaming_bm25_* and every hybrid/autopilot re-ingest.
    par_ops(
        lambda: overwrite_epoch_partition(
            _tf_of(pos),
            f"{table_prefix}_postings",
            key="token",
            n_buckets=POSTINGS_BUCKETS,
            epoch=epoch,
        ),
        lambda: overwrite_epoch_partition(
            _dl_of(pos),
            f"{table_prefix}_doclen",
            key="doc_id",
            n_buckets=POSTINGS_BUCKETS,
            epoch=epoch,
        ),
        lambda: overwrite_epoch_partition(
            pos,
            f"{table_prefix}_positions",
            key="token",
            n_buckets=POSTINGS_BUCKETS,
            epoch=epoch,
        ),
    )


_SEARCH_SCHEMA = (
    "doc_id bigint, n_terms_matched bigint, score_scaled bigint, rnk int"
)


def q_bm25_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-index serving, oracled for EXACT parity with the
    inline ``bm25_search`` (same SQL verbatim): build writes the three
    index tables, search reads only them."""
    docs = load_table(spark, sf_dir, "documents")
    with scratch_index(spark, BM25_INDEX) as (out, prefix):
        bm25_index_build(docs, prefix, out)
        rows = bm25_index_search(spark, BM25_QUERY, prefix).collect()
    return spark.createDataFrame(rows, _SEARCH_SCHEMA)


def q_bm25_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-grain audit of the PERSISTED postings, read BACK from
    the bucketed layout: per-token document frequency and total term
    count. The oracle recomputes the inverted index from the raw corpus,
    so a dropped, duplicated, or mis-bucketed posting fails the hash."""
    docs = load_table(spark, sf_dir, "documents")
    with scratch_index(spark, BM25_INDEX) as (out, prefix):
        bm25_index_build(docs, prefix, out)
        rows = (
            spark.table(f"{prefix}_postings")
            .groupBy("token")
            .agg(
                F.count(F.lit(1)).alias("df"),
                F.sum("tf").alias("tf_sum"),
            )
            .orderBy("token")
            .collect()
        )
    return spark.createDataFrame(rows, "token string, df bigint, tf_sum bigint")


UPSERT_DOC_MOD = 4  # delta = doc_id % 4 == 3 (deterministic split)
# re-upsert slice: doc_id % 7 == 2 crosses BOTH the base and the delta
# slices, so replace semantics are exercised against build-epoch rows
# and against upsert-epoch rows in one pass
REUPSERT_MOD, REUPSERT_REM = 7, 2


def q_bm25_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-maintenance parity for the text index: build over
    the base slice (doc_id % 4 ≠ 3), upsert the held-out quarter, then
    serve the standard term query from the updated index. The oracle
    recomputes the frozen-scalar semantics from first principles —
    postings, dfs, and doc lengths over the UNION corpus (they live in
    the index and legitimately grow with ingest), the (n_docs, avgdl)
    scalars over the BASE slice only — so a lost or doubled posting,
    a rescaled length, or an un-frozen scalar fails the hash."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") % UPSERT_DOC_MOD != UPSERT_DOC_MOD - 1)
    delta = docs.where(F.col("doc_id") % UPSERT_DOC_MOD == UPSERT_DOC_MOD - 1)
    with scratch_index(spark, BM25_INDEX) as (out, prefix):
        bm25_index_build(base, prefix, out)
        bm25_index_upsert(delta, prefix)
        rows = bm25_index_search(spark, BM25_QUERY, prefix).collect()
    return spark.createDataFrame(rows, _SEARCH_SCHEMA)


def q_bm25_index_upsert_arbiter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The catalog-arbitrated epoch mint end-to-end under the driver
    gate: the same build → auto-epoch upserts → serve lifecycle as
    ``bm25_index_upsert``, but with
    ``spark.admob_data_pipeline.epochLedger.arbiter=catalog`` — every
    epoch id is claimed through the metastore CREATE TABLE mutex (the
    S3A-safe path, sinks/writers.py claim_epoch) instead of the fs
    create. The delta lands as TWO auto-minted epochs, so the claim →
    marker → drop cycle runs twice; serving must equal the fs-arbitrated
    result exactly (shared oracle). The wrapper also asserts the mutex
    left no claim-table litter and the ledger recorded both ids."""
    from admob_data_pipeline_spark.sinks.writers import (
        EPOCH_ARBITER_CONF,
        EPOCH_LEDGER_DIR,
        _fs_and_path,
        table_location,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") % UPSERT_DOC_MOD != UPSERT_DOC_MOD - 1)
    delta = docs.where(F.col("doc_id") % UPSERT_DOC_MOD == UPSERT_DOC_MOD - 1)
    with scratch_index(spark, BM25_INDEX) as (out, prefix):
        spark.conf.set(EPOCH_ARBITER_CONF, "catalog")
        try:
            bm25_index_build(base, prefix, out)
            for e in range(2):  # auto-epoch: each claims through the catalog
                bm25_index_upsert(
                    delta.where(
                        F.expr(f"pmod(doc_id div {UPSERT_DOC_MOD}, 2)") == e
                    ),
                    prefix,
                )
            loc = table_location(spark, f"{prefix}_postings").rstrip("/")
            fs, ldir = _fs_and_path(spark, f"{loc}/{EPOCH_LEDGER_DIR}")
            minted = sorted(
                int(st.getPath().getName()[len("epoch-"):])
                for st in fs.listStatus(ldir)
                if st.getPath().getName().startswith("epoch-")
            )
            assert minted == [0, 1], minted  # both ids recorded, densely
            litter = [
                t.name
                for t in spark.catalog.listTables()
                if "__epoch_claim_" in t.name
            ]
            assert litter == [], litter  # mutex tables all dropped
            rows = bm25_index_search(spark, BM25_QUERY, prefix).collect()
        finally:
            spark.conf.unset(EPOCH_ARBITER_CONF)
    return spark.createDataFrame(rows, _SEARCH_SCHEMA)


_BM25_QUERY_LIST = ", ".join(f"'{t}'" for t in BM25_QUERY)

# frozen-scalar oracle: tok/tf/dl/df over the UNION corpus, the one-row
# (n_docs, avgdl) over the BASE slice only — the ranking expression is
# the shared _DUCK_BM25_SCORE via identical column names
_ORACLE_INDEX_UPSERT = f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
    FROM documents
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
stats AS (
    SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
    FROM dl WHERE doc_id % {UPSERT_DOC_MOD} <> {UPSERT_DOC_MOD - 1}
),
per_term AS (
    SELECT tf.doc_id,
           {{score}} AS s
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
""".format(score=_DUCK_BM25_SCORE)


def q_bm25_index_reupsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RE-UPSERT (replace) semantics end-to-end under the driver gate:
    build over the base slice, upsert the held-out quarter, then
    re-ingest a REVISED version (text doubled — every token count and
    the doc length exactly 2×) of the ``doc_id % 7 == 2`` slice, which
    crosses both the build and the upsert epochs. Serving must score
    ONLY the latest version of each revised doc (the doclen-manifest
    mask in ``bm25_index_search``); compaction must physically purge
    the superseded versions (the stale-version anti in
    ``bm25_index_compact``) without changing ranking. The wrapper
    asserts the pre- and post-compaction rankings are identical and
    that the compacted doclen table holds exactly one row per doc; the
    oracle recomputes ranking over the REVISED corpus with the
    (n_docs, avgdl) scalars frozen over the ORIGINAL base slice (build
    time predates the revision), so a double-counted tf/df, a stale
    dl, a duplicated candidate, or an unfrozen scalar fails the hash."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") % UPSERT_DOC_MOD != UPSERT_DOC_MOD - 1)
    delta = docs.where(F.col("doc_id") % UPSERT_DOC_MOD == UPSERT_DOC_MOD - 1)
    revised = docs.where(F.col("doc_id") % REUPSERT_MOD == REUPSERT_REM).select(
        "doc_id", F.concat_ws(" ", "text", "text").alias("text")
    )
    with scratch_index(spark, BM25_INDEX) as (out, prefix):
        bm25_index_build(base, prefix, out)
        bm25_index_upsert(delta, prefix)
        bm25_index_upsert(revised, prefix)
        pre = bm25_index_search(spark, BM25_QUERY, prefix).collect()
        bm25_index_compact(spark, prefix)
        # independent post-compaction reads overlap (guide §2.6): the
        # dupe census back-fills cores under the re-search
        dupes, rows = par_ops(
            lambda: spark.table(f"{prefix}_doclen")
            .groupBy("doc_id")
            .count()
            .where(F.col("count") > 1)
            .count(),
            lambda: bm25_index_search(spark, BM25_QUERY, prefix).collect(),
        )
        assert dupes == 0, f"{dupes} docs kept >1 version post-compaction"
        assert rows == pre, "compaction changed ranking"
    return spark.createDataFrame(rows, _SEARCH_SCHEMA)


# replace-semantics oracle: tok/tf/dl/df over the corpus WITH the
# revised slice's text doubled (latest version wins), scalars frozen
# over the ORIGINAL base slice (build predates the revision)
_ORACLE_INDEX_REUPSERT = f"""
WITH corpus AS (
    SELECT doc_id,
           CASE WHEN doc_id % {REUPSERT_MOD} = {REUPSERT_REM}
                THEN text || ' ' || text ELSE text END AS text
    FROM documents
),
tok AS (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
    FROM corpus
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
base_dl AS (
    SELECT doc_id, COUNT(*) AS dl
    FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        FROM documents
        WHERE doc_id % {UPSERT_DOC_MOD} <> {UPSERT_DOC_MOD - 1}
    )
    GROUP BY doc_id
),
stats AS (
    SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
    FROM base_dl
),
per_term AS (
    SELECT tf.doc_id,
           {{score}} AS s
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
""".format(score=_DUCK_BM25_SCORE)


# the maintenance-window oracle: tf/df/dl over the FULL corpus, the
# one-row scalars over exactly the corpus present at refresh time
# (base + the first two delta slices)
_ORACLE_STREAM_MAINTAINED = f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
    FROM documents
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
stats AS (
    SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
    FROM dl WHERE doc_id % {UPSERT_DOC_MOD} <> {UPSERT_DOC_MOD - 1}
       OR ((doc_id // {UPSERT_DOC_MOD}) % 4) IN (0, 1)
),
per_term AS (
    SELECT tf.doc_id,
           {{score}} AS s
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
""".format(score=_DUCK_BM25_SCORE)


_ORACLE_INDEX_BUILD = f"""
WITH {_DUCK_BM25_TABLES}
SELECT token, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS tf_sum
FROM tf
GROUP BY token
ORDER BY token
"""


def bm25_index_delete(
    spark: SparkSession, doc_ids: DataFrame, table_prefix: str
) -> None:
    """LOGICAL document delete from the text index: append the ids to
    the tombstone set (duplicates harmless — anti-join semantics, so the
    append is replay-safe). Serving masks tombstoned docs and computes
    df over surviving postings only; the rows purge at the next
    compaction. The frozen (n_docs, avgdl) scalars deliberately do NOT
    shrink — the same rebuild-cadence contract as ingest. Each
    tombstone is stamped with the newest ingest epoch at issue time,
    never below epoch 0: a delete issued before the first upsert is
    attributed to the open ingest window, so as-of reads at the build
    epoch always see the pristine build. The mask is EPOCH-AWARE (kills
    only versions ingested at-or-before the stamp), so a doc
    re-upserted AFTER its delete resurrects — the delete removes what
    existed when it was issued, LSM ordering decides the rest."""
    index_delete(spark, BM25_INDEX, doc_ids, table_prefix)


def bm25_index_compact(spark: SparkSession, table_prefix: str):
    """Maintenance pass for a long-running text ingest: rewrite the
    appended postings and doc-length tables one-file-per-bucket with
    their bucket specs intact (the pruned, shuffle-free serving scans
    survive — pinned in tests/test_retrieval_index.py). The frozen
    corpus scalars are one row and never need compaction. The tombstone
    snapshot is pinned once before the three rewrites (all three tables
    purge the same consistent delete set) and only its files are
    deleted afterward — a delete appended concurrently with the
    rewrites survives to the next cycle instead of being silently wiped
    unpurged. Alongside tombstones it purges
    STALE VERSIONS (rows of a (doc_id, epoch) superseded by a later
    re-upsert of the same doc), so the epoch fold leaves exactly one
    version per doc — the invariant bm25_index_refresh_stats' and the
    serving mask's latest-epoch dedup rely on (post-compaction ties at
    BASE_EPOCH are impossible)."""
    tombs = snapshot_tombstones(
        spark, f"{table_prefix}_tombstones", BM25_INDEX.tomb_schema
    )
    postings, doclen, _ = index_compact(spark, BM25_INDEX, table_prefix, tombs)
    return postings, doclen


def q_bm25_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lifecycle under the driver gate: build over the base slice,
    upsert the held-out quarter twice-split (two appends per table),
    COMPACT both bucketed tables, then serve the standard term query.
    The oracle is the upsert oracle verbatim — compaction must be
    invisible to ranking — and both file counts must strictly drop."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") % UPSERT_DOC_MOD != UPSERT_DOC_MOD - 1)
    delta = docs.where(F.col("doc_id") % UPSERT_DOC_MOD == UPSERT_DOC_MOD - 1)
    with scratch_index(spark, BM25_INDEX) as (out, prefix):
        bm25_index_build(base, prefix, out)
        for half in (0, 1):
            bm25_index_upsert(
                delta.where(
                    F.expr(
                        f"(doc_id % {2 * UPSERT_DOC_MOD}) div {UPSERT_DOC_MOD}"
                    )
                    == half
                ),
                prefix,
            )
        (pb, pa), (db, da) = bm25_index_compact(spark, prefix)
        assert pa < pb and da < db, ((pb, pa), (db, da))
        rows = bm25_index_search(spark, BM25_QUERY, prefix).collect()
    return spark.createDataFrame(rows, _SEARCH_SCHEMA)


BM25_DELETE_MOD, BM25_DELETE_REM = 10, 5  # deleted slice


def q_bm25_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-capable text serving: build over the FULL corpus,
    tombstone the doc_id % 10 == 5 slice (twice — duplicate tombstones
    must be harmless), serve the standard term query. Deleted docs must
    never match AND df must count only surviving postings, while the
    frozen (n_docs, avgdl) scalars keep their build-time values — the
    oracle recomputes exactly that split."""
    docs = load_table(spark, sf_dir, "documents")
    doomed = docs.where(
        F.col("doc_id") % BM25_DELETE_MOD == BM25_DELETE_REM
    ).select("doc_id")
    with scratch_index(spark, BM25_INDEX) as (out, prefix):
        bm25_index_build(docs, prefix, out)
        bm25_index_delete(spark, doomed, prefix)
        bm25_index_delete(spark, doomed, prefix)  # replayed: no-op
        rows = bm25_index_search(spark, BM25_QUERY, prefix).collect()
    return spark.createDataFrame(rows, _SEARCH_SCHEMA)


# tf/df over SURVIVING docs only; dl per-doc (unaffected for survivors);
# the (n_docs, avgdl) scalars frozen over the FULL build corpus
_ORACLE_INDEX_DELETE = f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
    FROM documents
),
tf0 AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
stats AS (
    SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
    FROM dl
),
tf AS (SELECT * FROM tf0
       WHERE doc_id % {BM25_DELETE_MOD} <> {BM25_DELETE_REM}),
df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
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


def bm25_index_refresh_stats(spark: SparkSession, table_prefix: str) -> None:
    """SCALAR REFRESH — the text-index drift remedy cheaper than the
    full rebuild (the family's ann_index_split / dedup_index_ban_hot
    analogue): recompute the frozen (n_docs, avgdl) scalars FROM THE
    INDEX — one aggregate over the doc-length table minus tombstones,
    no corpus re-tokenization, no postings rewrite — and overwrite the
    one-row stats table. df is already computed live from surviving
    postings at serve time, so after a refresh a search is IDENTICAL to
    one against a from-scratch rebuild over the surviving corpus: the
    entire drift the frozen-scalar contract accumulates (ingest growing
    n_docs, deletes shrinking it, length mix shifting avgdl) is erased
    by an O(index) aggregate and a one-row write. Run it on the
    bm25_index_drift audit's signal, like the other remedies."""
    # one row per LIVE doc at its latest version: a doc re-upserted into
    # a later epoch has doclen rows in two partitions until the next
    # compaction, and a raw count(*) would double-count n_docs (and its
    # stale dl would skew avgdl) relative to the build's countDistinct
    # contract
    latest = latest_versions(
        spark.table(f"{table_prefix}_doclen"),
        "doc_id",
        "dl",
        tombstones=spark.table(f"{table_prefix}_tombstones"),
    )
    stats = latest.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    ).localCheckpoint()  # materialize: the write replaces what it read
    stats.write.mode("overwrite").format("parquet").insertInto(
        f"{table_prefix}_stats", overwrite=True
    )


def q_bm25_index_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift REMEDY under the driver gate: build over the base slice,
    upsert the held-out quarter, delete the doc_id % 10 == 5 slice,
    REFRESH the scalars, and serve the standard term query. The oracle
    is a from-scratch REBUILD over the surviving corpus — tf/df/dl and
    the (n_docs, avgdl) scalars all over survivors — which is exactly
    what the refresh must make serving equal to; a stale scalar (the
    pre-refresh frozen value) or an over/under-counted survivor set
    fails the hash."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") % UPSERT_DOC_MOD != UPSERT_DOC_MOD - 1)
    delta = docs.where(F.col("doc_id") % UPSERT_DOC_MOD == UPSERT_DOC_MOD - 1)
    doomed = docs.where(
        F.col("doc_id") % BM25_DELETE_MOD == BM25_DELETE_REM
    ).select("doc_id")
    with scratch_index(spark, BM25_INDEX) as (out, prefix):
        bm25_index_build(base, prefix, out)
        bm25_index_upsert(delta, prefix)
        bm25_index_delete(spark, doomed, prefix)
        bm25_index_refresh_stats(spark, prefix)
        rows = bm25_index_search(spark, BM25_QUERY, prefix).collect()
    return spark.createDataFrame(rows, _SEARCH_SCHEMA)


# the rebuild-equivalence oracle: EVERYTHING over the surviving corpus
# (tf/df/dl restricted to survivors, scalars recomputed over survivors)
# — post-refresh serving must match a from-scratch rebuild exactly
_ORACLE_INDEX_REFRESH = f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
    FROM documents
    WHERE doc_id % {BM25_DELETE_MOD} <> {BM25_DELETE_REM}
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
stats AS (
    SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
    FROM dl
),
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


def bm25_index_autopilot(
    spark: SparkSession, table_prefix: str, max_epochs: int = 16
) -> list:
    """The text-index maintenance cycle (:func:`index_autopilot`) with a
    scalar REFRESH as its remedy, run whenever any ingest or delete
    happened since build: the drift the frozen-scalar contract
    accumulates is erased by one O(index) aggregate, so the policy is
    simply "refresh when the epoch span or tombstone set is non-empty".
    Returns the action log."""

    def refresh(rows):
        n_tomb = next(
            int(r["n_rows"]) for r in rows if r["table_name"] == "tombstones"
        )
        if ingested_since_build(rows) or n_tomb > 0:
            bm25_index_refresh_stats(spark, table_prefix)
            return "refresh_stats"

    return index_autopilot(
        spark, BM25_INDEX, table_prefix, max_epochs, refresh, bm25_index_compact
    )


def q_bm25_index_autopilot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The text ops loop under the driver gate: build over the base
    slice, ingest the held-out quarter as two epochs, delete the
    doc_id % 10 == 5 slice, run ONE autopilot cycle with a 1-epoch
    budget (both remedies must fire: refresh, then compact), and serve
    the standard term query. The oracle is the rebuild-over-survivors
    SQL (refresh makes serving equal a from-scratch rebuild; compaction
    must be invisible) — a remedy that failed to fire or a compact that
    lost/duplicated a posting fails the hash."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") % UPSERT_DOC_MOD != UPSERT_DOC_MOD - 1)
    delta = docs.where(F.col("doc_id") % UPSERT_DOC_MOD == UPSERT_DOC_MOD - 1)
    doomed = docs.where(
        F.col("doc_id") % BM25_DELETE_MOD == BM25_DELETE_REM
    ).select("doc_id")
    with scratch_index(spark, BM25_INDEX) as (out, prefix):
        bm25_index_build(base, prefix, out)
        for e in range(2):
            bm25_index_upsert(
                delta.where(
                    F.expr(f"pmod(doc_id div {UPSERT_DOC_MOD}, 2)") == e
                ),
                prefix,
                epoch=e,
            )
        bm25_index_delete(spark, doomed, prefix)
        actions = bm25_index_autopilot(spark, prefix, max_epochs=1)
        assert actions == ["refresh_stats", "compact"], actions
        assert bm25_index_autopilot(spark, prefix, max_epochs=1) == []
        rows = bm25_index_search(spark, BM25_QUERY, prefix).collect()
    return spark.createDataFrame(rows, _SEARCH_SCHEMA)


def q_streaming_bm25_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING text-index maintenance: the delta corpus arrives as a
    stream, each micro-batch lands via foreachBatch with the batch id
    as the ingest epoch — a replayed epoch overwrites its own partition
    (at-least-once-safe, same mechanics as streaming_ann_ingest), and
    search serves from the continuously-updated postings. Frozen-scalar
    semantics — the oracle is the batch upsert's verbatim, but the
    delta arrives across MULTIPLE epochs so a dropped or replayed one
    fails the hash."""
    import os

    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") % UPSERT_DOC_MOD != UPSERT_DOC_MOD - 1)
    delta = docs.where(F.col("doc_id") % UPSERT_DOC_MOD == UPSERT_DOC_MOD - 1)
    with scratch_index(spark, BM25_INDEX) as (out, prefix):
        src = os.path.join(out, "arrivals")
        bm25_index_build(base, prefix, os.path.join(out, "index"))
        for half in (0, 1):
            delta.where(
                F.expr(
                    f"(doc_id % {2 * UPSERT_DOC_MOD}) div {UPSERT_DOC_MOD}"
                )
                == half
            ).coalesce(1).write.mode("append").parquet(src)
        drain_stream(
            spark,
            docs.schema,
            src,
            os.path.join(out, "ckpt"),
            lambda batch, eid: bm25_index_upsert(batch, prefix, epoch=eid),
        )
        rows = bm25_index_search(spark, BM25_QUERY, prefix).collect()
    return spark.createDataFrame(rows, _SEARCH_SCHEMA)


def q_streaming_bm25_maintained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The long-running deployment's full shape: CONTINUOUS ingest with
    a MAINTENANCE WINDOW in the middle. Stream 1 lands two delta epochs
    (batch id = epoch), the window runs one autopilot cycle (scalar
    refresh over everything ingested so far, then compaction folds the
    epochs into base), and stream 2 — a NEW stream with a fresh
    checkpoint — lands two more epochs before serving.

    The subtle safety property this pins: stream 2's batch ids restart
    at 0, the very ids stream 1 already used — safe ONLY because the
    maintenance compaction folded those partitions away (the wrapper
    asserts next_epoch == 0 post-fold before starting stream 2; without
    the fold, stream 2's epoch-0 dynamic overwrite would silently
    replace stream 1's epoch-0 rows — the lost-update the epoch layout
    exists to prevent). This is the documented operational contract:
    restart streaming ingest with a fresh checkpoint only behind a
    compaction.

    Oracle: tf/df/dl over the FULL corpus (all four delta slices
    ingested), the (n_docs, avgdl) scalars over exactly the
    maintenance-time corpus (base + the first two slices) — a scalar
    refreshed too early/late, a dropped or double-ingested epoch on
    either side of the window, or an unfolded partition all fail the
    hash."""
    import os

    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") % UPSERT_DOC_MOD != UPSERT_DOC_MOD - 1)
    delta = docs.where(F.col("doc_id") % UPSERT_DOC_MOD == UPSERT_DOC_MOD - 1)
    sub = F.expr(f"pmod(doc_id div {UPSERT_DOC_MOD}, 4)")
    with scratch_index(spark, BM25_INDEX) as (out, prefix):
        bm25_index_build(base, prefix, os.path.join(out, "index"))
        for phase, slices in (("one", (0, 1)), ("two", (2, 3))):
            src = os.path.join(out, f"arrivals_{phase}")
            for s in slices:
                delta.where(sub == s).coalesce(1).write.mode(
                    "append"
                ).parquet(src)
            if phase == "two":
                # maintenance window between the streams
                actions = bm25_index_autopilot(spark, prefix, max_epochs=1)
                assert actions == ["refresh_stats", "compact"], actions
                # the fold is WHY a fresh checkpoint's batch ids are
                # safe to reuse as epochs
                assert next_epoch(spark, f"{prefix}_postings") == 0
            drain_stream(
                spark,
                docs.schema,
                src,
                os.path.join(out, f"ckpt_{phase}"),
                lambda batch, eid: bm25_index_upsert(batch, prefix, epoch=eid),
            )
        rows = bm25_index_search(spark, BM25_QUERY, prefix).collect()
    return spark.createDataFrame(rows, _SEARCH_SCHEMA)


def q_bm25_index_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted positional-index phrase serving, oracled for EXACT
    parity with the inline ``bm25_phrase_search`` (same SQL verbatim):
    build writes the positional table once, the phrase query reads only
    the index."""
    docs = load_table(spark, sf_dir, "documents")
    with scratch_index(spark, BM25_INDEX) as (out, prefix):
        bm25_index_build(docs, prefix, out)
        rows = bm25_index_phrase(spark, BM25_PHRASE, prefix).collect()
    return spark.createDataFrame(
        rows, "doc_id bigint, tf bigint, score_scaled bigint, rnk int"
    )


def bm25_index_drift(spark: SparkSession, table_prefix: str) -> DataFrame:
    """REBUILD TRIGGER input for the text index — per-ingest-epoch
    vocabulary drift, read straight off the postings table (no corpus
    touch): posting volume, distinct vocabulary, how many of an epoch's
    tokens are NEW vs the build-time vocabulary, and that share in ppm.
    A deployment watches the OOV share: when arriving text speaks a
    vocabulary the frozen (n_docs, avgdl)-era corpus never saw, idf
    estimates for the new terms are degenerate and a rebuild is due."""
    postings = spark.table(f"{table_prefix}_postings")
    base_vocab = (
        postings.where(F.col("epoch") == BASE_EPOCH)
        .select("token")
        .distinct()
    )
    per_epoch_tok = postings.select("epoch", "token").distinct()
    new_tok = per_epoch_tok.join(
        F.broadcast(base_vocab), "token", "left_anti"
    )
    n_rows = postings.groupBy("epoch").agg(
        F.count(F.lit(1)).alias("n_postings")
    )
    n_tok = per_epoch_tok.groupBy("epoch").agg(
        F.count(F.lit(1)).alias("n_tokens")
    )
    n_new = new_tok.groupBy("epoch").agg(
        F.count(F.lit(1)).alias("n_new_tokens")
    )
    return (
        n_rows.join(n_tok, "epoch")
        .join(n_new, "epoch", "left")
        .na.fill(0, ["n_new_tokens"])
        .select(
            "epoch",
            "n_postings",
            "n_tokens",
            "n_new_tokens",
            F.expr("n_new_tokens * 1000000 div n_tokens").alias("oov_ppm"),
        )
        .orderBy("epoch")
    )


def q_bm25_index_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build over the base slice, ingest the held-out quarter as two
    epochs, audit per-epoch vocabulary drift. The oracle recomputes the
    per-epoch vocabularies from the raw corpus with the same split."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") % UPSERT_DOC_MOD != UPSERT_DOC_MOD - 1)
    delta = docs.where(F.col("doc_id") % UPSERT_DOC_MOD == UPSERT_DOC_MOD - 1)
    with scratch_index(spark, BM25_INDEX) as (out, prefix):
        bm25_index_build(base, prefix, out)
        for half in (0, 1):
            bm25_index_upsert(
                delta.where(
                    F.expr(
                        f"(doc_id % {2 * UPSERT_DOC_MOD}) div {UPSERT_DOC_MOD}"
                    )
                    == half
                ),
                prefix,
                epoch=half,
            )
        rows = bm25_index_drift(spark, prefix).collect()
    return spark.createDataFrame(
        rows,
        "epoch bigint, n_postings bigint, n_tokens bigint,"
        " n_new_tokens bigint, oov_ppm bigint",
    )


# epoch -1 = the base slice; epochs 0/1 = the two delta halves — the
# same split the Spark lifecycle runs
_ORACLE_INDEX_DRIFT = f"""
WITH tok AS (
    SELECT doc_id,
           CASE WHEN doc_id % {UPSERT_DOC_MOD} <> {UPSERT_DOC_MOD - 1}
                THEN -1
                ELSE (doc_id % {2 * UPSERT_DOC_MOD}) // {UPSERT_DOC_MOD}
           END AS epoch,
           unnest(string_split(lower(text), ' ')) AS token
    FROM documents
),
tf AS (SELECT epoch, doc_id, token, COUNT(*) AS tf
       FROM tok GROUP BY epoch, doc_id, token),
base_vocab AS (SELECT DISTINCT token FROM tf WHERE epoch = -1),
per_epoch_tok AS (SELECT DISTINCT epoch, token FROM tf),
n_rows AS (SELECT epoch, COUNT(*) AS n_postings FROM tf GROUP BY epoch),
n_tok AS (SELECT epoch, COUNT(*) AS n_tokens FROM per_epoch_tok
          GROUP BY epoch),
n_new AS (
    SELECT epoch, COUNT(*) AS n_new_tokens
    FROM per_epoch_tok
    WHERE token NOT IN (SELECT token FROM base_vocab)
    GROUP BY epoch
)
SELECT r.epoch,
       CAST(r.n_postings AS BIGINT) AS n_postings,
       CAST(t.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(n.n_new_tokens, 0) AS BIGINT) AS n_new_tokens,
       CAST(COALESCE(n.n_new_tokens, 0) * 1000000 // t.n_tokens AS BIGINT)
           AS oov_ppm
FROM n_rows r
JOIN n_tok t ON t.epoch = r.epoch
LEFT JOIN n_new n ON n.epoch = r.epoch
ORDER BY r.epoch
"""


def q_bm25_index_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel text serving: build over the base slice, ingest the
    held-out quarter as epoch 0, then search AS OF the base epoch —
    partition-pruned scans of the historical index state. The oracle is
    the inline search over the base slice alone, so a leaked or lost
    epoch fails the hash. History spans only epochs since the last
    compaction — folding voids older as-of points (see
    compact_bucketed_table)."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") % UPSERT_DOC_MOD != UPSERT_DOC_MOD - 1)
    delta = docs.where(F.col("doc_id") % UPSERT_DOC_MOD == UPSERT_DOC_MOD - 1)
    with scratch_index(spark, BM25_INDEX) as (out, prefix):
        bm25_index_build(base, prefix, out)
        bm25_index_upsert(delta, prefix, epoch=0)
        rows = bm25_index_search(
            spark, BM25_QUERY, prefix, as_of_epoch=BASE_EPOCH
        ).collect()
    return spark.createDataFrame(rows, _SEARCH_SCHEMA)


# the inline search oracle over the BASE slice alone — the index state
# as of the base epoch (scalars are base-frozen either way)
_ORACLE_INDEX_ASOF = _ORACLE_BM25_SEARCH.replace(
    "FROM documents",
    f"FROM (SELECT * FROM documents"
    f" WHERE doc_id % {UPSERT_DOC_MOD} <> {UPSERT_DOC_MOD - 1})",
)
assert _ORACLE_INDEX_ASOF != _ORACLE_BM25_SEARCH


def bm25_index_manifest(spark: SparkSession, table_prefix: str) -> DataFrame:
    """DESCRIBE-INDEX for the text index (shared helper in
    sinks/writers.py)."""
    return index_manifest(spark, table_prefix, BM25_INDEX.tables)


def q_bm25_index_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build over the base slice, ingest the held-out quarter, delete a
    slice, read the manifest. The oracle recomputes every logical count
    from the raw corpus (distinct (doc,token) postings, distinct docs,
    token occurrences, one stats row, tombstone volume)."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") % UPSERT_DOC_MOD != UPSERT_DOC_MOD - 1)
    delta = docs.where(F.col("doc_id") % UPSERT_DOC_MOD == UPSERT_DOC_MOD - 1)
    doomed = docs.where(
        F.col("doc_id") % BM25_DELETE_MOD == BM25_DELETE_REM
    ).select("doc_id")
    with scratch_index(spark, BM25_INDEX) as (out, prefix):
        bm25_index_build(base, prefix, out)
        bm25_index_upsert(delta, prefix, epoch=0)
        bm25_index_delete(spark, doomed, prefix)
        rows = bm25_index_manifest(spark, prefix).collect()
    return spark.createDataFrame(
        rows,
        "table_name string, n_rows bigint, n_epochs bigint,"
        " min_epoch bigint, max_epoch bigint",
    )


_ORACLE_INDEX_MANIFEST = f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
    FROM documents
),
counts AS (
    SELECT 'postings' AS table_name,
           (SELECT COUNT(*) FROM (SELECT DISTINCT doc_id, token FROM tok))
               AS n_rows,
           2 AS n_epochs, -1 AS min_epoch, 0 AS max_epoch
    UNION ALL
    SELECT 'doclen',
           (SELECT COUNT(DISTINCT doc_id) FROM tok), 2, -1, 0
    UNION ALL
    SELECT 'positions', (SELECT COUNT(*) FROM tok), 2, -1, 0
    UNION ALL
    SELECT 'stats', 1, 0, NULL, NULL
    UNION ALL
    SELECT 'tombstones',
           (SELECT COUNT(*) FROM documents
            WHERE doc_id % {BM25_DELETE_MOD} = {BM25_DELETE_REM}),
           0, NULL, NULL
)
SELECT table_name, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_epochs AS BIGINT) AS n_epochs,
       CAST(min_epoch AS BIGINT) AS min_epoch,
       CAST(max_epoch AS BIGINT) AS max_epoch
FROM counts ORDER BY table_name
"""


QUERIES = {
    "bm25_index_build": q_bm25_index_build,
    "bm25_index_search": q_bm25_index_search,
    "bm25_index_upsert": q_bm25_index_upsert,
    "bm25_index_upsert_arbiter": q_bm25_index_upsert_arbiter,
    "bm25_index_reupsert": q_bm25_index_reupsert,
    "bm25_index_compact": q_bm25_index_compact,
    "streaming_bm25_ingest": q_streaming_bm25_ingest,
    "streaming_bm25_maintained": q_streaming_bm25_maintained,
    "bm25_index_delete": q_bm25_index_delete,
    "bm25_index_refresh": q_bm25_index_refresh,
    "bm25_index_autopilot": q_bm25_index_autopilot,
    "bm25_index_phrase": q_bm25_index_phrase,
    "bm25_index_drift": q_bm25_index_drift,
    "bm25_index_asof": q_bm25_index_asof,
    "bm25_index_manifest": q_bm25_index_manifest,
}

ORACLES = {
    "bm25_index_build": _ORACLE_INDEX_BUILD,
    # parity pin: the persisted path must reproduce the inline
    # bm25_search results exactly — same SQL verbatim
    "bm25_index_search": _ORACLE_BM25_SEARCH,
    # frozen-scalar maintenance parity
    "bm25_index_upsert": _ORACLE_INDEX_UPSERT,
    # catalog-arbitrated epoch mint must be invisible to serving —
    # the upsert oracle verbatim
    "bm25_index_upsert_arbiter": _ORACLE_INDEX_UPSERT,
    # replace semantics: latest version serves, stale versions purge at
    # compaction, scalars stay frozen at build
    "bm25_index_reupsert": _ORACLE_INDEX_REUPSERT,
    # compaction must be invisible to ranking — the upsert oracle verbatim
    "bm25_index_compact": _ORACLE_INDEX_UPSERT,
    # multi-epoch arrival, same frozen-scalar semantics — shared oracle
    "streaming_bm25_ingest": _ORACLE_INDEX_UPSERT,
    # ingest -> maintenance window -> ingest: full-corpus tf/df/dl with
    # scalars refreshed at the window
    "streaming_bm25_maintained": _ORACLE_STREAM_MAINTAINED,
    # tombstone-masked serving: surviving tf/df, frozen scalars
    "bm25_index_delete": _ORACLE_INDEX_DELETE,
    # drift remedy: scalar refresh must make serving equal a
    # from-scratch rebuild over the surviving corpus
    "bm25_index_refresh": _ORACLE_INDEX_REFRESH,
    # the full ops cycle: refresh + compact must together equal the
    # rebuild-over-survivors — shared oracle, multi-epoch arrival
    "bm25_index_autopilot": _ORACLE_INDEX_REFRESH,
    # positional serving parity: the inline phrase oracle verbatim
    "bm25_index_phrase": _ORACLE_BM25_PHRASE,
    # rebuild-trigger audit: per-epoch vocabulary drift
    "bm25_index_drift": _ORACLE_INDEX_DRIFT,
    # time-travel serving: the inline oracle over the base slice
    "bm25_index_asof": _ORACLE_INDEX_ASOF,
    # ops introspection: logical counts + epoch spans per index table
    "bm25_index_manifest": _ORACLE_INDEX_MANIFEST,
}
