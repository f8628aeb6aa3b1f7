"""Persisted ANN index: build ONCE, search MANY — the serving shape a
100 TB deployment actually runs.

Every inline ANN query in :mod:`.similarity` (``ann_ivf_topk``,
``ann_pq_adc_topk``, ``ann_ivfpq_topk``) rebuilds its index inside the
query — fine for an audit, wrong for production, where the index is an
artifact: centroids are trained once, the corpus is assigned and
quantized once, and millions of queries then touch only the persisted
layout. This module composes the building blocks it shares with
``ann_ivfpq_topk`` (``fused_assign_code_kernel`` — the single-pass
assign+quantize kernel — ``_pq_codebooks`` and the serving core
``serve_ivfpq``) into that split:

- :func:`ann_index_build` writes FOUR tables: ``<prefix>_centroids``
  (cid, cv, cn — tiny, broadcast at search), ``<prefix>_codebooks``
  (s, code, cv — tiny), and ``<prefix>_codes`` (vec_id, list_id,
  c0..c{m-1}, epoch) — the only data-scaled one, PARTITIONED by ingest
  ``epoch`` (build = epoch -1, each upsert/micro-batch its own id, so
  replays overwrite idempotently) and hash-BUCKETED on ``list_id``
  sorted within buckets, so the probe join never shuffles the index
  side again. Join-free point lookups additionally PRUNE buckets
  (1 of CODES_BUCKETS read for an equality filter) when
  ``spark.sql.sources.bucketing.autoBucketedScan.enabled=false`` —
  with the default true, Spark silently reverts join-free plans to an
  unbucketed full scan (pinned in tests/test_ann_index.py). The fourth
  table is the ``<prefix>_tombstones`` delete set.
- :func:`ann_index_search` reads those tables and NOTHING else except
  the full-precision query vectors, and serves through
  ``similarity.serve_ivfpq`` — the same core as the inline
  ``ivfpq_topk``. No assignment kernel, no codebook sampling, no pandas
  UDF anywhere in the search plan (test-pinned): probe selection (a
  broadcast of |C| centroids) and the per-query ADC LUT are collected
  in one bounded job; the candidate cut is an IN-list filter that
  prunes the bucketed code table to the probed lists plus a literal
  list_id → qids fan-out map, with ZERO Exchange on the index side;
  and the ADC distance is m literal-map lookups summed map-side — the
  only remaining Exchange is the per-query top-k window on the
  candidate set (~nprobe/|C| of the corpus).

Lifecycle (round 9): exactly-once ingest (epoch partition overwrite),
compaction (one file per bucket, epoch fold, tombstone purge), logical
deletes with broadcast masking, per-list drift audit as the rebuild
trigger, and as-of time travel via epoch partition pruning.

Determinism/parity contract: build + search reproduce the inline
``ivfpq_topk`` results EXACTLY (same deterministic centroid/codebook
sampling, same raw-cosine probe ordering, same floor-scaled BIGINT ADC
cells), so the registered search query reuses the inline query's DuckDB
oracle verbatim — the strongest possible parity pin.

Reference: aamir-dp/admob-data-pipeline has no ANN surface (BigQuery
SQL only); this family is part of the brief's first-class
LLM-data-pipeline additions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from admob_data_pipeline_spark.operators.similarity import (
    _ORACLE_IVFPQ,
    DEFAULT_K,
    PQ_CODES,
    PQ_SLOTS,
    QUERY_IDS,
    _DUCK_BASE,
    _by,
    _centroid_frame,
    _codebook_frame,
    _pq_codebooks,
    _query_vectors,
    _sampled_centroids,
    dot,
    fused_assign_code_kernel,
    point_vec,
    serve_ivfpq,
    with_vec,
)
from admob_data_pipeline_spark.sinks.writers import (
    BASE_EPOCH,
    _fs_and_path,
    claim_epoch,
    index_manifest,
    next_epoch,
    overwrite_epoch_partition,
    snapshot_tombstones,
    table_location,
    write_epoch_bucketed,
)
from admob_data_pipeline_spark.operators.epoch_index import (
    EpochIndex,
    drain_stream,
    drop_index_tables,
    index_autopilot,
    index_compact,
    index_delete,
    index_view,
    scratch_index,
    write_empty_tombstones,
)
from admob_data_pipeline_spark.operators.util import par_ops
from admob_data_pipeline_spark.sources.tables import load_table

CODES_BUCKETS = 8

# Re-upserts stamp supersession tombstones instead of keeping a version
# manifest, so compaction expands the stamps against the codes epochs.
ANN_INDEX = EpochIndex(
    name="ann_idx",
    tables=(
        ("centroids", False),
        ("codebooks", False),
        ("codes", True),
        ("tombstones", False),
    ),
    key="vec_id",
    ledger="codes",
    rewrites=(("codes", "list_id", CODES_BUCKETS),),
)


def ann_index_build(
    emb: DataFrame,
    table_prefix: str,
    path: str,
    centroid_mod: int = 25,
    m: int = PQ_SLOTS,
    kc: int = PQ_CODES,
) -> None:
    """Build and PERSIST the IVF-PQ index for ``emb``.

    ONE pass over the corpus (r12 shape, guide §2.3/§4): the fused
    Arrow kernel (:func:`fused_assign_code_kernel`) computes the list
    assignment AND the m PQ codes together, so the code table is a
    single map-only scan + the bucketed layout shuffle — the former
    separate assign/quantize kernels cost two corpus scans whose
    outputs met in a corpus-scale join on vec_id. The centroid rows are
    already collected for the kernel (bounded by construction: the
    sampled centroid count), so the centroids table is written from
    those literals instead of re-scanning the corpus a third time.
    Codebooks are O(m·kc) rows — plain tiny tables.
    """
    base, dim = with_vec(emb)
    sub = dim // m
    # The two quantizer-training samples are independent corpus passes
    # (different filters, both bounded collects) — overlap them (guide
    # §2.6) so the codebook scan back-fills cores under the centroid
    # scan's tail instead of serializing behind it.
    cent_rows, book_mats = par_ops(
        lambda: _by(_sampled_centroids(base, centroid_mod).collect(), "cid"),
        lambda: _pq_codebooks(base, sub, m, kc),
    )
    kern, code_schema = fused_assign_code_kernel(
        [int(r["cid"]) for r in cent_rows],
        [list(r["cv"]) for r in cent_rows],
        book_mats,
        sub,
        m,
    )
    coded = base.select("vec_id", "v").mapInPandas(kern, schema=code_schema)

    spark = emb.sparkSession
    drop_index_tables(spark, ANN_INDEX, table_prefix)
    cb_df = _codebook_frame(spark, book_mats)

    def _write_centroids() -> None:
        _centroid_frame(spark, cent_rows).write.mode("overwrite").format(
            "parquet"
        ).option("path", f"{path}/centroids").saveAsTable(f"{table_prefix}_centroids")

    def _write_codebooks() -> None:
        cb_df.write.mode("overwrite").format("parquet").option(
            "path", f"{path}/codebooks"
        ).saveAsTable(f"{table_prefix}_codebooks")

    def _write_codes() -> None:
        code_cols = [F.col(f"c{s}") for s in range(m)]
        write_epoch_bucketed(
            coded.select("vec_id", "list_id", *code_cols),
            f"{table_prefix}_codes",
            key="list_id",
            n_buckets=CODES_BUCKETS,
            path=f"{path}/codes",
        )

    # The four table writes are mutually independent (distinct tables,
    # distinct paths); run them concurrently so the three tiny catalog
    # writes' DDL+commit latency hides under the bucketed codes write
    # (guide §2.6 — overlap independent jobs; measured 3.4 s → ~1.9 s
    # for the build at sf0.1). Build completion = all four committed,
    # same contract as the serial form.
    par_ops(
        _write_centroids,
        _write_codebooks,
        lambda: write_empty_tombstones(spark, ANN_INDEX, table_prefix, path),
        _write_codes,
    )


def _persisted_codebooks(spark: SparkSession, table_prefix: str) -> list:
    """Reload the PQ codebooks from the persisted table into the
    list-of-matrices shape the quantizer kernel broadcasts — one bounded
    collect of m·kc rows."""
    rows = _by(spark.table(f"{table_prefix}_codebooks").collect(), "s", "code")
    books: dict[int, list] = {}
    for r in rows:
        books.setdefault(int(r["s"]), []).append(list(r["cv"]))
    return [books[s] for s in sorted(books)]


def load_ann_quantizers(spark: SparkSession, table_prefix: str) -> tuple:
    """ONE overlapped, bounded load of the index's FROZEN quantizer
    artifacts — (centroid ids, centroid vectors, PQ codebook matrices) —
    in the shape :func:`fused_assign_code_kernel` broadcasts.

    The quantizers are frozen at build time by contract (upsert,
    delete, and compaction never touch the centroid or codebook
    tables), so callers that ingest REPEATED batches against one index
    — every streaming foreachBatch loop, the reupsert/autopilot
    lifecycles — should load once and pass the result to each
    :func:`ann_index_upsert` instead of paying the two table-read jobs
    per micro-batch (guide §5 — a per-batch reload recomputes an
    invariant). The two reads are independent (distinct tiny tables) and
    overlap (guide §2.6). The cache must not outlive a retrain:
    :func:`ann_index_build` (and a split that re-elects centroids)
    invalidates it, so scope it to one build→ingest span."""

    def _cents():
        rows = _by(spark.table(f"{table_prefix}_centroids").collect(), "cid")
        return (
            [int(r["cid"]) for r in rows],
            [list(r["cv"]) for r in rows],
        )

    (cids, cvs), book_mats = par_ops(
        _cents, lambda: _persisted_codebooks(spark, table_prefix)
    )
    return cids, cvs, book_mats


def ann_index_upsert(
    delta: DataFrame,
    table_prefix: str,
    epoch: int | None = None,
    quantizers: tuple | None = None,
) -> None:
    """Incrementally ingest NEW vectors into the persisted index — the
    maintenance half of the build/search split: a production index is
    built once and then kept current by ingesting each arriving batch,
    never retrained per batch.

    The delta is assigned with the PERSISTED centroids and quantized
    with the PERSISTED codebooks (both reloaded from the index tables —
    no resampling, no retraining, no touch of the already-indexed
    corpus). Each batch lands as its own ``epoch`` PARTITION of the
    code table via dynamic partition OVERWRITE with the same bucket
    spec, so the bucketed zero-Exchange probe-join layout survives the
    ingest (pinned in tests/test_ann_index.py) AND a replayed batch is
    a no-op: re-running epoch e rewrites partition epoch=e with the
    deterministically identical rows instead of appending duplicates.
    That makes the write safe under Structured Streaming's
    at-least-once foreachBatch contract — crash anywhere (including
    mid-commit) and the replay converges to the same table state, with
    no separate epoch-ledger commit whose failure could reopen the
    window. Cost is one map-only assign+quantize pass over the delta
    plus the bucketed partition write — the base corpus (epoch=-1 and
    earlier epochs) is never rescanned or rewritten.

    ``epoch`` is the idempotency key: pass the foreachBatch batch id
    from streaming; batch callers may omit it to auto-assign via
    :func:`claim_epoch` — an ATOMIC create-if-absent ledger mint, so
    two CONCURRENT batch ingest jobs can never overwrite each other's
    partition (the loser remints the next id). Note an auto-assigned id
    is NOT replay-safe, only an explicit one is.

    ``quantizers`` is the optional preloaded frozen-quantizer tuple from
    :func:`load_ann_quantizers`: repeated-batch callers pass it so each
    micro-batch skips the two invariant table-read jobs (guide §5); when
    omitted the artifacts are loaded here, result-identically.

    Contract: quantizer parameters are frozen at build time, so search
    results after an upsert equal a from-scratch search over the union
    corpus with the BASE-trained quantizers — exactly how FAISS-style
    serving handles drift (rebuild cadence is an offline decision; the
    registered oracle pins this equivalence relationally).

    Crash window (dual serve): supersession detection and the codes
    write run CONCURRENTLY, so epoch e's codes can commit before the
    tombstones that retire the earlier versions of its revised ids. A
    crash between the two commits leaves BOTH versions of those ids
    serving until the batch is replayed; a replay at the same epoch
    lands the missing tombstones and heals it. Streaming callers get
    the replay from foreachBatch; a batch caller that does not retry a
    failed upsert keeps the duplicates until it re-runs the upsert (or
    deletes the ids).
    """
    spark = delta.sparkSession
    table = f"{table_prefix}_codes"
    if epoch is None:
        epoch = claim_epoch(spark, table)
    # RE-UPSERT (replace) semantics: a delta id already present in the
    # index is a REVISION — stamp a SUPERSESSION tombstone at epoch-1 so
    # serving masks every earlier version (the epoch-aware tombstone
    # join kills rows with epoch ≤ stamp; this batch's rows land at
    # `epoch` > stamp and serve) and the next compaction purges them
    # physically. Detection costs one column-pruned scan of the code
    # table's vec_id column per INGEST batch — never at serve time,
    # which keeps the probe path's pruned zero-Exchange plan intact
    # (the bm25/dedup families mask from their per-doc manifest instead
    # because serving there already scans it; ANN has no such scan).
    # Replay-safe: a re-run of epoch e re-detects against rows of OTHER
    # epochs only and re-appends identical tombstone rows (duplicates
    # harmless — anti-join semantics).
    def _detect_and_tombstone() -> None:
        existing = (
            spark.table(table)
            .where(F.col("epoch") != int(epoch))
            .select("vec_id")
            .join(delta.select("vec_id"), "vec_id", "left_semi")
            .distinct()
            .localCheckpoint()  # ≤ |delta| rows; read by the count + append
        )
        if existing.limit(1).count():
            existing.select(
                F.col("vec_id").cast("long"),
                F.lit(int(epoch) - 1).cast("long").alias("deleted_at_epoch"),
            ).write.mode("append").format("parquet").saveAsTable(
                f"{table_prefix}_tombstones"
            )

    def _quantize_and_write() -> None:
        # Fused assign+code kernel (r12, guide §2.3/§4): ONE map-only
        # pass over the delta instead of separate assign_lists/
        # pq_quantize scans meeting in a delta-scale join on vec_id
        # (plus pq_quantize's global orderBy, wasted under the join).
        # The quantizer artifacts are bounded by construction (the
        # build's sampled centroid count, m·kc codebook rows).
        cids, cvs, book_mats = (
            quantizers
            if quantizers is not None
            else load_ann_quantizers(spark, table_prefix)
        )
        m = len(book_mats)
        base, dim = with_vec(delta)
        kern, code_schema = fused_assign_code_kernel(
            cids, cvs, book_mats, dim // m, m
        )
        overwrite_epoch_partition(
            base.select("vec_id", "v")
            .mapInPandas(kern, schema=code_schema)
            .select(
                "vec_id", "list_id", *[F.col(f"c{s}") for s in range(m)]
            ),
            table,
            key="list_id",
            n_buckets=CODES_BUCKETS,
            epoch=epoch,
        )

    # The two legs are independent (guide §2.6): detection reads OTHER
    # epochs of the code table and appends to the tombstone table; the
    # ingest leg quantizes the delta and overwrites THIS epoch's
    # partition of the code table — distinct output tables, and the
    # detect scan's epoch≠e partition pruning never reads the partition
    # the write leg is committing. The pre-overlap serial order
    # (tombstone append before codes commit) was never load-bearing:
    # foreachBatch is at-least-once, so the transient one-table-landed
    # states either way heal on replay (both legs idempotent at fixed
    # epoch — pinned by the replay/kill-restart tests).
    par_ops(_detect_and_tombstone, _quantize_and_write)


def ann_index_search(
    emb: DataFrame,
    query_ids: list[int],
    table_prefix: str,
    k: int = DEFAULT_K,
    nprobe: int = 4,
    m: int = PQ_SLOTS,
    as_of_epoch: int | None = None,
) -> DataFrame:
    """Serve top-k from the PERSISTED index — no rebuild, no pandas
    kernel, zero Exchange on the index side of the probe join.

    ``emb`` supplies only the full-precision QUERY vectors (filtered to
    ``query_ids`` — a pushed-down point lookup); everything about the
    corpus comes from the ``<prefix>_*`` tables written by
    :func:`ann_index_build`. Results are row-identical to the inline
    ``ivfpq_topk`` (same probes, same candidates, same exact-integer
    ADC sums, same tie-breaks) — the registered query is oracled
    against the inline query's SQL verbatim. Serving is
    :func:`similarity.serve_ivfpq`, the core ``ivfpq_topk`` serves
    through, fed the index tables and the epoch-aware tombstones.
    """
    spark = emb.sparkSession
    codes, tomb = index_view(spark, table_prefix, "codes", as_of_epoch=as_of_epoch)
    qbase, dim = point_vec(emb)
    return serve_ivfpq(
        qbase,
        query_ids,
        spark.table(f"{table_prefix}_centroids"),
        spark.table(f"{table_prefix}_codebooks"),
        codes,
        k=k,
        nprobe=nprobe,
        sub=dim // m,
        m=m,
        tombstones=tomb,
    )


def _with_index(spark: SparkSession, sf_dir: str, fn):
    """Build the index in a scratch location, run ``fn(emb, prefix)``,
    collect, and clean up — the same lifecycle pattern as the bucketed
    sink round-trip query."""
    emb = load_table(spark, sf_dir, "embeddings")
    with scratch_index(spark, ANN_INDEX) as (out, prefix):
        ann_index_build(emb, prefix, out)
        return fn(emb, prefix)


_SEARCH_SCHEMA = "qid bigint, vec_id bigint, adc_e6 bigint, rank int"
_BUILD_SCHEMA = (
    "list_id bigint, n_vectors bigint, vec_lo bigint, vec_hi bigint,"
    " codes_sum bigint"
)


def q_ann_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-index serving, oracled for EXACT parity with the inline
    ``ann_ivfpq_topk``: build writes the three index tables, search
    reads only them (+ the query vectors) — the oracle below is the
    inline query's SQL verbatim, so any drift between the persisted and
    inline paths is a correctness-gate failure."""

    def run(emb, prefix):
        return ann_index_search(emb, QUERY_IDS, prefix).collect()

    return spark.createDataFrame(_with_index(spark, sf_dir, run), _SEARCH_SCHEMA)


def q_ann_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-list stats of the PERSISTED code table, read BACK from the
    bucketed layout (proving the write, not the in-memory frame):
    vector count, id range, and an exact-integer checksum over all m
    code columns per inverted list. The oracle recomputes assignment
    and codes from first principles on the source table."""

    def run(emb, prefix):
        codes = spark.table(f"{prefix}_codes")
        code_sum = sum(
            [F.col(f"c{s}") for s in range(1, PQ_SLOTS)], F.col("c0")
        )
        return (
            codes.groupBy("list_id")
            .agg(
                F.count(F.lit(1)).alias("n_vectors"),
                F.min("vec_id").alias("vec_lo"),
                F.max("vec_id").alias("vec_hi"),
                F.sum(code_sum).alias("codes_sum"),
            )
            .orderBy("list_id")
            .collect()
        )

    return spark.createDataFrame(_with_index(spark, sf_dir, run), _BUILD_SCHEMA)


RERANK_R = 15  # ADC shortlist size feeding the exact rerank (3×k)


def ann_index_search_rerank(
    emb: DataFrame,
    query_ids: list[int],
    table_prefix: str,
    k: int = DEFAULT_K,
    rerank_r: int = RERANK_R,
    nprobe: int = 4,
) -> DataFrame:
    """TWO-STAGE serving from the persisted index — the refine step
    every production IVF-PQ deployment runs: the compressed index
    shortlists ``rerank_r`` candidates by ADC (cheap, m-byte codes),
    then ONLY those candidates' full-precision vectors are fetched and
    re-scored by exact cosine for the final top-``k``. Quantization
    error affects which candidates make the shortlist but never the
    final ordering — the rank a user sees is exact.

    Scale: the rerank reads R·|Q| full vectors (the broadcast shortlist
    joined against the corpus store), not the corpus; everything
    upstream is the persisted-index probe. One extra top-k window."""
    return _reranked(emb, query_ids, table_prefix, k, rerank_r, nprobe).orderBy(
        "qid", "rank"
    )


def _reranked(
    emb: DataFrame,
    query_ids: list[int],
    table_prefix: str,
    k: int = DEFAULT_K,
    rerank_r: int = RERANK_R,
    nprobe: int = 4,
) -> DataFrame:
    """The rows of :func:`ann_index_search_rerank` in no order: a caller
    that joins or rolls them up skips the global sort, whose range
    partitioning costs two Spark jobs."""
    shortlist = ann_index_search(
        emb, query_ids, table_prefix, k=rerank_r, nprobe=nprobe
    ).select("qid", "vec_id")
    base, dim = point_vec(emb)
    q = _query_vectors(base, query_ids)
    scored = base.join(F.broadcast(shortlist), "vec_id").join(
        F.broadcast(q), "qid"
    ).select(
        "qid",
        "vec_id",
        F.round(
            F.try_divide(
                dot(F.col("qv"), F.col("v"), dim), F.col("qn") * F.col("nrm")
            ),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("int")).where(
        F.col("rank") <= k
    )


def q_ann_index_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    def run(emb, prefix):
        return ann_index_search_rerank(emb, QUERY_IDS, prefix).collect()

    return spark.createDataFrame(
        _with_index(spark, sf_dir, run),
        "qid bigint, vec_id bigint, cos_sim double, rank int",
    )


# shortlist = the inline IVF-PQ oracle with its final k widened to R;
# the rerank re-scores those rows by exact cosine from the base vectors
_ORACLE_INDEX_RERANK = f"""
WITH short AS (
    {_ORACLE_IVFPQ.replace(f"WHERE rank <= {DEFAULT_K}", f"WHERE rank <= {RERANK_R}").strip()}
),
rescored AS (
    SELECT s.qid, s.vec_id,
           ROUND(list_dot_product(q.v, b.v) / NULLIF(q.nrm * b.nrm, 0), 6)
               AS cos_sim
    FROM short s
    JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                 sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))) AS nrm
          FROM embeddings) q ON q.vec_id = s.qid
    JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                 sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))) AS nrm
          FROM embeddings) b ON b.vec_id = s.vec_id
),
reranked AS (
    SELECT qid, vec_id, cos_sim,
           ROW_NUMBER() OVER (
               PARTITION BY qid ORDER BY cos_sim DESC, vec_id
           ) AS rank
    FROM rescored
)
SELECT qid, vec_id, cos_sim, CAST(rank AS INT) AS rank
FROM reranked WHERE rank <= {DEFAULT_K}
ORDER BY qid, rank
"""


UPSERT_MOD = 4  # delta = vec_id % UPSERT_MOD == 3 (deterministic split)
# re-upsert (replace) slice: vec_id % 9 == 4 crosses BOTH the base and
# the delta slices AND includes query id 4, so the revision is
# exercised against build-epoch rows, upsert-epoch rows, and a query
# whose serving vector (read from the raw corpus table) differs from
# its revised index rows
ANN_REUPSERT_MOD, ANN_REUPSERT_REM = 9, 4


def q_ann_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-maintenance parity: build the index over the BASE
    slice of the corpus (vec_id % 4 ≠ 3), upsert the remaining quarter
    as the arriving delta, then serve top-k from the updated index. The
    oracle recomputes the same semantics from first principles —
    quantizers (centroids + codebooks) sampled from the BASE slice
    only, assignment/codes over the WHOLE corpus — so a lost, doubled,
    or re-quantized delta row fails the hash."""
    emb = load_table(spark, sf_dir, "embeddings")
    base_corpus = emb.where(F.col("vec_id") % UPSERT_MOD != UPSERT_MOD - 1)
    delta = emb.where(F.col("vec_id") % UPSERT_MOD == UPSERT_MOD - 1)
    with scratch_index(spark, ANN_INDEX) as (out, prefix):
        ann_index_build(base_corpus, prefix, out)
        ann_index_upsert(delta, prefix)
        rows = ann_index_search(emb, QUERY_IDS, prefix).collect()
    return spark.createDataFrame(rows, _SEARCH_SCHEMA)


def q_streaming_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING index maintenance — the arrival path a production
    vector store actually runs: the delta lands as a stream, each
    micro-batch is upserted into the persisted index via foreachBatch
    (assign + quantize with the frozen quantizers, bucketed append),
    and search serves from the continuously-updated tables. Same
    frozen-quantizer semantics as ``ann_index_upsert`` — the oracle is
    shared verbatim — but here the delta arrives across MULTIPLE epochs
    (one source file per trigger), so a dropped or replayed epoch fails
    the hash."""
    import os

    emb = load_table(spark, sf_dir, "embeddings")
    base_corpus = emb.where(F.col("vec_id") % UPSERT_MOD != UPSERT_MOD - 1)
    delta = emb.where(F.col("vec_id") % UPSERT_MOD == UPSERT_MOD - 1)
    with scratch_index(spark, ANN_INDEX) as (out, prefix):
        src = os.path.join(out, "arrivals")
        ann_index_build(base_corpus, prefix, os.path.join(out, "index"))
        # frozen-quantizer contract: load the centroid/codebook
        # artifacts ONCE for the whole stream instead of twice per
        # micro-batch (guide §5; see load_ann_quantizers)
        quant = load_ann_quantizers(spark, prefix)
        # the delta arrives as two files → two foreachBatch epochs
        for half in (0, 1):
            delta.where(
                F.expr(f"(vec_id % {2 * UPSERT_MOD}) div {UPSERT_MOD}")
                == half
            ).coalesce(1).write.mode("append").parquet(src)
        # the batch id IS the idempotency key (pinned by the forced-
        # replay and kill/restart tests in test_ann_index.py)
        drain_stream(
            spark,
            emb.schema,
            src,
            os.path.join(out, "ckpt"),
            lambda batch, eid: ann_index_upsert(
                batch, prefix, epoch=eid, quantizers=quant
            ),
        )
        rows = ann_index_search(emb, QUERY_IDS, prefix).collect()
    return spark.createDataFrame(rows, _SEARCH_SCHEMA)


def q_streaming_ann_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vector store's long-running shape: CONTINUOUS ingest with a
    MAINTENANCE WINDOW in the middle — the ann-family twin of
    ``streaming_bm25_maintained`` (operators/retrieval_index.py).
    Stream 1 lands two delta epochs (batch id = epoch, frozen-quantizer
    upsert per micro-batch), the window runs a COMPACTION (folds the
    epochs into base, restores one-file-per-bucket), and stream 2 — a
    NEW stream with a fresh checkpoint — lands two more epochs before
    serving.

    The safety property pinned end-to-end: stream 2's batch ids restart
    at 0, the ids stream 1 already used — safe ONLY because the window's
    compaction folded those partitions away (asserted via next_epoch ==
    0 post-fold), AND only because the compaction rewrite preserves the
    codes table's declared column order — stream 2's epoch ingest
    resumes POSITIONAL insertInto against the rewritten table, the
    exact composition that exposed the r11 column-order corruption
    (sinks/writers.py compact re-select). Oracle: the frozen-quantizer
    upsert oracle verbatim — the full delta must be present exactly
    once with compaction invisible to ADC ranking."""
    import os

    emb = load_table(spark, sf_dir, "embeddings")
    base_corpus = emb.where(F.col("vec_id") % UPSERT_MOD != UPSERT_MOD - 1)
    delta = emb.where(F.col("vec_id") % UPSERT_MOD == UPSERT_MOD - 1)
    sub = F.expr(f"pmod(vec_id div {UPSERT_MOD}, 4)")
    with scratch_index(spark, ANN_INDEX) as (out, prefix):
        ann_index_build(base_corpus, prefix, os.path.join(out, "index"))
        # one frozen-quantizer load serves BOTH streams: the
        # maintenance window between them is a compaction, which never
        # touches the centroid/codebook tables (guide §5)
        quant = load_ann_quantizers(spark, prefix)
        for phase, slices in (("one", (0, 1)), ("two", (2, 3))):
            src = os.path.join(out, f"arrivals_{phase}")
            for s in slices:
                delta.where(sub == s).coalesce(1).write.mode(
                    "append"
                ).parquet(src)
            if phase == "two":
                # maintenance window between the streams: the fold is
                # WHY a fresh checkpoint's batch ids are safe to reuse
                ann_index_compact(spark, prefix)
                assert next_epoch(spark, f"{prefix}_codes") == 0
            drain_stream(
                spark,
                emb.schema,
                src,
                os.path.join(out, f"ckpt_{phase}"),
                lambda batch, eid: ann_index_upsert(
                    batch, prefix, epoch=eid, quantizers=quant
                ),
            )
        rows = ann_index_search(emb, QUERY_IDS, prefix).collect()
    return spark.createDataFrame(rows, _SEARCH_SCHEMA)


# The upsert oracle is the inline IVF-PQ oracle with ONE change: the
# quantizers (cents, cb) are sampled from the BASE slice (corpus0),
# while assignment, codes, candidates, and ADC run over the WHOLE
# corpus — the frozen-quantizer contract of ann_index_upsert.
_ORACLE_INDEX_UPSERT = f"""
WITH {_DUCK_BASE},
corpus0 AS (SELECT * FROM base WHERE vec_id % {UPSERT_MOD} <> {UPSERT_MOD - 1}),
cents AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM corpus0
          WHERE vec_id % 25 = 0),
assigned AS (
    SELECT vec_id, cid AS list_id FROM (
        SELECT b.vec_id, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY b.vec_id
                   ORDER BY list_dot_product(b.v, c.cv)
                            / NULLIF(b.nrm * c.cn, 0) DESC, c.cid
               ) AS rn
        FROM base b, cents c
    ) WHERE rn = 1
),
q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM base WHERE vec_id < 8),
probes AS (
    SELECT qid, cid AS list_id FROM (
        SELECT q.qid, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY q.qid
                   ORDER BY list_dot_product(q.qv, c.cv)
                            / NULLIF(q.qn * c.cn, 0) DESC, c.cid
               ) AS rn
        FROM q, cents c
    ) WHERE rn <= 4
),
cand AS (
    SELECT DISTINCT p.qid, a.vec_id
    FROM probes p JOIN assigned a USING (list_id)
    WHERE a.vec_id <> p.qid
),
cb AS (
    SELECT s, vec_id,
           ROW_NUMBER() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS code,
           v[s * 16 + 1 : (s + 1) * 16] AS cv
    FROM corpus0, UNNEST(generate_series(0, {PQ_SLOTS - 1})) AS g(s)
    WHERE vec_id % 25 = s
    QUALIFY ROW_NUMBER() OVER (PARTITION BY s ORDER BY vec_id) <= {PQ_CODES}
),
slots AS (
    SELECT vec_id, s, v[s * 16 + 1 : (s + 1) * 16] AS sv
    FROM base, UNNEST(generate_series(0, {PQ_SLOTS - 1})) AS g(s)
),
dists AS (
    SELECT sl.vec_id, sl.s, cb.code,
           (list_dot_product(sl.sv, sl.sv)
            - 2 * list_dot_product(sl.sv, cb.cv))
           + list_dot_product(cb.cv, cb.cv) AS dist
    FROM slots sl JOIN cb USING (s)
),
codes AS (
    SELECT vec_id, s, code FROM (
        SELECT vec_id, s, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY dist, code) AS rn
        FROM dists
    ) WHERE rn = 1
),
qslots AS (
    SELECT qid, s, qv[s * 16 + 1 : (s + 1) * 16] AS qsv
    FROM q, UNNEST(generate_series(0, {PQ_SLOTS - 1})) AS g(s)
),
lut AS (
    SELECT qid, s, code,
           CAST(FLOOR(((list_dot_product(qsv, qsv)
                        - 2 * list_dot_product(qsv, cb.cv))
                       + list_dot_product(cb.cv, cb.cv)) * 1e6) AS BIGINT)
               AS d_e6
    FROM qslots JOIN cb USING (s)
),
adc AS (
    SELECT c.qid, c.vec_id, CAST(SUM(l.d_e6) AS BIGINT) AS adc_e6
    FROM cand c
    JOIN codes k ON k.vec_id = c.vec_id
    JOIN lut l ON l.qid = c.qid AND l.s = k.s AND l.code = k.code
    GROUP BY c.qid, c.vec_id
),
ranked AS (
    SELECT qid, vec_id, adc_e6,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_e6, vec_id) AS rank
    FROM adc
)
SELECT qid, vec_id, adc_e6, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {DEFAULT_K}
ORDER BY qid, rank
"""


def q_ann_index_reupsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RE-UPSERT (replace) semantics for the vector index end-to-end:
    build over the base slice, upsert the held-out quarter, then
    re-ingest a REVISED version (vectors NEGATED — every cosine flips
    sign, so list assignment and ADC ranking genuinely change) of the
    ``vec_id % 9 == 4`` slice. The upsert's supersession tombstones
    must make serving score ONLY the latest version of each revised
    vector (the epoch-aware tombstone mask), and compaction must purge
    the superseded rows (the epoch-aware pair purge) without changing
    ranking. The wrapper asserts pre/post-compaction parity, exactly
    one surviving row per vector, and an empty tombstone table after
    the purge; the oracle recomputes IVF-PQ over the REVISED corpus
    with quantizers sampled from the ORIGINAL base slice (build
    predates the revision) and query vectors from the raw table."""
    emb = load_table(spark, sf_dir, "embeddings")
    base_corpus = emb.where(F.col("vec_id") % UPSERT_MOD != UPSERT_MOD - 1)
    delta = emb.where(F.col("vec_id") % UPSERT_MOD == UPSERT_MOD - 1)
    revised = emb.where(
        F.col("vec_id") % ANN_REUPSERT_MOD == ANN_REUPSERT_REM
    ).select(
        "vec_id",
        F.transform("embedding", lambda x: -x).alias("embedding"),
    )
    with scratch_index(spark, ANN_INDEX) as (out, prefix):
        ann_index_build(base_corpus, prefix, out)
        quant = load_ann_quantizers(spark, prefix)
        ann_index_upsert(delta, prefix, epoch=0, quantizers=quant)
        ann_index_upsert(revised, prefix, epoch=1, quantizers=quant)
        pre = ann_index_search(emb, QUERY_IDS, prefix).collect()
        ann_index_compact(spark, prefix)
        # the three post-compaction verification reads are independent
        # (guide §2.6 — overlap independent jobs): the dupe census and
        # the tombstone count back-fill cores under the re-search
        dupes, n_tomb, rows = par_ops(
            lambda: spark.table(f"{prefix}_codes")
            .groupBy("vec_id")
            .count()
            .where(F.col("count") > 1)
            .count(),
            lambda: spark.table(f"{prefix}_tombstones").count(),
            lambda: ann_index_search(emb, QUERY_IDS, prefix).collect(),
        )
        assert dupes == 0, f"{dupes} vectors kept >1 version post-compaction"
        assert n_tomb == 0
        assert rows == pre, "compaction changed ranking"
    return spark.createDataFrame(rows, _SEARCH_SCHEMA)


# replace-semantics oracle: assignment/codes/candidates/ADC over the
# REVISED corpus (latest version wins), quantizers sampled from the
# ORIGINAL base slice, query vectors from the raw table
_DUCK_BASE_REVISED = f"""
orig AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS nrm
    FROM embeddings
),
base AS (
    SELECT vec_id,
           CASE WHEN vec_id % {ANN_REUPSERT_MOD} = {ANN_REUPSERT_REM}
                THEN list_transform(v, x -> -x) ELSE v END AS v,
           nrm
    FROM orig
)
"""

_ORACLE_INDEX_REUPSERT = (
    _ORACLE_INDEX_UPSERT.replace(
        _DUCK_BASE.strip(), _DUCK_BASE_REVISED.strip(), 1
    )
    .replace(
        f"corpus0 AS (SELECT * FROM base WHERE"
        f" vec_id % {UPSERT_MOD} <> {UPSERT_MOD - 1}),",
        f"corpus0 AS (SELECT * FROM orig WHERE"
        f" vec_id % {UPSERT_MOD} <> {UPSERT_MOD - 1}),",
        1,
    )
    .replace(
        "q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM base"
        " WHERE vec_id < 8),",
        "q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM orig"
        " WHERE vec_id < 8),",
        1,
    )
)
assert _DUCK_BASE_REVISED.strip() in _ORACLE_INDEX_REUPSERT
assert "FROM orig WHERE vec_id < 8" in _ORACLE_INDEX_REUPSERT
assert (
    f"corpus0 AS (SELECT * FROM orig WHERE"
    f" vec_id % {UPSERT_MOD} <> {UPSERT_MOD - 1})"
    in _ORACLE_INDEX_REUPSERT
)




_ORACLE_INDEX_BUILD = f"""
WITH {_DUCK_BASE},
cents AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM base
          WHERE vec_id % 25 = 0),
assigned AS (
    SELECT vec_id, cid AS list_id FROM (
        SELECT b.vec_id, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY b.vec_id
                   ORDER BY list_dot_product(b.v, c.cv)
                            / NULLIF(b.nrm * c.cn, 0) DESC, c.cid
               ) AS rn
        FROM base b, cents c
    ) WHERE rn = 1
),
cb AS (
    SELECT s, vec_id,
           ROW_NUMBER() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS code,
           v[s * 16 + 1 : (s + 1) * 16] AS cv
    FROM base, UNNEST(generate_series(0, {PQ_SLOTS - 1})) AS g(s)
    WHERE vec_id % 25 = s
    QUALIFY ROW_NUMBER() OVER (PARTITION BY s ORDER BY vec_id) <= {PQ_CODES}
),
slots AS (
    SELECT vec_id, s, v[s * 16 + 1 : (s + 1) * 16] AS sv
    FROM base, UNNEST(generate_series(0, {PQ_SLOTS - 1})) AS g(s)
),
dists AS (
    SELECT sl.vec_id, sl.s, cb.code,
           (list_dot_product(sl.sv, sl.sv)
            - 2 * list_dot_product(sl.sv, cb.cv))
           + list_dot_product(cb.cv, cb.cv) AS dist
    FROM slots sl JOIN cb USING (s)
),
codes AS (
    SELECT vec_id, s, code FROM (
        SELECT vec_id, s, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY dist, code) AS rn
        FROM dists
    ) WHERE rn = 1
),
per_vec AS (
    SELECT vec_id, CAST(SUM(code) AS BIGINT) AS code_sum
    FROM codes GROUP BY vec_id
)
SELECT a.list_id,
       COUNT(*) AS n_vectors,
       MIN(a.vec_id) AS vec_lo,
       MAX(a.vec_id) AS vec_hi,
       CAST(SUM(p.code_sum) AS BIGINT) AS codes_sum
FROM assigned a JOIN per_vec p USING (vec_id)
GROUP BY a.list_id
ORDER BY a.list_id
"""


def ann_index_delete(
    spark: SparkSession, vec_ids: DataFrame, table_prefix: str
) -> None:
    """LOGICAL delete from the persisted index: append the ids to the
    tombstone set. Serving (``ann_index_search``) anti-joins the
    broadcast tombstones so deleted vectors never surface as candidates;
    the code rows stay on disk until :func:`ann_index_compact` PURGES
    them — the delete/compact split every LSM-shaped store runs.
    Duplicate tombstones are harmless (anti-join semantics), so the
    append is replay-safe without any epoch machinery. Each tombstone
    is STAMPED with the newest ingest epoch at issue time, so an as-of
    read masks only deletes issued up to its epoch — later deletes
    never rewrite history. The stamp never goes below epoch 0: a delete
    issued while only the base layer exists is attributed to the OPEN
    ingest window (epoch 0), so an as-of read at the build epoch
    (BASE_EPOCH) always returns the pristine build — base history is
    immutable (pinned in tests/test_ann_index.py)."""
    index_delete(spark, ANN_INDEX, vec_ids, table_prefix)


def ann_index_compact(spark: SparkSession, table_prefix: str) -> tuple[int, int]:
    """Maintenance pass for a long-running ingest: fold every ingest
    epoch of the code table back into the base partition, PURGE
    tombstoned rows, and rewrite one-file-per-bucket (same bucket spec
    — the zero-Exchange probe join survives, pinned in
    tests/test_ann_index.py). Only the tombstone files the rewrite
    applied are then deleted — a delete appended concurrently with the
    rewrite survives to the next cycle instead of being silently wiped
    unpurged (no resurrection race). Post-compaction the logical and
    physical views coincide for every tombstone that existed at entry.
    Run only when no replay of the folded epochs is possible (the
    stream is stopped or its checkpoint has committed past them);
    folding also voids as-of history for the folded span — see
    compact_bucketed_table."""
    tombs = snapshot_tombstones(
        spark, f"{table_prefix}_tombstones", ANN_INDEX.tomb_schema
    )
    return index_compact(spark, ANN_INDEX, table_prefix, tombs)[0]


def q_ann_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full index lifecycle under the driver gate: build over the base
    slice, upsert the held-out quarter as TWO epochs (each appending
    files per bucket), COMPACT, then serve. The oracle is the upsert
    oracle verbatim — compaction must be invisible to every search —
    and the file count must strictly drop (folded into the result so a
    no-op compaction fails the hash: n_files_after < n_files_before is
    asserted by construction, the row carries both counts)."""
    emb = load_table(spark, sf_dir, "embeddings")
    base_corpus = emb.where(F.col("vec_id") % UPSERT_MOD != UPSERT_MOD - 1)
    delta = emb.where(F.col("vec_id") % UPSERT_MOD == UPSERT_MOD - 1)
    with scratch_index(spark, ANN_INDEX) as (out, prefix):
        ann_index_build(base_corpus, prefix, out)
        quant = load_ann_quantizers(spark, prefix)
        for half in (0, 1):
            ann_index_upsert(
                delta.where(
                    F.expr(f"(vec_id % {2 * UPSERT_MOD}) div {UPSERT_MOD}")
                    == half
                ),
                prefix,
                epoch=half,
                quantizers=quant,
            )
        before, after = ann_index_compact(spark, prefix)
        assert after < before, (before, after)
        rows = ann_index_search(emb, QUERY_IDS, prefix).collect()
    return spark.createDataFrame(rows, _SEARCH_SCHEMA)


def ann_index_drift(spark: SparkSession, table_prefix: str) -> DataFrame:
    """REBUILD TRIGGER input — per-inverted-list ingest drift, read
    straight off the epoch-partitioned code table (no corpus touch):
    how many vectors each list held at build time (epoch -1) vs how
    many the upsert epochs added, and the list's share of all ingested
    vectors in ppm. A deployment watches two signals here: lists whose
    delta share far exceeds their base share (the frozen centroids no
    longer tessellate the arriving distribution — quantizer drift) and
    overall delta fraction (when most of the index was ingested under
    frozen quantizers, schedule a rebuild). Integer-exact, so the
    registered query oracles cleanly."""
    codes = spark.table(f"{table_prefix}_codes")
    per_list = codes.groupBy("list_id").agg(
        F.sum((F.col("epoch") == BASE_EPOCH).cast("long")).alias("n_base"),
        F.sum((F.col("epoch") != BASE_EPOCH).cast("long")).alias("n_delta"),
    )
    tot = per_list.agg(
        F.sum("n_base").alias("tot_base"), F.sum("n_delta").alias("tot_delta")
    )
    return (
        per_list.crossJoin(F.broadcast(tot))
        .select(
            "list_id",
            "n_base",
            "n_delta",
            # integer division (`div`) on both engines — float division
            # rounds differently across Spark/DuckDB casts
            F.expr(
                "CASE WHEN tot_base > 0"
                " THEN n_base * 1000000 div tot_base ELSE 0 END"
            ).alias("base_share_ppm"),
            F.expr(
                "CASE WHEN tot_delta > 0"
                " THEN n_delta * 1000000 div tot_delta ELSE 0 END"
            ).alias("delta_share_ppm"),
        )
        .orderBy("list_id")
    )


def q_ann_index_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build over the base slice, ingest the held-out quarter, audit
    per-list drift. The oracle recomputes both layers' assignments from
    first principles with BASE-frozen centroids, so a vector counted in
    the wrong layer or list fails the hash."""
    emb = load_table(spark, sf_dir, "embeddings")
    base_corpus = emb.where(F.col("vec_id") % UPSERT_MOD != UPSERT_MOD - 1)
    delta = emb.where(F.col("vec_id") % UPSERT_MOD == UPSERT_MOD - 1)
    with scratch_index(spark, ANN_INDEX) as (out, prefix):
        ann_index_build(base_corpus, prefix, out)
        ann_index_upsert(delta, prefix, epoch=0)
        rows = ann_index_drift(spark, prefix).collect()
    return spark.createDataFrame(
        rows,
        "list_id bigint, n_base bigint, n_delta bigint,"
        " base_share_ppm bigint, delta_share_ppm bigint",
    )


# base-frozen centroids; assignment over the whole corpus; layer =
# whether the vector was in the build slice or arrived as the delta
_ORACLE_INDEX_DRIFT = f"""
WITH {_DUCK_BASE},
corpus0 AS (SELECT * FROM base WHERE vec_id % {UPSERT_MOD} <> {UPSERT_MOD - 1}),
cents AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM corpus0
          WHERE vec_id % 25 = 0),
assigned AS (
    SELECT vec_id, cid AS list_id FROM (
        SELECT b.vec_id, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY b.vec_id
                   ORDER BY list_dot_product(b.v, c.cv)
                            / NULLIF(b.nrm * c.cn, 0) DESC, c.cid
               ) AS rn
        FROM base b, cents c
    ) WHERE rn = 1
),
per_list AS (
    SELECT list_id,
           CAST(SUM(CASE WHEN vec_id % {UPSERT_MOD} <> {UPSERT_MOD - 1}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
           CAST(SUM(CASE WHEN vec_id % {UPSERT_MOD} = {UPSERT_MOD - 1}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_delta
    FROM assigned GROUP BY list_id
),
tot AS (SELECT SUM(n_base) AS tot_base, SUM(n_delta) AS tot_delta
        FROM per_list)
SELECT list_id, n_base, n_delta,
       CAST(CASE WHEN tot_base > 0
                 THEN n_base * 1000000 // tot_base
                 ELSE 0 END AS BIGINT) AS base_share_ppm,
       CAST(CASE WHEN tot_delta > 0
                 THEN n_delta * 1000000 // tot_delta
                 ELSE 0 END AS BIGINT) AS delta_share_ppm
FROM per_list, tot
ORDER BY list_id
"""


SPLIT_TOPN = 2  # the wrapper splits the two most delta-loaded lists

# Commit markers for in-flight splits, named list-<lid>-child-<cid>.
# Underscore-prefixed so Spark's file index never scans the directory.
SPLIT_COMMIT_DIR = "_split_commit"


def ann_index_split(
    emb: DataFrame, table_prefix: str, list_ids
) -> None:
    """Selective IVF list rebalance — the drift REMEDY cheaper than the
    full rebuild that was previously the only answer to a hot-list
    audit. Each flagged list is split in two: its member FARTHEST from
    the parent centroid (min raw cosine, tie-break vec_id — the point
    the frozen quantizer tessellates worst) becomes a CHILD centroid,
    and the list's members are re-split between parent and child by the
    same cosine/argmax rule the build uses. Everything else is frozen:
    untouched lists keep byte-identical rows (pinned in
    tests/test_ann_index.py), the PQ codebooks are untouched (PQ codes
    are list-independent — no requantization), and the parent centroid
    keeps its id and vector, so no list ever becomes unreachable.

    Scale: the work is proportional to the FLAGGED lists, not the
    index — one pruned scan of their code rows, a point-lookup join for
    their full vectors, and a partition rewrite of only the ingest
    epochs that contain a moved row (epochs without movement are never
    touched). A full rebuild would retrain quantizers and rewrite all
    N vectors; this touches ~|flagged lists| vectors and appends
    |flagged| centroid rows.

    Crash contract: each flagged list's elected child is recorded in a
    COMMIT MARKER (``_split_commit/list-<lid>-child-<cid>`` in the code
    table's location — underscore-prefixed, invisible to scans) BEFORE
    anything is published, then the child centroids are appended, then
    the affected epoch partitions are rewritten one idempotent dynamic
    overwrite at a time — at every intermediate point each vector is
    probe-reachable under exactly one list (moved rows via the child,
    unmoved via the parent); a crash loses nothing and duplicates
    nothing, and re-running the interrupted call CONVERGES on the SAME
    split: a re-run reuses the recorded election rather than re-electing
    over a member snapshot that mid-rewrite moves may already have
    shrunk (re-electing there would pick a DIFFERENT farthest member and
    bolt an unintended extra centroid onto the list). Markers are
    cleared only after every rewrite lands. Electing a child whose
    vec_id already exists as a centroid (a duplicate-vector edge) raises
    instead of silently skipping the append while still redirecting rows
    into the foreign list, and a RECORDED election whose child vector
    has vanished from the corpus (deleted between the crash and the
    re-run) raises rather than replaying as a silent perpetual no-op
    whose marker never clears. Re-running the SAME call after completion is
    not a no-op — it performs a FURTHER split of the flagged lists
    (iterative refinement semantics); drive it from the drift audit,
    which stops flagging a list once its load is balanced."""
    spark = emb.sparkSession
    table = f"{table_prefix}_codes"
    flagged = [int(x) for x in list_ids]
    if not flagged:
        return
    cents = spark.table(f"{table_prefix}_centroids")
    base, dim = with_vec(emb)
    m = len(_persisted_codebooks(spark, table_prefix))
    code_cols = [f"c{s}" for s in range(m)]
    members = (
        spark.table(table)
        .where(F.col("list_id").isin(flagged))
        .join(base.select("vec_id", "v", "nrm"), "vec_id")
        .join(
            F.broadcast(
                cents.where(F.col("cid").isin(flagged)).select(
                    F.col("cid").alias("list_id"), "cv", "cn"
                )
            ),
            "list_id",
        )
        .select(
            "vec_id",
            "list_id",
            "epoch",
            F.try_divide(
                dot(F.col("v"), F.col("cv"), dim), F.col("nrm") * F.col("cn")
            ).alias("own_cos"),
            "v",
            "nrm",
        )
        .localCheckpoint()  # freeze the member snapshot for both uses
    )
    w_far = Window.partitionBy("list_id").orderBy(
        F.asc("own_cos"), F.asc("vec_id")
    )
    # Split-commit ledger: an interrupted run's elections are recoverable
    # from the marker names alone — no file contents, no extra table.
    loc = table_location(spark, table).rstrip("/")
    marker_dir = f"{loc}/{SPLIT_COMMIT_DIR}"
    fs, mpath = _fs_and_path(spark, marker_dir)
    recorded: dict[int, int] = {}
    if fs.exists(mpath):
        for st in fs.listStatus(mpath):
            name = st.getPath().getName()
            if name.startswith("list-"):
                _, lid_s, _, cid_s = name.split("-")
                if int(lid_s) in set(flagged):
                    recorded[int(lid_s)] = int(cid_s)
    fresh = [lid for lid in flagged if lid not in recorded]
    parts = []
    if fresh:
        childs_fresh = (
            # the parent centroid is itself a member (cos = 1); exclude
            # it so a degenerate all-identical list can never elect the
            # parent and collide on cid. Lists with < 2 members get no
            # child (no split).
            members.where(
                F.col("list_id").isin(fresh)
                & (F.col("vec_id") != F.col("list_id"))
            )
            .withColumn("rn", F.row_number().over(w_far))
            .where(F.col("rn") == 1)
            .select(
                "list_id",
                F.col("vec_id").alias("child_cid"),
                F.col("v").alias("ccv"),
                F.col("nrm").alias("ccn"),
            )
            .localCheckpoint()
        )
        collisions = [
            r["child_cid"]
            for r in childs_fresh.join(
                cents.select(F.col("cid").alias("child_cid")),
                "child_cid",
                "left_semi",
            )
            .select("child_cid")
            .collect()
        ]
        if collisions:
            raise ValueError(
                "ann_index_split: elected child cid(s) "
                f"{sorted(collisions)} already exist as centroids "
                "(duplicate-vector edge) — appending would be skipped "
                "while moved rows redirect into the foreign list; "
                "deduplicate the corpus or exclude the lists"
            )
        fs.mkdirs(mpath)
        jvm = spark._jvm
        for r in childs_fresh.select("list_id", "child_cid").collect():
            fs.createNewFile(
                jvm.org.apache.hadoop.fs.Path(
                    f"{marker_dir}/list-{r['list_id']}-child-{r['child_cid']}"
                )
            )
        parts.append(childs_fresh)
    if recorded:
        # re-run of an interrupted split: reuse the committed elections
        # (the member snapshot may already be missing the moved rows)
        parts.append(
            spark.createDataFrame(
                [(lid, cid) for lid, cid in sorted(recorded.items())],
                "list_id bigint, child_cid bigint",
            ).join(
                base.select(
                    F.col("vec_id").alias("child_cid"),
                    F.col("v").alias("ccv"),
                    F.col("nrm").alias("ccn"),
                ),
                "child_cid",
            )
        )
    childs = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    childs = childs.select(
        "list_id", "child_cid", "ccv", "ccn"
    ).localCheckpoint()
    if recorded:
        # A recorded election whose child vector has VANISHED from the
        # corpus (deleted between the crash and this re-run) joins to
        # nothing above — left silent, the list's replay would be a
        # perpetual no-op whose marker never clears (step 4 iterates
        # the join result) while the drift audit keeps flagging it.
        # Surface it: the recorded split cannot be completed as
        # committed, and silently re-electing would risk orphaning a
        # child centroid the crashed run may already have published.
        alive = {
            r["list_id"] for r in childs.select("list_id").collect()
        }
        dead = {l: c for l, c in recorded.items() if l not in alive}
        if dead:
            raise RuntimeError(
                "ann_index_split: committed election(s) reference"
                f" vector(s) no longer in the corpus: {sorted(dead.items())}"
                " (list_id, child_cid). The recorded split cannot be"
                " replayed; restore the vectors or remove the markers"
                f" under {marker_dir} after auditing the centroid table"
                " for a child the interrupted run already published."
            )
    # 1) publish the children FIRST: from here on, every row is reachable
    # at all times (moved rows probe via the child, unmoved via parent).
    # The append is made idempotent by skipping cids already present: a
    # re-run after a crash between this append and the partition
    # rewrites re-elects the same child deterministically (the member
    # snapshot is unchanged) and must COMPLETE the split, not register
    # the child twice — a duplicate centroid row would double every
    # candidate of its list in the probe join.
    new_children = (
        childs.join(
            cents.select(F.col("cid").alias("child_cid")),
            "child_cid",
            "left_anti",
        )
        .select(
            F.col("child_cid").alias("cid"),
            F.col("ccv").alias("cv"),
            F.col("ccn").alias("cn"),
        )
        .localCheckpoint()  # materialize: the append reads the target
    )
    new_children.write.mode("append").format("parquet").saveAsTable(
        f"{table_prefix}_centroids"
    )
    # 2) re-split members between parent and child: same argmax rule as
    # assign_lists (cos DESC, cid ASC on exact ties)
    moved = (
        members.join(F.broadcast(childs), "list_id")
        .withColumn(
            "child_cos",
            F.try_divide(
                dot(F.col("v"), F.col("ccv"), dim),
                F.col("nrm") * F.col("ccn"),
            ),
        )
        .where(
            (F.col("child_cos") > F.col("own_cos"))
            | (
                (F.col("child_cos") == F.col("own_cos"))
                & (F.col("child_cid") < F.col("list_id"))
            )
        )
        .select("vec_id", F.col("child_cid").alias("new_list"), "epoch")
        .localCheckpoint()
    )
    remap = moved.select("vec_id", "new_list")
    epochs = sorted(
        r["epoch"] for r in moved.select("epoch").distinct().collect()
    )
    # 3) rewrite ONLY the epoch partitions containing a moved row, one
    # idempotent dynamic overwrite each (epoch values preserved, so the
    # drift audit's base/delta layering survives the rebalance)
    for p in epochs:
        part = (
            spark.table(table)
            .where(F.col("epoch") == int(p))
            .join(remap, "vec_id", "left")
            .select(
                "vec_id",
                F.coalesce("new_list", "list_id").alias("list_id"),
                *code_cols,
            )
            # materialize before the overwrite: the rewrite reads the
            # partition it replaces
            .localCheckpoint()
        )
        overwrite_epoch_partition(
            part, table, key="list_id", n_buckets=CODES_BUCKETS, epoch=int(p)
        )
    # 4) split complete — retire the commit markers so the NEXT call is
    # a fresh further-split, not a convergence replay of this one
    jvm = spark._jvm
    for r in childs.select("list_id", "child_cid").collect():
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(
                f"{marker_dir}/list-{r['list_id']}-child-{r['child_cid']}"
            ),
            False,
        )


def q_ann_index_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift REMEDY under the driver gate: build over the base slice,
    ingest the held-out quarter, flag the two most delta-loaded lists
    from the drift audit, SPLIT them, and return the post-split drift
    table. The oracle recomputes the whole pipeline from first
    principles — frozen-centroid assignment, the same top-2 flagging,
    the same farthest-member child election, the same two-way re-split
    — so a vector moved to the wrong child, a touched untouched list,
    or an epoch-layer leak fails the hash. The wrapper also asserts the
    remedy acted: each flagged list strictly shed members."""
    emb = load_table(spark, sf_dir, "embeddings")
    base_corpus = emb.where(F.col("vec_id") % UPSERT_MOD != UPSERT_MOD - 1)
    delta = emb.where(F.col("vec_id") % UPSERT_MOD == UPSERT_MOD - 1)
    with scratch_index(spark, ANN_INDEX) as (out, prefix):
        ann_index_build(base_corpus, prefix, out)
        ann_index_upsert(delta, prefix, epoch=0)
        pre = ann_index_drift(spark, prefix).collect()
        flagged = [
            r["list_id"]
            for r in sorted(pre, key=lambda r: (-r["n_delta"], r["list_id"]))[
                :SPLIT_TOPN
            ]
        ]
        ann_index_split(emb, prefix, flagged)
        rows = ann_index_drift(spark, prefix).collect()
        pre_n = {r["list_id"]: r["n_base"] + r["n_delta"] for r in pre}
        post_n = {r["list_id"]: r["n_base"] + r["n_delta"] for r in rows}
        for lid in flagged:
            assert post_n.get(lid, 0) < pre_n[lid], (lid, pre_n, post_n)
    return spark.createDataFrame(
        rows,
        "list_id bigint, n_base bigint, n_delta bigint,"
        " base_share_ppm bigint, delta_share_ppm bigint",
    )


# the drift oracle extended by the remedy: flag top-2 by delta load,
# elect each list's farthest member as the child centroid, re-split the
# list's members between parent and child with the build's argmax rule,
# then recompute the drift table over the post-split assignment.
_ORACLE_INDEX_SPLIT = f"""
WITH {_DUCK_BASE},
corpus0 AS (SELECT * FROM base WHERE vec_id % {UPSERT_MOD} <> {UPSERT_MOD - 1}),
cents AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM corpus0
          WHERE vec_id % 25 = 0),
assigned AS (
    SELECT vec_id, cid AS list_id FROM (
        SELECT b.vec_id, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY b.vec_id
                   ORDER BY list_dot_product(b.v, c.cv)
                            / NULLIF(b.nrm * c.cn, 0) DESC, c.cid
               ) AS rn
        FROM base b, cents c
    ) WHERE rn = 1
),
per_list0 AS (
    SELECT list_id,
           CAST(SUM(CASE WHEN vec_id % {UPSERT_MOD} = {UPSERT_MOD - 1}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_delta
    FROM assigned GROUP BY list_id
),
flagged AS (
    SELECT list_id FROM per_list0
    ORDER BY n_delta DESC, list_id LIMIT {SPLIT_TOPN}
),
members AS (
    SELECT a.vec_id, a.list_id, b.v, b.nrm,
           list_dot_product(b.v, c.cv) / NULLIF(b.nrm * c.cn, 0) AS own_cos
    FROM assigned a
    JOIN base b USING (vec_id)
    JOIN cents c ON c.cid = a.list_id
    WHERE a.list_id IN (SELECT list_id FROM flagged)
),
childs AS (
    SELECT list_id, vec_id AS child_cid FROM (
        SELECT list_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY list_id
                                  ORDER BY own_cos ASC, vec_id ASC) AS rn
        FROM members WHERE vec_id <> list_id
    ) WHERE rn = 1
),
child_vec AS (
    SELECT ch.list_id, ch.child_cid, b.v AS ccv, b.nrm AS ccn
    FROM childs ch JOIN base b ON b.vec_id = ch.child_cid
),
resplit AS (
    SELECT m.vec_id,
           CASE WHEN (list_dot_product(m.v, cv.ccv)
                          / NULLIF(m.nrm * cv.ccn, 0) > m.own_cos)
                  OR (list_dot_product(m.v, cv.ccv)
                          / NULLIF(m.nrm * cv.ccn, 0) = m.own_cos
                      AND cv.child_cid < m.list_id)
                THEN cv.child_cid ELSE m.list_id END AS list_id
    FROM members m JOIN child_vec cv USING (list_id)
),
final_assigned AS (
    SELECT vec_id, list_id FROM assigned
    WHERE list_id NOT IN (SELECT list_id FROM flagged)
    UNION ALL
    SELECT vec_id, list_id FROM resplit
    UNION ALL
    -- flagged lists with < 2 non-parent members have no child: unchanged
    SELECT vec_id, list_id FROM assigned
    WHERE list_id IN (SELECT list_id FROM flagged)
      AND list_id NOT IN (SELECT list_id FROM childs)
),
per_list AS (
    SELECT list_id,
           CAST(SUM(CASE WHEN vec_id % {UPSERT_MOD} <> {UPSERT_MOD - 1}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
           CAST(SUM(CASE WHEN vec_id % {UPSERT_MOD} = {UPSERT_MOD - 1}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_delta
    FROM final_assigned GROUP BY list_id
),
tot AS (SELECT SUM(n_base) AS tot_base, SUM(n_delta) AS tot_delta
        FROM per_list)
SELECT list_id, n_base, n_delta,
       CAST(CASE WHEN tot_base > 0
                 THEN n_base * 1000000 // tot_base
                 ELSE 0 END AS BIGINT) AS base_share_ppm,
       CAST(CASE WHEN tot_delta > 0
                 THEN n_delta * 1000000 // tot_delta
                 ELSE 0 END AS BIGINT) AS delta_share_ppm
FROM per_list, tot
ORDER BY list_id
"""


DELETE_MOD, DELETE_REM = 10, 5  # deleted slice = vec_id % 10 == 5


def ann_index_autopilot(
    emb: DataFrame, table_prefix: str, max_epochs: int = 16
) -> list:
    """The ANN maintenance cycle (:func:`index_autopilot`) with the
    cheapest remedy for quantizer drift: the drift audit, then SPLIT the
    ``SPLIT_TOPN`` most delta-loaded lists. The cycle reads the manifest
    before the split, which leaves the epoch span compaction checks
    unchanged: the split rewrites only existing epoch partitions of the
    codes and appends to the unpartitioned centroids table. Returns the
    action log (e.g. ``["split:12,37", "compact"]``)."""
    spark = emb.sparkSession

    def split(_rows):
        drift_rows = ann_index_drift(spark, table_prefix).collect()
        flagged = [
            r["list_id"]
            for r in sorted(
                drift_rows, key=lambda r: (-r["n_delta"], r["list_id"])
            )[:SPLIT_TOPN]
            if r["n_delta"] > 0
        ]
        if flagged:
            ann_index_split(emb, table_prefix, flagged)
            return "split:" + ",".join(str(x) for x in sorted(flagged))

    return index_autopilot(
        spark, ANN_INDEX, table_prefix, max_epochs, split, ann_index_compact
    )


AUTOPILOT_EPOCHS = 3  # the wrapper ingests the delta as three epochs


def q_ann_index_autopilot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ops loop under the driver gate: build over the base
    slice, ingest the held-out quarter as three epochs, tombstone the
    vec_id % 10 == 5 slice, then run ONE autopilot cycle with a
    2-epoch budget — the policy must fire BOTH remedies (split the two
    hottest lists, then compact: fold epochs, purge tombstones). The
    returned post-maintenance drift table is recomputed by the oracle
    from first principles — frozen-centroid assignment, the same
    flagging, the same child election and re-split, the delete purge,
    and the epoch fold (every row in the base layer, zero delta) — so
    a remedy that failed to fire, fired on the wrong lists, purged the
    wrong rows, or leaked an epoch fails the hash."""
    emb = load_table(spark, sf_dir, "embeddings")
    base_corpus = emb.where(F.col("vec_id") % UPSERT_MOD != UPSERT_MOD - 1)
    delta = emb.where(F.col("vec_id") % UPSERT_MOD == UPSERT_MOD - 1)
    with scratch_index(spark, ANN_INDEX) as (out, prefix):
        ann_index_build(base_corpus, prefix, out)
        # quantizers frozen across the three ingest epochs (the split
        # in the later autopilot cycle retrains, but no upsert follows
        # it inside this wrapper — the cache never outlives the span)
        quant = load_ann_quantizers(spark, prefix)
        for e in range(AUTOPILOT_EPOCHS):
            ann_index_upsert(
                delta.where(
                    F.expr(f"pmod(vec_id div {UPSERT_MOD},"
                           f" {AUTOPILOT_EPOCHS})") == e
                ),
                prefix,
                epoch=e,
                quantizers=quant,
            )
        ann_index_delete(
            spark,
            emb.where(F.col("vec_id") % DELETE_MOD == DELETE_REM).select(
                "vec_id"
            ),
            prefix,
        )
        actions = ann_index_autopilot(emb, prefix, max_epochs=2)
        assert len(actions) == 2 and actions[0].startswith("split:"), actions
        assert actions[1] == "compact", actions
        assert ann_index_autopilot(emb, prefix, max_epochs=2) == []
        rows = ann_index_drift(spark, prefix).collect()
    return spark.createDataFrame(
        rows,
        "list_id bigint, n_base bigint, n_delta bigint,"
        " base_share_ppm bigint, delta_share_ppm bigint",
    )


# the split oracle extended by the full cycle: flag top-2 delta-loaded
# lists (n_delta > 0), elect/re-split as in ann_index_split, PURGE the
# deleted slice, and FOLD every epoch into the base layer (post-compact
# drift shows all rows as base, zero delta).
_ORACLE_INDEX_AUTOPILOT = f"""
WITH {_DUCK_BASE},
corpus0 AS (SELECT * FROM base WHERE vec_id % {UPSERT_MOD} <> {UPSERT_MOD - 1}),
cents AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM corpus0
          WHERE vec_id % 25 = 0),
assigned AS (
    SELECT vec_id, cid AS list_id FROM (
        SELECT b.vec_id, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY b.vec_id
                   ORDER BY list_dot_product(b.v, c.cv)
                            / NULLIF(b.nrm * c.cn, 0) DESC, c.cid
               ) AS rn
        FROM base b, cents c
    ) WHERE rn = 1
),
per_list0 AS (
    SELECT list_id,
           CAST(SUM(CASE WHEN vec_id % {UPSERT_MOD} = {UPSERT_MOD - 1}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_delta
    FROM assigned GROUP BY list_id
),
flagged AS (
    SELECT list_id FROM per_list0 WHERE n_delta > 0
    ORDER BY n_delta DESC, list_id LIMIT {SPLIT_TOPN}
),
members AS (
    SELECT a.vec_id, a.list_id, b.v, b.nrm,
           list_dot_product(b.v, c.cv) / NULLIF(b.nrm * c.cn, 0) AS own_cos
    FROM assigned a
    JOIN base b USING (vec_id)
    JOIN cents c ON c.cid = a.list_id
    WHERE a.list_id IN (SELECT list_id FROM flagged)
),
childs AS (
    SELECT list_id, vec_id AS child_cid FROM (
        SELECT list_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY list_id
                                  ORDER BY own_cos ASC, vec_id ASC) AS rn
        FROM members WHERE vec_id <> list_id
    ) WHERE rn = 1
),
child_vec AS (
    SELECT ch.list_id, ch.child_cid, b.v AS ccv, b.nrm AS ccn
    FROM childs ch JOIN base b ON b.vec_id = ch.child_cid
),
resplit AS (
    SELECT m.vec_id,
           CASE WHEN (list_dot_product(m.v, cv.ccv)
                          / NULLIF(m.nrm * cv.ccn, 0) > m.own_cos)
                  OR (list_dot_product(m.v, cv.ccv)
                          / NULLIF(m.nrm * cv.ccn, 0) = m.own_cos
                      AND cv.child_cid < m.list_id)
                THEN cv.child_cid ELSE m.list_id END AS list_id
    FROM members m JOIN child_vec cv USING (list_id)
),
final_assigned AS (
    SELECT vec_id, list_id FROM assigned
    WHERE list_id NOT IN (SELECT list_id FROM flagged)
    UNION ALL
    SELECT vec_id, list_id FROM resplit
    UNION ALL
    SELECT vec_id, list_id FROM assigned
    WHERE list_id IN (SELECT list_id FROM flagged)
      AND list_id NOT IN (SELECT list_id FROM childs)
),
-- the compact purged the tombstoned slice and folded every epoch into
-- the base layer: survivors all count as base, delta is empty
survivors AS (
    SELECT vec_id, list_id FROM final_assigned
    WHERE vec_id % {DELETE_MOD} <> {DELETE_REM}
),
per_list AS (
    SELECT list_id,
           CAST(COUNT(*) AS BIGINT) AS n_base,
           CAST(0 AS BIGINT) AS n_delta
    FROM survivors GROUP BY list_id
),
tot AS (SELECT SUM(n_base) AS tot_base FROM per_list)
SELECT list_id, n_base, n_delta,
       CAST(CASE WHEN tot_base > 0
                 THEN n_base * 1000000 // tot_base
                 ELSE 0 END AS BIGINT) AS base_share_ppm,
       CAST(0 AS BIGINT) AS delta_share_ppm
FROM per_list, tot
ORDER BY list_id
"""


def q_ann_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-capable serving: build over the FULL corpus, tombstone
    the vec_id % 10 == 5 slice, serve top-k — deleted vectors must
    never surface as candidates (they still query; only the index side
    is masked). The oracle is the inline IVF-PQ SQL with the same
    exclusion injected into the candidate set, so a tombstone that
    leaks (or over-masks) fails the hash. The delete is applied TWICE
    to pin that duplicate tombstones are harmless."""
    emb = load_table(spark, sf_dir, "embeddings")
    doomed = emb.where(
        F.col("vec_id") % DELETE_MOD == DELETE_REM
    ).select("vec_id")
    with scratch_index(spark, ANN_INDEX) as (out, prefix):
        ann_index_build(emb, prefix, out)
        ann_index_delete(spark, doomed, prefix)
        ann_index_delete(spark, doomed, prefix)  # replayed delete: no-op
        rows = ann_index_search(emb, QUERY_IDS, prefix).collect()
    return spark.createDataFrame(rows, _SEARCH_SCHEMA)


# the inline IVF-PQ oracle with the deleted slice excluded from the
# candidate set only (deleted ids still act as queries)
_ORACLE_INDEX_DELETE = _ORACLE_IVFPQ.replace(
    "WHERE a.vec_id <> p.qid",
    f"WHERE a.vec_id <> p.qid AND a.vec_id % {DELETE_MOD} <> {DELETE_REM}",
)
assert _ORACLE_INDEX_DELETE != _ORACLE_IVFPQ


def q_ann_index_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TRAVEL serving: build over the base slice, ingest the
    held-out quarter as epoch 0, then search AS OF the base epoch — the
    epoch-partitioned layout answers historical queries with a
    partition-PRUNED scan (later epochs never read, pinned in
    tests/test_ann_index.py). The oracle restricts candidates to the
    base slice, so an as-of read that leaks (or loses) an epoch fails
    the hash. History spans only epochs since the last compaction —
    compaction folds them into the base partition and physically
    applies deletes, voiding older as-of points (the LSM
    snapshot-expiry trade, see compact_bucketed_table)."""
    emb = load_table(spark, sf_dir, "embeddings")
    base_corpus = emb.where(F.col("vec_id") % UPSERT_MOD != UPSERT_MOD - 1)
    delta = emb.where(F.col("vec_id") % UPSERT_MOD == UPSERT_MOD - 1)
    with scratch_index(spark, ANN_INDEX) as (out, prefix):
        ann_index_build(base_corpus, prefix, out)
        ann_index_upsert(delta, prefix, epoch=0)
        rows = ann_index_search(
            emb, QUERY_IDS, prefix, as_of_epoch=BASE_EPOCH
        ).collect()
    return spark.createDataFrame(rows, _SEARCH_SCHEMA)


# the upsert oracle with CANDIDATES restricted to the base slice — the
# index state as of the base epoch (queries still come from the full
# corpus, probes/quantizers are base-frozen either way)
_ORACLE_INDEX_ASOF = _ORACLE_INDEX_UPSERT.replace(
    "WHERE a.vec_id <> p.qid",
    f"WHERE a.vec_id <> p.qid"
    f" AND a.vec_id % {UPSERT_MOD} <> {UPSERT_MOD - 1}",
)
assert _ORACLE_INDEX_ASOF != _ORACLE_INDEX_UPSERT


def ann_index_manifest(spark: SparkSession, table_prefix: str) -> DataFrame:
    """DESCRIBE-INDEX for the ANN index (shared helper in
    sinks/writers.py): per-table logical row counts + ingest-epoch
    spans, read from the index alone."""
    return index_manifest(spark, table_prefix, ANN_INDEX.tables)


def q_ann_index_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build over the base slice, ingest the held-out quarter, delete a
    slice, read the manifest. The oracle recomputes every logical count
    from the raw corpus with the same splits (centroid sampling rule,
    m·kc codebook rows, per-epoch code rows, tombstone volume)."""
    emb = load_table(spark, sf_dir, "embeddings")
    base_corpus = emb.where(F.col("vec_id") % UPSERT_MOD != UPSERT_MOD - 1)
    delta = emb.where(F.col("vec_id") % UPSERT_MOD == UPSERT_MOD - 1)
    doomed = emb.where(
        F.col("vec_id") % DELETE_MOD == DELETE_REM
    ).select("vec_id")
    with scratch_index(spark, ANN_INDEX) as (out, prefix):
        ann_index_build(base_corpus, prefix, out)
        ann_index_upsert(delta, prefix, epoch=0)
        ann_index_delete(spark, doomed, prefix)
        rows = ann_index_manifest(spark, prefix).collect()
    return spark.createDataFrame(
        rows,
        "table_name string, n_rows bigint, n_epochs bigint,"
        " min_epoch bigint, max_epoch bigint",
    )


_ORACLE_INDEX_MANIFEST = f"""
WITH e AS (SELECT vec_id FROM embeddings),
counts AS (
    SELECT 'centroids' AS table_name,
           (SELECT COUNT(*) FROM e
            WHERE vec_id % {UPSERT_MOD} <> {UPSERT_MOD - 1}
              AND vec_id % 25 = 0) AS n_rows,
           0 AS n_epochs, NULL AS min_epoch, NULL AS max_epoch
    UNION ALL
    SELECT 'codebooks', {PQ_SLOTS} * {PQ_CODES}, 0, NULL, NULL
    UNION ALL
    SELECT 'codes', (SELECT COUNT(*) FROM e), 2, -1, 0
    UNION ALL
    SELECT 'tombstones',
           (SELECT COUNT(*) FROM e
            WHERE vec_id % {DELETE_MOD} = {DELETE_REM}),
           0, NULL, NULL
)
SELECT table_name, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_epochs AS BIGINT) AS n_epochs,
       CAST(min_epoch AS BIGINT) AS min_epoch,
       CAST(max_epoch AS BIGINT) AS max_epoch
FROM counts ORDER BY table_name
"""


QUERIES = {
    "ann_index_build": q_ann_index_build,
    "ann_index_search": q_ann_index_search,
    "ann_index_upsert": q_ann_index_upsert,
    "ann_index_reupsert": q_ann_index_reupsert,
    "streaming_ann_ingest": q_streaming_ann_ingest,
    "streaming_ann_maintained": q_streaming_ann_maintained,
    "ann_index_rerank": q_ann_index_rerank,
    "ann_index_compact": q_ann_index_compact,
    "ann_index_drift": q_ann_index_drift,
    "ann_index_split": q_ann_index_split,
    "ann_index_autopilot": q_ann_index_autopilot,
    "ann_index_delete": q_ann_index_delete,
    "ann_index_asof": q_ann_index_asof,
    "ann_index_manifest": q_ann_index_manifest,
}

ORACLES = {
    "ann_index_build": _ORACLE_INDEX_BUILD,
    # parity pin: the persisted path must reproduce the INLINE IVF-PQ
    # results exactly, so it is checked against the same SQL
    "ann_index_search": _ORACLE_IVFPQ,
    "ann_index_upsert": _ORACLE_INDEX_UPSERT,
    # replace semantics: supersession tombstones mask stale versions at
    # serve, the epoch-aware pair purge removes them at compaction
    "ann_index_reupsert": _ORACLE_INDEX_REUPSERT,
    # multi-epoch arrival, same frozen-quantizer semantics — shared oracle
    "streaming_ann_ingest": _ORACLE_INDEX_UPSERT,
    # ingest -> compaction window -> fresh-checkpoint ingest resuming
    # positional insertInto: full delta exactly once, fold invisible
    "streaming_ann_maintained": _ORACLE_INDEX_UPSERT,
    # two-stage serving: ADC shortlist (inline IVF-PQ SQL widened to R)
    # re-scored by exact cosine
    "ann_index_rerank": _ORACLE_INDEX_RERANK,
    # compaction must be invisible to search — the upsert oracle verbatim
    "ann_index_compact": _ORACLE_INDEX_UPSERT,
    # rebuild-trigger audit: per-list base vs ingested counts
    "ann_index_drift": _ORACLE_INDEX_DRIFT,
    # drift remedy: post-split drift table recomputed from first
    # principles (flagging, child election, two-way re-split included)
    "ann_index_split": _ORACLE_INDEX_SPLIT,
    # the full ops cycle: split + delete purge + epoch fold, all
    # recomputed from first principles
    "ann_index_autopilot": _ORACLE_INDEX_AUTOPILOT,
    # tombstone-masked serving: inline SQL with the deleted slice
    # excluded from candidates
    "ann_index_delete": _ORACLE_INDEX_DELETE,
    # time-travel serving: candidates restricted to the base epoch
    "ann_index_asof": _ORACLE_INDEX_ASOF,
    # ops introspection: logical counts + epoch spans per index table
    "ann_index_manifest": _ORACLE_INDEX_MANIFEST,
}
