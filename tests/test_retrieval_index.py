"""Persisted BM25 index: parity with the inline search, a corpus-free
serving plan, and the bucketed/pushed-down postings layout."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from admob_data_pipeline_spark.operators import corpus, retrieval_index
from admob_data_pipeline_spark.plans import explain
from admob_data_pipeline_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def built_bm25(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="bm25_index_test_")
    prefix = "bm25_idx_t"
    retrieval_index.bm25_index_build(docs, prefix, out)
    yield docs, prefix
    for t in ("postings", "doclen", "stats", "positions", "tombstones"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
    shutil.rmtree(out, ignore_errors=True)


def test_search_matches_inline_bm25_exactly(spark, built_bm25):
    docs, prefix = built_bm25
    got = [
        (r.doc_id, r.n_terms_matched, r.score_scaled, r.rnk)
        for r in retrieval_index.bm25_index_search(
            spark, corpus.BM25_QUERY, prefix
        ).collect()
    ]
    want = [
        (r.doc_id, r.n_terms_matched, r.score_scaled, r.rnk)
        for r in corpus.bm25_search(docs).collect()
    ]
    assert got == want and got
    # AND semantics route through the same core
    got_and = [
        (r.doc_id, r.rnk)
        for r in retrieval_index.bm25_index_search(
            spark, corpus.BM25_QUERY, prefix, require_all=True
        ).collect()
    ]
    want_and = [
        (r.doc_id, r.rnk)
        for r in corpus.bm25_search(docs, require_all=True).collect()
    ]
    assert got_and == want_and


def test_search_plan_never_touches_the_corpus(spark, built_bm25):
    """Serving must read ONLY the index tables: no documents scan, no
    tokenizer explode — the defining property of the persisted index."""
    _, prefix = built_bm25
    plan = explain.formatted_plan(
        retrieval_index.bm25_index_search(spark, corpus.BM25_QUERY, prefix)
    )
    assert "documents" not in plan
    assert "Generate" not in plan  # no explode: postings are precomputed
    # the terms' IN-filter reaches the postings parquet scan (pinned on
    # the postings read itself — the serving plan above starts from the
    # checkpointed posting rows, so the scan lives in the checkpoint job)
    scan_plan = explain.formatted_plan(
        spark.table(f"{prefix}_postings").where(
            F.col("token").isin(list(corpus.BM25_QUERY))
        )
    )
    pushed = scan_plan.split("PushedFilters: [")[1].split("]")[0]
    assert "In(token" in pushed, scan_plan
    assert "documents" not in scan_plan and "Generate" not in scan_plan


def test_postings_layout_is_bucketed_on_token(spark, built_bm25):
    _, prefix = built_bm25
    probe = spark.createDataFrame([("spark",)], "token string")
    plan = explain.formatted_plan(
        spark.table(f"{prefix}_postings").hint("merge").join(probe, "token")
    )
    assert "SortMergeJoin" in plan
    assert plan.count("Exchange (") == 1, plan  # probe side only
    assert "Bucketed: true" in plan


def test_upsert_appends_postings_and_keeps_layout(spark, sf_dir):
    """Frozen-scalar maintenance: the delta's postings/doclen rows are
    APPENDED (base rows untouched), the bucketed layout survives the
    append, and the stats table is byte-identical to the build-time
    snapshot."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") % 4 != 3)
    delta = docs.where(F.col("doc_id") % 4 == 3)
    out = tempfile.mkdtemp(prefix="bm25_upsert_test_")
    prefix = "bm25_idx_up_t"
    try:
        retrieval_index.bm25_index_build(base, prefix, out)
        n_post = spark.table(f"{prefix}_postings").count()
        stats_before = spark.table(f"{prefix}_stats").collect()
        retrieval_index.bm25_index_upsert(delta, prefix)
        got = spark.table(f"{prefix}_postings")
        delta_tf = corpus._bm25_tf(delta, "text")
        assert got.count() == n_post + delta_tf.count()
        assert spark.table(f"{prefix}_stats").collect() == stats_before
        probe = spark.createDataFrame([("spark",)], "token string")
        plan = explain.formatted_plan(got.hint("merge").join(probe, "token"))
        assert "SortMergeJoin" in plan
        assert plan.count("Exchange (") == 1, plan
        assert "Bucketed: true" in plan
    finally:
        for t in ("postings", "doclen", "stats", "positions", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
        shutil.rmtree(out, ignore_errors=True)


def test_compact_rewrites_one_file_per_bucket(spark, sf_dir):
    """Compaction after incremental ingest: both bucketed tables drop
    to one file per bucket, ranking is byte-identical pre/post, and the
    pruned bucketed postings scan still serves without an Exchange."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") % 4 != 3)
    delta = docs.where(F.col("doc_id") % 4 == 3)
    out = tempfile.mkdtemp(prefix="bm25_compact_test_")
    prefix = "bm25_idx_cpt"
    try:
        retrieval_index.bm25_index_build(base, prefix, out)
        retrieval_index.bm25_index_upsert(
            delta.where(F.col("doc_id") % 8 == 3), prefix
        )
        retrieval_index.bm25_index_upsert(
            delta.where(F.col("doc_id") % 8 == 7), prefix
        )
        pre = retrieval_index.bm25_index_search(
            spark, corpus.BM25_QUERY, prefix
        ).collect()
        n_post = spark.table(f"{prefix}_postings").count()
        (pb, pa), (db, da) = retrieval_index.bm25_index_compact(spark, prefix)
        assert pa < pb and da < db
        assert pa <= retrieval_index.POSTINGS_BUCKETS
        assert da <= retrieval_index.POSTINGS_BUCKETS
        assert spark.table(f"{prefix}_postings").count() == n_post
        assert retrieval_index.bm25_index_search(
            spark, corpus.BM25_QUERY, prefix
        ).collect() == pre
        plan = explain.formatted_plan(
            spark.table(f"{prefix}_postings").where(
                F.col("token").isin(list(corpus.BM25_QUERY))
            )
        )
        assert "Bucketed: true" in plan or "Scan parquet" in plan
    finally:
        for t in ("postings", "doclen", "stats", "positions", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
        shutil.rmtree(out, ignore_errors=True)


def test_upsert_replay_with_same_epoch_is_idempotent(spark, sf_dir):
    """foreachBatch is at-least-once: replaying an epoch id must leave
    postings and doclen byte-identical (dynamic partition overwrite),
    never double-append — duplicated postings would inflate tf/df and
    silently corrupt every score."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") % 4 != 3)
    delta = docs.where(F.col("doc_id") % 4 == 3)
    out = tempfile.mkdtemp(prefix="bm25_replay_test_")
    prefix = "bm25_idx_replay_t"
    try:
        retrieval_index.bm25_index_build(base, prefix, out)
        retrieval_index.bm25_index_upsert(delta, prefix, epoch=0)
        snap_p = sorted(map(tuple, spark.table(f"{prefix}_postings").collect()))
        snap_d = sorted(map(tuple, spark.table(f"{prefix}_doclen").collect()))
        pre = retrieval_index.bm25_index_search(
            spark, corpus.BM25_QUERY, prefix
        ).collect()
        retrieval_index.bm25_index_upsert(delta, prefix, epoch=0)  # replay
        assert sorted(
            map(tuple, spark.table(f"{prefix}_postings").collect())
        ) == snap_p
        assert sorted(
            map(tuple, spark.table(f"{prefix}_doclen").collect())
        ) == snap_d
        assert retrieval_index.bm25_index_search(
            spark, corpus.BM25_QUERY, prefix
        ).collect() == pre
    finally:
        for t in ("postings", "doclen", "stats", "positions", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
        shutil.rmtree(out, ignore_errors=True)


def test_delete_masks_then_compact_purges(spark, sf_dir):
    """Tombstone lifecycle for the text index: deleted docs never match
    (and df shrinks to surviving postings), rows stay until compaction,
    compaction purges them and truncates the tombstone set, and ranking
    is byte-identical across the purge."""
    docs = load_table(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="bm25_delete_test_")
    prefix = "bm25_idx_del_t"
    doomed = docs.where(F.col("doc_id") % 10 == 5).select("doc_id")
    try:
        retrieval_index.bm25_index_build(docs, prefix, out)
        n_all = spark.table(f"{prefix}_postings").count()
        n_doomed_postings = (
            spark.table(f"{prefix}_postings")
            .join(doomed, "doc_id", "left_semi")
            .count()
        )
        retrieval_index.bm25_index_delete(spark, doomed, prefix)
        got = retrieval_index.bm25_index_search(
            spark, corpus.BM25_QUERY, prefix
        ).collect()
        assert got and all(r.doc_id % 10 != 5 for r in got)
        assert spark.table(f"{prefix}_postings").count() == n_all
        retrieval_index.bm25_index_compact(spark, prefix)
        assert (
            spark.table(f"{prefix}_postings").count()
            == n_all - n_doomed_postings
        )
        assert spark.table(f"{prefix}_tombstones").count() == 0
        assert retrieval_index.bm25_index_search(
            spark, corpus.BM25_QUERY, prefix
        ).collect() == got
    finally:
        for t in ("postings", "doclen", "stats", "positions", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
        shutil.rmtree(out, ignore_errors=True)


def test_streaming_ingest_survives_midstream_restart(spark, sf_dir, tmp_path):
    """Kill-and-restart through the streaming text-index maintenance:
    epochs committed before a stop are not double-applied after a
    resume from the same checkpoint; the final ranking equals a
    one-shot batch upsert over the same corpus split."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") % 4 != 3)
    delta = docs.where(F.col("doc_id") % 4 == 3)
    prefix = "bm25_idx_restart_t"
    src = str(tmp_path / "arrivals")
    ckpt = str(tmp_path / "ckpt")

    def arrive(half):
        delta.where(F.expr("(doc_id % 8) div 4") == half).coalesce(
            1
        ).write.mode("append").parquet(src)

    def run():
        q = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(
                lambda b, eid: retrieval_index.bm25_index_upsert(
                    b, prefix, epoch=eid
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    prefix2 = "bm25_idx_restart_ref_t"
    try:
        retrieval_index.bm25_index_build(base, prefix, str(tmp_path / "a"))
        arrive(0)
        run()  # epoch 0 commits, stream stops
        arrive(1)
        run()  # restart: only epoch 1 runs
        n_docs = docs.count()
        assert (
            spark.table(f"{prefix}_doclen").select("doc_id").distinct().count()
            == n_docs
        )
        got = retrieval_index.bm25_index_search(
            spark, corpus.BM25_QUERY, prefix
        ).collect()
        retrieval_index.bm25_index_build(base, prefix2, str(tmp_path / "b"))
        retrieval_index.bm25_index_upsert(delta, prefix2, epoch=0)
        want = retrieval_index.bm25_index_search(
            spark, corpus.BM25_QUERY, prefix2
        ).collect()
        assert got == want and got
    finally:
        for p in (prefix, prefix2):
            for t in ("postings", "doclen", "stats", "positions", "tombstones"):
                spark.sql(f"DROP TABLE IF EXISTS {p}_{t}")


def test_refresh_stats_dedupes_reupserted_docs(spark, sf_dir):
    """A doc re-upserted into a later epoch has doclen rows in TWO
    partitions until the next compaction. The scalar refresh must count
    it ONCE with its latest length (the build's countDistinct
    contract) — the naive count(*) over doclen rows would inflate
    n_docs and let the stale dl skew avgdl."""
    docs = load_table(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="bm25_refresh_dedup_")
    prefix = "bm25_idx_rdup"
    try:
        retrieval_index.bm25_index_build(docs, prefix, out)
        victim = docs.select("doc_id").first()["doc_id"]
        # re-upsert the victim with DOUBLED text: same doc, new length
        delta = docs.where(F.col("doc_id") == victim).select(
            "doc_id", F.concat_ws(" ", "text", "text").alias("text")
        )
        retrieval_index.bm25_index_upsert(delta, prefix)
        assert (
            spark.table(f"{prefix}_doclen")
            .where(F.col("doc_id") == victim)
            .count()
            == 2  # the pre-compaction double-row state under test
        )
        retrieval_index.bm25_index_refresh_stats(spark, prefix)
        got = spark.table(f"{prefix}_stats").first()
        # independent recomputation via a SQL window (different code
        # path than the refresh's groupBy-max-struct)
        exp = spark.sql(
            f"""
            SELECT COUNT(*) AS n_docs, SUM(dl) / COUNT(*) AS avgdl
            FROM (SELECT doc_id, dl, ROW_NUMBER() OVER (
                      PARTITION BY doc_id ORDER BY epoch DESC) AS rn
                  FROM {prefix}_doclen) WHERE rn = 1
            """
        ).first()
        n_corpus = docs.select("doc_id").distinct().count()
        assert got["n_docs"] == exp["n_docs"] == n_corpus
        assert abs(got["avgdl"] - exp["avgdl"]) < 1e-9
        # and the naive row count WOULD have been wrong
        assert spark.table(f"{prefix}_doclen").count() == n_corpus + 1
    finally:
        for t in ("postings", "doclen", "stats", "positions", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
        shutil.rmtree(out, ignore_errors=True)


def test_phrase_masks_stale_versions_and_compact_purges(spark):
    """RE-UPSERT (replace) on the POSITIONAL path: a doc whose revision
    DROPS the phrase must stop matching (its stale occurrences are
    masked even though no new positions row replaced them), a doc whose
    revision GAINS the phrase must match exactly once, and compaction
    must purge the superseded rows without changing the result."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),  # v1 HAS the phrase
            (2, "gamma delta epsilon zeta"),  # v1 lacks it
            (3, "alpha beta alpha beta"),  # untouched control, tf=2
        ],
        "doc_id long, text string",
    )
    out = tempfile.mkdtemp(prefix="bm25_phrase_reup_")
    prefix = "bm25_idx_phr"
    try:
        retrieval_index.bm25_index_build(docs, prefix, out)
        revised = spark.createDataFrame(
            [
                (1, "gamma delta gamma delta"),  # v2 DROPS the phrase
                (2, "alpha beta epsilon"),  # v2 GAINS it
            ],
            "doc_id long, text string",
        )
        retrieval_index.bm25_index_upsert(revised, prefix)
        rows = retrieval_index.bm25_index_phrase(
            spark, ("alpha", "beta"), prefix
        ).collect()
        assert sorted(r["doc_id"] for r in rows) == [2, 3], rows
        tf_by_doc = {r["doc_id"]: r["tf"] for r in rows}
        assert tf_by_doc == {2: 1, 3: 2}, tf_by_doc
        retrieval_index.bm25_index_compact(spark, prefix)
        rows2 = retrieval_index.bm25_index_phrase(
            spark, ("alpha", "beta"), prefix
        ).collect()
        assert rows2 == rows, (rows2, rows)
        # superseded versions physically gone: one doclen row per doc,
        # and doc 1's stale 'alpha' occurrences no longer in positions
        assert spark.table(f"{prefix}_doclen").count() == 3
        assert (
            spark.table(f"{prefix}_positions")
            .where((F.col("doc_id") == 1) & (F.col("token") == "alpha"))
            .count()
            == 0
        )
    finally:
        for t in ("postings", "doclen", "stats", "positions", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
        shutil.rmtree(out, ignore_errors=True)
