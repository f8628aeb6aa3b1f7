"""Persisted ANN index (build/search split): exact parity with the
inline IVF-PQ path, and the serving-plan properties that justify the
persisted layout — no rebuild kernels in the search plan, no Exchange
over the bucketed code-table scan."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from admob_data_pipeline_spark.operators import ann_index, similarity
from admob_data_pipeline_spark.operators.epoch_index import scratch_index
from admob_data_pipeline_spark.plans import explain
from admob_data_pipeline_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def built_index(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ann_index_test_")
    prefix = "ann_idx_t"
    ann_index.ann_index_build(emb, prefix, out)
    yield emb, prefix
    for t in ("centroids", "codebooks", "codes", "tombstones"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
    shutil.rmtree(out, ignore_errors=True)


def test_search_matches_inline_ivfpq_exactly(spark, built_index):
    """Build+search must reproduce ivfpq_topk row-for-row: same probes,
    same candidates, same exact-integer ADC sums, same tie-breaks."""
    emb, prefix = built_index
    got = [
        (r.qid, r.vec_id, r.adc_e6, r.rank)
        for r in ann_index.ann_index_search(
            emb, similarity.QUERY_IDS, prefix
        ).collect()
    ]
    want = [
        (r.qid, r.vec_id, r.adc_e6, r.rank)
        for r in similarity.ivfpq_topk(emb, similarity.QUERY_IDS).collect()
    ]
    assert got == want and got


def test_search_plan_has_no_rebuild_kernels(spark, built_index):
    """The search must serve from the PERSISTED tables: no Arrow/pandas
    kernel (assignment and quantization are build-time only) anywhere in
    its plan — the defining property of the build/search split."""
    emb, prefix = built_index
    plan = explain.formatted_plan(
        ann_index.ann_index_search(emb, similarity.QUERY_IDS, prefix)
    )
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "FlatMapGroupsInPandas"):
        assert marker not in plan, f"rebuild kernel in search plan: {marker}"


def test_probe_join_reads_bucketed_codes_without_exchange(
    spark, built_index
):
    """The candidate cut joins the probe list against the code table on
    list_id: the bucketed code-table side must need NO Exchange — the
    one-ingest-shuffle payoff. (A partition-local Sort remains: Spark
    only trusts sortBy order with one file per bucket.) Pin it on the
    isolated probe join so unrelated exchanges (the final top-k window)
    can't mask a layout regression."""
    emb, prefix = built_index
    codes = spark.table(f"{prefix}_codes")
    probes = spark.createDataFrame(
        [(0, 0), (0, 25)], "qid bigint, list_id bigint"
    )
    joined = codes.hint("merge").join(probes, "list_id")
    plan = explain.formatted_plan(joined)
    assert "SortMergeJoin" in plan
    # exactly one Exchange NODE: the tiny probe side shuffling into the
    # bucket layout; zero over the bucketed scan (count tree entries —
    # "Exchange (n)" — not the details section's "(n) Exchange" echoes)
    assert plan.count("Exchange (") == 1, plan
    assert "Bucketed: true" in plan
    # the exchange sits on the probe branch (ExistingRDD), not between
    # the parquet scan and the join
    codes_branch = plan.split("Scan parquet")[0]
    assert "Exchange" not in codes_branch, plan


def test_build_is_idempotent_overwrite(spark, built_index, sf_dir):
    """Re-running the build must overwrite, not duplicate — the
    idempotent-ingest contract every rebuildable artifact needs. Uses
    its OWN prefix: rebuilding the shared fixture's prefix would
    re-point its tables at this test's scratch dir and break every
    later reader of the fixture."""
    emb, _ = built_index
    n1 = emb.count()
    out2 = tempfile.mkdtemp(prefix="ann_index_rebuild_")
    prefix2 = "ann_idx_rebuild_t"
    try:
        ann_index.ann_index_build(emb, prefix2, out2)
        assert spark.table(f"{prefix2}_codes").count() == n1
        ann_index.ann_index_build(emb, prefix2, out2)  # the re-run
        assert spark.table(f"{prefix2}_codes").count() == n1
        assert spark.table(f"{prefix2}_codes").where(
            F.col("list_id").isNull()
        ).count() == 0
    finally:
        for t in ("centroids", "codebooks", "codes", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix2}_{t}")
        shutil.rmtree(out2, ignore_errors=True)


def test_upsert_appends_delta_and_keeps_bucketed_layout(spark, sf_dir):
    """Incremental maintenance: the delta is assigned/quantized with
    the persisted (frozen) quantizers and APPENDED — base rows are
    untouched, row count is base+delta, the zero-Exchange probe-join
    layout survives the append, and an empty delta is a no-op."""
    emb = load_table(spark, sf_dir, "embeddings")
    base_corpus = emb.where(F.col("vec_id") % 4 != 3)
    delta = emb.where(F.col("vec_id") % 4 == 3)
    out = tempfile.mkdtemp(prefix="ann_index_upsert_test_")
    prefix = "ann_idx_up_t"
    try:
        ann_index.ann_index_build(base_corpus, prefix, out)
        n_base = spark.table(f"{prefix}_codes").count()
        assert n_base == base_corpus.count()
        before = {
            (r.vec_id, r.list_id, r.c0, r.c1, r.c2, r.c3)
            for r in spark.table(f"{prefix}_codes").collect()
        }
        ann_index.ann_index_upsert(delta, prefix)
        after_df = spark.table(f"{prefix}_codes")
        assert after_df.count() == n_base + delta.count()
        after = {
            (r.vec_id, r.list_id, r.c0, r.c1, r.c2, r.c3)
            for r in after_df.collect()
        }
        assert before <= after  # base rows byte-identical, none rewritten
        # the appended table still joins exchange-free on list_id
        probes = spark.createDataFrame([(0, 0)], "qid bigint, list_id bigint")
        plan = explain.formatted_plan(
            spark.table(f"{prefix}_codes").hint("merge").join(probes, "list_id")
        )
        assert "SortMergeJoin" in plan
        assert plan.count("Exchange (") == 1, plan
        assert "Bucketed: true" in plan
        # empty delta: no rows added, no error
        ann_index.ann_index_upsert(delta.where(F.lit(False)), prefix)
        assert spark.table(f"{prefix}_codes").count() == n_base + delta.count()
    finally:
        for t in ("centroids", "codebooks", "codes", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
        shutil.rmtree(out, ignore_errors=True)


def test_rerank_refines_the_adc_shortlist_exactly(spark, built_index):
    """Two-stage serving: the reranked top-k must be exactly the
    exact-cosine top-k WITHIN the ADC shortlist — quantization picks
    the candidates, never the final order."""
    from admob_data_pipeline_spark.operators.similarity import (
        QUERY_IDS,
        topk_bruteforce,
    )

    emb, prefix = built_index
    short = {
        (r.qid, r.vec_id)
        for r in ann_index.ann_index_search(
            emb, QUERY_IDS, prefix, k=ann_index.RERANK_R
        ).collect()
    }
    got = [
        (r.qid, r.rank, r.vec_id, r.cos_sim)
        for r in ann_index.ann_index_search_rerank(
            emb, QUERY_IDS, prefix
        ).collect()
    ]
    assert got and all((q, v) in short for (q, _, v, _) in got)
    # exact cosines: every reranked row matches brute force's score for
    # that pair, and per-query ranks follow (cos desc, vec_id)
    brute = {
        (r.qid, r.vec_id): r.cos_sim
        for r in topk_bruteforce(emb, list(QUERY_IDS), k=10**6).collect()
    }
    by_q = {}
    for q, rank, v, cos in got:
        assert brute[(q, v)] == cos
        by_q.setdefault(q, []).append((rank, cos, v))
    for rows in by_q.values():
        rows.sort()
        assert [(c, v) for _, c, v in rows] == sorted(
            ((c, v) for _, c, v in rows), key=lambda t: (-t[0], t[1])
        )


def test_point_lookup_prunes_buckets(spark, built_index):
    """Bucket PRUNING (not just exchange elimination): an equality
    filter on the bucket key reads 1 of CODES_BUCKETS buckets — the
    inverted-list point-lookup shape. Requires autoBucketedScan OFF
    (with it on, Spark silently falls back to a full unbucketed scan
    for join-free plans — worth knowing at serving time, hence this
    pin documents the conf)."""
    _, prefix = built_index
    old = spark.conf.get(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true"
    )
    spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
    )
    try:
        df = spark.table(f"{prefix}_codes").where(F.col("list_id") == 0)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert f"SelectedBucketsCount: 1 out of {ann_index.CODES_BUCKETS}" in plan
    finally:
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", old
        )


def test_upsert_replay_with_same_epoch_is_idempotent(spark, sf_dir):
    """foreachBatch is at-least-once: the SAME epoch can be delivered
    twice after a mid-batch failure. Replaying an epoch id must leave
    the code table byte-identical — the dynamic partition overwrite
    rewrites epoch=e instead of appending duplicates that would
    displace genuine neighbors from search top-k."""
    emb = load_table(spark, sf_dir, "embeddings")
    base_corpus = emb.where(F.col("vec_id") % 4 != 3)
    delta = emb.where(F.col("vec_id") % 4 == 3)
    out = tempfile.mkdtemp(prefix="ann_index_replay_test_")
    prefix = "ann_idx_replay_t"
    try:
        ann_index.ann_index_build(base_corpus, prefix, out)
        ann_index.ann_index_upsert(delta, prefix, epoch=0)
        snap = sorted(
            map(tuple, spark.table(f"{prefix}_codes").collect())
        )
        search1 = ann_index.ann_index_search(
            emb, similarity.QUERY_IDS, prefix
        ).collect()
        ann_index.ann_index_upsert(delta, prefix, epoch=0)  # forced replay
        assert sorted(
            map(tuple, spark.table(f"{prefix}_codes").collect())
        ) == snap
        assert ann_index.ann_index_search(
            emb, similarity.QUERY_IDS, prefix
        ).collect() == search1
        # a DIFFERENT epoch with new rows still lands
        ann_index.ann_index_upsert(
            emb.where(F.lit(False)), prefix, epoch=1
        )
        assert spark.table(f"{prefix}_codes").count() == len(snap)
    finally:
        for t in ("centroids", "codebooks", "codes", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
        shutil.rmtree(out, ignore_errors=True)


def test_streaming_ingest_survives_midstream_restart(spark, sf_dir, tmp_path):
    """Kill-and-restart through the streaming index-maintenance path:
    epochs committed before a stop are not double-applied after a
    resume from the same checkpoint, and the final index holds every
    delta vector exactly once — search equals the one-shot batch-upsert
    index over the same corpus split."""
    import os

    emb = load_table(spark, sf_dir, "embeddings")
    base_corpus = emb.where(F.col("vec_id") % 4 != 3)
    delta = emb.where(F.col("vec_id") % 4 == 3)
    prefix = "ann_idx_restart_t"
    out = str(tmp_path / "index")
    src = str(tmp_path / "arrivals")
    ckpt = str(tmp_path / "ckpt")

    def arrive(half):
        delta.where(
            F.expr("(vec_id % 8) div 4") == half
        ).coalesce(1).write.mode("append").parquet(src)

    def run():
        q = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(
                lambda batch, eid: ann_index.ann_index_upsert(
                    batch, prefix, epoch=eid
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    try:
        ann_index.ann_index_build(base_corpus, prefix, out)
        arrive(0)
        run()  # epoch 0 commits, stream stops (the "kill")
        n_mid = spark.table(f"{prefix}_codes").count()
        assert n_mid > base_corpus.count()
        arrive(1)
        run()  # restart from the same checkpoint: only epoch 1 runs
        codes = spark.table(f"{prefix}_codes")
        assert codes.count() == emb.count()
        assert codes.select("vec_id").distinct().count() == emb.count()
        # the restarted stream's index serves the same results as a
        # one-shot batch upsert over the identical corpus split
        got = ann_index.ann_index_search(
            emb, similarity.QUERY_IDS, prefix
        ).collect()
        prefix2 = "ann_idx_restart_ref_t"
        out2 = str(tmp_path / "index_ref")
        try:
            ann_index.ann_index_build(base_corpus, prefix2, out2)
            ann_index.ann_index_upsert(delta, prefix2, epoch=0)
            want = ann_index.ann_index_search(
                emb, similarity.QUERY_IDS, prefix2
            ).collect()
        finally:
            for t in ("centroids", "codebooks", "codes", "tombstones"):
                spark.sql(f"DROP TABLE IF EXISTS {prefix2}_{t}")
        assert got == want and got
    finally:
        for t in ("centroids", "codebooks", "codes", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_compact_folds_epochs_and_keeps_layout(spark, sf_dir):
    """Compaction (the small-files maintenance pass): ingest epochs fold
    into the base partition, the table drops to one file per bucket,
    search results are byte-identical pre/post, and the zero-Exchange
    probe-join pin still holds on the rewritten table."""
    emb = load_table(spark, sf_dir, "embeddings")
    base_corpus = emb.where(F.col("vec_id") % 4 != 3)
    delta = emb.where(F.col("vec_id") % 4 == 3)
    out = tempfile.mkdtemp(prefix="ann_index_compact_test_")
    prefix = "ann_idx_cpt"
    try:
        ann_index.ann_index_build(base_corpus, prefix, out)
        ann_index.ann_index_upsert(delta.where(F.col("vec_id") % 8 == 3), prefix, epoch=0)
        ann_index.ann_index_upsert(delta.where(F.col("vec_id") % 8 == 7), prefix, epoch=1)
        pre = ann_index.ann_index_search(
            emb, similarity.QUERY_IDS, prefix
        ).collect()
        n_rows = spark.table(f"{prefix}_codes").count()
        before, after = ann_index.ann_index_compact(spark, prefix)
        assert after < before
        assert after <= ann_index.CODES_BUCKETS
        codes = spark.table(f"{prefix}_codes")
        assert codes.count() == n_rows
        assert [
            r.epoch for r in codes.select("epoch").distinct().collect()
        ] == [ann_index.BASE_EPOCH]
        assert ann_index.ann_index_search(
            emb, similarity.QUERY_IDS, prefix
        ).collect() == pre
        probes = spark.createDataFrame([(0, 0)], "qid bigint, list_id bigint")
        plan = explain.formatted_plan(codes.hint("merge").join(probes, "list_id"))
        assert "SortMergeJoin" in plan
        assert plan.count("Exchange (") == 1, plan
        assert "Bucketed: true" in plan
    finally:
        for t in ("centroids", "codebooks", "codes", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
        shutil.rmtree(out, ignore_errors=True)


def test_delete_masks_then_compact_purges(spark, sf_dir):
    """Tombstone lifecycle: after a delete the ids never surface as
    candidates (logical mask); after compaction the rows are physically
    gone, the tombstone set is truncated, and search results are
    byte-identical pre/post purge."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ann_index_delete_test_")
    prefix = "ann_idx_del_t"
    doomed = emb.where(F.col("vec_id") % 10 == 5).select("vec_id")
    n_doomed = doomed.count()
    try:
        ann_index.ann_index_build(emb, prefix, out)
        n_all = spark.table(f"{prefix}_codes").count()
        ann_index.ann_index_delete(spark, doomed, prefix)
        got = ann_index.ann_index_search(
            emb, similarity.QUERY_IDS, prefix
        ).collect()
        assert got and all(r.vec_id % 10 != 5 for r in got)
        # rows still physically present (logical delete)
        assert spark.table(f"{prefix}_codes").count() == n_all
        ann_index.ann_index_compact(spark, prefix)
        codes = spark.table(f"{prefix}_codes")
        assert codes.count() == n_all - n_doomed
        assert codes.where(F.col("vec_id") % 10 == 5).count() == 0
        assert spark.table(f"{prefix}_tombstones").count() == 0
        assert ann_index.ann_index_search(
            emb, similarity.QUERY_IDS, prefix
        ).collect() == got
    finally:
        for t in ("centroids", "codebooks", "codes", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
        shutil.rmtree(out, ignore_errors=True)


def test_asof_search_prunes_epochs_and_matches_base_index(spark, sf_dir, tmp_path):
    """Time travel via the epoch layout: an as-of read is a partition-
    PRUNED scan (later ingest epochs never touched), and searching as
    of the base epoch returns exactly what a never-upserted base-only
    index serves."""
    emb = load_table(spark, sf_dir, "embeddings")
    base_corpus = emb.where(F.col("vec_id") % 4 != 3)
    delta = emb.where(F.col("vec_id") % 4 == 3)
    prefix, prefix2 = "ann_idx_asof_t", "ann_idx_asof_ref_t"
    try:
        ann_index.ann_index_build(base_corpus, prefix, str(tmp_path / "a"))
        ann_index.ann_index_upsert(delta, prefix, epoch=0)
        pruned = spark.table(f"{prefix}_codes").where(
            F.col("epoch") <= ann_index.BASE_EPOCH
        )
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "epoch" in plan, plan
        assert pruned.count() == base_corpus.count()
        got = ann_index.ann_index_search(
            emb, similarity.QUERY_IDS, prefix,
            as_of_epoch=ann_index.BASE_EPOCH,
        ).collect()
        ann_index.ann_index_build(base_corpus, prefix2, str(tmp_path / "b"))
        want = ann_index.ann_index_search(
            emb, similarity.QUERY_IDS, prefix2
        ).collect()
        assert got == want and got
    finally:
        for p in (prefix, prefix2):
            for t in ("centroids", "codebooks", "codes", "tombstones"):
                spark.sql(f"DROP TABLE IF EXISTS {p}_{t}")


def test_asof_read_ignores_later_deletes(spark, sf_dir, tmp_path):
    """Tombstones are epoch-stamped: a delete issued AFTER ingest epoch
    e must not rewrite history — an as-of e read still returns the
    vector, while the current-state read masks it."""
    emb = load_table(spark, sf_dir, "embeddings")
    base_corpus = emb.where(F.col("vec_id") % 4 != 3)
    delta = emb.where(F.col("vec_id") % 4 == 3)
    prefix = "ann_idx_asofdel_t"
    try:
        ann_index.ann_index_build(base_corpus, prefix, str(tmp_path / "a"))
        pre = ann_index.ann_index_search(
            emb, similarity.QUERY_IDS, prefix,
            as_of_epoch=ann_index.BASE_EPOCH,
        ).collect()
        victim = pre[0].vec_id
        ann_index.ann_index_upsert(delta, prefix, epoch=0)  # newest epoch: 0
        ann_index.ann_index_delete(
            spark,
            spark.createDataFrame([(victim,)], "vec_id bigint"),
            prefix,
        )  # stamped deleted_at_epoch = 0
        # history unchanged: the as-of base read still returns the victim
        assert ann_index.ann_index_search(
            emb, similarity.QUERY_IDS, prefix,
            as_of_epoch=ann_index.BASE_EPOCH,
        ).collect() == pre
        # the present masks it
        now = ann_index.ann_index_search(
            emb, similarity.QUERY_IDS, prefix
        ).collect()
        assert all(r.vec_id != victim for r in now)
        # and an as-of AT the delete's stamp masks it too
        asof0 = ann_index.ann_index_search(
            emb, similarity.QUERY_IDS, prefix, as_of_epoch=0
        ).collect()
        assert all(r.vec_id != victim for r in asof0)
    finally:
        for t in ("centroids", "codebooks", "codes", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_split_rebalances_only_flagged_lists(spark, sf_dir):
    """The drift remedy's three contracts: (a) rows of UNTOUCHED lists
    are byte-identical after the split (epoch included — the rebalance
    never rewrites what it didn't flag, and preserves the base/delta
    layering of what it did); (b) each flagged list strictly sheds
    members to its child and the child centroid is published; (c) the
    bucketed zero-Exchange probe-join layout survives the partition
    rewrites. Row count and vec_id set are conserved throughout."""
    emb = load_table(spark, sf_dir, "embeddings")
    base_corpus = emb.where(F.col("vec_id") % 4 != 3)
    delta = emb.where(F.col("vec_id") % 4 == 3)
    out = tempfile.mkdtemp(prefix="ann_index_split_test_")
    prefix = "ann_idx_split_t"
    try:
        ann_index.ann_index_build(base_corpus, prefix, out)
        ann_index.ann_index_upsert(delta, prefix, epoch=0)
        pre = {
            r.vec_id: (r.list_id, r.c0, r.c1, r.c2, r.c3, r.epoch)
            for r in spark.table(f"{prefix}_codes").collect()
        }
        drift = ann_index.ann_index_drift(spark, prefix).collect()
        flagged = [
            r["list_id"]
            for r in sorted(drift, key=lambda r: (-r["n_delta"], r["list_id"]))[:2]
        ]
        n_cents_pre = spark.table(f"{prefix}_centroids").count()
        ann_index.ann_index_split(emb, prefix, flagged)
        post = {
            r.vec_id: (r.list_id, r.c0, r.c1, r.c2, r.c3, r.epoch)
            for r in spark.table(f"{prefix}_codes").collect()
        }
        # conservation: same vectors, no dup, no loss
        assert set(pre) == set(post)
        new_cids = set()
        moved = 0
        for vid, row in pre.items():
            lid = row[0]
            if lid not in flagged:
                # (a) untouched lists byte-identical
                assert post[vid] == row, (vid, row, post[vid])
            else:
                # flagged members: stayed, or moved to a NEW child list;
                # PQ codes and epoch must never change
                assert post[vid][1:] == row[1:], (vid, row, post[vid])
                if post[vid][0] != lid:
                    moved += 1
                    new_cids.add(post[vid][0])
        assert moved > 0 and new_cids
        # (b) children published as centroids; flagged lists shed members
        cents_post = {
            r.cid for r in spark.table(f"{prefix}_centroids").collect()
        }
        assert new_cids <= cents_post
        assert spark.table(f"{prefix}_centroids").count() == n_cents_pre + len(
            new_cids
        )
        for lid in flagged:
            pre_n = sum(1 for v in pre.values() if v[0] == lid)
            post_n = sum(1 for v in post.values() if v[0] == lid)
            assert post_n < pre_n, (lid, pre_n, post_n)
        # (c) the bucketed zero-Exchange probe join survives the rewrite
        probes = spark.createDataFrame([(0, 0)], "qid bigint, list_id bigint")
        plan = explain.formatted_plan(
            spark.table(f"{prefix}_codes").hint("merge").join(probes, "list_id")
        )
        assert "SortMergeJoin" in plan
        assert plan.count("Exchange (") == 1, plan
        assert "Bucketed: true" in plan
    finally:
        for t in ("centroids", "codebooks", "codes", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
        shutil.rmtree(out, ignore_errors=True)


def test_split_rerun_never_duplicates_centroids(spark, sf_dir):
    """Crash-recovery convergence (round-10 self-review): the child
    append skips cids already present, so re-running a split — whether
    to complete an interrupted one or as a further refinement — can
    never register a centroid twice (a duplicate would double every
    candidate of its list in the probe join)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ann_split_rerun_test_")
    prefix = "ann_idx_rerun_t"
    try:
        ann_index.ann_index_build(
            emb.where(F.col("vec_id") % 4 != 3), prefix, out
        )
        ann_index.ann_index_upsert(
            emb.where(F.col("vec_id") % 4 == 3), prefix, epoch=0
        )
        drift = ann_index.ann_index_drift(spark, prefix).collect()
        flagged = [
            r["list_id"]
            for r in sorted(
                drift, key=lambda r: (-r["n_delta"], r["list_id"])
            )[:2]
        ]
        ann_index.ann_index_split(emb, prefix, flagged)
        ann_index.ann_index_split(emb, prefix, flagged)  # re-run
        dup = (
            spark.table(f"{prefix}_centroids")
            .groupBy("cid")
            .count()
            .where(F.col("count") > 1)
            .count()
        )
        assert dup == 0
        # conservation still holds after the double split
        n = spark.table(f"{prefix}_codes").count()
        assert n == emb.count()
    finally:
        for t in ("centroids", "codebooks", "codes", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
        shutil.rmtree(out, ignore_errors=True)


def _build_split_fixture(spark, sf_dir, prefix, out):
    """Base + two delta epochs, then the drift audit's top-2 flagged
    lists — the state every split test starts from."""
    emb = load_table(spark, sf_dir, "embeddings")
    base_corpus = emb.where(F.col("vec_id") % 4 != 3)
    delta = emb.where(F.col("vec_id") % 4 == 3)
    ann_index.ann_index_build(base_corpus, prefix, out)
    ann_index.ann_index_upsert(delta.where(F.col("vec_id") % 8 == 3), prefix, epoch=0)
    ann_index.ann_index_upsert(delta.where(F.col("vec_id") % 8 == 7), prefix, epoch=1)
    drift = ann_index.ann_index_drift(spark, prefix).collect()
    flagged = [
        r["list_id"]
        for r in sorted(drift, key=lambda r: (-r["n_delta"], r["list_id"]))[:2]
    ]
    return emb, flagged


def _drop_ann(spark, prefix, out):
    for t in ("centroids", "codebooks", "codes", "tombstones"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
    shutil.rmtree(out, ignore_errors=True)


def test_split_crash_mid_rewrites_converges(spark, sf_dir, monkeypatch):
    """ADVICE r10: a crash between the partition rewrites used to make
    the re-run elect a DIFFERENT farthest member (the member snapshot
    had already lost the moved rows) and bolt an extra centroid on. The
    split-commit marker pins the election: interrupted run + re-run
    must land byte-identical to an uninterrupted control split, publish
    the SAME single child per flagged list, and retire its markers."""
    out_a = tempfile.mkdtemp(prefix="ann_split_ctl_")
    out_b = tempfile.mkdtemp(prefix="ann_split_crash_")
    pa, pb = "ann_split_ctl", "ann_split_crash"
    try:
        emb, flagged_a = _build_split_fixture(spark, sf_dir, pa, out_a)
        ann_index.ann_index_split(emb, pa, flagged_a)  # control

        emb, flagged_b = _build_split_fixture(spark, sf_dir, pb, out_b)
        assert flagged_a == flagged_b  # identical fixture
        calls = {"n": 0}
        real = ann_index.overwrite_epoch_partition

        def crash_after_first(*args, **kwargs):
            if calls["n"] >= 1:
                raise RuntimeError("injected crash between rewrites")
            calls["n"] += 1
            return real(*args, **kwargs)

        monkeypatch.setattr(
            ann_index, "overwrite_epoch_partition", crash_after_first
        )
        with pytest.raises(RuntimeError, match="injected crash"):
            ann_index.ann_index_split(emb, pb, flagged_b)
        assert calls["n"] == 1  # exactly one rewrite landed pre-crash
        monkeypatch.setattr(
            ann_index, "overwrite_epoch_partition", real
        )
        # markers survive the crash (one per flagged list)
        loc = ann_index.table_location(spark, f"{pb}_codes").rstrip("/")
        fs, mp = ann_index._fs_and_path(
            spark, f"{loc}/{ann_index.SPLIT_COMMIT_DIR}"
        )
        n_markers = len(
            [
                st
                for st in fs.listStatus(mp)
                if st.getPath().getName().startswith("list-")
            ]
        )
        assert n_markers == len(flagged_b)
        ann_index.ann_index_split(emb, pb, flagged_b)  # convergent re-run

        ctl = {
            r.vec_id: (r.list_id, r.c0, r.c1, r.c2, r.c3, r.epoch)
            for r in spark.table(f"{pa}_codes").collect()
        }
        got = {
            r.vec_id: (r.list_id, r.c0, r.c1, r.c2, r.c3, r.epoch)
            for r in spark.table(f"{pb}_codes").collect()
        }
        assert got == ctl  # same assignment, no extra movement
        cents_ctl = sorted(
            r.cid for r in spark.table(f"{pa}_centroids").collect()
        )
        cents_got = sorted(
            r.cid for r in spark.table(f"{pb}_centroids").collect()
        )
        assert cents_got == cents_ctl  # same children, no extra centroid
        # markers retired after completion
        leftover = (
            [
                st.getPath().getName()
                for st in fs.listStatus(mp)
                if st.getPath().getName().startswith("list-")
            ]
            if fs.exists(mp)
            else []
        )
        assert leftover == []
    finally:
        _drop_ann(spark, pa, out_a)
        _drop_ann(spark, pb, out_b)


def test_split_raises_on_child_centroid_collision(spark, sf_dir):
    """The duplicate-vector edge: if the elected child's vec_id already
    exists as a centroid, the old left_anti silently skipped the append
    while 'moved' still redirected rows into the PRE-EXISTING foreign
    list. The split must refuse instead."""
    out = tempfile.mkdtemp(prefix="ann_split_coll_")
    prefix = "ann_split_coll"
    try:
        emb, flagged = _build_split_fixture(spark, sf_dir, prefix, out)
        # force a collision wherever the election lands: register every
        # member of the flagged lists (parents excluded) as a centroid
        members = (
            spark.table(f"{prefix}_codes")
            .where(
                F.col("list_id").isin(flagged)
                & ~F.col("vec_id").isin(flagged)
            )
            .select("vec_id")
        )
        fake = (
            members.join(
                emb.select("vec_id", "embedding"), "vec_id"
            ).select(
                F.col("vec_id").alias("cid"),
                F.transform(
                    "embedding", lambda x: x.cast("double")
                ).alias("cv"),
                F.lit(1.0).alias("cn"),
            )
        )
        fake.write.mode("append").format("parquet").saveAsTable(
            f"{prefix}_centroids"
        )
        with pytest.raises(ValueError, match="already exist as centroids"):
            ann_index.ann_index_split(emb, prefix, flagged)
    finally:
        _drop_ann(spark, prefix, out)


def test_split_raises_on_dead_recorded_election(spark, sf_dir):
    """ADVICE r11: a committed election whose child vector was DELETED
    from the corpus between the crash and the re-run used to replay as
    a silent perpetual no-op — the join against the corpus yields no
    childs row, step 4 never retires the marker, and the drift audit
    re-flags the list forever. The re-run must surface it instead."""
    out = tempfile.mkdtemp(prefix="ann_split_dead_")
    prefix = "ann_split_dead"
    try:
        emb, flagged = _build_split_fixture(spark, sf_dir, prefix, out)
        # forge the crash leftovers: a marker recording an election of a
        # vec_id that does not exist in the corpus
        loc = ann_index.table_location(spark, f"{prefix}_codes").rstrip("/")
        fs, mp = ann_index._fs_and_path(
            spark, f"{loc}/{ann_index.SPLIT_COMMIT_DIR}"
        )
        fs.mkdirs(mp)
        ghost = 10**12  # far outside any test corpus
        jvm = spark._jvm
        fs.createNewFile(
            jvm.org.apache.hadoop.fs.Path(
                f"{loc}/{ann_index.SPLIT_COMMIT_DIR}/"
                f"list-{flagged[0]}-child-{ghost}"
            )
        )
        with pytest.raises(RuntimeError, match="no longer in the corpus"):
            ann_index.ann_index_split(emb, prefix, flagged)
        # the marker is preserved for the operator's audit
        names = [
            st.getPath().getName()
            for st in fs.listStatus(mp)
            if st.getPath().getName().startswith("list-")
        ]
        assert f"list-{flagged[0]}-child-{ghost}" in names
    finally:
        _drop_ann(spark, prefix, out)


def test_search_chunked_serving_identical(spark, built_index, monkeypatch):
    """Above the SERVE_QID_BATCH literal-plan cap, ann_index_search
    serves the query batch in chunks and unions them; rows must be
    identical to one-shot serving (per-qid scoring and tie-breaks)."""
    emb, prefix = built_index
    qids = similarity.QUERY_IDS  # 8 ids
    one_shot = ann_index.ann_index_search(emb, qids, prefix).collect()
    monkeypatch.setattr(similarity, "SERVE_QID_BATCH", 3)
    chunked = ann_index.ann_index_search(emb, qids, prefix)
    assert "Union" in explain.formatted_plan(chunked)  # the chunked path ran
    assert [tuple(r) for r in chunked.collect()] == [tuple(r) for r in one_shot]


def test_chunked_serving_applies_tombstones_and_asof(spark, sf_dir, monkeypatch):
    """Every chunk of a chunked search gets the epoch-aware tombstones
    and the as-of filters: over an index with one upserted epoch and a
    few deletes, an as-of read and a current read with the batch cap at
    3 equal their one-shot rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    qids = similarity.QUERY_IDS  # 8 ids
    with scratch_index(spark, ann_index.ANN_INDEX) as (out, prefix):
        ann_index.ann_index_build(emb.where(F.col("vec_id") % 4 != 3), prefix, out)
        ann_index.ann_index_upsert(emb.where(F.col("vec_id") % 4 == 3), prefix, epoch=0)
        hits = ann_index.ann_index_search(emb, qids, prefix).collect()
        # base-corpus ids, so the as-of base read still serves them
        doomed = sorted({r.vec_id for r in hits if r.rank == 1 and r.vec_id % 4 != 3})[:3]
        ann_index.ann_index_delete(
            spark,
            spark.createDataFrame([(v,) for v in doomed], "vec_id bigint"),
            prefix,
        )  # stamped at the newest epoch, 0
        reads = {"asof": {"as_of_epoch": ann_index.BASE_EPOCH}, "current": {}}
        one_shot = {
            name: ann_index.ann_index_search(emb, qids, prefix, **kw).collect()
            for name, kw in reads.items()
        }
        # the base-epoch read predates the deletes; the current read masks them
        assert {r.vec_id for r in one_shot["asof"]} & set(doomed)
        assert not {r.vec_id for r in one_shot["current"]} & set(doomed)
        monkeypatch.setattr(similarity, "SERVE_QID_BATCH", 3)
        for name, kw in reads.items():
            chunked = ann_index.ann_index_search(emb, qids, prefix, **kw)
            assert "Union" in explain.formatted_plan(chunked)
            assert chunked.collect() == one_shot[name], name
