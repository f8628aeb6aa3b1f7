"""Job budgets of an index lifecycle's fixed-cost steps.

At index-serving sizes the fixed cost of a Spark job outweighs its work,
so these pins count jobs — from the status store, a structural counter
that host load cannot fake — on one seeded BM25 + ANN pair shaped like
the ``index_lifecycle`` benchmark: a build over three quarters of the
corpus, two upsert epochs with the held-out quarter, and one delete.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from admob_data_pipeline_spark.operators.ann_index import (
    ANN_INDEX,
    ann_index_build,
    ann_index_compact,
    ann_index_upsert,
    load_ann_quantizers,
)
from admob_data_pipeline_spark.operators.epoch_index import scratch_index
from admob_data_pipeline_spark.operators.hybrid_index import hybrid_index_search
from admob_data_pipeline_spark.operators.retrieval_index import (
    BM25_INDEX,
    bm25_index_build,
    bm25_index_compact,
    bm25_index_delete,
    bm25_index_manifest,
    bm25_index_upsert,
)
from admob_data_pipeline_spark.sources.tables import load_table
from admob_data_pipeline_spark.testing import new_jobs


def _jobs(spark, fn):
    """``(result, jobs)``: ``fn()`` and the number of Spark jobs it ran,
    in any job group."""
    out, ids = new_jobs(spark, fn)
    return out, len(ids)


def _arrival(col: str, epoch: int):
    """The held-out quarter (``col % 4 == 3``), split over two epochs."""
    return (F.col(col) % 4 == 3) & (F.floor(F.col(col) / 4) % 2 == epoch)


@pytest.fixture(scope="module")
def lifecycle(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    with scratch_index(spark, BM25_INDEX, ANN_INDEX) as (out, bp, ap):
        bm25_index_build(docs.where(F.col("doc_id") % 4 != 3), bp, f"{out}/bm25")
        ann_index_build(emb.where(F.col("vec_id") % 4 != 3), ap, f"{out}/ann")
        quant = load_ann_quantizers(spark, ap)
        for e in (0, 1):
            delta = docs.where(_arrival("doc_id", e)).select("doc_id", "text")
            bm25_index_upsert(delta, bp, epoch=e)
            ann_index_upsert(emb.where(_arrival("vec_id", e)), ap, epoch=e, quantizers=quant)
        deleted = docs.where(F.col("doc_id") % 10 == 1).select("doc_id")
        bm25_index_delete(spark, deleted, bp)
        yield emb, bp, ap


def test_load_ann_quantizers_is_two_jobs(spark, lifecycle):
    """Two bounded table reads, ordered on the driver — no global sort."""
    _, _, ap = lifecycle
    (cids, _, books), jobs = _jobs(spark, lambda: load_ann_quantizers(spark, ap))
    assert cids == sorted(cids) and books
    assert jobs <= 2, jobs


def test_index_manifest_is_two_jobs_and_unchanged(spark, lifecycle):
    """One tagged row count over every table plus the catalog partition
    lists: the rows of the per-table aggregate it replaced, in ≤ 2 jobs."""
    _, bp, _ = lifecycle
    rows, jobs = _jobs(spark, lambda: bm25_index_manifest(spark, bp).collect())
    want = []
    for t, has_epoch in BM25_INDEX.tables:
        df = spark.table(f"{bp}_{t}")
        if has_epoch:
            r = df.agg(
                F.count(F.lit(1)),
                F.countDistinct("epoch"),
                F.min("epoch"),
                F.max("epoch"),
            ).first()
            want.append((t, *r))
        else:
            want.append((t, df.count(), 0, None, None))
    assert [tuple(r) for r in rows] == sorted(want)
    assert dict((r[0], r[2]) for r in rows)["postings"] == 3  # base + 2 epochs
    assert dict((r[0], r[1]) for r in rows)["tombstones"] > 0
    assert jobs <= 2, jobs


def test_hybrid_probe_is_at_most_20_jobs(spark, lifecycle):
    """Plan construction (the bounded profile, term and probe collects)
    and the collect together."""
    emb, bp, ap = lifecycle
    rows, jobs = _jobs(
        spark, lambda: hybrid_index_search(spark, emb, bp, ap, probe=7).collect()
    )
    assert rows
    assert jobs <= 20, jobs


def test_compaction_is_at_most_25_jobs(spark, lifecycle):
    """Both families' compaction: file counts from the file index, the
    table location from the collected DESC rows, no survivor recount.
    Runs last in this module: it folds the fixture's epochs."""
    _, bp, ap = lifecycle
    _, jobs = _jobs(
        spark, lambda: (bm25_index_compact(spark, bp), ann_index_compact(spark, ap))
    )
    epochs = {r[0]: r[2] for r in bm25_index_manifest(spark, bp).collect()}
    assert epochs["postings"] == 1 and epochs["doclen"] == 1
    assert spark.table(f"{bp}_tombstones").count() == 0
    assert jobs <= 25, jobs
