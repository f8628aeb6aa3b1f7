"""Autopilot policy pins: the maintenance cycle must fire NOTHING on a
freshly built index (no ingest → no drift to remedy, one epoch → no
compaction debt). The fired-path behavior is pinned by the registered
oracles (ann/bm25/dedup `_index_autopilot`); this file pins the quiet
path, which the oracles never exercise, and BM25's delete-only
trigger, which they never isolate."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from admob_data_pipeline_spark.operators import (
    ann_index,
    dedup_index,
    retrieval_index,
)
from admob_data_pipeline_spark.operators.epoch_index import scratch_index
from admob_data_pipeline_spark.sources.tables import load_table


def test_ann_autopilot_is_noop_on_fresh_index(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ann_auto_noop_")
    prefix = "ann_idx_noop_t"
    try:
        ann_index.ann_index_build(emb, prefix, out)
        before = spark.table(f"{prefix}_centroids").count()
        assert ann_index.ann_index_autopilot(emb, prefix) == []
        assert spark.table(f"{prefix}_centroids").count() == before
    finally:
        for t in ("centroids", "codebooks", "codes", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
        shutil.rmtree(out, ignore_errors=True)


def test_bm25_autopilot_is_noop_on_fresh_index(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="bm25_auto_noop_")
    prefix = "bm25_idx_noop_t"
    try:
        retrieval_index.bm25_index_build(docs, prefix, out)
        stats = spark.table(f"{prefix}_stats").collect()
        assert retrieval_index.bm25_index_autopilot(spark, prefix) == []
        assert spark.table(f"{prefix}_stats").collect() == stats
    finally:
        for t in ("postings", "doclen", "stats", "positions", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
        shutil.rmtree(out, ignore_errors=True)


def test_dedup_autopilot_is_noop_on_fresh_index(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="dedup_auto_noop_")
    prefix = "dedup_idx_noop_t"
    try:
        dedup_index.dedup_index_build(
            docs.where(F.col("doc_id") % 5 != 0), prefix, out
        )
        n_banned = spark.table(f"{prefix}_banned").count()
        assert dedup_index.dedup_index_autopilot(spark, prefix) == []
        assert spark.table(f"{prefix}_banned").count() == n_banned
    finally:
        for t in ("bands", "shingles", "shsizes", "banned", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
        shutil.rmtree(out, ignore_errors=True)


def test_bm25_autopilot_refreshes_after_delete_only(spark, sf_dir):
    """A delete with no ingest leaves one epoch, so only the manifest's
    tombstone row can trigger the scalar refresh."""
    docs = load_table(spark, sf_dir, "documents")
    with scratch_index(spark, retrieval_index.BM25_INDEX) as (out, prefix):
        retrieval_index.bm25_index_build(docs, prefix, out)
        retrieval_index.bm25_index_delete(
            spark, docs.where(F.col("doc_id") % 10 == 5).select("doc_id"), prefix
        )
        assert retrieval_index.bm25_index_autopilot(spark, prefix) == [
            "refresh_stats"
        ]
