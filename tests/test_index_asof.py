"""As-of reads with deletes on both sides of the as-of epoch, for every
index family: build, upsert epoch 0, delete set A (stamped 0), upsert
epoch 1, delete set B (stamped 1). A read as of epoch 0 masks A but not
B, and a read as of BASE_EPOCH equals the pristine build."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from admob_data_pipeline_spark.operators import (
    ann_index,
    dedup_index,
    retrieval_index,
    similarity,
)
from admob_data_pipeline_spark.operators.epoch_index import scratch_index
from admob_data_pipeline_spark.sinks.writers import BASE_EPOCH
from admob_data_pipeline_spark.sources.tables import load_table


def _ann(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return dict(
        spec=ann_index.ANN_INDEX,
        corpus=emb,
        key="vec_id",
        build=ann_index.ann_index_build,
        upsert=lambda part, p, e: ann_index.ann_index_upsert(part, p, epoch=e),
        delete=lambda ids, p: ann_index.ann_index_delete(spark, ids, p),
        read=lambda p, e: ann_index.ann_index_search(
            emb, similarity.QUERY_IDS, p, as_of_epoch=e
        ).collect(),
        served="vec_id",
    )


def _bm25(spark, sf_dir):
    ri = retrieval_index
    return dict(
        spec=ri.BM25_INDEX,
        corpus=load_table(spark, sf_dir, "documents"),
        key="doc_id",
        build=ri.bm25_index_build,
        upsert=lambda part, p, e: ri.bm25_index_upsert(part, p, epoch=e),
        delete=lambda ids, p: ri.bm25_index_delete(spark, ids, p),
        read=lambda p, e: ri.bm25_index_search(
            spark, ri.BM25_QUERY, p, as_of_epoch=e
        ).collect(),
        served="doc_id",
    )


def _dedup(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % dedup_index.PROBE_MOD == 0)
    return dict(
        spec=dedup_index.DEDUP_INDEX,
        corpus=docs.where(F.col("doc_id") % dedup_index.PROBE_MOD != 0),
        key="doc_id",
        build=dedup_index.dedup_index_build,
        upsert=lambda part, p, e: dedup_index.dedup_index_upsert(part, p, epoch=e),
        delete=lambda ids, p: dedup_index.dedup_index_delete(spark, ids, p),
        read=lambda p, e: dedup_index.dedup_index_probe(
            batch, p, as_of_epoch=e
        ).collect(),
        served="index_doc",
    )


@pytest.mark.parametrize("family", [_ann, _bm25, _dedup], ids=["ann", "bm25", "dedup"])
def test_asof_reads_mask_only_deletes_stamped_by_then(spark, sf_dir, family):
    f = family(spark, sf_dir)
    corpus, key = f["corpus"], f["key"]

    def part(rem):  # base: key % 4 in (0, 1); epoch 0: 2; epoch 1: 3
        return corpus.where(F.col(key) % 4 == rem)

    def served(rows):
        return {r[f["served"]] for r in rows}

    def ids(x):
        return corpus.where(F.col(key) == x).select(key)

    with scratch_index(spark, f["spec"]) as (out, prefix):
        f["build"](corpus.where(F.col(key) % 4 < 2), prefix, out)
        pristine = f["read"](prefix, None)
        f["upsert"](part(2), prefix, 0)
        a, b = sorted(served(f["read"](prefix, 0)))[:2]
        f["delete"](ids(a), prefix)  # stamped 0
        f["upsert"](part(3), prefix, 1)
        f["delete"](ids(b), prefix)  # stamped 1

        at0 = served(f["read"](prefix, 0))
        assert a not in at0 and b in at0
        assert f["read"](prefix, BASE_EPOCH) == pristine and pristine
