"""Scratch lifecycles: the one scratch directory and the scratch-cache
publish contract (sources/scratch.py), and the epoch-index scratch
teardown (operators/epoch_index.py)."""

from __future__ import annotations

import glob
import os
import pathlib
import re
import tempfile

import pytest
from pyspark.sql import functions as F

from admob_data_pipeline_spark.operators import (
    ann_index,
    dedup_index,
    retrieval_index,
)
from admob_data_pipeline_spark.operators.epoch_index import scratch_index
from admob_data_pipeline_spark.sources.scratch import cached_parquet_dir
from admob_data_pipeline_spark.sources.tables import load_table


ROOT = pathlib.Path(__file__).resolve().parent.parent


def test_scratch_dir_is_the_only_mkdtemp():
    """Package code gets temp dirs only from ``scratch_dir``, so the
    remove-however-the-body-ends policy is written once."""
    names = [
        p.relative_to(ROOT).as_posix()
        for p in ROOT.glob("admob_data_pipeline_spark/**/*.py")
    ]
    assert names
    sites = [
        f"{n}:{i}"
        for n in names
        if n != "admob_data_pipeline_spark/sources/scratch.py"
        for i, line in enumerate((ROOT / n).read_text().splitlines(), 1)
        if re.search(r"\bmkdtemp\b", line)
    ]
    assert not sites, f"use sources.scratch.scratch_dir instead: {sites}"


def _tmp_orphans(cache_name: str) -> list[str]:
    pat = os.path.join(tempfile.gettempdir(), f"spark_graft_{cache_name}_*.tmp-*")
    return glob.glob(pat)


def test_failed_write_reaps_partial_tmp_dir(tmp_path):
    src = tmp_path / "src.txt"
    src.write_text("x")

    def bad_write(path: str) -> None:
        os.makedirs(path)  # simulate a partial Spark write...
        (tmp_path / "marker").write_text(path)
        raise RuntimeError("job failed")  # ...then the job dies

    with pytest.raises(RuntimeError):
        cached_parquet_dir("reaptest", str(src), bad_write)
    partial = (tmp_path / "marker").read_text()
    assert not os.path.exists(partial), "partial tmp dir leaked"
    assert not _tmp_orphans("reaptest")


def test_retry_after_failure_publishes(tmp_path, monkeypatch):
    # publish under tmp_path: a real temp dir would keep one cache per run
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    src = tmp_path / "src.txt"
    src.write_text("x")
    calls = {"n": 0}

    def flaky_write(path: str) -> None:
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("first try fails")
        os.makedirs(path)
        with open(os.path.join(path, "part-0.parquet"), "w") as f:
            f.write("data")

    with pytest.raises(RuntimeError):
        cached_parquet_dir("retrytest", str(src), flaky_write)
    out = cached_parquet_dir("retrytest", str(src), flaky_write)
    assert os.path.isdir(out)
    # third call is a cache hit — write not invoked again
    assert cached_parquet_dir("retrytest", str(src), flaky_write) == out
    assert calls["n"] == 2


# --- epoch-index scratch lifecycle (operators/epoch_index.py) ------------

SPECS = (ann_index.ANN_INDEX, retrieval_index.BM25_INDEX, dedup_index.DEDUP_INDEX)


def _tables_under(spark, prefix: str) -> set[str]:
    return {
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith(f"{prefix}_")
    }


def test_scratch_index_cleans_up_when_the_body_raises(spark):
    with pytest.raises(RuntimeError, match="body failed"):
        with scratch_index(spark, *SPECS) as (out, *prefixes):
            assert len(set(prefixes)) == len(SPECS)
            for spec, prefix in zip(SPECS, prefixes):
                for t, _ in spec.tables:
                    spark.sql(
                        f"CREATE TABLE {prefix}_{t} (i INT) USING parquet"
                        f" LOCATION '{out}/{prefix}/{t}'"
                    )
                assert len(_tables_under(spark, prefix)) == len(spec.tables)
            raise RuntimeError("body failed")
    for prefix in prefixes:
        assert _tables_under(spark, prefix) == set()
    assert not os.path.exists(out)


def _ann_lifecycle(spark, sf_dir, prefix, out):
    emb = load_table(spark, sf_dir, "embeddings")
    ann_index.ann_index_build(emb.where(F.col("vec_id") % 4 != 3), prefix, out)
    ann_index.ann_index_upsert(emb.where(F.col("vec_id") % 4 == 3), prefix)
    ann_index.ann_index_delete(
        spark, emb.where(F.col("vec_id") % 10 == 5).select("vec_id"), prefix
    )
    ann_index.ann_index_compact(spark, prefix)


def _bm25_lifecycle(spark, sf_dir, prefix, out):
    docs = load_table(spark, sf_dir, "documents")
    retrieval_index.bm25_index_build(
        docs.where(F.col("doc_id") % 4 != 3), prefix, out
    )
    retrieval_index.bm25_index_upsert(docs.where(F.col("doc_id") % 4 == 3), prefix)
    retrieval_index.bm25_index_delete(
        spark, docs.where(F.col("doc_id") % 10 == 5).select("doc_id"), prefix
    )
    retrieval_index.bm25_index_compact(spark, prefix)


def _dedup_lifecycle(spark, sf_dir, prefix, out):
    docs = load_table(spark, sf_dir, "documents")
    dedup_index.dedup_index_build(
        docs.where(F.col("doc_id") % 5 != 0), prefix, out
    )
    dedup_index.dedup_index_upsert(docs.where(F.col("doc_id") % 5 == 0), prefix)
    dedup_index.dedup_index_delete(
        spark, docs.where(F.col("doc_id") % 10 == 1).select("doc_id"), prefix
    )
    dedup_index.dedup_index_compact(spark, prefix)


@pytest.mark.parametrize(
    "spec, lifecycle",
    [
        (ann_index.ANN_INDEX, _ann_lifecycle),
        (retrieval_index.BM25_INDEX, _bm25_lifecycle),
        (dedup_index.DEDUP_INDEX, _dedup_lifecycle),
    ],
    ids=["ann", "bm25", "dedup"],
)
def test_lifecycle_leaves_exactly_the_spec_tables(spark, sf_dir, spec, lifecycle):
    """A spec that forgot a table would leak it past the scratch
    teardown into every later test's catalog."""
    with scratch_index(spark, spec) as (out, prefix):
        lifecycle(spark, sf_dir, prefix, out)
        assert _tables_under(spark, prefix) == {
            f"{prefix}_{t}" for t, _ in spec.tables
        }
    assert _tables_under(spark, prefix) == set()
