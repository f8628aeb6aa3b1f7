"""Workload ``index_lifecycle``: the hybrid RAG stack from public functions.

One operation is one whole lifecycle, shaped like
``q_streaming_hybrid_maintained``, on fresh table names:

- build: ``bm25_index_build`` and ``ann_index_build`` over
  ``doc_id % 4 != 3``, overlapped with ``par_ops``;
- ingest: the held-out quarter arrives as ``ARRIVAL_FILES`` parquet files;
  a ``foreachBatch`` stream (``availableNow``, ``maxFilesPerTrigger=1``)
  upserts both indexes with the batch id as their shared epoch and the
  quantizers from ``load_ann_quantizers``;
- maintain: ``bm25_index_compact`` and ``ann_index_compact``, then
  ``hybrid_index_parity``;
- serve: ``PROBES`` seeded probe ids through ``hybrid_index_search``.

The wall and the CPU seconds of an operation are sums over those four
phases; the checks between them are not timed.
"""

from __future__ import annotations

import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import spans

N_DOCS = 2000
ARRIVAL_FILES = 2
PROBES = 1
DELTA_MOD = 4


class IndexLifecycle:
    setup_reps = 3
    warmup_ops = 0
    min_ops = 1
    LAYERS = (
        ("index.build_s", "s"), ("index.ingest_batch_s", "s"),
        ("index.maintain_s", "s"), ("index.search_s", "s"),
        ("bm25.build_s", "s"), ("ann.build_s", "s"), ("bm25.upsert_s", "s"),
        ("ann.upsert_s", "s"), ("bm25.compact_s", "s"), ("ann.compact_s", "s"),
        ("index.build.jobs", "count"), ("index.upsert.jobs", "count"),
        ("index.compact.jobs", "count"), ("streaming.body_s", "s"),
        ("streaming.trigger_overhead_s", "s"), ("hybrid.search.construct_s", "s"),
        ("hybrid.search.collect_s", "s"), ("hybrid.search.jobs", "count"),
        ("hybrid.parity_s", "s"), ("plans.catalyst_ms", "ms"),
    )

    def __init__(self, run):
        self.run = run
        self.spark = run.spark
        self.tr = run.tracer
        self.batch_walls: list[float] = []
        self.search_walls: list[float] = []
        self.catalyst_ms: list[float] = []
        self.reference: dict | None = None

    def setup(self, rep: int) -> None:
        """Generate the corpus and land the arrivals as parquet files."""
        import numpy as np

        base = os.path.join(self.run.out, f"index{rep}")
        shutil.rmtree(base, ignore_errors=True)
        self.data = os.path.join(base, "data")
        os.makedirs(self.data)
        docs, emb = datagen.corpus(np.random.default_rng(self.run.seed), N_DOCS, N_DOCS)
        datagen.write_table(self.data, "documents", docs)
        datagen.write_table(self.data, "embeddings", emb)
        self.arrivals = os.path.join(base, "arrivals")
        os.makedirs(self.arrivals)
        # ids 0..N_DOCS-1 on both sides: every document has its embedding
        joined = pa.table({"doc_id": docs["doc_id"], "text": docs["text"],
                           "embedding": emb["embedding"]})
        ids = joined.column("doc_id").to_numpy()
        held = ids % DELTA_MOD == 3
        for f in range(ARRIVAL_FILES):
            part = joined.filter(held & ((ids // DELTA_MOD) % ARRIVAL_FILES == f))
            pq.write_table(part.sort_by("doc_id"),
                           os.path.join(self.arrivals, f"part-{f:03d}.parquet"))
        rng = random.Random(self.run.seed)
        self.probes = sorted(rng.sample(range(N_DOCS), PROBES))

    def before_op(self, i: int) -> None:
        pass

    def _drop(self, bp: str, ap: str) -> None:
        for t in ("postings", "doclen", "stats", "positions", "tombstones"):
            self.spark.sql(f"DROP TABLE IF EXISTS {bp}_{t}")
        for t in ("centroids", "codebooks", "codes", "tombstones"):
            self.spark.sql(f"DROP TABLE IF EXISTS {ap}_{t}")

    def op(self, i: int) -> list[dict]:
        from pyspark.sql import functions as F

        from admob_data_pipeline_spark.operators.ann_index import (
            ann_index_build, ann_index_compact, ann_index_upsert, load_ann_quantizers)
        from admob_data_pipeline_spark.operators.hybrid_index import (
            hybrid_index_parity, hybrid_index_search)
        from admob_data_pipeline_spark.operators.retrieval_index import (
            bm25_index_build, bm25_index_compact, bm25_index_upsert)
        from admob_data_pipeline_spark.operators.util import par_ops
        from admob_data_pipeline_spark.sinks.writers import next_epoch
        from admob_data_pipeline_spark.sources.tables import load_table

        spark, tr = self.spark, self.tr
        work = os.path.join(self.run.out, f"lifecycle{i}")
        bp, ap = f"pb{i}_bm25", f"pb{i}_ann"
        self.problems: list[str] = []
        timed = []
        docs = load_table(spark, self.data, "documents")
        emb = load_table(spark, self.data, "embeddings")
        corpus = docs.join(emb.select(F.col("vec_id").alias("doc_id")), "doc_id")
        try:
            with tr.span("index.build", cpu=True) as sp:
                par_ops(
                    lambda: self._leg("bm25.build", lambda: bm25_index_build(
                        corpus.where(F.col("doc_id") % DELTA_MOD != 3), bp, f"{work}/bm25")),
                    lambda: self._leg("ann.build", lambda: ann_index_build(
                        emb.where(F.col("vec_id") % DELTA_MOD != 3), ap, f"{work}/ann")),
                )
            timed.append(sp)

            batches: list[int] = []

            def ingest_both(batch, eid):
                with tr.span("streaming.body"):
                    batches.append(eid)
                    par_ops(
                        lambda: self._leg("bm25.upsert", lambda: bm25_index_upsert(
                            batch.select("doc_id", "text"), bp, epoch=eid)),
                        lambda: self._leg("ann.upsert", lambda: ann_index_upsert(
                            batch.select(F.col("doc_id").alias("vec_id"), "embedding"),
                            ap, epoch=eid, quantizers=quant)),
                    )

            with tr.span("index.ingest", cpu=True) as sp:
                quant = load_ann_quantizers(spark, ap)
                schema = spark.read.parquet(self.arrivals).schema
                with tr.span("streaming.stream") as st:
                    q = (spark.readStream.schema(schema)
                         .option("maxFilesPerTrigger", 1).parquet(self.arrivals)
                         .writeStream.foreachBatch(ingest_both)
                         .option("checkpointLocation", f"{work}/ckpt")
                         .trigger(availableNow=True).start())
                    q.awaitTermination()
            timed.append(sp)
            self.batch_walls.append(st["dur"] / max(len(batches), 1))
            st["counts"]["batches"] = len(batches)
            if len(batches) != ARRIVAL_FILES:
                self.problems.append(f"{len(batches)} micro-batches, want {ARRIVAL_FILES}")

            with tr.span("check"):
                self._parity(hybrid_index_parity(spark, bp, ap).first(), "after the stream")
                if self.reference is None:
                    self.reference = {p: self._search_rows(
                        hybrid_index_search(spark, emb, bp, ap, probe=p)) for p in self.probes}

            with tr.span("index.maintain", cpu=True) as sp:
                par_ops(
                    lambda: self._leg("bm25.compact", lambda: bm25_index_compact(spark, bp)),
                    lambda: self._leg("ann.compact", lambda: ann_index_compact(spark, ap)),
                )
                with tr.span("hybrid.parity"):
                    row = hybrid_index_parity(spark, bp, ap).first()
            timed.append(sp)

            with tr.span("check"):
                self._parity(row, "after maintenance")
                for t in (f"{bp}_postings", f"{ap}_codes"):
                    if next_epoch(spark, t) != 0:
                        self.problems.append(f"{t}: next_epoch is not 0 after compaction")

            with tr.span("index.serve", cpu=True) as sp:
                after = {}
                for p in self.probes:
                    with tr.span("hybrid.search") as s1:
                        with tr.span("hybrid.search.construct"):
                            df = hybrid_index_search(spark, emb, bp, ap, probe=p)
                        with tr.span("hybrid.search.collect"):
                            after[p] = self._search_rows(df)
                    self.search_walls.append(s1["dur"])
                    if self.run.trace:
                        self.catalyst_ms.append(spans.catalyst_ms(df))
            timed.append(sp)

            # The first lifecycle also searches before maintenance; every
            # lifecycle, on the same inputs, must serve what it found.
            for p in self.probes:
                if not after[p]:
                    self.problems.append(f"probe {p}: empty result")
                elif self.reference is not None and after[p] != self.reference[p]:
                    self.problems.append(f"probe {p}: result differs from the pre-maintenance one")
        finally:
            with tr.span("reset"):
                self._drop(bp, ap)
                shutil.rmtree(work, ignore_errors=True)
        return timed

    def _leg(self, name, fn):
        with self.tr.span(name, jobs=False):
            return fn()

    @staticmethod
    def _search_rows(df):
        return sorted(tuple(r) for r in df.collect())

    def _parity(self, row, when: str) -> None:
        if row["n_bm25_only"] != 0 or row["n_ann_only"] != 0:
            self.problems.append(f"parity {when}: {row}")
        if row["n_both"] != N_DOCS:
            self.problems.append(f"parity {when}: {row['n_both']} live docs, want {N_DOCS}")

    def check(self, i: int) -> list[str]:
        return self.problems

    def finish(self) -> list[str]:
        return []

    # -- reporting -----------------------------------------------------

    def e2e_rows(self):
        from statistics import median

        def row(name, xs, note):
            return (name, median(xs), "s", f"median of {len(xs)} {note}")

        return [
            row("index.build_s", self.tr.durations("index.build"), "builds"),
            row("index.ingest_batch_s", self.batch_walls, "streams (wall / micro-batches)"),
            row("index.maintain_s", self.tr.durations("index.maintain"), "windows"),
            row("index.search_s", self.search_walls, "searches"),
        ]

    def layer_rows(self, tr, att):
        from statistics import median

        def jobs(name):
            return median([att["incl"][s["id"]].get("jobs", 0)
                           for s in spans.named(tr.spans, name)])

        rows = [(leg + "_s", median(tr.durations(leg)), "s") for leg in (
            "bm25.build", "ann.build", "bm25.upsert", "ann.upsert",
            "bm25.compact", "ann.compact")]
        # one stream per timed operation, paired with that operation's bodies
        streams = [g[0]["dur"] for g in spans.under_ops(tr.spans, "streaming.stream")]
        bodies = spans.per_op(tr.spans, "streaming.body")
        rows += [
            ("index.build.jobs", jobs("index.build"), "count"),
            ("index.upsert.jobs", median(
                spans.per_op(tr.spans, "streaming.body",
                             lambda s: att["incl"][s["id"]].get("jobs", 0))), "count"),
            ("index.compact.jobs", jobs("index.maintain") - jobs("hybrid.parity"), "count"),
            ("streaming.body_s", median(tr.durations("streaming.body")), "s"),
            ("streaming.trigger_overhead_s",
             median([s - b for s, b in zip(streams, bodies, strict=True)]), "s"),
            ("hybrid.search.construct_s", median(tr.durations("hybrid.search.construct")), "s"),
            ("hybrid.search.collect_s", median(tr.durations("hybrid.search.collect")), "s"),
            ("hybrid.search.jobs", jobs("hybrid.search"), "count"),
            ("hybrid.parity_s", median(tr.durations("hybrid.parity")), "s"),
            ("plans.catalyst_ms", median(self.catalyst_ms), "ms"),
        ]
        return rows
