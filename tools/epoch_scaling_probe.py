"""Epoch-count scaling probe for the persisted ANN index (round-10
verdict item 5): does `ann_index_search` wall degrade with the number
of ingest epochs at FIXED logical content?

Builds the index over the base slice, then ingests the held-out delta
two ways — as ONE epoch vs as MANY tiny epochs (default 100) — and
measures search wall (min of N) against each, plus against the
many-epoch table AFTER compaction. The deltas are identical rows, so
any spread is pure physical-layout overhead: partition discovery,
per-epoch file listing, small-file scan setup.

Usage: python tools/epoch_scaling_probe.py [sf_dir] [n_epochs]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from admob_data_pipeline_spark.operators import ann_index, similarity
from admob_data_pipeline_spark.session import get_spark
from admob_data_pipeline_spark.sinks import writers
from admob_data_pipeline_spark.sources.tables import load_table

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
N_EPOCHS = int(sys.argv[2]) if len(sys.argv) > 2 else 100
REPS = 3


def search_wall(spark, emb, prefix):
    walls = []
    for _ in range(REPS):
        t0 = time.time()
        ann_index.ann_index_search(
            emb, similarity.QUERY_IDS, prefix
        ).collect()
        walls.append(time.time() - t0)
    return min(walls)


def n_files(spark, table):
    return (
        spark.table(table).select(F.input_file_name()).distinct().count()
    )


def main():
    import shutil
    import tempfile

    spark = get_spark("epoch-scaling-probe")
    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.where(F.col("vec_id") % 4 != 3)
    delta = emb.where(F.col("vec_id") % 4 == 3)
    out = {}

    for label, n_ep in (("one_epoch", 1), (f"{N_EPOCHS}_epochs", N_EPOCHS)):
        tmp = tempfile.mkdtemp(prefix=f"epoch_probe_{n_ep}_")
        prefix = f"ann_probe_{n_ep}"
        try:
            ann_index.ann_index_build(base, prefix, tmp)
            for e in range(n_ep):
                # delta rows are vec_id ≡ 3 (mod 4); split on the
                # QUOTIENT so every epoch is non-empty (vec_id % n_ep
                # would leave 3/4 of the epochs empty and mislabel the
                # measurement — caught in the round-10 self-review)
                ann_index.ann_index_upsert(
                    delta.where(F.expr(f"pmod(vec_id div 4, {n_ep})") == e),
                    prefix,
                    epoch=e,
                )
            table = f"{prefix}_codes"
            out[label] = {
                "search_wall_s": round(search_wall(spark, emb, prefix), 3),
                "n_files": n_files(spark, table),
                # count what actually landed, never trust the loop bound
                "n_epochs": writers.next_epoch(spark, table),
            }
            if n_ep == N_EPOCHS:
                t0 = time.time()
                ann_index.ann_index_compact(spark, prefix)
                out["compact_wall_s"] = round(time.time() - t0, 3)
                out["after_compact"] = {
                    "search_wall_s": round(
                        search_wall(spark, emb, prefix), 3
                    ),
                    "n_files": n_files(spark, table),
                    "n_epochs": 1,
                }
        finally:
            for t in ("centroids", "codebooks", "codes", "tombstones"):
                spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
            shutil.rmtree(tmp, ignore_errors=True)
    out["sf_dir"] = SF_DIR
    print(json.dumps(out))


if __name__ == "__main__":
    main()
