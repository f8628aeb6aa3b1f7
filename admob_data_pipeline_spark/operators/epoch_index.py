"""The epoch-index core shared by the three persisted index families
(ANN: operators/ann_index.py, BM25: operators/retrieval_index.py,
MinHash dedup: operators/dedup_index.py).

Every family stores its index as catalog tables named
``<prefix>_<suffix>``, lands each ingest batch as an ``epoch``
partition, deletes by appending stamped tombstones and compacts by
folding the epochs back into the base layer. That mutation semantics is
one contract (ARCHITECTURE.md, "Replace / delete contract"), so it is
implemented once here, driven by a frozen :class:`EpochIndex` spec that
each family declares next to its own code: the write half (delete,
compaction) and the read half every index read calls — the as-of view
(:func:`index_view`), the epoch-aware tombstone mask
(:func:`mask_deleted`) and the latest-version mask
(:func:`latest_versions`, :func:`keep_latest`) — and the scheduled
maintenance cycle (:func:`index_autopilot`). The families keep only
what differs: build, encode, which table is their version manifest,
drift and their remedies.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from admob_data_pipeline_spark.operators.util import par_ops
from admob_data_pipeline_spark.sinks.writers import (
    BASE_EPOCH,
    _epochs,
    burn_epoch_id,
    compact_bucketed_table,
    index_manifest,
    next_epoch,
    purge_applied_tombstones,
    should_compact,
)
from admob_data_pipeline_spark.sources.scratch import scratch_dir


@dataclass(frozen=True)
class EpochIndex:
    """What the shared lifecycle needs to know about one index family.

    ``tables``: every ``(suffix, carries_epoch)`` the build creates —
    the manifest rows, the scratch teardown and the build's pre-drop.
    ``key``: the id column the tombstones carry. ``ledger``: the table
    whose newest epoch a delete stamps and whose epoch ledger burns the
    stamp. ``rewrites``: the ``(suffix, bucket key, n_buckets)`` tables
    compaction folds (``None`` key: a plain epoch-partitioned side
    table). ``versions``: the per-key version manifest whose superseded
    ``(key, epoch)`` rows compaction purges as stale versions (``None``
    when re-upserts stamp supersession tombstones instead, as ANN's do);
    it is also the table whose epochs expand the tombstone stamps, the
    ledger table otherwise."""

    name: str
    tables: tuple[tuple[str, bool], ...]
    key: str
    ledger: str
    rewrites: tuple[tuple[str, str | None, int | None], ...]
    versions: str | None = None

    @property
    def tomb_schema(self) -> str:
        return f"{self.key} bigint, deleted_at_epoch bigint"


def drop_index_tables(spark: SparkSession, spec: EpochIndex, prefix: str) -> None:
    for t, _ in spec.tables:
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def write_empty_tombstones(
    spark: SparkSession, spec: EpochIndex, prefix: str, path: str
) -> None:
    """The build's empty tombstone set: deletes are logical until the
    next compaction; each is stamped with the newest ingest epoch at
    issue time, so as-of reads mask only deletes issued up to their
    epoch (back to the last compaction — folding discards that span)."""
    spark.createDataFrame([], spec.tomb_schema).write.mode("overwrite").format(
        "parquet"
    ).option("path", f"{path}/tombstones").saveAsTable(f"{prefix}_tombstones")


def index_delete(
    spark: SparkSession, spec: EpochIndex, ids: DataFrame, prefix: str
) -> None:
    """LOGICAL delete: append ``ids`` to the tombstone set (duplicates
    harmless — anti-join semantics make the append replay-safe). The
    stamp is the newest ingest epoch at issue time, never below epoch
    0: a delete issued while only the base layer exists belongs to the
    open ingest window, so an as-of read at BASE_EPOCH always sees the
    pristine build. The stamp id is BURNED in the ledger, so a later
    auto-minted ingest epoch is strictly greater and re-ingesting the
    key RESURRECTS it (the epoch-aware mask) instead of landing at
    epoch == stamp."""
    ledger = f"{prefix}_{spec.ledger}"
    stamp = max(next_epoch(spark, ledger) - 1, BASE_EPOCH + 1)
    burn_epoch_id(spark, ledger, stamp)
    ids.select(
        F.col(spec.key).cast("long"),
        F.lit(int(stamp)).cast("long").alias("deleted_at_epoch"),
    ).write.mode("append").format("parquet").saveAsTable(f"{prefix}_tombstones")


def index_view(
    spark: SparkSession, prefix: str, *tables: str, as_of_epoch: int | None = None
) -> tuple[DataFrame, ...]:
    """``(*tables, tombstones)`` of the index at ``prefix``, as of
    ``as_of_epoch`` when given: each of ``tables`` (epoch-carrying) is a
    partition-PRUNED scan of ``epoch <= e`` — later ingest epochs are
    never touched, not merely filtered — and only the tombstones stamped
    at-or-before e mask."""
    frames = [spark.table(f"{prefix}_{t}") for t in tables]
    tomb = spark.table(f"{prefix}_tombstones")
    if as_of_epoch is not None:
        e = int(as_of_epoch)
        frames = [f.where(F.col("epoch") <= e) for f in frames]
        tomb = tomb.where(F.col("deleted_at_epoch") <= e)
    return (*frames, tomb)


def mask_deleted(rows: DataFrame, tombstones: DataFrame, key: str) -> DataFrame:
    """Drop the ``rows`` a delete kills. EPOCH-AWARE: a tombstone stamped
    e kills only rows ingested at epoch ≤ e (LSM ordering: later ingest
    wins), so a key re-ingested after its delete resurrects. The
    tombstones broadcast — bounded by deletes (and ANN's supersession
    stamps) per compaction cycle."""
    t = tombstones.select(F.col(key).alias("__t_key"), "deleted_at_epoch")
    return rows.join(
        F.broadcast(t),
        (F.col(key) == F.col("__t_key"))
        & (F.col("epoch") <= F.col("deleted_at_epoch")),
        "left_anti",
    )


def latest_versions(
    manifest: DataFrame,
    key: str,
    value: str | None = None,
    among: DataFrame | None = None,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """``(key, epoch[, value])``: each key's LATEST ingest epoch in the
    version ``manifest`` (one row per ingested version of a key) and that
    version's ``value``. ``among`` first restricts the manifest to its
    ``key`` set (broadcast semi-join), so the rollup reads only those
    rows; the semi-join's hash table drops repeated keys itself, so
    ``among`` is broadcast without a distinct and its exchange job.
    ``tombstones`` keeps only LIVE keys, whose latest epoch is newer
    than their newest stamp. The rollup groups on the key — the
    manifests' bucket key, so no exchange."""
    if among is not None:
        manifest = manifest.join(F.broadcast(among.select(key)), key, "left_semi")
    if value is None:
        latest = manifest.groupBy(key).agg(F.max("epoch").alias("epoch"))
    else:
        m = manifest.groupBy(key).agg(F.max(F.struct("epoch", value)).alias("m"))
        latest = m.select(key, "m.epoch", f"m.{value}")
    if tombstones is None:
        return latest
    stamps = tombstones.groupBy(key).agg(F.max("deleted_at_epoch").alias("st"))
    return (
        latest.join(F.broadcast(stamps), key, "left")
        .where(F.col("st").isNull() | (F.col("epoch") > F.col("st")))
        .drop("st")
    )


def keep_latest(rows: DataFrame, latest: DataFrame, key: str) -> DataFrame:
    """The ``rows`` of each key's latest version: a broadcast semi-join
    on ``(key, epoch)`` against :func:`latest_versions`."""
    return rows.join(
        F.broadcast(latest.select(key, "epoch")), [key, "epoch"], "left_semi"
    )


def index_compact(
    spark: SparkSession, spec: EpochIndex, prefix: str, tombstones: tuple
) -> list:
    """Fold every ingest epoch of ``spec.rewrites`` into the base layer,
    one file per bucket with the bucket specs intact, PURGING what
    serving masks, then drop exactly the tombstone files the purge
    applied. Returns each rewrite's ``(files_before, files_after)`` in
    ``spec.rewrites`` order.

    ``tombstones`` is the ``(rows, files)`` pin that
    :func:`snapshot_tombstones` took of ``<prefix>_tombstones``. The
    family wrapper takes it, through its own module binding, so a test
    can land a delete right after the pin and check it survives.

    The purge is EPOCH-AWARE like the serving masks: a tombstone
    stamped e kills only rows ingested at epoch ≤ e, so the file-pinned
    tombstone snapshot is expanded against the table's (few) epochs —
    literals from its catalog partition list, no scan — into exact
    ``(key, epoch)`` pairs. With a version manifest,
    every ``(key, epoch)`` below the key's latest epoch is a STALE
    version and dies too: the fold moves every row into BASE_EPOCH,
    where no epoch could tell the versions apart any more, so it must
    leave exactly one version per key. Several rewrites run concurrently, and one of them may swap
    out the manifest the stale-version set reads mid-pass, so that set
    is pinned (localCheckpoint — bounded by superseded versions, not by
    index size) whenever there is more than one rewrite; the tombstone
    pairs read only the file-pinned snapshot and literal epochs, which
    no rewrite touches. A delete appended during the pass lands in files
    created after the pin and survives to the next cycle."""
    snap, applied = tombstones
    pin = len(spec.rewrites) > 1
    key = spec.key
    source_table = f"{prefix}_{spec.versions or spec.ledger}"
    source = spark.table(source_table)
    epochs = F.array(*map(F.lit, sorted(set(_epochs(spark, source_table)))))
    pairs = (
        snap.select(
            key,
            "deleted_at_epoch",
            F.explode(epochs.cast("array<bigint>")).alias("epoch"),
        )
        .where(F.col("epoch") <= F.col("deleted_at_epoch"))
        .select(key, "epoch")
    )
    purge = [([key, "epoch"], pairs)]
    if spec.versions is not None:
        stale = (
            source.join(
                source.groupBy(key).agg(F.max("epoch").alias("latest")), key
            )
            .where(F.col("epoch") < F.col("latest"))
            .select(key, "epoch")
        )
        purge.append(([key, "epoch"], stale.localCheckpoint() if pin else stale))

    def rewrite(suffix: str, bucket_key: str | None, n_buckets: int | None):
        return lambda: compact_bucketed_table(
            spark,
            f"{prefix}_{suffix}",
            key=bucket_key,
            n_buckets=n_buckets,
            fold_partition=("epoch", BASE_EPOCH),
            anti=purge,
        )

    thunks = [rewrite(*r) for r in spec.rewrites]
    out = par_ops(*thunks) if pin else [t() for t in thunks]
    purge_applied_tombstones(spark, f"{prefix}_tombstones", applied)
    return out


def ingested_since_build(manifest_rows) -> bool:
    """Whether any ingest landed since the build (or the last
    compaction, which folds every epoch back into the base layer): an
    epoch-carrying table of the :func:`index_manifest` rows spans more
    than one epoch."""
    return any(
        r["n_epochs"] is not None and int(r["n_epochs"]) > 1
        for r in manifest_rows
    )


def index_autopilot(
    spark: SparkSession,
    spec: EpochIndex,
    prefix: str,
    max_epochs: int,
    remedy,
    compact,
) -> list:
    """ONE policy-driven maintenance cycle — the ops loop a deployed
    index runs on a schedule: collect the manifest once, run the
    family's ``remedy(manifest_rows)`` (it returns its action string, or
    nothing when it did not fire), then :func:`should_compact` →
    ``compact(spark, prefix)``, the family's own wrapper (fold epochs,
    purge tombstones, one file per bucket). The remedy runs BEFORE the
    compaction because the drift it repairs lives in the epoch layering
    that compaction folds. Every step is crash-convergent, so the cycle
    can simply be re-invoked after any failure. Returns the action log
    (e.g. ``["refresh_stats", "compact"]``) for the job scheduler."""
    rows = index_manifest(spark, prefix, spec.tables).collect()
    action = remedy(rows)
    actions = [action] if action else []
    if should_compact(rows, max_epochs=max_epochs):
        compact(spark, prefix)
        actions.append("compact")
    return actions


@contextmanager
def scratch_index(spark: SparkSession, *specs: EpochIndex):
    """A throwaway index location: yields ``(dir, prefix, ...)`` — one
    :func:`scratch_dir` and one unique table prefix per spec, tagged with
    the dir's name — and on exit, however the body ends, drops every
    spec table under those prefixes before the dir goes."""
    with scratch_dir() as out:
        prefixes = [f"{s.name}_{os.path.basename(out)}" for s in specs]
        try:
            yield (out, *prefixes)
        finally:
            for s, p in zip(specs, prefixes):
                drop_index_tables(spark, s, p)


def drain_stream(spark: SparkSession, schema, src: str, ckpt: str, body) -> None:
    """Stream the parquet files under ``src`` through ``body(batch,
    batch_id)`` one file per micro-batch (``availableNow``) and block
    until the backlog is drained. The batch id is the idempotency epoch:
    a replayed batch rewrites its own partition (foreachBatch is
    at-least-once)."""
    (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(body)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
