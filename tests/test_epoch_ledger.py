"""Multi-writer epoch safety + compaction crash recovery.

The round-9 exactly-once ingest made REPLAYS safe (epoch partition =
idempotency key) but left auto-epoch minting read-then-write: two
concurrent batch jobs reading the same max(epoch) would mint the same
id and the second dynamic partition overwrite silently replaces the
first's rows. ``claim_epoch`` turns the mint into an atomic
create-if-absent ledger commit; these tests pin the no-lost-update
property, ledger survival across compaction, the selective tombstone
truncate (a delete landing mid-compaction is never wiped unpurged),
and the interrupted-swap auto-recovery."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from admob_data_pipeline_spark.operators import ann_index, similarity
from admob_data_pipeline_spark.sinks import writers
from admob_data_pipeline_spark.sources.tables import load_table


@pytest.fixture()
def epoch_table(spark, tmp_path):
    """A tiny epoch-partitioned bucketed table + cleanup. Its location is
    a child of ``tmp_path``: compaction and the crash tests write
    siblings of it."""
    out = str(tmp_path / "t")
    table = "epoch_ledger_t"
    base = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    writers.write_epoch_bucketed(base, table, key="k", n_buckets=4, path=out)
    yield table
    for t in (table, f"{table}__old", f"{table}__compact"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _delta(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )


def test_concurrent_claims_mint_distinct_epochs(spark, epoch_table):
    """The lost-update scenario: two writers mint BEFORE either has
    written its partition (so SHOW PARTITIONS shows the same max to
    both). next_epoch would hand both the same id; claim_epoch's atomic
    marker makes the second mint remint — and both partitions land."""
    e1 = writers.claim_epoch(spark, epoch_table)
    # no partition written yet — a concurrent writer reads the same
    # partition list; the ledger alone must force a different id
    e2 = writers.claim_epoch(spark, epoch_table)
    assert e1 != e2
    writers.overwrite_epoch_partition(
        _delta(spark, 100, 110), epoch_table, "k", 4, e1
    )
    writers.overwrite_epoch_partition(
        _delta(spark, 200, 210), epoch_table, "k", 4, e2
    )
    got = {
        r["k"] for r in spark.table(epoch_table).where("k >= 100").collect()
    }
    assert got == set(range(100, 110)) | set(range(200, 210))


def test_claim_epoch_is_dense_for_sequential_writers(spark, epoch_table):
    """A single sequential writer sees the same ids next_epoch would
    have assigned — the ledger is free when there is no contention."""
    e1 = writers.claim_epoch(spark, epoch_table)
    writers.overwrite_epoch_partition(
        _delta(spark, 100, 105), epoch_table, "k", 4, e1
    )
    e2 = writers.claim_epoch(spark, epoch_table)
    assert (e1, e2) == (0, 1)


def test_ledger_survives_compaction(spark, epoch_table):
    """Compaction folds partitions to the base epoch; without the
    ledger carry a post-compaction mint would reuse an old id (whose
    replay contract is void after the fold). The ledger rides the swap,
    so ids stay monotonic."""
    e1 = writers.claim_epoch(spark, epoch_table)
    writers.overwrite_epoch_partition(
        _delta(spark, 100, 105), epoch_table, "k", 4, e1
    )
    writers.compact_bucketed_table(
        spark,
        epoch_table,
        key="k",
        n_buckets=4,
        fold_partition=("epoch", writers.BASE_EPOCH),
    )
    assert writers.next_epoch(spark, epoch_table) == 0  # folded
    assert writers.claim_epoch(spark, epoch_table) > e1  # ledger carried


def test_purge_applied_tombstones_keeps_late_deletes(spark):
    """The resurrection race: a tombstone appended AFTER the compaction
    pinned its snapshot must survive the purge (its rows were never
    anti-joined). The file-pinned purge deletes ONLY snapshot files —
    there is no read-then-overwrite window at all: a delete landing at
    ANY point after the pin lands in new part-files the purge never
    touches."""
    tomb = "purge_tomb_t"
    spark.createDataFrame(
        [(1, 0), (2, 0)], "doc_id bigint, deleted_at_epoch bigint"
    ).write.mode("overwrite").format("parquet").saveAsTable(tomb)
    try:
        snap, files = writers.snapshot_tombstones(
            spark, tomb, "doc_id bigint, deleted_at_epoch bigint"
        )
        assert sorted(r["doc_id"] for r in snap.collect()) == [1, 2]
        # the late delete lands between the pin and the purge
        spark.createDataFrame(
            [(3, 1)], "doc_id bigint, deleted_at_epoch bigint"
        ).write.mode("append").format("parquet").saveAsTable(tomb)
        # the pinned snapshot is immutable: it still reads 2 rows
        assert snap.count() == 2
        assert writers.purge_applied_tombstones(spark, tomb, files) == len(files)
        assert spark.table(tomb).count() == 1
        assert [r["doc_id"] for r in spark.table(tomb).collect()] == [3]
        # crash-retry convergence: re-purging the same file list is a
        # no-op (files already gone), survivors untouched
        assert writers.purge_applied_tombstones(spark, tomb, files) == 0
        assert spark.table(tomb).count() == 1
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tomb}")


def test_recover_completes_interrupted_swap(spark, epoch_table):
    """Crash between the two swap renames: live name unresolvable, data
    complete under __old AND __compact. recover_compaction finishes the
    swap; the next read sees the compacted rows."""
    rows_before = sorted(
        (r["k"], r["v"]) for r in spark.table(epoch_table).collect()
    )
    # stage the compacted copy the way compact_bucketed_table does
    loc = writers.table_location(spark, epoch_table)
    tmp = f"{epoch_table}__compact"
    spark.table(epoch_table).write.mode("overwrite").bucketBy(
        4, "k"
    ).sortBy("k").format("parquet").option(
        "path", f"{loc.rstrip('/')}__crash"
    ).partitionBy("epoch").saveAsTable(tmp)
    # simulate the crash point: first rename done, second never ran
    spark.sql(f"ALTER TABLE {epoch_table} RENAME TO {epoch_table}__old")
    assert not spark.catalog.tableExists(epoch_table)
    assert writers.recover_compaction(spark, epoch_table) == "completed_swap"
    assert spark.catalog.tableExists(epoch_table)
    assert not spark.catalog.tableExists(f"{epoch_table}__old")
    rows_after = sorted(
        (r["k"], r["v"]) for r in spark.table(epoch_table).collect()
    )
    assert rows_after == rows_before


def test_recover_reaps_stale_old_table(spark, epoch_table):
    """Crash after the second rename but before the old-table reap:
    live table fine, a stale __old lingers. Recovery drops it and
    leaves the live rows untouched."""
    loc = writers.table_location(spark, epoch_table)
    stale = f"{epoch_table}__old"
    spark.range(1).select(
        F.col("id").alias("k"), F.col("id").alias("v")
    ).write.mode("overwrite").format("parquet").option(
        "path", f"{loc.rstrip('/')}__stale"
    ).saveAsTable(stale)
    n = spark.table(epoch_table).count()
    assert writers.recover_compaction(spark, epoch_table) == "dropped_old"
    assert not spark.catalog.tableExists(stale)
    assert spark.table(epoch_table).count() == n


def test_recover_noop_on_clean_state(spark, epoch_table):
    assert writers.recover_compaction(spark, epoch_table) == "clean"


def test_delete_before_first_upsert_keeps_base_history(spark, sf_dir):
    """ADVICE r9: a delete issued while only the base layer exists used
    to be stamped BASE_EPOCH, so an as-of read AT the build epoch saw it
    — base history changed. The stamp now floors at epoch 0: the delete
    is attributed to the open ingest window, current reads mask it,
    and the build-epoch snapshot stays pristine."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ann_base_del_")
    prefix = "ann_idx_basedel"
    try:
        ann_index.ann_index_build(emb, prefix, out)
        before = ann_index.ann_index_search(
            emb, similarity.QUERY_IDS, prefix, as_of_epoch=writers.BASE_EPOCH
        ).collect()
        victims = {r.vec_id for r in before[:3]}
        ann_index.ann_index_delete(
            spark,
            spark.createDataFrame(
                [(int(v),) for v in victims], "vec_id bigint"
            ),
            prefix,
        )
        stamps = {
            r["deleted_at_epoch"]
            for r in spark.table(f"{prefix}_tombstones").collect()
        }
        assert stamps == {0}
        base_view = ann_index.ann_index_search(
            emb, similarity.QUERY_IDS, prefix, as_of_epoch=writers.BASE_EPOCH
        ).collect()
        assert base_view == before  # build-epoch history immutable
        current = ann_index.ann_index_search(
            emb, similarity.QUERY_IDS, prefix
        ).collect()
        assert not victims & {r.vec_id for r in current}
    finally:
        for t in ("centroids", "codebooks", "codes", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
        shutil.rmtree(out, ignore_errors=True)


def test_should_compact_policy(spark, sf_dir):
    """The manifest-driven compaction trigger: fires once any epoch-
    partitioned table exceeds the epoch budget, ignores non-epoch
    tables (n_epochs NULL/0), and is quiet on a fresh index."""
    rows = [
        {"table_name": "codes", "n_epochs": 1},
        {"table_name": "centroids", "n_epochs": None},
    ]
    assert not writers.should_compact(rows)
    rows[0]["n_epochs"] = 17
    assert writers.should_compact(rows, max_epochs=16)
    assert not writers.should_compact(rows, max_epochs=32)


def test_recover_reaps_stale_compact_copy(spark, epoch_table):
    """Crash after the staging write but before the first rename: the
    live table never moved, but a full-size __compact copy lingers.
    Recovery must drop it WITH its data files — a bare DROP of the
    external table would orphan the directory on disk forever."""
    loc = writers.table_location(spark, epoch_table)
    stale_loc = f"{loc.rstrip('/')}__stalecompact"
    spark.range(5).select(
        F.col("id").alias("k"), F.col("id").alias("v")
    ).write.mode("overwrite").format("parquet").option(
        "path", stale_loc
    ).saveAsTable(f"{epoch_table}__compact")
    n = spark.table(epoch_table).count()
    assert (
        writers.recover_compaction(spark, epoch_table)
        == "reaped_stale_compact"
    )
    assert not spark.catalog.tableExists(f"{epoch_table}__compact")
    fs, p = writers._fs_and_path(spark, stale_loc)
    assert not fs.exists(p)  # files reclaimed, not orphaned
    assert spark.table(epoch_table).count() == n


# ---------------------------------------------------------------------------
# Interleaved delete-during-compact, all three index families: a delete
# that lands AFTER the compaction pinned its tombstone snapshot (i.e.
# concurrent with the rewrites or the purge itself) must never be lost.
# The file-pinned purge guarantees it structurally — appends create new
# part-files, the purge deletes only pre-enumerated ones.
# ---------------------------------------------------------------------------

_FAMILIES = {
    "ann": dict(
        input_table="embeddings",
        key="vec_id",
        data_table="codes",
        tables=("centroids", "codebooks", "codes", "tombstones"),
    ),
    "dedup": dict(
        input_table="documents",
        key="doc_id",
        data_table="shingles",
        tables=("bands", "shingles", "shsizes", "banned", "tombstones"),
    ),
    "bm25": dict(
        input_table="documents",
        key="doc_id",
        data_table="postings",
        tables=("postings", "doclen", "stats", "positions", "tombstones"),
    ),
}


@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_delete_during_compact_never_lost(
    spark, sf_dir, monkeypatch, family
):
    """Zero tombstone loss under an interleaved delete: victim A is
    deleted before the compact, victim B's delete is injected right
    after the snapshot pin (mid-compaction). After the compact, A is
    physically purged and its tombstone dropped, while B's tombstone
    SURVIVES (rows still masked logically); the next quiet compact
    purges B physically and drains the tombstone table."""
    from admob_data_pipeline_spark.operators import (
        dedup_index,
        retrieval_index,
    )

    mod, build, delete, compact = {
        "ann": (
            ann_index,
            ann_index.ann_index_build,
            ann_index.ann_index_delete,
            ann_index.ann_index_compact,
        ),
        "dedup": (
            dedup_index,
            dedup_index.dedup_index_build,
            dedup_index.dedup_index_delete,
            dedup_index.dedup_index_compact,
        ),
        "bm25": (
            retrieval_index,
            retrieval_index.bm25_index_build,
            retrieval_index.bm25_index_delete,
            retrieval_index.bm25_index_compact,
        ),
    }[family]
    cfg = _FAMILIES[family]
    key = cfg["key"]
    src = load_table(spark, sf_dir, cfg["input_table"])
    prefix = f"interleave_{family}"
    out = tempfile.mkdtemp(prefix=f"interleave_{family}_")
    try:
        build(src, prefix, out)
        ids = [r[0] for r in src.select(key).limit(3).collect()]
        a_ids, b_id = ids[:2], ids[2]

        def ids_df(vals):
            return spark.createDataFrame(
                [(int(v),) for v in vals], f"{key} bigint"
            )

        delete(spark, ids_df(a_ids), prefix)

        fired = {"n": 0}
        real_snapshot = writers.snapshot_tombstones

        def snapshot_then_concurrent_delete(sp, tomb_table, schema):
            snap = real_snapshot(sp, tomb_table, schema)
            if fired["n"] == 0:  # only on the FIRST compact
                fired["n"] = 1
                delete(spark, ids_df([b_id]), prefix)
            return snap

        monkeypatch.setattr(
            mod, "snapshot_tombstones", snapshot_then_concurrent_delete
        )
        compact(spark, prefix)

        tomb = spark.table(f"{prefix}_tombstones")
        assert [r[key] for r in tomb.collect()] == [b_id]  # B survived
        data = spark.table(f"{prefix}_{cfg['data_table']}")
        assert data.where(F.col(key).isin(a_ids)).count() == 0  # A purged
        assert data.where(F.col(key) == b_id).count() > 0  # B only logical

        compact(spark, prefix)  # quiet pass: B purges physically
        assert spark.table(f"{prefix}_tombstones").count() == 0
        assert (
            spark.table(f"{prefix}_{cfg['data_table']}")
            .where(F.col(key) == b_id)
            .count()
            == 0
        )
    finally:
        for t in cfg["tables"]:
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
        shutil.rmtree(out, ignore_errors=True)


def test_catalog_arbiter_survives_non_atomic_fs_create(
    spark, epoch_table, monkeypatch
):
    """S3A fallback: on a store whose create-if-absent is HEAD-then-PUT
    (not conditional), two racing writers can BOTH think they created
    the marker — simulated by forcing the fs commit point to always
    report success. Under the default fs arbiter that mints a duplicate
    epoch (the hazard); under the catalog arbiter the metastore CREATE
    TABLE is the mutex, so the ids stay distinct on ANY object store."""
    # the S3A HEAD-then-PUT shape: the write always lands and reports
    # success — only the create-if-absent precondition is missing
    def head_then_put(fs, p):
        fs.create(p, True).close()
        return True

    monkeypatch.setattr(writers, "_fs_create_marker", head_then_put)
    loc = writers.table_location(spark, epoch_table).rstrip("/")
    ledger = f"{loc}/{writers.EPOCH_LEDGER_DIR}"
    fs, _ = writers._fs_and_path(spark, ledger)
    # hazard pin: two writers racing on the same candidate id both
    # "win" the broken fs create — the duplicate-epoch lost-update
    _, m = writers._fs_and_path(spark, f"{ledger}/epoch-777")
    assert head_then_put(fs, m) and head_then_put(fs, m)

    # catalog arbiter under the SAME broken fs: writer B attempts the
    # identical candidate while A is inside its critical section (claim
    # table held, marker not yet written) — the metastore mutex must
    # make B lose at the worst possible instant
    b_result = {}
    real_put = head_then_put

    def put_with_interleaved_rival(fs_, p_):
        if "won" not in b_result:
            b_result["won"] = True  # break re-entry before the rival runs
            b_result["won"] = writers._claim_via_catalog(
                spark, epoch_table, ledger, fs, 778
            )
        return real_put(fs_, p_)

    monkeypatch.setattr(
        writers, "_fs_create_marker", put_with_interleaved_rival
    )
    assert writers._claim_via_catalog(spark, epoch_table, ledger, fs, 778)
    assert b_result["won"] is False  # rival lost inside the window
    # no claim-table litter after the claims resolved
    leftover = [
        t.name
        for t in spark.catalog.listTables()
        if "__epoch_claim_" in t.name
    ]
    assert leftover == []
    # end-to-end: catalog-arbitrated claim_epoch mints distinct ids
    spark.conf.set(writers.EPOCH_ARBITER_CONF, "catalog")
    monkeypatch.setattr(writers, "_fs_create_marker", real_put)
    try:
        c1 = writers.claim_epoch(spark, epoch_table)
        c2 = writers.claim_epoch(spark, epoch_table)
        assert c1 != c2
    finally:
        spark.conf.unset(writers.EPOCH_ARBITER_CONF)


def test_catalog_arbiter_skips_recorded_markers(spark, epoch_table):
    """A claim table is dropped once the marker lands; a later claimant
    of the same id must lose on the MARKER check (not re-win the
    create) — otherwise a dropped mutex would let an id be reminted."""
    spark.conf.set(writers.EPOCH_ARBITER_CONF, "catalog")
    try:
        e1 = writers.claim_epoch(spark, epoch_table)
        loc = writers.table_location(spark, epoch_table).rstrip("/")
        fs, marker = writers._fs_and_path(
            spark, f"{loc}/{writers.EPOCH_LEDGER_DIR}/epoch-{e1}"
        )
        assert fs.exists(marker)  # durable record written by the winner
        e2 = writers.claim_epoch(spark, epoch_table)
        assert e2 == e1 + 1
    finally:
        spark.conf.unset(writers.EPOCH_ARBITER_CONF)


def test_vacuum_stale_epoch_claims(spark, epoch_table):
    """A crash inside the catalog mint (a killed PROCESS — no finally
    runs) strands the empty claim table. Vacuum reaps it; an id whose
    marker never landed becomes claimable again (it was never returned
    to any caller), while a marker-recorded id stays burned."""
    spark.conf.set(writers.EPOCH_ARBITER_CONF, "catalog")
    try:
        e1 = writers.claim_epoch(spark, epoch_table)  # clean claim
        # the process-kill litter: mutex table present, marker absent
        spark.sql(
            f"CREATE TABLE {epoch_table}__epoch_claim_{e1 + 1} (i INT)"
            " USING parquet"
        )
        # under the default staleness fence a YOUNG un-markered table is
        # indistinguishable from a live mutex — vacuum must leave it
        assert writers.vacuum_stale_epoch_claims(spark, epoch_table) == []
        # quiesced-writers mode (min_age_sec=0) reaps it
        dropped = writers.vacuum_stale_epoch_claims(
            spark, epoch_table, min_age_sec=0
        )
        assert dropped == [f"{epoch_table}__epoch_claim_{e1 + 1}"]
        # the un-markered id is claimable again
        assert writers.claim_epoch(spark, epoch_table) == e1 + 1
        # a marker-recorded id stays burned after vacuum (nothing to
        # drop, next claim moves past it)
        assert (
            writers.vacuum_stale_epoch_claims(
                spark, epoch_table, min_age_sec=0
            )
            == []
        )
        assert writers.claim_epoch(spark, epoch_table) == e1 + 2
    finally:
        spark.conf.unset(writers.EPOCH_ARBITER_CONF)


def test_vacuum_never_drops_a_live_claim(spark, epoch_table, monkeypatch):
    """The racing case the staleness fence exists for: a vacuum fires
    INSIDE a live mint's critical section (mutex table created, marker
    not yet written). The live claim must survive the default-fenced
    vacuum — dropping it would let a rival remint the id — and the mint
    must complete normally afterward. A marker-RECORDED claim table
    (crash between marker write and drop) is reaped even mid-race: the
    id is durably burned, the table is pure litter."""
    spark.conf.set(writers.EPOCH_ARBITER_CONF, "catalog")
    loc = writers.table_location(spark, epoch_table).rstrip("/")
    fs, _ = writers._fs_and_path(spark, loc)
    real_put = writers._fs_create_marker
    vac_log = {}

    def vacuum_mid_claim(fs_, p_):
        # the adversarial interleave: a concurrent janitor runs NOW,
        # while this mint's claim table is the live mutex
        vac_log["dropped"] = writers.vacuum_stale_epoch_claims(
            spark, epoch_table
        )
        vac_log["mutex_alive"] = any(
            "__epoch_claim_" in t.name for t in spark.catalog.listTables()
        )
        return real_put(fs_, p_)

    try:
        monkeypatch.setattr(writers, "_fs_create_marker", vacuum_mid_claim)
        e = writers.claim_epoch(spark, epoch_table)
        assert vac_log["dropped"] == []  # the live mutex survived
        assert vac_log["mutex_alive"]
        monkeypatch.setattr(writers, "_fs_create_marker", real_put)
        _, marker = writers._fs_and_path(
            spark, f"{loc}/{writers.EPOCH_LEDGER_DIR}/epoch-{e}"
        )
        assert fs.exists(marker)  # the interrupted mint completed
        # and no rival can remint e: the next claim moves past it
        assert writers.claim_epoch(spark, epoch_table) == e + 1
        # marker-recorded litter (crash after the durable record) is
        # reaped even under the default fence, with zero age
        spark.sql(
            f"CREATE TABLE {epoch_table}__epoch_claim_{e} (i INT)"
            " USING parquet"
        )
        assert writers.vacuum_stale_epoch_claims(spark, epoch_table) == [
            f"{epoch_table}__epoch_claim_{e}"
        ]
    finally:
        spark.conf.unset(writers.EPOCH_ARBITER_CONF)


def test_compaction_preserves_column_order(spark, sf_dir):
    """A USING join moves its key to column 0, so the anti-join rewrite
    used to PERMUTE the compacted table's schema — harmless to by-name
    readers, fatal to the positional insertInto every epoch ingest uses
    when it resumes after a maintenance window (type error when
    neighbouring columns differ, silent corruption when they don't).
    Found by streaming_bm25_maintained; the rewrite now re-selects the
    declared order, and a post-compact upsert must land cleanly."""
    from admob_data_pipeline_spark.operators import retrieval_index as ri

    docs = load_table(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="compact_order_")
    prefix = "compact_order_t"
    try:
        ri.bm25_index_build(
            docs.where(F.col("doc_id") % 4 != 3), prefix, out
        )
        before = spark.table(f"{prefix}_postings").columns
        ri.bm25_index_delete(
            spark,
            docs.where(F.col("doc_id") % 10 == 5).select("doc_id"),
            prefix,
        )
        ri.bm25_index_compact(spark, prefix)  # anti-join rewrite
        assert spark.table(f"{prefix}_postings").columns == before
        # ingest resumed after the maintenance window must not permute
        ri.bm25_index_upsert(
            docs.where(F.col("doc_id") % 4 == 3), prefix, epoch=0
        )
        got = spark.table(f"{prefix}_postings")
        assert got.columns == before
        assert (
            got.where(F.col("epoch") == 0)
            .where(F.col("doc_id").isNull())
            .count()
            == 0
        )
    finally:
        for t in ("postings", "doclen", "stats", "positions", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
        shutil.rmtree(out, ignore_errors=True)


def test_reader_snapshot_during_compaction_swap(spark, epoch_table, monkeypatch):
    """READER guarantee across the two-rename compaction swap, probed
    at the worst instant (between the renames, injected via a SQL
    hook): (a) a read completed before the swap sees the old snapshot;
    (b) a reader RESOLVING inside the rename window gets a clean,
    retryable TABLE_OR_VIEW_NOT_FOUND — never a data-file
    FileNotFound, never a partial mix — while the full old snapshot
    stays readable under the ``__old`` name; (c) a reader resolving
    after the swap sees exactly the complete logical row set. The
    documented residual: a long scan that resolved its file index
    BEFORE the swap dies at the final old-file delete — schedule
    compaction in a maintenance window or on a snapshot-isolated
    store."""
    writers.overwrite_epoch_partition(
        _delta(spark, 100, 110), epoch_table, "k", 4, 0
    )
    before = {(r["k"], r["v"]) for r in spark.table(epoch_table).collect()}
    probes: dict = {}
    real_sql = type(spark).sql
    second_rename = f"ALTER TABLE {epoch_table}__compact RENAME TO {epoch_table}"

    def probing_sql(self, q, *a, **k):
        if q.strip() == second_rename and "mid" not in probes:
            probes["mid"] = "resolved"  # break re-entry
            try:
                self.table(epoch_table).collect()
            except Exception as ex:
                probes["mid"] = type(ex).__name__
                probes["msg"] = str(ex)[:300]
            # the full old snapshot is still served under __old: no
            # instant exists at which committed rows are unreachable
            probes["old_rows"] = {
                (r["k"], r["v"])
                for r in self.table(f"{epoch_table}__old").collect()
            }
        return real_sql(self, q, *a, **k)

    monkeypatch.setattr(type(spark), "sql", probing_sql)
    try:
        writers.compact_bucketed_table(
            spark,
            epoch_table,
            key="k",
            n_buckets=4,
            fold_partition=("epoch", writers.BASE_EPOCH),
        )
    finally:
        monkeypatch.setattr(type(spark), "sql", real_sql)
    assert probes["mid"] == "AnalysisException", probes
    assert "TABLE_OR_VIEW_NOT_FOUND" in probes["msg"], probes["msg"]
    assert probes["old_rows"] == before
    after = {(r["k"], r["v"]) for r in spark.table(epoch_table).collect()}
    assert after == before


def test_concurrent_epoch_writers_static_session(spark, epoch_table):
    """The hybrid lifecycle overlaps the bm25 and ann ingests of one
    batch on ONE session. On a session left at the default
    partitionOverwriteMode="static" (the driver's vanilla session), the
    old save/restore toggle was a race: the first writer's restore
    flipped the second's in-flight insertInto back to static, which
    wipes every other epoch of its table. The refcounted toggle keeps
    the conf "dynamic" until the LAST overlapped writer exits.

    Layer 1 pins the refcount semantics deterministically (the exact
    interleave that lost data: A enters, B enters, A exits, B writes);
    layer 2 runs two genuinely threaded writers to distinct tables and
    asserts no partition was lost and the conf was restored."""
    import os
    from concurrent.futures import ThreadPoolExecutor

    conf_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf_key, "static")
    spark.conf.set(conf_key, "static")
    try:
        # -- layer 1: the lost-update interleave, step by step
        cm_a = writers._dynamic_partition_overwrite(spark)
        cm_b = writers._dynamic_partition_overwrite(spark)
        cm_a.__enter__()
        cm_b.__enter__()
        cm_a.__exit__(None, None, None)
        # old behaviour restored "static" HERE, while B is mid-write
        assert spark.conf.get(conf_key) == "dynamic"
        cm_b.__exit__(None, None, None)
        assert spark.conf.get(conf_key) == "static"

        # -- layer 2: two threaded writers, distinct tables
        out2 = tempfile.mkdtemp(prefix="epoch_ledger_t2_")
        table2 = "epoch_ledger_t2"
        writers.write_epoch_bucketed(
            _delta(spark, 0, 20), table2, key="k", n_buckets=4, path=out2
        )
        try:
            with ThreadPoolExecutor(max_workers=2) as pool:
                f1 = pool.submit(
                    writers.overwrite_epoch_partition,
                    _delta(spark, 100, 110),
                    epoch_table,
                    "k",
                    4,
                    1,
                )
                f2 = pool.submit(
                    writers.overwrite_epoch_partition,
                    _delta(spark, 200, 210),
                    table2,
                    "k",
                    4,
                    1,
                )
                f1.result()
                f2.result()
            # base epoch survived on BOTH tables (static-mode overwrite
            # would have wiped it), the new epoch landed on both
            for t, lo in ((epoch_table, 100), (table2, 200)):
                eps = {
                    int(r["epoch"])
                    for r in spark.table(t).select("epoch").distinct().collect()
                }
                assert eps == {writers.BASE_EPOCH, 1}, (t, eps)
                n = spark.table(t).count()
                assert n == 30, (t, n)
            assert spark.conf.get(conf_key) == "static"
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table2}")
            shutil.rmtree(out2, ignore_errors=True)
    finally:
        spark.conf.set(conf_key, prev)
