"""Sinks (SURVEY.md §2.1 S4–S10, §2.8 D1) — the reference's output half.

The reference stages CSV/JSONL objects to GCS, bulk-loads them into
BigQuery (append or per-date DELETE+append), and POSTs alerts to Slack.
Here every sink is a Spark writer over one declarative plan:

- S4 CSV sink  → ``write_csv`` (header, optional single-object staging)
- S5 JSONL     → ``write_jsonl`` (spark json writer IS NDJSON)
- S6 GCS       → a path scheme: pass ``gs://bucket/...`` with the GCS
  connector on the classpath; locally a staging dir. No code difference.
- S7 BQ append → ``append_to_table`` (date-partitioned parquet; swap
  ``format('parquet')`` for ``format('bigquery')`` with the connector)
- S8/D1 idempotent per-date reload → ``overwrite_date_partitions``:
  dynamic partition overwrite replaces exactly the dates present in the
  incoming frame — the DELETE WHERE date + append pair
  (native_CTR_alerts.py:182-212; save_network_CSV.py:178-211) as one
  atomic-per-partition write, no read-modify-write race.
- S9 Slack     → ``SlackSink`` (driver-side POST after collect; transport
  injectable — the container has no network)
- S10 empty guard → ``write_if_nonempty`` (main.py:147-149)

Scale notes: daily exports are small relative to the fact table, so the
reference's single-object staging maps to ``coalesce(1)`` on the export
only — the partitioned table write keeps full parallelism and writes one
file set per date partition (partition pruning on read for free).
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import urllib.request
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---- partitionOverwriteMode toggle, made safe for CONCURRENT writers ----
# A per-write ``.option()`` is silently IGNORED by ``insertInto``, so
# dynamic partition overwrite can only be requested via session conf.
# A bare save/restore is session-GLOBAL: with two overlapped writers the
# first writer's restore would flip the second's in-flight insertInto
# back to "static" mid-write, wiping every other partition of its table.
# Refcount the toggle per session instead: the FIRST entering writer
# saves the previous value and sets "dynamic", the LAST exiting writer
# restores — between them the conf is stably "dynamic" for every
# concurrent writer (the hybrid lifecycle overlaps the bm25/ann ingests
# of one batch). On sessions already pinned to "dynamic" (get_spark)
# enter and exit are both no-ops, as before.
_POM_LOCK = threading.Lock()
_POM_STATE: dict[int, list] = {}  # id(session) -> [depth, saved_prev]


@contextlib.contextmanager
def _dynamic_partition_overwrite(spark):
    k = id(spark)
    with _POM_LOCK:
        st = _POM_STATE.get(k)
        if st is None:
            prev = spark.conf.get(
                "spark.sql.sources.partitionOverwriteMode", "static"
            )
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            st = _POM_STATE[k] = [0, prev]
        st[0] += 1
    try:
        yield
    finally:
        with _POM_LOCK:
            st = _POM_STATE[k]
            st[0] -= 1
            if st[0] == 0:
                spark.conf.set(
                    "spark.sql.sources.partitionOverwriteMode", st[1]
                )
                del _POM_STATE[k]


def write_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """S4 — header CSV. ``single_file`` mirrors the reference's one staged
    object per run (save_CSV.py:141-186): only for small exports."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)


def write_jsonl(df: DataFrame, path: str, single_file: bool = False) -> None:
    """S5 — NDJSON; Spark's json writer emits one JSON object per line,
    exactly the reference's ``"\\n".join(json.dumps(r))`` (main.py:89-95)."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").json(path)


def write_orc(df: DataFrame, path: str, single_file: bool = False) -> None:
    """Columnar export in ORC — the second warehouse-native format Spark
    ships a vectorized reader/writer for; rounds out the sink family for
    consumers whose lake standardizes on ORC instead of parquet."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").orc(path)


def append_to_table(df: DataFrame, path: str, partition_col: str = "date") -> None:
    """S7 — WRITE_APPEND + CREATE_IF_NEEDED semantics (main.py:97-109)."""
    df.write.mode("append").partitionBy(partition_col).parquet(path)


def bigquery_writer_options(
    table: str,
    temporary_gcs_bucket: str | None = None,
    write_method: str = "indirect",
    partition_field: str | None = "date",
) -> dict[str, str]:
    """S7 cloud form — option assembly for the public spark-bigquery
    connector, split out pure so it is unit-testable offline.

    ``indirect`` stages parquet in GCS then issues one BigQuery load job —
    the reference's GCS→`load_table_from_uri` pipeline (main.py:97-109) as
    a single writer; ``direct`` uses the BigQuery Storage Write API and
    needs no staging bucket.
    """
    if write_method not in ("direct", "indirect"):
        raise ValueError(f"write_method must be direct|indirect: {write_method!r}")
    if write_method == "indirect" and not temporary_gcs_bucket:
        raise ValueError("indirect BigQuery writes need temporary_gcs_bucket")
    opts = {"table": table, "writeMethod": write_method}
    if temporary_gcs_bucket:
        opts["temporaryGcsBucket"] = temporary_gcs_bucket
    if partition_field:
        opts["partitionField"] = partition_field
        opts["partitionType"] = "DAY"
    return opts


def write_bigquery(
    df: DataFrame,
    table: str,
    temporary_gcs_bucket: str | None = None,
    write_method: str = "indirect",
    partition_col: str = "date",
) -> None:
    """S7 live — ``format('bigquery')`` append with the same call shape as
    :func:`append_to_table`; requires the connector on the classpath
    (session.cloud_conf / SPARK_GRAFT_CLOUD=1). Not reachable offline —
    the parquet stand-in carries the oracle-checked semantics."""
    opts = bigquery_writer_options(
        table, temporary_gcs_bucket, write_method, partition_col
    )
    df.write.format("bigquery").options(**opts).mode("append").save()


def overwrite_date_partitions(
    df: DataFrame, path: str, partition_col: str = "date"
) -> None:
    """S8/D1 — idempotent per-date reload.

    Dynamic partition overwrite replaces ONLY the partitions present in
    ``df`` and leaves every other date untouched — the pure-Spark
    equivalent of the reference's DELETE WHERE date='d' + append
    (native_CTR_alerts.py:182-212), minus the non-atomic window between
    the two BigQuery jobs.
    """
    spark = df.sparkSession
    with _dynamic_partition_overwrite(spark):
        df.write.mode("overwrite").partitionBy(partition_col).parquet(path)


def compact_partitions(
    spark_df_reader,
    path: str,
    dates: list[str],
    partition_col: str = "date",
    target_files: int = 1,
) -> None:
    """Small-files compaction for a date-partitioned table — the daily
    maintenance job a 100 TB table needs (streaming/append writers leave
    many small files per partition; scans pay per-file overhead).

    Rewrites ONLY the named date partitions (dynamic partition overwrite),
    coalesced to ``target_files`` files each. ``spark_df_reader`` is the
    SparkSession to read with (kept explicit for testability).
    """
    df = (
        spark_df_reader.read.parquet(path)
        .where(F.col(partition_col).isin(dates))
        .coalesce(target_files)
    )
    overwrite_date_partitions(df, path, partition_col)


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 32,
    path: str | None = None,
) -> None:
    """Bucketed managed table: co-locates rows by hash(key) at WRITE time
    so repeated joins/aggregations on ``key`` skip their shuffle entirely
    (plan shows no Exchange on the bucketed side — pinned in
    tests/test_bucketing.py).

    This is the 100 TB answer for a fact table joined on the same key by
    every downstream query: pay one shuffle at ingest, never again. Pair
    with ``spark.conf spark.sql.sources.bucketing.enabled`` (default on)
    and equal bucket counts on both join sides.

    ``path`` makes the table EXTERNAL at that location (scratch runs,
    or a lake layout outside the warehouse dir); default is a managed
    warehouse table.
    """
    w = (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


# Epoch partition value for the initial bulk build of an incrementally
# maintained bucketed table (and for compacted rewrites). Incremental
# epochs — batch upserts or streaming micro-batch ids — are >= 0, so the
# base layer can never collide with a replayed ingest epoch.
BASE_EPOCH = -1


def write_epoch_bucketed(
    df: DataFrame,
    table: str,
    key: str | None,
    n_buckets: int | None = None,
    path: str | None = None,
    epoch: int = BASE_EPOCH,
) -> None:
    """Initial build of an epoch-partitioned bucketed table: the layout
    incremental index maintenance needs — hash-bucketed on the serving
    join key (the probe join never shuffles the index side again) AND
    partitioned by ingest ``epoch`` so each later batch lands as its
    own partition via :func:`overwrite_epoch_partition`, making replays
    idempotent. The build writes the ``epoch=BASE_EPOCH`` layer.
    ``key=None`` writes a plain (unbucketed) epoch-partitioned table —
    for small side tables that ride along with a bucketed index."""
    w = (
        df.withColumn("epoch", F.lit(int(epoch)).cast("long"))
        .write.mode("overwrite")
        .partitionBy("epoch")
    )
    if key is not None:
        w = w.bucketBy(n_buckets, key).sortBy(key)
    w = w.format("parquet")
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def overwrite_epoch_partition(
    df: DataFrame,
    table: str,
    key: str | None,
    n_buckets: int | None,
    epoch: int,
) -> None:
    """Idempotent incremental ingest into an epoch-partitioned bucketed
    table: DYNAMIC partition overwrite of ``epoch=<id>`` with the same
    bucket spec. Re-running an epoch rewrites its own partition with the
    deterministically identical rows instead of appending duplicates —
    safe under Structured Streaming's at-least-once foreachBatch
    contract with no separate epoch-ledger commit whose failure could
    reopen the window (crash anywhere, including mid-commit, and the
    replay converges).

    Rows are repartitioned on the BUCKET ID expression so each epoch
    adds at most one file per bucket (see compact_bucketed_table for why
    the raw key is not enough). Dynamic mode is set via session conf —
    a per-write ``.option()`` is silently IGNORED by ``insertInto``, and
    under the default "static" the overwrite would wipe every other
    epoch. The toggle is REFCOUNTED per session
    (:func:`_dynamic_partition_overwrite`), so concurrent writers to
    DISTINCT tables on one SparkSession are safe: the conf stays
    "dynamic" until the last overlapped writer exits (the hybrid
    lifecycle ingests its bm25 and ann sides of one batch in parallel).
    Concurrent writers to the SAME (table, epoch) remain the caller's
    responsibility — see claim_epoch."""
    spark = df.sparkSession
    rows = df.withColumn("epoch", F.lit(int(epoch)).cast("long"))
    if key is not None:
        rows = rows.repartition(
            n_buckets, F.expr(f"pmod(hash({key}), {n_buckets})")
        )
    with _dynamic_partition_overwrite(spark):
        rows.write.mode("overwrite").insertInto(table)


def overwrite_epoch_partitions(
    df: DataFrame,
    table: str,
    key: str | None,
    n_buckets: int | None,
) -> None:
    """Multi-epoch variant of :func:`overwrite_epoch_partition` for
    maintenance rewrites that touch SEVERAL existing epoch partitions at
    once (e.g. the stop-list repair): ``df`` carries its own ``epoch``
    column (last, matching the table's partition position) and ONE
    dynamic partition overwrite replaces exactly the epochs present in
    it — one Spark job instead of a per-epoch loop of writes.

    The bucket layout invariant survives: rows hash-repartition on
    (epoch, bucket-id), so every (epoch, bucket) group lands in exactly
    one task and the bucketed writer emits at most one file per bucket
    per epoch — the same one-file-per-bucket-per-epoch layout the
    per-epoch writer produces. Idempotent like the single-epoch form
    (a replay rewrites the same partitions with identical rows)."""
    spark = df.sparkSession
    rows = df.withColumn("epoch", F.col("epoch").cast("long"))
    if key is not None:
        rows = rows.repartition(
            F.col("epoch"), F.expr(f"pmod(hash({key}), {n_buckets})")
        )
    with _dynamic_partition_overwrite(spark):
        rows.write.mode("overwrite").insertInto(table)


def _epochs(spark, table: str) -> list[int]:
    """The ``epoch`` values in ``table``'s catalog PARTITION LIST
    (``SHOW PARTITIONS`` — no data file is listed or scanned)."""
    parts = [r[0] for r in spark.sql(f"SHOW PARTITIONS {table}").collect()]
    return [int(p.split("=", 1)[1]) for p in parts if p.startswith("epoch=")]


def next_epoch(spark, table: str) -> int:
    """Auto-assign the next ingest epoch: max(existing)+1, read from the
    catalog's PARTITION LIST (``SHOW PARTITIONS`` — no data files are
    listed or scanned, so auto-epoch ingest stays O(#epochs) however
    large the table grows). NOT replay-safe (two retried callers could
    mint different ids) and NOT multi-writer-safe (two concurrent
    callers read the same max and mint the SAME id — the second dynamic
    partition overwrite would silently replace the first's rows);
    streaming callers must pass the foreachBatch batch id instead, and
    auto-epoch batch ingest goes through :func:`claim_epoch`, which
    turns the same read into a conditional commit."""
    return max(_epochs(spark, table), default=BASE_EPOCH) + 1


def table_location(spark, table: str) -> str:
    """Storage location of a catalog table (DESC FORMATTED — metadata
    only, no file listing). The command's rows are already on the
    driver, so the ``Location`` row is picked here: filtering them as a
    DataFrame ran two Spark jobs per call."""
    rows = spark.sql(f"DESC FORMATTED {table}").collect()
    return next(r["data_type"] for r in rows if r["col_name"] == "Location")


def _fs_and_path(spark, path_str: str):
    """Hadoop FileSystem + Path for a storage URI — works on any
    Hadoop-compatible store (HDFS, local, GCS/S3 connectors), not just
    local paths."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path_str)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


# Claim markers live in an underscore-prefixed directory INSIDE the
# table location: Spark's file index filters "_"/"." names, so the
# ledger is invisible to scans, and DROP-ping the (external) table's
# files removes the ledger with it — no orphan state to garbage-collect.
EPOCH_LEDGER_DIR = "_epoch_ledger"

# How claim_epoch arbitrates the atomic create (conf key, per-session):
#   "fs"      (default): FileSystem.createNewFile IS the mutex — exact on
#             HDFS, local, and GCS (create maps to a generation-0
#             precondition PUT); on plain S3A it is HEAD-then-PUT, which
#             leaves a double-submit window.
#   "catalog": the metastore is the mutex — CREATE TABLE of a per-epoch
#             claim table is atomic in HMS/Derby (DB unique constraint),
#             so the guarantee is exact on ANY object store as long as
#             writers share the metastore (they must: they write the
#             same catalog table). The winner still records the fs
#             marker (the ledger stays the single source for candidate
#             discovery and the compaction carry) and drops the claim
#             table; a crash inside the claim leaves an empty claim
#             table that permanently burns one id — same semantics as
#             an orphaned marker.
# The arbiter is a PER-SESSION conf: ALL concurrent writers of a table
# must set the SAME value — a catalog-arbitrated writer racing an
# fs-arbitrated one re-opens the plain-S3A window (each consults a
# different mutex). _claim_via_catalog raises if it detects the mix (a
# marker materializing while it holds the metastore mutex).
# Guarantee matrix (see ARCHITECTURE.md): HDFS/local/GCS → exact under
# either arbiter; S3A without Hadoop 3.4.1 conditional writes → use
# "catalog" (or enable fs.s3a.create.conditional.enabled and keep "fs").
EPOCH_ARBITER_CONF = "spark.admob_data_pipeline.epochLedger.arbiter"


def _fs_create_marker(fs, marker) -> bool:
    """The fs-arbiter commit point — one seam so tests can simulate a
    store whose create-if-absent is NOT atomic (plain S3A)."""
    return fs.createNewFile(marker)


def _claim_via_catalog(spark, table: str, ledger: str, fs, cand: int) -> bool:
    """Metastore-arbitrated claim of epoch ``cand``: CREATE TABLE is the
    atomic mutex, the fs marker is the durable record. Returns True iff
    THIS caller claimed the id."""
    jvm = spark._jvm
    marker = jvm.org.apache.hadoop.fs.Path(f"{ledger}/epoch-{cand}")
    if fs.exists(marker):
        return False  # already claimed and recorded
    claim_tbl = f"{table}__epoch_claim_{cand}"
    try:
        spark.sql(f"CREATE TABLE {claim_tbl} (i INT) USING parquet")
    except Exception as ex:
        # only a lost race (table exists) means "remint and retry";
        # anything else (metastore down, permissions) must surface, not
        # burn 64 candidate ids behind a misleading contention error
        if "TABLE_OR_VIEW_ALREADY_EXISTS" in str(
            ex
        ) or "already exists" in str(ex):
            return False  # another writer holds (or held and crashed in) it
        raise
    try:
        if fs.exists(marker):
            return False  # claimed by a prior holder that already dropped
        if not _fs_create_marker(fs, marker):
            # We hold the metastore mutex, the marker did not exist a
            # line ago, yet the conditional create lost: some OTHER
            # writer is minting through the fs arbiter against the same
            # ledger — mixed-arbiter deployment, the one configuration
            # the guarantee matrix excludes (all concurrent writers of a
            # table MUST share the arbiter setting). Surface it rather
            # than silently double-minting the id.
            raise RuntimeError(
                f"epoch ledger {ledger}: marker epoch-{cand} appeared"
                " while this writer held the catalog mutex — a rival"
                " writer is using the fs arbiter against this table;"
                f" all writers must share {EPOCH_ARBITER_CONF}"
            )
        return True
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {claim_tbl}")


def claim_epoch(spark, table: str, max_attempts: int = 64) -> int:
    """Multi-writer-safe epoch minting: the conditional-commit guard
    that :func:`next_epoch` alone lacks. Two CONCURRENT batch ingest
    jobs (separate Spark sessions sharing the metastore + storage) that
    read the same ``max(epoch)`` would mint the same id and the second
    dynamic partition overwrite would silently replace the first's rows
    — the classic lost-update. Here the mint is an ATOMIC
    create-if-absent of a marker file ``_epoch_ledger/epoch-<id>`` in
    the table's storage location: ``FileSystem.createNewFile`` is
    atomic on HDFS and local filesystems and on the GCS connector
    (create maps to a generation-0 precondition PUT), so exactly ONE
    writer wins each id. The loser REMINTS the next id and retries — no
    silent row loss, no failed job, just densely increasing epochs.
    CAVEAT (S3A): plain S3A implements create(overwrite=false) as
    HEAD-then-PUT — check-then-act, not conditional — so two writers
    racing within that window can both "win"; on S3, either enable the
    conditional-write integration (Hadoop 3.4.1+ `fs.s3a.create.conditional.enabled`,
    S3 If-None-Match) and keep the default ``fs`` arbiter, or set
    ``spark.admob_data_pipeline.epochLedger.arbiter=catalog`` to
    arbitrate through the shared metastore instead (atomic CREATE TABLE
    mutex — exact on any object store; see EPOCH_ARBITER_CONF and the
    guarantee matrix in ARCHITECTURE.md). The fs guard is exact on
    HDFS/local/GCS and still removes the common seconds-apart
    double-submit on plain S3A.

    The candidate starts at max(partition list, ledger)+1, so ids are
    never reused even when a partition write crashed after its claim
    (the orphaned marker just burns one id) or when compaction folded
    old epochs away (the ledger is carried across the compaction swap
    by :func:`compact_bucketed_table`). Streaming callers bypass this
    and pass the foreachBatch batch id — there the ENGINE is the
    single-writer ledger and a replay must land on the SAME epoch."""
    loc = table_location(spark, table).rstrip("/")
    ledger = f"{loc}/{EPOCH_LEDGER_DIR}"
    fs, ldir = _fs_and_path(spark, ledger)
    fs.mkdirs(ldir)
    claimed = [
        int(st.getPath().getName()[len("epoch-") :])
        for st in fs.listStatus(ldir)
        if st.getPath().getName().startswith("epoch-")
    ]
    cand = max([next_epoch(spark, table)] + [c + 1 for c in claimed])
    arbiter = spark.conf.get(EPOCH_ARBITER_CONF, "fs")
    if arbiter not in ("fs", "catalog"):
        raise ValueError(f"{EPOCH_ARBITER_CONF}={arbiter!r}: want fs|catalog")
    for _ in range(max_attempts):
        if arbiter == "catalog":
            won = _claim_via_catalog(spark, table, ledger, fs, cand)
        else:
            _, marker = _fs_and_path(spark, f"{ledger}/epoch-{cand}")
            won = _fs_create_marker(fs, marker)
        if won:
            return cand
        cand += 1  # lost the create race — remint
    raise RuntimeError(
        f"claim_epoch: could not claim an epoch for {table} after"
        f" {max_attempts} attempts (pathological writer contention?)"
    )


def burn_epoch_id(spark, table: str, epoch_id: int) -> None:
    """Record ``epoch_id`` as CONSUMED in ``table``'s epoch ledger
    without writing a partition. Delete stamping uses this so a later
    auto-minted ingest epoch is always STRICTLY greater than any
    tombstone stamp — the resurrect contract of the epoch-aware masks:
    a delete issued before the first upsert stamps epoch 0, and without
    the burn the first upsert would also mint 0, leaving the re-ingested
    rows at epoch == stamp (masked). Idempotent (create-if-absent);
    streaming ingest bypasses the ledger by contract, so resurrecting a
    doc through a FRESH stream requires a compaction first — the same
    fresh-checkpoint rule as batch-id reuse."""
    loc = table_location(spark, table).rstrip("/")
    fs, ldir = _fs_and_path(spark, f"{loc}/{EPOCH_LEDGER_DIR}")
    fs.mkdirs(ldir)
    _, marker = _fs_and_path(
        spark, f"{loc}/{EPOCH_LEDGER_DIR}/epoch-{int(epoch_id)}"
    )
    _fs_create_marker(fs, marker)


def vacuum_stale_epoch_claims(
    spark, table: str, min_age_sec: float = 3600.0
) -> list[str]:
    """Reap claim tables a crashed catalog-arbitrated mint left behind.
    A crash inside :func:`_claim_via_catalog` can strand the empty
    mutex table at either window: before the marker write (the id was
    never returned to anyone — dropping the table re-opens it, which is
    safe precisely because no caller ever received it) or between the
    marker write and the drop (the marker keeps the id burned; the
    table is pure litter). Returns the dropped table names.

    SAFE BY CONSTRUCTION against a concurrently in-flight mint (no
    maintenance-window discipline required): a claim table whose id has
    a recorded ledger MARKER is always droppable (the id is durably
    burned — no rival can re-win it, and a still-live holder's only
    remaining step is its own idempotent DROP IF EXISTS); one WITHOUT a
    marker is droppable only past ``min_age_sec`` (storage mtime of the
    claim table's location — locale-free on any Hadoop FS), because a
    young un-markered table may be the LIVE mutex of a mint inside its
    seconds-long critical section, and dropping that would let a rival
    remint the id — the exact lost-update the arbiter prevents. A
    corpse younger than the threshold is simply picked up by the next
    vacuum. Pass ``min_age_sec=0`` only when all writers are provably
    quiesced (the old maintenance-window contract)."""
    import time as _time

    prefix = f"{table}__epoch_claim_"
    loc = table_location(spark, table).rstrip("/")
    fs, _ = _fs_and_path(spark, loc)
    now_ms = _time.time() * 1000.0
    dropped: list[str] = []
    for t in spark.catalog.listTables():
        if not t.name.startswith(prefix):
            continue
        try:
            cid = int(t.name[len(prefix):])
        except ValueError:
            continue
        _, marker = _fs_and_path(
            spark, f"{loc}/{EPOCH_LEDGER_DIR}/epoch-{cid}"
        )
        if not fs.exists(marker) and min_age_sec > 0:
            try:
                cfs, cpath = _fs_and_path(
                    spark, table_location(spark, t.name)
                )
                age_ms = now_ms - cfs.getFileStatus(
                    cpath
                ).getModificationTime()
            except Exception:
                age_ms = 0.0  # racing holder dropped it mid-scan: live
            if age_ms < min_age_sec * 1000.0:
                continue  # potentially the live mutex — leave it
        spark.sql(f"DROP TABLE IF EXISTS {t.name}")
        dropped.append(t.name)
    return dropped


def snapshot_tombstones(spark, tomb_table: str, schema: str):
    """Pin the tombstone set a compaction will PURGE: returns
    ``(snapshot_df, snapshot_files)`` — a DataFrame to anti-join during
    the rewrite and the exact parquet FILE list to hand
    :func:`purge_applied_tombstones` afterward.

    The snapshot is file-pinned, not row-collected: tombstone writers
    only ever APPEND (every delete lands as new part-files; nothing
    rewrites an existing one), so the file list names an immutable set
    of rows without bringing a single row to the driver. That makes the
    whole purge cycle safe against an arbitrarily large delete set —
    e.g. :func:`hybrid_index_repair` tombstoning a whole skewed side —
    where the previous row-collect snapshot risked driver OOM.
    Materializing the pin BEFORE the rewrites also means a multi-table
    compact (BM25's three tables, dedup's three) purges one CONSISTENT
    delete set."""
    spark.catalog.refreshTable(tomb_table)
    files = sorted(spark.table(tomb_table).inputFiles())
    if not files and spark.table(tomb_table).limit(1).count() > 0:
        # inputFiles() of a metastore parquet table can come back empty
        # when the Hive-relation-to-datasource conversion is disabled
        # (spark.sql.hive.convertMetastoreParquet=false) — the purge
        # would then be a silent no-op forever (no data loss, but the
        # tombstone table grows unboundedly and compaction never
        # physically removes deletes). Fail loudly instead of decaying.
        raise RuntimeError(
            f"snapshot_tombstones: {tomb_table} has rows but"
            " inputFiles() returned none — is"
            " spark.sql.hive.convertMetastoreParquet disabled? The"
            " file-pinned purge requires the datasource file index."
        )
    snap = (
        spark.read.schema(schema).parquet(*files)
        if files
        else spark.createDataFrame([], schema)
    )
    return snap, files


def purge_applied_tombstones(spark, tomb_table: str, snapshot_files) -> int:
    """Drop exactly the tombstones a compaction rewrite purged: delete
    the parquet files :func:`snapshot_tombstones` pinned, nothing else.
    A delete appended CONCURRENTLY with the compaction rewrite lives in
    files created AFTER the pin, so it survives to the next cycle
    instead of being silently wiped while its rows were never purged
    (the resurrection race).

    This CLOSES the read-then-overwrite window the previous
    row-filtering truncate had: there is no read-modify-write at all —
    appends create files, the purge removes only pre-enumerated files,
    and the two commute. Crash mid-purge converges too: already-deleted
    files just vanish from the next snapshot, still-present ones are
    re-purged by the next compaction (re-anti-joining an
    already-applied tombstone is a no-op). Returns the number of files
    it deleted (0 on a re-purge of the same list) — no Spark job."""
    deleted = 0
    if snapshot_files:
        fs, _ = _fs_and_path(spark, snapshot_files[0])
        jvm = spark._jvm
        for f in snapshot_files:
            deleted += bool(fs.delete(jvm.org.apache.hadoop.fs.Path(f), False))
    spark.catalog.refreshTable(tomb_table)
    return deleted


def _finalize_swap(spark, table: str, old_table: str) -> None:
    """Last leg of the compaction swap: carry the epoch ledger from the
    superseded location into the live one (so previously-claimed ids
    are never reminted post-compaction), drop the old external table's
    metadata, and reclaim its files through the Hadoop FS API."""
    old_loc = table_location(spark, old_table).rstrip("/")
    fs, src = _fs_and_path(spark, f"{old_loc}/{EPOCH_LEDGER_DIR}")
    if fs.exists(src):
        new_loc = table_location(spark, table).rstrip("/")
        _, dst = _fs_and_path(spark, f"{new_loc}/{EPOCH_LEDGER_DIR}")
        # Hadoop rename reports most failures by RETURNING FALSE, not
        # raising (e.g. dst's parent missing, cross-filesystem move).
        # Proceeding past a false here would let the fs.delete below
        # destroy the only ledger copy and post-compaction claim_epoch
        # could remint folded ids — the exact lost-update the ledger
        # exists to prevent. Fail the swap instead; recover_compaction
        # heals the table state and the ledger is still under __old.
        if not fs.rename(src, dst) and not fs.exists(dst):
            raise RuntimeError(
                f"_finalize_swap: could not carry epoch ledger {src} -> "
                f"{dst}; aborting before the old location is deleted"
            )
    spark.sql(f"DROP TABLE {old_table}")  # external: metadata only
    _, old_path = _fs_and_path(spark, old_loc)
    fs.delete(old_path, True)


def recover_compaction(spark, table: str) -> str:
    """Auto-complete a compaction swap interrupted by a crash. The swap
    in :func:`compact_bucketed_table` is two non-atomic metastore
    renames; a crash between them leaves the live name unresolvable
    (the full data sits under BOTH ``<table>__old`` and
    ``<table>__compact``) and a crash after the second rename can leave
    a stale ``__old`` behind. Called on entry by every compaction so an
    interrupted maintenance pass heals on the next one; exposed
    publicly so a serving path that hits a missing-table error can
    self-repair instead of paging an operator. Returns what it did:
    ``clean`` (nothing to do), ``completed_swap`` (finished the
    interrupted rename pair), ``rolled_back`` (only ``__old`` existed —
    restored it as live), ``dropped_old`` (live table fine, reaped the
    leftover), or ``reaped_stale_compact`` (live table fine, a crash
    before the first rename left a full ``__compact`` copy — dropped
    WITH its data files, which a bare DROP of an external table would
    orphan on disk forever)."""
    cat = spark.catalog
    old, tmp = f"{table}__old", f"{table}__compact"
    if not cat.tableExists(table):
        if cat.tableExists(tmp) and cat.tableExists(old):
            # crash between the two renames: the compacted data is
            # complete under __compact — finish the swap
            spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
            _finalize_swap(spark, table, old)
            return "completed_swap"
        if cat.tableExists(old):
            # __compact was already promoted-or-never-finished; the
            # only complete copy is __old — restore it as live
            spark.sql(f"ALTER TABLE {old} RENAME TO {table}")
            return "rolled_back"
        return "clean"
    if cat.tableExists(old):
        # crash after the second rename, before the old-table reap
        _finalize_swap(spark, table, old)
        return "dropped_old"
    if cat.tableExists(tmp):
        # crash after the staging write but before the first rename:
        # the live table never moved; reap the stale full-size copy
        stale_loc = table_location(spark, tmp)
        spark.sql(f"DROP TABLE {tmp}")  # external: metadata only
        fs, stale_path = _fs_and_path(spark, stale_loc)
        fs.delete(stale_path, True)
        return "reaped_stale_compact"
    return "clean"


def index_manifest(spark, table_prefix: str, tables) -> DataFrame:
    """DESCRIBE-INDEX for operators — one row per index table with its
    logical row count, ingest-epoch span, and epoch count: the numbers
    an on-call reads before deciding compaction (epoch count climbing)
    or rebuild (drift audits). ``tables`` is ``[(name, has_epoch),
    ...]``; shared by all three persisted-index families so the
    manifest schema can never desynchronize between them.

    Every row count comes from ONE pass over the union of the tables (a
    tagged count per table), the epoch span from the catalog partition
    list (:func:`_epochs`), and the few rows are ordered on the driver:
    two Spark jobs in all, however many tables and epochs."""
    names = [f"{table_prefix}_{t}" for t, _ in tables]
    tagged = functools.reduce(
        lambda a, b: a.unionByName(b),
        [spark.table(n).select(F.lit(i).alias("i")) for i, n in enumerate(names)],
    )
    n_rows = dict(tagged.groupBy("i").count().collect())
    rows = []
    for i, (t, has_epoch) in enumerate(tables):
        n = n_rows.get(i, 0)
        epochs = _epochs(spark, names[i]) if has_epoch and n else []
        rows.append(
            (
                t,
                n,
                len(set(epochs)),
                min(epochs, default=None),
                max(epochs, default=None),
            )
        )
    # a VALUES relation: collecting it runs no job, unlike a
    # createDataFrame of the same rows
    values = ", ".join(
        "(" + ", ".join("NULL" if v is None else repr(v) for v in r) + ")"
        for r in sorted(rows)
    )
    return spark.sql(
        "SELECT CAST(col1 AS STRING) AS table_name, CAST(col2 AS BIGINT) AS n_rows,"
        " CAST(col3 AS BIGINT) AS n_epochs, CAST(col4 AS BIGINT) AS min_epoch,"
        f" CAST(col5 AS BIGINT) AS max_epoch FROM VALUES {values}"
    )


def should_compact(manifest_rows, max_epochs: int = 16) -> bool:
    """Compaction trigger policy over an :func:`index_manifest` result:
    compact when any epoch-partitioned index table has accumulated more
    than ``max_epochs`` ingest epochs. Epoch COUNT itself is nearly
    free at serve time (measured: a 100-epoch ANN index at sf0.1 served
    in 1.18 s from 624 files vs 1.67 s for the same rows as one epoch —
    partition discovery is catalog-metadata, not file listing), but
    each epoch adds up to one FILE per bucket, and files-per-bucket is
    what decays scans and forces the per-bucket Sort — post-compaction
    the same index served in 0.93 s from 8 files
    (``git show b689e6b:tools/epoch_scaling_probe.py``). The default of 16
    bounds the decay to ~17 files/bucket worst case while keeping an
    as-of history window (compaction voids time travel for the folded
    span)."""
    return any(
        r["n_epochs"] is not None and int(r["n_epochs"]) > max_epochs
        for r in manifest_rows
    )


def compact_bucketed_table(
    spark,
    table: str,
    key: str | None,
    n_buckets: int | None = None,
    fold_partition: tuple[str, int] | None = None,
    anti: tuple | list[tuple] | None = None,
) -> tuple[int, int]:
    """Rewrite an incrementally-appended bucketed table into ONE file
    per bucket, preserving the bucket spec — the maintenance pass that
    keeps a long-running ingest (every upsert/micro-batch appends files
    per bucket) from decaying into a small-files scan.

    ``anti=(cols, keys_df)``: drop rows whose ``cols`` (a column name or
    a list of names — composite keys join on every column) appear in
    ``keys_df`` during the rewrite — the tombstone PURGE step of a
    delete-capable index (serving masks tombstoned rows; compaction
    physically removes them). A LIST of such specs applies each
    anti-join in order (e.g. tombstoned doc ids AND stale
    ``(doc_id, epoch)`` versions superseded by a re-upsert).

    The rewrite repartitions on the BUCKET ID expression
    (``pmod(hash(key), n)`` — SQL ``hash`` is the same Murmur3 the
    bucketed writer uses, verified row-for-row against written file
    suffixes), so every bucket lands wholly inside one write task and
    the output is exactly one file per non-empty bucket — repartitioning
    on the raw key is NOT enough, task placement can still split a
    bucket across tasks. It writes a NEW external table beside the old
    location with
    the same ``bucketBy``/``sortBy`` spec, then swaps it in: rename old
    → ``__old``, rename new → live name, drop ``__old``, delete its
    files. The swap is two metastore renames — NOT atomic — but data is
    never lost at any crash point: before the first rename both names
    resolve, between them the full data sits under ``__old`` AND
    ``__compact``, after the second the live name serves the compacted
    table. Every entry first runs :func:`recover_compaction`, so an
    interrupted swap HEALS automatically on the next maintenance pass
    (and can be healed on demand by calling it directly). In-flight
    readers that resolved their scan against the OLD files fail once
    the final delete runs, so schedule compaction in a maintenance
    window (or against a snapshot-isolated store); the zero-Exchange
    probe-join property survives because the bucket spec is identical
    (pinned in the index test files). With one file per bucket Spark
    can additionally trust the ``sortBy`` order, dropping the
    partition-local Sort that multi-file buckets force. The epoch
    ledger (``_epoch_ledger`` claim markers, :func:`claim_epoch`) is
    carried from the old location into the new one, so compaction never
    causes an epoch id to be reminted.

    ``key=None``: compact a plain (unbucketed) epoch-partitioned side
    table — single-file rewrite, no bucket spec.

    ``fold_partition=(col, value)``: for an epoch-partitioned table
    (the exactly-once ANN ingest layout), collapse all ingest epochs
    into the single base partition ``col=value``. Run compaction only
    when no replay of the folded epochs is possible (stream stopped or
    checkpoint-committed past them) — a later overwrite of a folded
    epoch id would re-add its rows. Folding also VOIDS time travel for
    the folded span: an as-of read at any historical epoch now sees the
    post-fold (post-purge) state — ``*_index_asof`` history only spans
    epochs ingested SINCE the last compaction. That is the standard
    LSM/snapshot-expiry trade: compaction reclaims space by discarding
    the history that made as-of reads possible.

    Returns ``(files_before, files_after)``: the length of the table's
    file index (``inputFiles()``), which the scan lists anyway — no
    Spark job, storage-agnostic.
    """
    import uuid

    def n_files() -> int:
        return len(spark.table(table).inputFiles())

    recover_compaction(spark, table)
    files_before = n_files()
    loc = table_location(spark, table)
    df = spark.table(table)
    cols = df.columns  # pinned: the rewrite must not permute the schema
    if anti is not None:
        # No broadcast hint: the tombstone set is usually tiny (AQE
        # broadcasts it at runtime), but a repair pass can tombstone an
        # O(index-size) side — then AQE falls back to a shuffle join
        # instead of building a driver-sized broadcast table.
        specs = [anti] if isinstance(anti, tuple) else list(anti)
        for anti_cols, anti_keys in specs:
            cols_list = (
                [anti_cols] if isinstance(anti_cols, str) else list(anti_cols)
            )
            df = df.join(
                anti_keys.select(*[F.col(c) for c in cols_list]),
                cols_list,
                "left_anti",
            )
            # a USING anti-join still moves its keys to the front of
            # the output — harmless here, the final select() below
            # restores the declared order either way
    if fold_partition is not None:
        part_col, part_val = fold_partition
        dtype = dict(df.dtypes)[part_col]
        df = df.withColumn(part_col, F.lit(part_val).cast(dtype))
    # a USING join moves its key to column 0 — restore the table's
    # declared order, or the rewritten table would silently permute the
    # schema and every later POSITIONAL insertInto (epoch ingest resumed
    # after a maintenance window) would land columns crosswise: a type
    # error when neighbours differ, silent corruption when they don't
    df = df.select(*cols)
    tmp = f"{table}__compact"
    new_loc = f"{loc.rstrip('/')}__c{uuid.uuid4().hex[:8]}"
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    if key is not None:
        w = (
            df.repartition(
                n_buckets, F.expr(f"pmod(hash({key}), {n_buckets})")
            )
            .write.mode("overwrite")
            .bucketBy(n_buckets, key)
            .sortBy(key)
        )
    else:
        w = df.coalesce(1).write.mode("overwrite")
    w = w.format("parquet").option("path", new_loc)
    if fold_partition is not None:
        w = w.partitionBy(fold_partition[0])
    w.saveAsTable(tmp)
    old = f"{table}__old"
    spark.sql(f"DROP TABLE IF EXISTS {old}")
    spark.sql(f"ALTER TABLE {table} RENAME TO {old}")
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
    _finalize_swap(spark, table, old)
    return files_before, n_files()


def write_sorted_layout(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    partition_col: str | None = None,
    files_per_partition: int | None = None,
) -> None:
    """Sorted data layout: cluster rows by ``sort_cols`` within each output
    file so parquet row-group min/max statistics become selective —
    point/range filters on the sort columns then skip whole row groups at
    scan time (zone-map pruning), the cheap cousin of Z-ordering.

    At 100 TB this is the difference between a needle-in-haystack query
    reading ~one row group per file vs the full table: the writer pays one
    repartition, every future scan with a predicate on the leading sort
    column collects the win. ``repartition(sort_cols)`` routes co-sorted
    key ranges to the same files; ``sortWithinPartitions`` orders them —
    no global sort (no range-exchange barrier) is needed for zone maps.
    """
    out = df.repartition(*sort_cols) if files_per_partition is None else df.repartition(
        files_per_partition, *sort_cols
    )
    out = out.sortWithinPartitions(*sort_cols)
    writer = out.write.mode("overwrite").format("parquet")
    if partition_col:
        writer = writer.partitionBy(partition_col)
    writer.save(path)


def zorder_key(col_a, col_b, bits: int = 16):
    """Morton (Z-order) key: interleave the low ``bits`` of two
    non-negative integer columns — a pure column expression (JVM-side,
    codegen'd), no UDF. Bit i of a lands at position 2i, bit i of b at
    2i+1."""
    a = F.col(col_a) if isinstance(col_a, str) else col_a
    b = F.col(col_b) if isinstance(col_b, str) else col_b
    z = F.lit(0).cast("long")
    for i in range(bits):  # bits is a plan-time constant → unrolled exprs
        z = z + F.shiftleft(
            F.shiftright(a, i).bitwiseAND(F.lit(1)).cast("long"), 2 * i
        )
        z = z + F.shiftleft(
            F.shiftright(b, i).bitwiseAND(F.lit(1)).cast("long"), 2 * i + 1
        )
    return z


def write_zorder_layout(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    bits: int = 16,
    files: int = 8,
) -> None:
    """Z-order data layout: cluster rows along the Morton curve of two
    integer columns so parquet row-group min/max stats prune for
    predicates on EITHER (or both) dimensions — the multi-column
    generalization of :func:`write_sorted_layout`, same mechanism as
    Delta/Iceberg OPTIMIZE ZORDER BY expressed on plain parquet.

    ``repartitionByRange`` on the z-key gives each output file a disjoint
    curve segment (a bounded 2D region), ``sortWithinPartitions`` orders
    rows inside it; the z-key itself is dropped before writing — it is a
    layout decision, not data. One range-exchange at write time buys
    every future 2D box query its pruning."""
    zcol = "_z"
    out = (
        df.withColumn(zcol, zorder_key(col_a, col_b, bits))
        .repartitionByRange(files, zcol)
        .sortWithinPartitions(zcol)
        .drop(zcol)
    )
    out.write.mode("overwrite").parquet(path)


def write_global_sort(
    df: DataFrame, path: str, sort_cols: list[str], files: int = 8
) -> None:
    """Globally-sorted export: ``repartitionByRange`` gives each output
    file a disjoint key range (file N's max < file N+1's min) and
    ``sortWithinPartitions`` orders rows inside — together a TOTAL order
    across the file set without funneling data through one task, which is
    how a 100 TB ORDER BY export actually runs (the range exchange
    samples key quantiles to balance files). Consumers that need global
    order read files in partition-id order."""
    out = df.repartitionByRange(files, *sort_cols).sortWithinPartitions(*sort_cols)
    out.write.mode("overwrite").parquet(path)


def write_audit_publish(
    df: DataFrame,
    out_dir: str,
    audit_fn: Callable[[DataFrame], list[str]],
) -> None:
    """Write-Audit-Publish: stage the frame to a sibling directory, run
    ``audit_fn`` over the STAGED READ-BACK (what consumers will actually
    see — catches writer-side corruption a pre-write check cannot), and
    only then promote the staging directory to ``out_dir``. On audit
    failure the staged files stay behind as a quarantine for diagnosis
    and ``ValueError`` is raised — nothing is published.

    The promote is a directory rename — atomic on a local/HDFS-style
    filesystem when ``out_dir`` does not yet exist; replacing an
    existing publish is remove-then-rename (a reader can race the gap —
    a table format's atomic snapshot swap is the fix at that point, and
    this staging flow is exactly what its commit protocol automates).
    """
    import os
    import shutil
    import uuid

    stage = f"{out_dir}.staging-{uuid.uuid4().hex[:12]}"
    df.write.mode("overwrite").parquet(stage)
    staged = df.sparkSession.read.parquet(stage)
    problems = audit_fn(staged)
    if problems:
        raise ValueError(
            f"audit failed, publish aborted (quarantine: {stage}): "
            + "; ".join(problems)
        )
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.rename(stage, out_dir)


def write_if_nonempty(df: DataFrame, writer: Callable[[DataFrame], None]) -> bool:
    """S10 — skip sinks on an empty day (main.py:147-149,
    fetch_mediation_report.py:146-148). Returns True if written."""
    if df.isEmpty():
        return False
    writer(df)
    return True


def _default_transport(url: str, payload: bytes, timeout: float) -> int:
    req = urllib.request.Request(
        url, data=payload, headers={"Content-Type": "application/json"}
    )
    with urllib.request.urlopen(req, timeout=timeout) as resp:  # pragma: no cover
        return resp.status


class SlackSink:
    """S9 — webhook alert sink (native_CTR_alerts.py:309-329).

    POSTs ``{"text": ...}`` per message with the reference's 10 s timeout;
    non-200 is logged, not raised (parity with :324-329). The HTTP
    transport is injectable — tests (and this offline container) pass a
    fake; production uses the urllib default.
    """

    def __init__(
        self,
        webhook_url: str,
        timeout: float = 10.0,
        transport: Callable[[str, bytes, float], int] | None = None,
    ) -> None:
        self.webhook_url = webhook_url
        self.timeout = timeout
        self.transport = transport or _default_transport
        self.sent: int = 0
        self.failed: int = 0

    def post_text(self, text: str) -> bool:
        payload = json.dumps({"text": text}).encode("utf-8")
        try:
            status = self.transport(self.webhook_url, payload, self.timeout)
        except Exception:
            status = -1
        ok = status == 200
        self.sent += ok
        self.failed += not ok
        return ok

    def post_messages(self, messages: DataFrame, text_col: str = "message") -> int:
        """Driver-side action after the (distributed) formatting query —
        the only part of the alert pipeline that leaves the cluster."""
        n = 0
        for row in messages.select(text_col).toLocalIterator():
            n += self.post_text(row[text_col])
        return n
