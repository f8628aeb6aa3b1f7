"""Shared operator plumbing.

``widen_if_narrow`` fixes an under-parallelization pathology: a CPU-heavy
map-only kernel (per-shingle hashing, per-vector cosines) inherits the
scan's split count, and a small parquet file is ONE row group → ONE task,
so the whole kernel runs single-threaded no matter how many cores exist.

The helper round-robin-repartitions **only when the input has fewer
splits than the cluster's parallelism** — on a real 100 TB scan (tens of
thousands of splits) it is a strict no-op, so no shuffle is added at
scale; on small inputs it trades a trivial shuffle for full-width CPU.
Call it AFTER projection/filter (so pushdown still reaches the scan and
the shuffle carries only the needed columns) and BEFORE the expensive
per-row work.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target


def par_ops(*thunks) -> list:
    """Run independent Spark actions CONCURRENTLY from driver threads
    (guide §2.6 — overlap independent jobs so one job's straggler tail
    back-fills with the next job's tasks). Returns the thunks' results
    in order; exceptions propagate (all legs are awaited, the first
    failure re-raises after every leg settles).

    INVARIANT the callers rely on: the overlapped legs share ONE
    SparkSession, so they must not flip session-global confs except
    through a refcounted toggle (``_dynamic_partition_overwrite`` in
    sinks/writers.py is the only sanctioned one — concurrent epoch
    writers to DISTINCT tables are safe under it). Read-only legs
    (verification probes, audits) must stay conf-neutral; anything like
    EPOCH_ARBITER_CONF belongs OUTSIDE a par_ops block.

    Each leg runs under the caller's Spark local properties (job group,
    scheduler pool, SparkContext job tags) and the caller's tags on the
    session the caller's JVM thread has active, so cancelling the
    caller's group or tag — or a streaming query, whose foreachBatch body
    calls in here — reaches every leg's jobs."""
    session = SparkSession.getActiveSession()
    if session is not None:
        # getActiveSession() returns the cached outer Python session; inside
        # a foreachBatch body the JVM thread's active session is the
        # micro-batch's own (``batch.sparkSession``), whose tags the legs need
        active = SparkSession._get_j_spark_session_class(session._jvm).getActiveSession()
        if active.isDefined() and not active.get().equals(session._jsparkSession):
            session = SparkSession(session.sparkContext, active.get())
        thunks = tuple(inheritable_thread_target(session)(t) for t in thunks)
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futs = [pool.submit(t) for t in thunks]
        errs, results = [], []
        for f in futs:
            try:
                results.append(f.result())
            except Exception as ex:  # noqa: BLE001 — re-raised below
                errs.append(ex)
                results.append(None)
        if errs:
            raise errs[0]
        return results


def widen_if_narrow(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


# Rows above which a "small" build side stops being broadcast-safe. A
# token→df vocabulary is tiny on test corpora but web-scale text can push
# it past executor/driver broadcast limits; the guard costs one count()
# job over an (already materialized) aggregate and buys immunity from
# broadcast OOM.
BROADCAST_ROW_LIMIT = 2_000_000


def join_small(
    big: DataFrame,
    small: DataFrame,
    on,
    how: str = "inner",
    max_rows: int | None = None,
) -> DataFrame:
    """Join ``big`` against a build side that is *usually* small enough to
    broadcast (vocabulary/df tables, benchmark gram sets) — but only
    broadcast when a row count proves it. Above the threshold the join is
    left plain, so Catalyst/AQE picks a shuffle strategy (and splits skewed
    partitions at runtime) instead of OOM-ing on a forced broadcast.

    The count() is one extra job; call this with ``small`` already
    aggregated/materialized (localCheckpoint'd upstream) so the job is
    cheap relative to the corpus scan it guards.
    """
    return big.join(broadcast_if_small(small, small.count(), max_rows), on, how)


def broadcast_if_small(
    small: DataFrame, n_rows: int, max_rows: int | None = None
) -> DataFrame:
    """``small`` with a broadcast hint when its row count ``n_rows`` (one
    the caller already has) is within the limit, else unchanged so the
    planner picks the join strategy — the one broadcast-or-shuffle
    decision behind :func:`join_small` and every preloaded-count join."""
    limit = BROADCAST_ROW_LIMIT if max_rows is None else max_rows
    return F.broadcast(small) if n_rows <= limit else small


def dense_global_index(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "idx",
    n_parts: int | None = None,
) -> DataFrame:
    """0-based dense index over a UNIQUE-key ordering, without the
    single-partition sort a bare ``row_number() OVER (ORDER BY ...)``
    plans (WindowExec moves every row to one task — serial and
    OOM-prone once the table outgrows one executor, e.g. a web-scale
    item dimension or vocabulary).

    Two-phase distributed ranking instead: range-repartition on the key
    (Spark's sampled RangePartitioner — ascending key ranges land on
    ascending partition ids), rank WITHIN each partition, then add
    per-partition row-count offsets (a window over n_parts rows,
    broadcast back). Output values are identical to the global window
    for unique keys regardless of where the sampled range boundaries
    fall; ties would make within-partition order nondeterministic, so
    callers must order by a key. Ascending order only.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    n = n_parts or spark.sparkContext.defaultParallelism
    part = (
        df.repartitionByRange(n, *[F.col(c) for c in order_cols])
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()  # pin partition ids for the two consumers
    )
    w_in = Window.partitionBy("_pid").orderBy(*order_cols)
    within = part.withColumn("_rn", F.row_number().over(w_in))
    sizes = part.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = sizes.select(
        "_pid",
        F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off"),
    )
    return (
        within.join(F.broadcast(offs), "_pid")
        .withColumn(out_col, (F.col("_rn") + F.col("_off") - 1).cast("long"))
        .drop("_pid", "_rn", "_off")
    )


# --- shared gap-sessionization contract --------------------------------------

SESSION_GAP = "2 hours"

# ONE SQL definition of the session labeling (gap rule + running start
# count) — composed by the sessionize oracles (streaming/alerts.py) and
# the interval-overlap oracle (plans/analytics_ext.py), mirroring the
# Spark side's _session_rows single-sourcing. Yields CTEs ``e`` (is_new
# flags) and ``slab`` (rows labeled with their session id). Lives here,
# not in streaming/alerts, because alerts' ORACLES build imports
# analytics_ext at module scope — a constant both sides need must sit
# below both in the import graph.
SESSION_LABEL_SQL = f"""e AS (
    SELECT user_id, ts, event_id, CAST(FLOOR(value * 1000) AS BIGINT) AS vm,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL {SESSION_GAP}
                OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS is_new
    FROM events
),
slab AS (
    SELECT user_id, ts, vm,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess
    FROM e
)"""
