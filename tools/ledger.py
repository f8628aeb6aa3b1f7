"""Structural-counter ledger of the registry queries.

Runs every registry query, or the ones named, at one scale factor, one
after another, each through the noop sink, and prints one JSON line per
query:

- ``plan_jobs`` / ``action_jobs``: Spark jobs started while the query
  function builds its DataFrame (index wrappers build, collect and drop
  scratch tables there) and at the noop write;
- ``stages``, ``tasks``, ``shuffle_write_bytes``, ``input_bytes`` and
  ``spill_bytes`` (memory plus disk) over those jobs' stages, skipped
  stages left out;
- ``executions``, ``scans``, ``exchanges`` and ``joins`` (node count per
  join strategy) over the final physical plan of every SQL execution
  the query started, internal ones included;
- ``wall_s`` (informational only: a wall on a shared host moves with
  its load) and ``error``.

Every counter comes from the JVM's own status stores: the core store's
jobs and stages, the SQL store's executions and plan graphs. Jobs are
counted in any job group, so ``par_ops`` legs and streaming
micro-batches count too. Host load does not move the job, stage and
plan counters, so two runs diff line by line; the exception is a join
that AQE turns into a broadcast at run time, where the big side's
shuffle may or may not have run first (one job, stage and exchange).
The ratio of a counter between runs at two scale factors is the
scaling evidence. Stage and task counts follow the session's core count
(``SPARK_GRAFT_CPUS``); shuffles use 8 partitions.

Exits 1 if any query fails or any execution plan holds a
CartesianProduct.

Usage: python tools/ledger.py SF_DIR [QUERY ...] > ledger.jsonl
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py4j.protocol import Py4JJavaError

from admob_data_pipeline_spark.testing import new_jobs

JOIN_KINDS = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _last_execution(sql_store) -> int:
    n = sql_store.executionsCount()
    return _seq(sql_store.executionsList(n - 1, 1))[0].executionId() if n else -1


def _executions_after(sql_store, last: int) -> list:
    """The SQL executions with an id above ``last``. The store lists
    executions by id, so they are its tail: page back from the end.
    Execution ids are minted consecutively, so a gap means the store
    dropped some."""
    out = []
    end = sql_store.executionsCount()
    while end > 0:
        start = max(end - 64, 0)
        page = _seq(sql_store.executionsList(start, end - start))
        newer = [e for e in page if e.executionId() > last]
        out = newer + out
        if len(newer) < len(page):
            break
        end = start
    if [e.executionId() for e in out] != list(range(last + 1, last + 1 + len(out))):
        raise RuntimeError(
            f"status store dropped SQL executions after {last}"
            " (raise spark.sql.ui.retainedExecutions)"
        )
    return out


def _stage_counters(store, job_ids) -> dict:
    sids = {s for j in job_ids for s in _seq(store.job(j).stageIds())}
    out = dict.fromkeys(
        ("stages", "tasks", "shuffle_write_bytes", "input_bytes", "spill_bytes"), 0
    )
    for sid in sids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError as exc:
            # past spark.ui.retainedStages the store evicts skipped stages
            # first, so an id it no longer holds is a skipped one (a
            # shuffle an earlier job wrote)
            cls = exc.java_exception.getClass().getName()
            if cls != "java.util.NoSuchElementException":
                raise
            continue
        if st.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st.numTasks()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["input_bytes"] += st.inputBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


def _plan_counters(sql_store, executions) -> dict:
    scans = exchanges = 0
    joins: dict[str, int] = {}
    for e in executions:
        for node in _seq(sql_store.planGraph(e.executionId()).allNodes()):
            name = node.name()
            scans += name.startswith("Scan ")
            exchanges += name == "Exchange"
            if name in JOIN_KINDS:
                joins[name] = joins.get(name, 0) + 1
    return {
        "executions": len(executions),
        "scans": scans,
        "exchanges": exchanges,
        "joins": dict(sorted(joins.items())),
    }


def measure(spark, name: str, fn, sf_dir: str) -> dict:
    """One ledger record: ``fn(spark, sf_dir)`` built, then written to
    the noop sink, with the counters of every job and SQL execution the
    two steps started."""
    store = spark.sparkContext._jsc.sc().statusStore()
    sql_store = spark._jsparkSession.sharedState().statusStore()
    last = _last_execution(sql_store)
    t0 = time.perf_counter()
    try:
        df, plan_ids = new_jobs(spark, lambda: fn(spark, sf_dir))
        _, action_ids = new_jobs(
            spark, lambda: df.write.format("noop").mode("overwrite").save()
        )
    except Exception as exc:  # one failing query must not end the run
        traceback.print_exc()
        return {
            "query": name,
            "wall_s": round(time.perf_counter() - t0, 3),
            "error": f"{type(exc).__name__}: {str(exc)[:300]}",
        }
    wall = time.perf_counter() - t0
    return {
        "query": name,
        "plan_jobs": len(plan_ids),
        "action_jobs": len(action_ids),
        **_stage_counters(store, plan_ids + action_ids),
        **_plan_counters(sql_store, _executions_after(sql_store, last)),
        "wall_s": round(wall, 3),
        "error": None,
    }


def run(spark, sf_dir: str, queries: dict) -> int:
    """Print one record per query; the exit status: 1 if any query
    failed or planned a CartesianProduct."""
    bad = []
    for name, fn in queries.items():
        rec = measure(spark, name, fn, sf_dir)
        print(json.dumps(rec), flush=True)
        if rec["error"] or "CartesianProduct" in rec.get("joins", {}):
            bad.append(name)
    if bad:
        print(f"failed or CartesianProduct: {bad}", file=sys.stderr)
    return 1 if bad else 0


def main() -> None:
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    from admob_data_pipeline_spark.plans.registry import QUERIES
    from admob_data_pipeline_spark.session import get_spark

    sf_dir, names = sys.argv[1], sys.argv[2:] or list(QUERIES)
    unknown = sorted(set(names) - set(QUERIES))
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    spark = get_spark("ledger", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    status = run(spark, sf_dir, {n: QUERIES[n] for n in names})
    print(
        f"{len(names)} queries in {time.perf_counter() - t0:.0f} s"
        f" on {spark.sparkContext.master}",
        file=sys.stderr,
    )
    sys.exit(status)


if __name__ == "__main__":
    main()
