"""Per-query profiler (optimization guide §1): times each named query
through the noop sink (min of N), captures ``explain("formatted")``, and
counts the Spark jobs the materialization launched.

Usage:
    python tools/profile_query.py [--sf DIR] [--runs N] [--plans OUTDIR] \
        [--shuffle P] query [query ...]

Plans are written to OUTDIR/<query>.txt when --plans is given. The job
count is the number of job ids the status store gained across the timed
run, in any job group — the overhead signal that wall-clock alone hides
(a 0.6 s query that launches 9 jobs is overhead-bound, not data-bound).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from admob_data_pipeline_spark.plans import registry
from admob_data_pipeline_spark.session import get_spark


def _job_ids(sc) -> set:
    """Ids of every job the status store holds, whatever its job group
    (a streaming query's micro-batches run under the stream's group),
    once the listener bus has delivered every event."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    ids = set()
    it = jsc.statusStore().jobsList(None).iterator()
    while it.hasNext():
        ids.add(it.next().jobId())
    return ids


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", default=None)
    ap.add_argument("--shuffle", type=int, default=8)
    args = ap.parse_args()

    # the status store keeps only retained jobs (default 1000) — a long
    # sweep overflows the buffer and drops the ids the diff needs;
    # retain enough for a full-registry pass
    spark = get_spark(
        "profile",
        shuffle_partitions=args.shuffle,
        extra_conf={"spark.ui.retainedJobs": "200000"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    names = args.queries
    if names == ["HEADLINE"] or names == ["EXTENDED"] or names == ["ALL"]:
        import bench

        names = {
            "HEADLINE": bench.HEADLINE,
            "EXTENDED": bench.EXTENDED,
            "ALL": bench.HEADLINE + bench.EXTENDED,
        }[args.queries[0]]

    out = {}
    for name in names:
        fn = registry.QUERIES[name]
        # untimed warm run (JIT/codegen/file listing)
        df = fn(spark, args.sf)
        df.write.format("noop").mode("overwrite").save()
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            with open(os.path.join(args.plans, f"{name}.txt"), "w") as fh:
                fh.write(fn(spark, args.sf)._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                ))
        best = float("inf")
        jobs = 0
        for _ in range(max(1, args.runs)):
            ids0 = _job_ids(sc)
            t0 = time.perf_counter()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            if dt < best:
                best = dt
                jobs = len(_job_ids(sc) - ids0)
        out[name] = {"sec": round(best, 3), "jobs": jobs}
        print(f"{name}: {best:.3f}s  jobs={jobs}", flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
