"""Per-query profiler (optimization guide §1): times each named query
through the noop sink (min of N), captures ``explain("formatted")``, and
counts the Spark jobs/stages the materialization launched.

Usage:
    python tools/profile_query.py [--sf DIR] [--runs N] [--plans OUTDIR] \
        [--shuffle P] query [query ...]

Plans are written to OUTDIR/<query>.txt when --plans is given. Job/stage
counts come from a SparkListener attached around the timed run — the
overhead signal that wall-clock alone hides (a 0.6 s query that launches
9 jobs is overhead-bound, not data-bound).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

from admob_data_pipeline_spark.plans import registry
from admob_data_pipeline_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", default=None)
    ap.add_argument("--shuffle", type=int, default=8)
    args = ap.parse_args()

    # statusTracker only sees retained jobs (default 1000) — a long
    # sweep overflows the buffer and job-count deltas go negative;
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

    status = sc.statusTracker()

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
        jobs_before = jobs_after = 0
        for _ in range(max(1, args.runs)):
            ids0 = sc._jsc.sc().statusTracker().getJobIdsForGroup(None)
            n0 = len(list(ids0))
            t0 = time.perf_counter()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            ids1 = sc._jsc.sc().statusTracker().getJobIdsForGroup(None)
            n1 = len(list(ids1))
            if dt < best:
                best = dt
                jobs_before, jobs_after = n0, n1
        out[name] = {"sec": round(best, 3), "jobs": jobs_after - jobs_before}
        print(f"{name}: {best:.3f}s  jobs={jobs_after - jobs_before}", flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
