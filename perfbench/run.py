#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload daily_report --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One run starts the program's session on
``local[<cores>]``, sets its workload up, then runs the workload's
operation in a closed loop with one client until ``--seconds`` of
operations, and at least the workload's ``min_ops``, have been timed,
checking every output outside the timed region. A workload may first
run ``warmup_ops`` operations, checked but not timed as operations:
they are part of its set-up. The last line of
standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones (``END_TO_END``); with ``--trace 1`` the
Spark event log is on and the metrics are the per-layer ones
(``GENERIC_LAYERS`` and each workload's ``LAYERS``), taken from spans the
benchmark records around each call into the program and from the event
log's jobs, matched to those spans by submission time. Every row of the
printed table, the workload's own walls included, is also written to
``.perfbench/results/<workload>-<seed>-trace<0|1>.json``, with the spans
of a traced run next to it. Work files go to ``.perfbench/`` under the
checkout and are removed at the end.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = {
    "daily_report": ("daily", "DailyReport"),
    "index_lifecycle": ("index", "IndexLifecycle"),
}

# The metrics of the last output line. An untraced run reports the
# end-to-end ones; a traced run reports every per-layer metric of every
# workload, 0 for a layer the running workload does not reach.
# An operation's cost end to end is the CPU seconds it takes, not its
# wall: on a shared host, over ten runs of the same code, the wall of a
# report date spread 0.36 of its median and its CPU seconds 0.13. The
# walls are per-layer metrics, and set-up is counted in CPU seconds too:
# the wall of a session start ranged from 4.7 s to 11.7 s. Peak memory
# is a per-layer metric as well: the driver JVM's heap grows with
# garbage-collection timing, so its high-water mark moved by a quarter
# between runs of the same code.
END_TO_END = (("setup_s", "s"), ("op_cpu_s", "s"))
GENERIC_LAYERS = (
    ("session.start_s", "s"), ("warmup_s", "s"), ("trace.op_s", "s"),
    ("trace.op_cpu_s", "s"), ("jit.cpu_s", "s"),
    ("failed_frac", "ratio"),
    ("peak_rss_mb", "MB"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.shuffle_write_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
    ("exec.input_bytes", "bytes"), ("exec.core_busy_frac", "ratio"),
    ("driver.nojob_s", "s"),
)

# A run never exceeds this many seconds of operations, whatever
# --seconds says, so it ends well inside its time limit.
MAX_OPS_S = 120.0


def median(xs):
    return statistics.median(xs) if xs else float("nan")


class Run:
    """What a workload sees: the session, the tracer, its seed and its
    work directory."""

    def __init__(self, spark, tracer, seed: int, out: str, trace: bool):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.out, self.trace = out, trace


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        jvm_kb = next(int(l.split()[1]) for l in fh if l.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    trace = bool(args.trace)

    if not os.path.isdir(os.path.join(ROOT, "admob_data_pipeline_spark")):
        print("the program (admob_data_pipeline_spark/) is not in this checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench")
    out = os.path.join(work, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    # Every file the run writes stays under the checkout. The core count
    # is the one session setting changed from the program's default.
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(out, "spark-local"),
        SPARK_GRAFT_CPUS=str(cores),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    sys.path.insert(0, ROOT)
    from admob_data_pipeline_spark.session import get_spark

    import spans as tracing

    mod_name, cls_name = WORKLOADS[args.workload]
    tr = tracing.Tracer()
    run_t0 = time.time()
    extra = None
    if trace:
        log_dir = os.path.join(out, "eventlog")
        os.makedirs(log_dir)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            # one plain JSON-lines file, which the parser reads directly
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        }
    with tr.span("session.start", cpu=True) as start:
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=extra)
        spark.sparkContext.setLogLevel("ERROR")
    problems: list[str] = []
    attempted = failed = 0
    setup_cpus: list[float] = []
    try:
        wl = getattr(importlib.import_module(mod_name), cls_name)(
            Run(spark, tr, args.seed, out, trace))
        for rep in range(wl.setup_reps):
            with tr.span("setup", cpu=True) as sp:
                wl.setup(rep)
            setup_cpus.append(sp["cpu"])
        warm_walls, warm_cpus, op_walls, op_cpus, op_jits = [], [], [], [], []
        budget = min(args.seconds, MAX_OPS_S)
        while len(op_walls) < wl.min_ops or sum(op_walls) < budget:
            i = tr.op = attempted
            tr.warmup = i < wl.warmup_ops
            attempted += 1
            wall, cpu, jit, bad = _attempt(wl, tr, i)
            if tr.warmup:
                warm_walls.append(wall)
                warm_cpus.append(cpu)
            else:
                op_walls.append(wall)
                op_cpus.append(cpu)
                op_jits.append(jit)
            if bad:
                failed += 1
                problems += bad
        tr.op, tr.warmup = None, False
        with tr.span("check"):
            problems += wl.finish()
        rss = _peak_rss_mb(spark)
    finally:
        with tr.span("session.stop"):
            _stop(spark)
    run_t1 = time.time()

    setup_s = start["cpu"] + median(setup_cpus) + sum(warm_cpus)
    ops = op_walls
    for msg in problems:
        print(f"CHECK FAILED: {msg}", file=sys.stderr)
    print(f"workload {args.workload}  seed {args.seed}  cores {cores}  "
          f"ops {len(ops)}  failed {failed}")
    rows = [("failed_frac", failed / attempted, "ratio", f"of {attempted} operations"),
            ("peak_rss_mb", rss, "MB", "driver JVM + Python")]
    rows += wl.e2e_rows()
    if trace:
        rows += _per_layer(wl, tr, log_dir, cores, ops, run_t1 - run_t0)
        rows += [
            ("trace.op_cpu_s", median(op_cpus), "s", "op_cpu_s of a traced run"),
            ("warmup_s", sum(warm_walls), "s",
             f"{wl.warmup_ops} warm-up operations, in setup_s"),
            ("jit.cpu_s", median(op_jits), "s", "the part of op_cpu_s in JIT compiler threads"),
        ]
        declared = GENERIC_LAYERS + tuple(
            m for mod, cls in WORKLOADS.values()
            for m in getattr(importlib.import_module(mod), cls).LAYERS)
        own = GENERIC_LAYERS + wl.LAYERS
    else:
        rows[:0] = [
            ("setup_s", setup_s, "s", f"CPU seconds: session start + median of"
             f" {wl.setup_reps} set-ups + {wl.warmup_ops} warm-up operations"),
            ("op_cpu_s", median(op_cpus), "s",
             f"median of {len(ops)} operations; driver JVM, Python workers and client"),
            ("op_wall_s", median(ops), "s", f"median of {len(ops)} operations"),
        ]
        declared = own = END_TO_END
    _table("per-layer, per timed operation unless noted" if trace else "end-to-end", rows)
    got = {r[0]: (r[1], r[2]) for r in rows}
    lost = [m for m in own if got.get(m[0], (None, None))[1] != m[1]]
    if lost:
        raise RuntimeError(f"{args.workload} did not report {lost}")
    # a layer this workload never reaches spends nothing in it
    metrics = {n: got.get(n, (0.0, u)) for n, u in declared}
    results = os.path.join(work, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}-{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w", encoding="utf-8") as fh:
        json.dump({"cores": cores, "rows": rows, "warmup_walls": warm_walls,
                   "warmup_cpus": warm_cpus, "setup_cpus": setup_cpus,
                   "start_cpu": start["cpu"],
                   "op_walls": op_walls, "op_cpus": op_cpus, "op_jits": op_jits},
                  fh, indent=1)
    if trace:
        tr.dump(stem + ".spans.json")
    shutil.rmtree(out, ignore_errors=True)
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _attempt(wl, tr, i: int) -> tuple[float, float, float, list[str]]:
    """Run and check operation ``i``; return its timed wall, its timed
    CPU seconds, the part of those in JIT compiler threads and the
    problems found."""
    with tr.span("reset"):
        wl.before_op(i)
    timed = None
    try:
        with tr.span("warmup" if tr.warmup else "op", cpu=True) as sp:
            timed = wl.op(i)
        with tr.span("check"):
            bad = wl.check(i)
    except Exception:  # noqa: BLE001 - a failed operation is counted
        traceback.print_exc()
        bad = [f"operation {i} raised"]
    # an operation times only its own phases, not the checks between them
    timed = timed or [sp]
    return (sum(s["dur"] for s in timed), sum(s["cpu"] for s in timed),
            sum(s["jit"] for s in timed), bad)


def _table(title: str, rows) -> None:
    print(f"-- {title}")
    for row in rows:
        name, value, unit = row[:3]
        note = row[3] if len(row) > 3 else ""
        print(f"  {name:<34} {value:>14.4f} {unit:<8} {note}")


def _per_layer(wl, tr, log_dir, cores, op_walls, run_s) -> list:
    """Attribute the event log to the spans, self-test the attribution
    and return the per-layer rows."""
    import spans as tracing

    log = tracing.read_event_log(log_dir)
    att = tracing.attribute(tr.spans, log)
    problems = tracing.selftest(tr.spans, log, att)
    top = [(s["t0"], s["t1"]) for s in tr.spans if s["parent"] is None]
    coverage = tracing.covered_s(top) / run_s
    if coverage < 0.95:
        problems.append(f"spans cover {coverage:.1%} of the run wall, want >= 95%")
    if problems:
        raise RuntimeError("attribution self-test: " + "; ".join(problems))
    for s in tr.spans:  # written out with the spans
        s["exec"] = dict(att["incl"][s["id"]])
        s["job_ids"] = sorted(j for j, sid in att["job_span"].items() if sid == s["id"])
    ops = tracing.named(tr.spans, "op")

    def per_op(key):
        return median([att["incl"][s["id"]].get(key, 0.0) for s in ops])

    busy = sum(att["incl"][s["id"]].get("task_run_s", 0.0) for s in ops)
    nojob = median([
        wall - tracing.job_active_s(
            log, {j for j, sid in att["job_span"].items()
                  if sid is not None and _timed_under(tr.spans, sid, s["id"])},
            s["t0"], s["t1"])
        for s, wall in zip(ops, op_walls, strict=True)
    ])
    rows = [
        ("session.start_s", tr.durations("session.start")[0], "s"),
        ("trace.op_s", median(op_walls), "s", "median operation wall of a traced run"),
        ("exec.jobs", per_op("jobs"), "count"),
        ("exec.stages", per_op("stages"), "count", "stages run, not skipped"),
        ("exec.tasks", per_op("tasks"), "count"),
        ("exec.task_run_s", per_op("task_run_s"), "s"),
        ("exec.task_cpu_s", per_op("task_cpu_s"), "s"),
        ("exec.gc_s", per_op("gc_s"), "s"),
        ("exec.shuffle_write_bytes", per_op("shuffle_write_bytes"), "bytes"),
        ("exec.spill_bytes", per_op("spill_bytes"), "bytes"),
        ("exec.input_bytes", per_op("input_bytes"), "bytes"),
        ("exec.core_busy_frac", busy / (sum(op_walls) * cores), "ratio",
         "task run time / (op wall x cores)"),
        ("driver.nojob_s", nojob, "s", "op wall with no job of the op running"),
    ]
    rows += wl.layer_rows(tr, att)
    n_jobs = len(log["jobs"])
    rows += [
        ("selftest.jobs_total", n_jobs, "count", "whole run, event log"),
        ("selftest.jobs_assigned", n_jobs - att["unassigned"], "count", "to a span"),
        ("selftest.jobs_unassigned", att["unassigned"], "count"),
        ("selftest.tasks_total", log["task_events"], "count", "whole run, event log"),
        ("selftest.span_coverage", coverage, "ratio", "of the run wall"),
    ]
    return rows


def _timed_under(spans, sid, op_id) -> bool:
    """Whether span ``sid`` lies in operation ``op_id`` outside its
    untimed check and reset spans."""
    import spans as tracing

    while sid is not None:
        if sid == op_id:
            return True
        if spans[sid]["name"] in tracing.UNTIMED:
            return False
        sid = spans[sid]["parent"]
    return False


if __name__ == "__main__":
    sys.exit(main())
