"""Spans kept in memory, and the Spark event log attributed to them.

A span is recorded around each call the benchmark makes into a layer of
the program. A Spark job belongs to the innermost span whose interval
holds the job's submission time. Matching by time, not by job group,
also catches jobs submitted from ``par_ops`` worker threads and from
streaming micro-batches. Spans opened with ``jobs=False`` (the
overlapping legs of a ``par_ops`` call) only time their leg.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

class Tracer:
    """Records spans: name, parent, wall-clock interval, duration, counts."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._pid = os.getpid()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._stacks: dict[int, list[dict]] = {}
        self.op: int | None = None  # index of the running operation
        self.warmup = False  # whether the running operation warms up

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
            with self._lock:
                self._stacks[threading.get_ident()] = st
        return st

    @contextmanager
    def span(self, name: str, jobs: bool = True, cpu: bool = False, **counts):
        """Time the body; with ``cpu``, also count the CPU seconds this
        process and its descendants (the driver JVM, its Python workers)
        spend in it, and in ``jit`` the part of those spent by the JVM's
        JIT compiler threads. A span opened on a thread with no
        open span (a ``par_ops`` leg, a streaming callback) hangs under
        the innermost span open on the main thread."""
        st = self._stack()
        if st:
            parent = st[-1]["id"]
        else:
            main = self._stacks.get(self._main) or []
            parent = main[-1]["id"] if main and main is not st else None
        with self._lock:
            rec = {"id": len(self.spans), "name": name, "parent": parent,
                   "op": self.op, "warmup": self.warmup, "jobs": jobs,
                   "counts": dict(counts)}
            self.spans.append(rec)
        st.append(rec)
        c0 = tree_cpu_s(self._pid) if cpu else None
        rec["t0"] = time.time()
        p0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - p0
            rec["t1"] = time.time()
            if cpu:
                total1, jit1 = tree_cpu_s(self._pid)
                total0, jit0 = c0
                jit = sum(s - jit0.get(tid, 0.0) for tid, s in jit1.items())
                rec["jit"] = jit
                rec["cpu"] = total1 - total0
            st.pop()

    def durations(self, name: str) -> list[float]:
        """Walls of the spans named ``name``, outside warm-up operations."""
        return [s["dur"] for s in named(self.spans, name)]

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh, indent=1, default=str)


def read_event_log(log_dir: str) -> dict:
    """Jobs, with the task totals of the stages each one ran, from the
    one application's log.

    A job lists the stages it depends on, including shuffle stages an
    earlier job already ran (they are skipped). A stage's tasks belong
    to the job that was running and listed it when the stage was
    submitted, so no task is counted twice.
    """
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    active: dict[int, set] = {}  # running job -> the stage ids it lists
    stage_job: dict[int, int] = {}
    per_stage: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    task_events = 0
    with open(files[0], encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"submit": ev["Submission Time"] / 1000.0, "end": None}
                active[jid] = set(ev["Stage IDs"])
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                active.pop(ev["Job ID"], None)
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid not in stage_job:
                    runner = min((j for j, st in active.items() if sid in st), default=None)
                    if runner is not None:
                        stage_job[sid] = runner
            elif kind == "SparkListenerTaskEnd":
                task_events += 1
                m = ev.get("Task Metrics") or {}
                acc = per_stage[ev["Stage ID"]]
                acc["tasks"] += 1
                acc["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                acc["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
                acc["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    for job in jobs.values():
        job["exec"] = defaultdict(float)
    for sid, jid in stage_job.items():
        totals = jobs[jid]["exec"]
        totals["stages"] += 1
        for k, v in per_stage.get(sid, {}).items():
            totals[k] += v
    return {"jobs": jobs, "task_events": task_events}


UNTIMED = ("check", "reset")


def attribute(spans: list[dict], log: dict) -> dict:
    """Assign each job to its span; returns per-span exclusive totals
    (``own``), per-span inclusive totals (``incl``, leaving out the
    untimed check and reset spans nested in an operation) and the count
    of jobs no span holds."""
    holders = sorted(
        (s for s in spans if s["jobs"] and "t1" in s),
        key=lambda s: s["t1"] - s["t0"],
    )
    own: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    job_span: dict[int, int | None] = {}
    for jid, job in log["jobs"].items():
        sid = next((s["id"] for s in holders if s["t0"] <= job["submit"] <= s["t1"]), None)
        job_span[jid] = sid
        if sid is None:
            continue
        own[sid]["jobs"] += 1
        for k, v in job["exec"].items():
            own[sid][k] += v
    children: dict[int | None, list[int]] = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s["id"])
    incl: dict[int, dict] = {}

    def total(sid: int) -> dict:
        if sid not in incl:
            acc = defaultdict(float, own.get(sid, {}))
            for c in children[sid]:
                if spans[c]["name"] in UNTIMED:
                    continue
                for k, v in total(c).items():
                    acc[k] += v
            incl[sid] = acc
        return incl[sid]

    for s in spans:
        total(s["id"])
    unassigned = sum(1 for v in job_span.values() if v is None)
    return {"own": own, "incl": incl, "job_span": job_span, "unassigned": unassigned}


def selftest(spans: list[dict], log: dict, att: dict) -> list[str]:
    """Check the attribution against the event log.

    Every job must fall in a span. The inclusive totals, which leave the
    untimed spans out of their parents, are summed over the top-level
    timed spans plus every untimed span; that sum must give back every
    job of the log, and every task the log has a ``TaskEnd`` for.
    """
    parts = [s for s in spans if s["parent"] is None or s["name"] in UNTIMED]

    def rolled(key):
        return sum(att["incl"][s["id"]].get(key, 0) for s in parts)

    n_jobs = len(log["jobs"])
    stray_tasks = sum(j["exec"].get("tasks", 0) for jid, j in log["jobs"].items()
                      if att["job_span"][jid] is None)
    problems = []
    if att["unassigned"]:
        problems.append(f"{att['unassigned']} of {n_jobs} jobs fall in no span")
    if rolled("jobs") + att["unassigned"] != n_jobs:
        problems.append(f"span totals hold {rolled('jobs')} jobs, the log has {n_jobs}")
    if rolled("tasks") + stray_tasks != log["task_events"]:
        problems.append(f"span totals hold {rolled('tasks')} tasks, the log has "
                        f"{log['task_events']}")
    return problems


def job_active_s(log: dict, job_ids, t0: float, t1: float) -> float:
    """Seconds of ``[t0, t1]`` during which at least one of the jobs ran."""
    ivs = [
        (max(t0, j["submit"]), min(t1, j["end"] or t1))
        for jid, j in log["jobs"].items() if jid in job_ids
    ]
    return covered_s([(a, b) for a, b in ivs if b > a])


def covered_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    busy, cur0, cur1 = 0.0, None, None
    for a, b in sorted(intervals):
        if cur1 is None or a > cur1:
            if cur1 is not None:
                busy += cur1 - cur0
            cur0, cur1 = a, b
        else:
            cur1 = max(cur1, b)
    if cur1 is not None:
        busy += cur1 - cur0
    return busy


def under_ops(spans: list[dict], name: str, group: str = "op") -> list[list[dict]]:
    """For each span named ``group`` outside warm-up operations, the spans
    named ``name`` beneath it."""
    groups = {s["id"]: [] for s in named(spans, group)}
    for s in spans:
        if s["name"] != name:
            continue
        a = s["parent"]
        while a is not None and spans[a]["name"] != group:
            a = spans[a]["parent"]
        if a in groups:
            groups[a].append(s)
    return list(groups.values())


def per_op(spans: list[dict], name: str, value=lambda s: s["dur"], group: str = "op"):
    """Per span named ``group``, the sum of ``value`` over its spans named
    ``name``."""
    return [sum(value(s) for s in g) for g in under_ops(spans, name, group)]


def named(spans: list[dict], name: str) -> list[dict]:
    """The finished spans named ``name``, outside warm-up operations."""
    return [s for s in spans if s["name"] == name and "dur" in s and not s["warmup"]]


def tree_cpu_s(pid: int) -> tuple[float, dict[int, float]]:
    """CPU seconds, user plus system, of process ``pid`` and its live
    descendants, each with its waited-for children; and the CPU seconds
    of each live JIT compiler thread among them, by thread id (HotSpot
    compiles hot methods on threads of its own, which a cold operation
    keeps busy)."""
    tick = os.sysconf("SC_CLK_TCK")
    total, jit, todo = 0, {}, [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/stat", encoding="ascii") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            threads = os.listdir(f"/proc/{p}/task")
        except (FileNotFoundError, ProcessLookupError):
            continue
        total += sum(int(x) for x in fields[11:15])
        for t in threads:
            try:  # a thread may end while it is read
                with open(f"/proc/{p}/task/{t}/stat", encoding="utf-8",
                          errors="replace") as fh:
                    raw = fh.read()
                if raw[raw.index("(") + 1:].startswith(JIT_THREADS):
                    f = raw.rsplit(")", 1)[1].split()
                    jit[int(t)] = (int(f[11]) + int(f[12])) / tick
                with open(f"/proc/{p}/task/{t}/children", encoding="ascii") as fh:
                    todo += [int(c) for c in fh.read().split()]
            except (FileNotFoundError, ProcessLookupError):
                continue
    return total / tick, jit


# HotSpot's compiler threads, as the kernel names them (15 characters).
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def catalyst_ms(df) -> float:
    """Analysis, optimization and planning time of an executed DataFrame,
    from its ``QueryPlanningTracker``."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total
