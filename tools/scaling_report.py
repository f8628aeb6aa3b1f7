"""Per-query scaling ratios across two scale factors → SCALING.md.

The cheapest 100×-extrapolation evidence available offline: run every
registry query at a small and a large SF (default sf0.01 → sf0.1, a 10×
data step) and compare wall times. A linear-or-better operator should
scale ≲ the data ratio; a superlinear ratio on a non-trivial runtime is
the signature of a candidate-join blow-up, a single-partition window, or
a driver-side loop — exactly the defects that stay invisible at oracle
scale and kill the job at 100 TB.

Flagging rule: ratio > FLAG_RATIO *and* big-SF wall > FLAG_FLOOR_S.
Sub-second queries are overhead-dominated (session, trigger setup, JIT)
and their ratios are noise, so they are reported but never flagged.
One untimed warmup query runs before each leg to absorb first-query JIT.

Usage: python tools/scaling_report.py [small_dir] [big_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from admob_data_pipeline_spark.session import get_spark

SMALL = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
BIG = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
DATA_RATIO = 10.0  # sf0.01 → sf0.1
FLAG_RATIO = 12.0  # > data ratio + headroom for fixed overheads
FLAG_FLOOR_S = 2.0  # big-SF wall below this is overhead-dominated


def _leg(
    queries, sf_dir: str, spark, rows_out: dict | None = None
) -> dict[str, float | None]:
    # warmup: absorb whole-stage-codegen JIT before the first timed row
    try:
        next(iter(queries.values()))(spark, sf_dir).count()
    except StopIteration:
        raise SystemExit("no queries matched the filter")
    except Exception as ex:  # the warmup's own FAIL row lands below
        print(f"warmup failed at {sf_dir}: {type(ex).__name__}")
    out: dict[str, float | None] = {}
    for name, fn in queries.items():
        t0 = time.time()
        try:
            n = fn(spark, sf_dir).count()
            if rows_out is not None:
                rows_out[name] = n
        except Exception as ex:
            print(f"FAIL {name} at {sf_dir}: {type(ex).__name__}")
            out[name] = None
            continue
        out[name] = time.time() - t0
        print(f"{name} @ {sf_dir}: {out[name]:.2f}s", flush=True)
    return out


def main() -> None:
    import __spark_entry__ as e

    only = set(sys.argv[3:])
    queries = {
        k: v for k, v in e.queries().items() if not only or k in only
    }
    spark = get_spark("scaling-report")
    import os

    small = _leg(queries, SMALL, spark)
    big_rows: dict[str, int] = {}
    big = _leg(queries, BIG, spark, rows_out=big_rows)
    # the big leg IS a rows-only sweep of the full registry at BIG —
    # optionally emit it in tools/scale_sweep.py's log format so one
    # execution produces both artifacts
    sweep_log = os.environ.get("SPARK_GRAFT_SWEEP_LOG")
    if sweep_log:
        with open(sweep_log, "w") as f:
            n_fail = 0
            for name in queries:
                tb = big.get(name)
                if tb is None:
                    f.write(f"FAIL {name}: see scaling_report output\n")
                    n_fail += 1
                else:
                    f.write(
                        f"PASS {name}: {big_rows.get(name)} rows"
                        f" ({tb:.1f}s)\n"
                    )
            f.write(f"{len(queries) - n_fail} passed, {n_fail} failed\n")
    rows = []
    for name in queries:
        ts, tb = small.get(name), big.get(name)
        if ts is None or tb is None:
            rows.append((name, ts, tb, None, "ERROR"))
            continue
        ratio = tb / ts if ts > 0 else float("inf")
        flag = "**FLAG**" if ratio > FLAG_RATIO and tb > FLAG_FLOOR_S else ""
        rows.append((name, ts, tb, ratio, flag))
    rows.sort(key=lambda r: -(r[3] or float("inf")))
    flagged = [r[0] for r in rows if r[4] == "**FLAG**"]
    lines = [
        "# Scaling report (auto-generated by tools/scaling_report.py)",
        "",
        f"Wall-time ratio per registry query, `{SMALL}` → `{BIG}` "
        f"(a {DATA_RATIO:.0f}× data step), single cold run per leg after "
        "one untimed JIT warmup.",
        f"A query is flagged when ratio > {FLAG_RATIO:.0f} AND the "
        f"big-SF wall exceeds {FLAG_FLOOR_S:.0f}s — superlinear scaling "
        "on a non-trivial runtime; sub-second rows are "
        "overhead-dominated and never flagged.",
        "",
        f"**Flagged: {len(flagged)}**"
        + (f" — {', '.join(flagged)}" if flagged else " (none)"),
        "",
        "| query | small (s) | big (s) | ratio | |",
        "| --- | --- | --- | --- | --- |",
    ]
    for name, ts, tb, ratio, flag in rows:
        lines.append(
            f"| `{name}` | {ts if ts is None else f'{ts:.2f}'} "
            f"| {tb if tb is None else f'{tb:.2f}'} "
            f"| {ratio if ratio is None else f'{ratio:.1f}'} | {flag} |"
        )
    with open(os.path.join(REPO, "SCALING.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote SCALING.md ({len(rows)} queries, {len(flagged)} flagged)")


if __name__ == "__main__":
    main()
