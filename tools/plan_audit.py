"""Dump a physical-plan audit table for every registry query.

Produces PLAN_AUDIT.md: one row per query with scan count, exchange
(shuffle) count, join strategies, and scan-pushdown evidence — the
".explain('formatted') and iterate" discipline made inspectable. Run:

    python tools/plan_audit.py [sf_dir]

Streaming queries execute availableNow triggers internally; their
returned batch frame is what gets audited (the streaming plan itself is
pinned in tests).
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

JOIN_KINDS = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)


def audit(sf_dir: str) -> list[dict]:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    from admob_data_pipeline_spark.plans.explain import formatted_plan

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    from admob_data_pipeline_spark.plans import registry

    spark.sparkContext.setLogLevel("ERROR")
    # index-serving queries: the registered wrapper collects internally
    # (scratch-table lifecycle), so audit the REAL lazy serving plan
    # against a prebuilt scratch index instead of the post-collect stub
    serving: dict[str, str] = {}
    for provider in registry.SERVING_PLAN_PROVIDERS:
        try:  # a broken provider must not abort the whole report —
            # its queries fall back to the post-collect row
            thunks, cleanup = provider(spark, sf_dir)
        except Exception as exc:  # pragma: no cover - audit robustness
            print(f"provider {provider.__module__} failed: {exc}")
            continue
        try:
            for name, thunk in thunks.items():
                try:
                    serving[name] = formatted_plan(thunk())
                except Exception as exc:  # pragma: no cover
                    print(f"serving plan {name} failed: {exc}")
        finally:
            cleanup()
    rows = []
    for name, fn in sorted(entry.queries().items()):
        if name in registry.LIFECYCLE_WRITE:
            rows.append({"query": name, "lifecycle": True})
            continue
        try:
            if name in serving:
                plan = serving[name]
            else:
                df = fn(spark, sf_dir)
                plan = formatted_plan(df)
        except Exception as exc:  # pragma: no cover - audit robustness
            rows.append({"query": name, "error": str(exc)[:80]})
            continue
        joins = []
        for kind in JOIN_KINDS:
            n = len(re.findall(rf"\b{kind}\b", plan)) // 2  # tree + details
            if n:
                joins.append(f"{kind.replace('Join','')}×{n}")
        pq_scans = plan.count("Scan parquet") // 2
        # materialized-intermediate re-reads (localCheckpoint) — cheap
        # ExistingRDD block reads, reported separately from real scans
        rdd_scans = plan.count("Scan ExistingRDD") // 2
        rows.append(
            {
                "query": name,
                "scans": f"{pq_scans}+{rdd_scans}ckpt" if rdd_scans else str(pq_scans),
                "exchanges": len(re.findall(r"\bExchange\b", plan)) // 2,
                "joins": " ".join(joins) or "—",
                "pushed": "yes" if "PushedFilters: [Is" in plan or re.search(
                    r"PushedFilters: \[[^\]]", plan
                ) else "—",
            }
        )
    return rows


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    rows = audit(sf_dir)
    lines = [
        "# Plan audit (auto-generated by tools/plan_audit.py)",
        "",
        f"Physical-plan summary per registry query at `{sf_dir}`.",
        "`scans` = parquet scans (`+Nckpt` = re-reads of a materialized",
        "localCheckpoint intermediate — block reads, not recomputation);",
        "`exchanges` = shuffles (incl. the",
        "final sort/collect exchange); joins grouped by physical strategy;",
        "`pushed` = data filters reach the scan. (Codegen spans are not",
        "visible in an unexecuted AQE plan, so they are asserted in",
        "tests/test_plans.py instead.) CartesianProduct anywhere is a bug",
        "(also pinned in tests).",
        "",
        "| query | scans | exchanges | joins | pushed |",
        "| --- | --- | --- | --- | --- |",
    ]
    for r in rows:
        if r.get("lifecycle"):
            lines.append(
                f"| `{r['query']}` | write-path lifecycle (builds/ingests a "
                "scratch index; serving plan audited on its `*_search`/"
                "`*_probe` row, write layout pinned in tests) | | | |"
            )
        elif "error" in r:
            lines.append(f"| `{r['query']}` | ERROR: {r['error']} | | | |")
        else:
            lines.append(
                f"| `{r['query']}` | {r['scans']} | {r['exchanges']} "
                f"| {r['joins']} | {r['pushed']} |"
            )
    out = os.path.join(REPO, "PLAN_AUDIT.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(rows)} queries)")
    bad = [r for r in rows if "CartesianProduct" in r.get("joins", "")]
    if bad:
        print("CARTESIAN PRODUCTS FOUND:", [r["query"] for r in bad])
        sys.exit(1)


if __name__ == "__main__":
    main()
