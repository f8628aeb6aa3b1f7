"""Shared oracle-comparison and job-counting helpers (used by tests/ and
tools/).

Mirrors the driver's t2 gate: row count + column names + order-insensitive
value comparison (rows sorted by all columns, columns sorted by name).
"""

from __future__ import annotations

import math

import duckdb

from admob_data_pipeline_spark.sources.tables import TABLES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def sorted_rows(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def diff_vs_oracle(spark_df, con, oracle: str) -> list[str]:
    """Return a list of human-readable problems; empty list == match."""
    spark_cols = spark_df.columns
    spark_rows = [tuple(r) for r in spark_df.collect()]
    rel = con.sql(oracle)
    duck_cols = list(rel.columns)
    duck_types = [str(t).upper() for t in rel.types]
    duck_rows = rel.fetchall()

    problems: list[str] = []
    # Spark has no 128-bit integer type, so an oracle column that comes back
    # HUGEINT (e.g. DuckDB SUM over BIGINT) is guaranteed to diverge from the
    # Spark side under the driver's type-tagged hash even when every value is
    # equal. Flag it here so the local mirror catches what the value
    # comparison below cannot.
    for c, t in zip(duck_cols, duck_types):
        if t in ("HUGEINT", "UHUGEINT", "INT128", "UINT128"):
            problems.append(
                f"oracle col {c!r} is {t} (no Spark equivalent); "
                "wrap the aggregate in CAST(... AS BIGINT)"
            )
    if len(spark_rows) != len(duck_rows):
        problems.append(f"rowcount spark={len(spark_rows)} duck={len(duck_rows)}")
    if sorted(spark_cols) != sorted(duck_cols):
        problems.append(f"cols spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
    if problems:
        return problems
    a = sorted_rows(spark_rows, spark_cols)
    b = sorted_rows(duck_rows, duck_cols)
    n_diff = 0
    first = None
    max_float = 0.0
    for ra, rb in zip(a, b):
        for va, vb in zip(ra, rb):
            if va == vb:
                continue
            n_diff += 1
            if isinstance(va, float) and isinstance(vb, float):
                max_float = max(max_float, abs(va - vb))
            else:
                max_float = float("inf")
            if first is None:
                first = (va, vb)
    if n_diff:
        problems.append(
            f"{n_diff} cell diffs, max_float_diff={max_float}, first={first}"
        )
    return problems


def _job_ids(store) -> list[int]:
    ids = []
    it = store.jobsList(None).iterator()
    while it.hasNext():
        ids.append(it.next().jobId())
    return ids


def new_jobs(spark, fn):
    """``(fn(), job_ids)``: the ids, ascending, of every Spark job ``fn``
    started, in any job group (``par_ops`` legs and streaming
    micro-batches run under their own), read from the status store once
    the listener bus has delivered every event. Raises if the store
    dropped any of them: job ids are minted consecutively, so the new ids
    must run on from the last id seen before the call without a gap."""
    sc = spark.sparkContext._jsc.sc()
    bus, store = sc.listenerBus(), sc.statusStore()
    bus.waitUntilEmpty()
    last = max(_job_ids(store), default=-1)
    out = fn()
    bus.waitUntilEmpty()
    ids = sorted(j for j in _job_ids(store) if j > last)
    if ids != list(range(last + 1, last + 1 + len(ids))):
        raise RuntimeError(
            f"status store dropped job ids after {last}: kept {ids[:5]}..."
            " (raise spark.ui.retainedJobs)"
        )
    return out, ids
