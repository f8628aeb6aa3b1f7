"""Local mirror of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same parquet tables and compares (see
admob_data_pipeline_spark.testing).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from admob_data_pipeline_spark.session import get_spark
from admob_data_pipeline_spark.testing import diff_vs_oracle, duckdb_connection

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def main():
    import __spark_entry__ as e

    only = set(sys.argv[2:])
    spark = get_spark("check-correctness")
    con = duckdb_connection(SF_DIR)

    qs = e.queries()
    oracles = e.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            problems = diff_vs_oracle(sdf, con, oracles[name])
        except Exception as ex:
            print(f"FAIL {name}: error: {ex}")
            n_fail += 1
            continue
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS {name} ({time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
