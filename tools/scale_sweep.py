"""Execute every registry query at a larger SF (default sf0.1), rows-only.

The oracle gate runs at sf0.01; this sweep catches what only shows up
bigger — int overflows, skewed windows, state blow-ups, OOMing collects.
No DuckDB: just run each plan to completion and report rows + wall time.

Usage: python tools/scale_sweep.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from admob_data_pipeline_spark.session import get_spark

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"


def main():
    import __spark_entry__ as e

    only = set(sys.argv[2:])
    spark = get_spark("scale-sweep")
    n_pass = n_fail = 0
    slow: list[tuple[str, float]] = []
    for name, fn in e.queries().items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            n = fn(spark, SF_DIR).count()
        except Exception as ex:
            print(f"FAIL {name}: {type(ex).__name__}: {str(ex)[:200]}")
            n_fail += 1
            continue
        dt = time.time() - t0
        slow.append((name, dt))
        print(f"PASS {name}: {n} rows ({dt:.1f}s)")
        n_pass += 1
    slow.sort(key=lambda x: -x[1])
    print("\nslowest:", [(n, round(t, 1)) for n, t in slow[:10]])
    print(f"{n_pass} passed, {n_fail} failed")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
