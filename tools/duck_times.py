"""Time the DuckDB oracles (32 threads, min-of-N) at an arbitrary sf dir —
the single-node comparison column for BASELINE.md's upscale tables.

Usage: python tools/duck_times.py KEY [KEY ...]
       SPARK_GRAFT_SF_DIR=/tmp/gdalos_sf1/sf1 python tools/duck_times.py ...
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.drive_values import duck_views


def main() -> int:
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/tmp/gdalos_sf1/sf1")
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    import __spark_entry__ as E

    con = duck_views(sf)
    con.execute("SET threads TO 32")
    oracles = E.oracle_sql()
    for k in sys.argv[1:]:
        best = None
        for _ in range(reps):
            t0 = time.perf_counter()
            con.execute(oracles[k]).fetchall()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        print(f"{k}: {best:.3f}s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
