"""Driver-contract verification: run every __spark_entry__ query under a
VANILLA SparkSession and compare values exactly against the DuckDB oracle.

Usage:
    python tools/drive_values.py [key ...]      # default: all keys
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python tools/drive_values.py
"""
from __future__ import annotations

import decimal
import glob
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession


def norm(v):
    if v is None:
        return None
    if isinstance(v, decimal.Decimal):
        return format(v.normalize(), "f")
    if isinstance(v, float):
        return repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    return str(v)


def main() -> int:
    only = set(sys.argv[1:])
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    import __spark_entry__ as E

    con = duckdb.connect()
    for p in glob.glob(f"{sf}/*.parquet"):
        con.execute(
            f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM read_parquet('{p}')"
        )
    oracles = E.oracle_sql()
    n_bad = 0
    for k, fn in E.queries().items():
        if only and k not in only:
            continue
        try:
            sdf = fn(spark, sf)
            scols = sdf.columns
            order = sorted(range(len(scols)), key=lambda i: scols[i].lower())
            s = sorted(
                tuple(norm(r[scols[i]]) for i in order) for r in sdf.collect()
            )
        except Exception as e:  # noqa: BLE001
            print(f"{k}: SPARK ERROR {type(e).__name__}: {str(e)[:200]}")
            n_bad += 1
            continue
        if k not in oracles:
            print(f"{k}: rows-only ({len(s)} rows)")
            continue
        try:
            cur = con.execute(oracles[k])
            dcols = [d[0] for d in cur.description]
            didx = {c.lower(): j for j, c in enumerate(dcols)}
            d = sorted(
                tuple(norm(row[didx[scols[i].lower()]]) for i in order)
                for row in cur.fetchall()
            )
        except Exception as e:  # noqa: BLE001
            print(f"{k}: ORACLE ERROR {type(e).__name__}: {str(e)[:200]}")
            n_bad += 1
            continue
        if len(s) != len(d):
            print(f"{k}: ROWCOUNT {len(s)} vs {len(d)}")
            n_bad += 1
        else:
            bad = [(a, b) for a, b in zip(s, d) if a != b]
            if bad:
                print(f"{k}: MISMATCH {bad[0]}")
                n_bad += 1
            else:
                print(f"{k}: VALUES-EXACT ({len(s)} rows)")
    print(f"\n{'FAILURES: ' + str(n_bad) if n_bad else 'ALL CLEAN'}")
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
