"""Driver-contract verification: run every __spark_entry__ query under a
VANILLA SparkSession and compare it against its DuckDB oracle: column
names, column types and values, exactly.

A type-sensitive result hash tells a DuckDB HUGEINT (SUM over BIGINT)
from a Spark BIGINT even when every value matches — the class of
mismatch that once hit sequence_packing and 15 decimal-SUM keys.
`oracle_mismatch` therefore checks each column's DESCRIBE type before
it compares values. The test suite runs the same compare
(tests/conftest.py, tests/test_catalog.py).

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

# DuckDB type -> acceptable Spark simpleString prefixes. Anything not in
# this table (HUGEINT, UTINYINT, STRUCT...) is flagged. The result
# hash normalizes integer WIDTHS (an int32 Spark column hash-matches a
# BIGINT oracle column, as customer_rfm_scores, running_totals and
# raster_histogram show), so every
# integer width accepts every other; only int-vs-float / unmapped types
# (HUGEINT, DECIMAL) are real findings. A DuckDB list `T[]` aligns with
# a Spark `array<S>` when T aligns with S, or when both are decimals:
# list elements compare through `norm`, which drops the scale.
_INTS = {"bigint", "int", "smallint", "tinyint"}
DUCK_TO_SPARK = {
    "BIGINT": _INTS,
    "INTEGER": _INTS,
    "SMALLINT": _INTS,
    "TINYINT": _INTS,
    "DOUBLE": {"double"},
    "FLOAT": {"float"},
    "VARCHAR": {"string"},
    "BOOLEAN": {"boolean"},
    "DATE": {"date"},
    "TIMESTAMP": {"timestamp", "timestamp_ntz"},
    "TIMESTAMP WITH TIME ZONE": {"timestamp"},
    "BLOB": {"binary"},
}


def duck_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per parquet table in `sf_dir`."""
    con = duckdb.connect()
    for p in glob.glob(f"{sf_dir}/*.parquet"):
        con.execute(
            f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM read_parquet('{p}')"
        )
    return con


def norm(v):
    """A cell as an engine-neutral value: decimals as scale-free strings,
    floats by repr (-0.0 stays distinct from 0.0, NaN equals NaN),
    timestamps as ISO strings cut to microseconds, lists element-wise."""
    if v is None:
        return None
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, decimal.Decimal):
        return format(v.normalize(), "f")
    if isinstance(v, float):
        return repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    return str(v)


def _aligned(duck: str, spark: str) -> bool:
    if duck.endswith("[]"):
        d, s = duck[:-2], spark[6:-1]
        return spark.startswith("array<") and (
            _aligned(d, s) or (d.startswith("DECIMAL") and s.startswith("decimal"))
        )
    return spark.split("(")[0] in DUCK_TO_SPARK.get(duck, ())


def oracle_mismatch(columns, schema, rows, con, sql: str) -> str | None:
    """None when a Spark result (`columns`, its StructType `schema`, and
    its collected `rows`, raw or normalized) equals DuckDB's result for
    `sql`; else what differs first, checked in this order: the column
    name set, each column's DESCRIBE type, the row count, then the
    sorted normalized rows. Columns pair by lower-cased name."""
    scols = [c.lower() for c in columns]
    dtypes = {r[0].lower(): r[1] for r in con.execute(f"DESCRIBE {sql}").fetchall()}
    if sorted(scols) != sorted(dtypes):
        return f"column set: spark={sorted(scols)} duckdb={sorted(dtypes)}"
    for c, f in zip(scols, schema.fields):
        st = f.dataType.simpleString()
        if not _aligned(dtypes[c], st):
            return f"column `{c}` type: duckdb {dtypes[c]} vs spark {st}"
    cur = con.execute(sql)
    didx = {d[0].lower(): j for j, d in enumerate(cur.description)}
    order = sorted(range(len(scols)), key=lambda i: scols[i])
    s = sorted((tuple(norm(r[i]) for i in order) for r in rows), key=repr)
    d = sorted(
        (tuple(norm(r[didx[scols[i]]]) for i in order) for r in cur.fetchall()),
        key=repr,
    )
    if len(s) != len(d):
        return f"row count: spark={len(s)} duckdb={len(d)}"
    for a, b in zip(s, d):
        if a != b:
            return f"value mismatch:\n spark : {a}\n duckdb: {b}"
    return None


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

    con = duck_views(sf)
    oracles = E.oracle_sql()
    n_bad = 0
    for k, fn in E.queries().items():
        if only and k not in only:
            continue
        try:
            sdf = fn(spark, sf)
            rows = sdf.collect()
        except Exception as e:  # noqa: BLE001
            print(f"{k}: SPARK ERROR {type(e).__name__}: {str(e)[:200]}")
            n_bad += 1
            continue
        if k not in oracles:
            print(f"{k}: rows-only ({len(rows)} rows)")
            continue
        try:
            bad = oracle_mismatch(sdf.columns, sdf.schema, rows, con, oracles[k])
        except Exception as e:  # noqa: BLE001
            print(f"{k}: ORACLE ERROR {type(e).__name__}: {str(e)[:200]}")
            n_bad += 1
            continue
        if bad:
            print(f"{k}: MISMATCH {bad}")
            n_bad += 1
        else:
            print(f"{k}: VALUES-EXACT, TYPES ALIGNED ({len(rows)} rows)")
    print(f"\n{'FAILURES: ' + str(n_bad) if n_bad else 'ALL CLEAN'}")
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
