"""Static sweep for the bare-decimal-literal hazard.

Both engines lex a bare fractional literal (`0.9933056200098587`) as
DECIMAL. Spark's DECIMAL->DOUBLE coercion is correctly rounded, but
DuckDB's goes through scaled-integer division and is ONE ULP OFF the
correct string->binary64 parse for some constants — so the oracle
computes with a slightly different constant than the Spark plan, and
whether the final values still match is data luck. The fix is to spell
float literals with an exponent (`...e0`), which both lexers parse as
DOUBLE directly (functions/literals.dbl_lit).

This tool extracts every bare fractional literal from every oracle_sql()
string and flags the ones whose DuckDB decimal-cast differs from the
Python parse. Exit code 1 if any are found.

Usage: python tools/literal_audit.py
"""
from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as E

LIT_RE = re.compile(r"(?<![\w.])(\d+\.\d+)(?![\w.])")


def main() -> int:
    con = duckdb.connect()
    checked: dict[str, bool] = {}
    hazard: dict[str, set[str]] = {}
    for key, sql in E.oracle_sql().items():
        for m in LIT_RE.finditer(sql):
            s = m.group(1)
            if s not in checked:
                got = con.execute(f"SELECT CAST({s} AS DOUBLE)").fetchone()[0]
                checked[s] = got != float(s)
            if checked[s]:
                hazard.setdefault(key, set()).add(s)
    print(f"distinct bare literals: {len(checked)}  "
          f"hazardous: {sum(checked.values())}")
    for k in sorted(hazard):
        print(f"  {k}: {sorted(hazard[k])}")
    if hazard:
        print("FAIL: spell these with an exponent suffix (e0)")
        return 1
    print("ALL LITERALS PARSE-SAFE")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
