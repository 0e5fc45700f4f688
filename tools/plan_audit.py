"""Catalog-wide physical-plan audit: count the expensive operators in
every query's executed plan and write a per-key inventory.

Usage:
    python tools/plan_audit.py [--sf DIR] [--out plans_audit.json] [--staged] [key ...]

By default the audit pins GDALOS_BUCKETED_ROOT to a fresh empty dir so
the plans reflect the PLAIN parquet layout regardless of leftover /tmp
staging; --staged stages the bucketed facts into that private root
first and audits the layout-served plans instead (diff the two files to
see which keys the layout strips exchanges/sorts from).

For each `__spark_entry__.queries()` key this builds the DataFrame and
reads its (pre-execution) executed plan — no job runs for the returned
frame; keys that checkpoint, iterate or stream DO execute while they
build, which is why the default scale is sf0.001. Those build-time SQL
executions are read back from the status store (through
perfbench/sparkstats.SparkStats) and counted into a `build` sub-record
with their `executions` count, so a key whose returned frame stands on
checkpoints does not read as free. Counted per plan:

    hash_exchanges   Exchange hashpartitioning  (the shuffles that hurt at 100 TB)
    range_exchanges  Exchange rangepartitioning (presentation sorts — bounded output)
    sorts            Sort nodes
    python_eval      BatchEvalPython / ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas
    cartesian        CartesianProduct / BroadcastNestedLoopJoin
    bhj / smj        broadcast vs sort-merge joins

The JSON artifact is diffable round-over-round: a new hash exchange in a
previously-clean key is a plan regression even when values stay exact.
The audit is evidence, not a gate — test_plans.py pins the invariants
that must never regress (no cartesian products, no Python eval in SQL
operators, zero-exchange bucketed joins).
"""
from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.sparkstats import SparkStats, final_plan_tree  # noqa: E402

PATTERNS = {
    "hash_exchanges": r"Exchange hashpartitioning",
    "range_exchanges": r"Exchange rangepartitioning",
    "single_exchanges": r"Exchange SinglePartition",
    "sorts": r"\bSort \[",
    "python_eval": r"BatchEvalPython|ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas",
    # CartesianProduct is always a defect; BroadcastNestedLoopJoin is
    # counted separately because the catalog's instances are 1-row
    # scalar-aggregate broadcasts (join with a stats frame) — benign by
    # construction, pinned by test_plans' no-cartesian invariants.
    "cartesian": r"CartesianProduct",
    "bnlj": r"BroadcastNestedLoopJoin",
    "bhj": r"BroadcastHashJoin",
    "smj": r"SortMergeJoin",
}


def audit_plan(plan: str) -> dict[str, int]:
    return {k: len(re.findall(p, plan)) for k, p in PATTERNS.items()}


def audit_description(desc: str) -> dict[str, int]:
    """`audit_plan` over the final plan of a formatted plan description
    (what the status store keeps per SQL execution): each tree node is
    read as its name plus its details block's Arguments line, the form
    `executedPlan().toString()` prints ("Exchange hashpartitioning(...").
    """
    args = {}
    for block in re.split(r"\n\n+", desc):
        head = re.match(r"\((\d+)\) ", block)
        if head:
            arg = re.search(r"^Arguments: (.*)$", block, re.M)
            args[head.group(1)] = arg.group(1) if arg else ""
    nodes = []
    for line in final_plan_tree(desc):
        node = re.search(r"([A-Za-z][\w ]*?) \((\d+)\)", line)
        if node:
            nodes.append(f"{node.group(1)} {args.get(node.group(2), '')}")
    return audit_plan("\n".join(nodes))


def audit_key(spark, stats: SparkStats, fn, sf: str) -> dict:
    """Counts for one key: its returned frame's executed plan, plus the
    `build` record summed over the SQL executions its build ran."""
    stats.snapshot()
    df = fn(spark, sf)
    _, _, execs = stats.snapshot()
    row: dict = audit_plan(df._jdf.queryExecution().executedPlan().toString())
    build = dict.fromkeys(PATTERNS, 0)
    for e in execs:
        for k, v in audit_description(e.get("physicalPlanDescription") or "").items():
            build[k] += v
    row["build"] = {**build, "executions": len(execs)}
    return row


def main() -> int:
    args = sys.argv[1:]
    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    out_path = "plans_audit.json"
    staged = False
    only: set[str] = set()
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            sf = args[i + 1]
            i += 2
        elif args[i] == "--out":
            out_path = args[i + 1]
            i += 2
        elif args[i] == "--staged":
            staged = True
            i += 1
        else:
            only.add(args[i])
            i += 1

    import tempfile

    os.environ["GDALOS_BUCKETED_ROOT"] = tempfile.mkdtemp(prefix="plan_audit_")

    from gdalos_spark.session import get_spark

    spark = get_spark("plan_audit", shuffle_partitions=8)
    if staged:
        from gdalos_spark.sources import bucketed

        bucketed.stage_facts(spark, sf, buckets=8)
    import __spark_entry__ as E

    stats = SparkStats(spark)
    rows: dict[str, dict] = {}
    for k, fn in E.queries().items():
        if only and k not in only:
            continue
        try:
            rows[k] = audit_key(spark, stats, fn, sf)
        except Exception as e:  # noqa: BLE001
            rows[k] = {"error": f"{type(e).__name__}: {e}"[:200]}

    totals: dict = {"build": {}}
    for r in rows.values():
        for into, counts in ((totals, r), (totals["build"], r.get("build", {}))):
            for key, v in counts.items():
                if isinstance(v, int):
                    into[key] = into.get(key, 0) + v
    artifact = {"sf": sf, "totals": totals, "keys": rows}
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)

    def shuffles(r: dict) -> tuple[int, int]:
        return r.get("hash_exchanges", 0), r.get("build", {}).get("hash_exchanges", 0)

    worst = sorted(rows, key=lambda k: -sum(shuffles(rows[k])))[:15]
    print(f"audited {len(rows)} keys at {sf} -> {out_path}")
    print("totals:", json.dumps(totals, sort_keys=True))
    print("most hash exchanges (returned plan + build):")
    for k in worst:
        print("  %3d + %3d  %s" % (*shuffles(rows[k]), k))
    bad = [k for k, r in rows.items() if r.get("cartesian")]
    if bad:
        print("CARTESIAN:", bad)
    errs = [k for k, r in rows.items() if "error" in r]
    if errs:
        print("errors:", errs)
    spark.stop()
    return 1 if errs else 0


if __name__ == "__main__":
    raise SystemExit(main())
