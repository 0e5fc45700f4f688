"""Dump `.explain("formatted")` for bench/headline queries to plans/<tag>/.

Usage:
    python tools/dump_plans.py --tag r12/before [--staged] [key ...]

Starts the bench's session (`gdalos_spark.session.get_spark`) so the
captured plans are the ones the bench times.
With --staged the orderkey-bucketed facts are staged first, like the
bench's untimed ingest step, so fact-join plans show the layout-served
shape. Writes plans/<tag>/<key>.txt (one file per key).
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = [a for a in sys.argv[1:]]
    staged = "--staged" in args
    if staged:
        args.remove("--staged")
    tag = "r12"
    if "--tag" in args:
        i = args.index("--tag")
        tag = args[i + 1]
        del args[i : i + 2]
    keys = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from gdalos_spark.session import get_spark

    spark = get_spark("gdalos_spark-plan-dump")

    import bench
    import __spark_entry__ as entrymod

    if staged:
        from gdalos_spark.sources.bucketed import stage_facts

        stage_facts(spark, sf_dir)

    qs = entrymod.queries()
    if not keys:
        keys = bench.HEADLINE
    outdir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    for k in keys:
        fn = qs.get(k)
        if fn is None:
            print(f"{k}: NOT FOUND", file=sys.stderr)
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR building plan: {type(e).__name__}: {e}"
        with open(os.path.join(outdir, f"{k}.txt"), "w") as f:
            f.write(plan)
        print(f"{k}: {len(plan)} chars")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
