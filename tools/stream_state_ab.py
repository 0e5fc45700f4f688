"""A/B the stream-stream join state-store providers (HDFS heap vs RocksDB).

Runs the 72h-horizon outer join (and optionally the full-outer twin)
under both providers against a given SF dir, printing one JSON line per
(op, arm) with wall time, output rows, the state-partition count the
run was sized to, and the per-batch state-operator metrics
(numRowsTotal / memoryUsedBytes / RocksDB custom metrics) that
prove state is bounded and evicted across batches — the numbers
BASELINE.md pins for the 10M-event stress protocol.

Usage: python tools/stream_state_ab.py [SF_DIR] [--full-outer]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    ops = ["streaming_stream_outer_join"]
    if "--full-outer" in sys.argv:
        ops.append("streaming_stream_full_outer_join")

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.driver.maxResultSize", "4g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from gdalos_spark.streaming import events as SE

    qname = {
        "streaming_stream_outer_join": SE.SSOJ_QUERY_NAME,
        "streaming_stream_full_outer_join": SE.SSFOJ_QUERY_NAME,
    }
    # rocksdb = snapshot checkpointing (the measured default);
    # rocksdb_chg = changelog checkpointing (per-batch row deltas) —
    # the object-store arm, opt-in via SPARK_GRAFT_ROCKSDB_CHANGELOG.
    arms = [
        ("hdfs", {"SPARK_GRAFT_STATE_STORE": "hdfs"}),
        ("rocksdb", {"SPARK_GRAFT_STATE_STORE": "rocksdb",
                     "SPARK_GRAFT_ROCKSDB_CHANGELOG": "false"}),
        ("rocksdb_chg", {"SPARK_GRAFT_STATE_STORE": "rocksdb",
                         "SPARK_GRAFT_ROCKSDB_CHANGELOG": "true"}),
    ]
    if os.environ.get("SPARK_GRAFT_AB_ARMS"):
        keep = set(os.environ["SPARK_GRAFT_AB_ARMS"].split(","))
        arms = [a for a in arms if a[0] in keep]
    for op in ops:
        fn = getattr(SE, op)
        for arm, env in arms:
            os.environ.update(env)
            t0 = time.time()
            n = fn(spark, sf_dir).count()
            wall = round(time.time() - t0, 2)
            state = SE.LAST_STATE_METRICS.get(qname[op], [])
            print(json.dumps({
                "op": op, "arm": arm, "sf_dir": sf_dir,
                "wall_s": wall, "rows": n,
                "state_partitions": sorted({r["n_partitions"] for r in state}),
                "state": state,
            }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
