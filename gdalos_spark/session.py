"""The engine's one Spark session conf, and the session factory built on it.

`conf(cpus)` is the only place the engine's Spark conf is written. The
bench (`bench.py`, `perfbench/`), the plan dumps (`tools/dump_plans.py`),
the upscale sweep (`tools/sf10_sweep.py`, which adds only its harness
limits), the CLI, `tools/plan_audit.py` and the test suite all start
from it, so the plans the tests pin are the plans the bench times.

Two entry points stay on a vanilla session on purpose, because they
mirror how `__spark_entry__` is evaluated, imported into a session with
none of these confs: `tools/drive_values.py` and `python bench.py
--smoke`. Defensive confs therefore live in the loaders, never here.

`scoped_conf` is the one way to override a runtime conf for a block.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

from gdalos_spark import datamodel


def conf(cpus: int | str) -> dict[str, str]:
    """Session conf for `local[cpus]`. Every entry is a production-sane
    default, not a local[32] tune, and every key differs from Spark's
    default (AQE and its partition coalescing are already on there):

    - shuffle.partitions = max(cores, 32): scales with the session's
      cores; AQE coalesces below it when volumes are small.
    - maxPartitionBytes 16m: upscaled single-file parquet (600 MB+)
      otherwise gives only size/128MB scan tasks — far fewer than cores.
      16 MB splits keep every core scanning at sf>=1 and change nothing
      at sf0.1 (files there are < 16 MB already).
    - preferSortMergeJoin=false (round-12, guide §3.1/§9): lets the
      planner pick shuffled-hash join when its size conditions hold —
      the planner still requires the build side to fit per-partition,
      so this is NOT a forced hint; sort-merge remains the fallback for
      big-build joins. Plan-level effect (committed r12 artifacts): the
      headline query it changes is dedup_clusters, whose per-round CC
      joins go SMJ->SHJ (plans/r12: 10 SMJ -> 2, 4 SHJ appear; measured
      4.74->3.84s same-session). The other headline plans are unchanged
      (dims already broadcast; the full-outer mosaic edges keep SMJ at
      plan time because their stats estimates exceed the local-hash-map
      gate) — same-session deltas observed on them (raster_mosaic
      1.24->0.99s, region_volume 1.01->0.78s) sit inside the host band
      and are NOT attributed to this conf.
    - bucketedTableScan.outputOrdering: bucketed scans report their
      SORTED BY order when each bucket is one file (write_bucketed
      guarantees that), so sort-merge joins and user_id-window plans
      over staged facts skip the Sort too, not just the Exchange
      (events_sessionize: 2 Sorts -> 1). Off by default upstream only
      because multi-file buckets can't claim order — ours can't be
      multi-file.
    - python.sql.dataFrameDebugging.enabled=false: PySpark 4.1 wraps
      every `F.*`/Column call in `_with_origin`, which per call looks up
      the active session, reads a conf, walks the Python stack and sets
      and clears a JVM origin. Off, a DataFrame error no longer names
      the Python call site in its context; in exchange the build of the
      perfbench headline keys falls from ~780 to 516-605 ms (same-host
      probe). PySpark reads the flag once per process, at the first
      wrapped call made under an active session.
    - driver.memory from SPARK_GRAFT_DRIVER_MEM (default 16g).
    - AQE initialPartitionNum derived from the DEM cell count (round-12,
      guide §2.2/§5 "fewer, larger reduce partitions ... let AQE
      coalesce" + spill bounds): the big-grid stencil/kernel shuffles
      are O(cells), so initial shuffle partitions hold a constant
      ~2^18 cells each (~85 MB of pass-2 kernel rows) and AQE coalesces
      everything smaller back down. shuffle.partitions itself must NOT
      be raised for this: every stateful stream and every bucket count
      sized by datamodel.coalesced_partitions is capped by it and is not
      AQE-coalescible. At the reference
      data's 64x64 dims the derived value never exceeds the base
      partitions, so the conf is omitted. Measured at the 8192x8192-cell
      grid (interleaved
      same-session A/Bs): raster_resample_lanczos 221.4 -> 193.4s warm
      and the cold spill cliff (370.9s) gone; raster_sieve 151.1 ->
      102.4s; 512/1024 regress on the same data (quadratic block
      growth, guide §2.2) — constant cells-per-partition is the scale
      rule, not "more".
    """
    base_parts = max(int(cpus), 32)
    out = {
        "spark.sql.shuffle.partitions": str(base_parts),
        "spark.sql.files.maxPartitionBytes": "16m",
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
        "spark.ui.enabled": "false",
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    }
    init_parts = (datamodel.GRID_W * datamodel.GRID_H) >> 18
    if init_parts > base_parts:
        out["spark.sql.adaptive.coalescePartitions.initialPartitionNum"] = str(
            min(init_parts, 4096)
        )
    return out


def get_spark(
    app_name: str = "gdalos_spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """`local[cpus]` session from `conf(cpus)`; `cpus` defaults to
    $SPARK_GRAFT_CPUS (32 when unset), and `shuffle_partitions`
    overrides the conf's count."""
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    for k, v in conf(cpus).items():
        builder = builder.config(k, v)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Set `confs` on the session for the block, then restore each key's
    previous value (or unset it if it was not set)."""
    prevs = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, prev in prevs.items():
            if prev is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, prev)
