"""Workloads and metric definitions of the benchmark.

`BENCHMARK.json` at the repository root lists the same names; the
self-test checks that the two agree. `PER_LAYER` also records, for each
per-layer metric, which end-to-end metric on which workload it should
move (`moves`), since `BENCHMARK.json` has no field for it.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    data: str  # input tables: a directory under perfbench/data/
    keys: tuple[str, ...]  # __spark_entry__.queries() keys, one call each per pass


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "headline",
            "bench.HEADLINE read-path keys on the sf0.01 reference tables: bound by "
            "driver-side build, planning and job scheduling (fixed overhead)",
            "sf0.01",
            (
                "pricing_summary",
                "events_sessionize",
                "raster_calc_expr",
                "dedup_exact",
                "text_pii_flag",
            ),
        ),
        Workload(
            "write_stream",
            "a COG write read back through mapInPandas workers and an "
            "applyInPandasWithState stream, each into fresh output and checkpoint roots",
            "sf0.01",
            ("cog_write_manifest", "streaming_cusum"),
        ),
    )
}

# name -> (unit, better, bound). The wall and CPU times of a pass
# (`pass_s`, `pass_cpu_s`, `query_p50_s`) are printed but not gated: on a
# shared host they drift with the neighbours' load by more than any useful
# bound between runs. `duckdb_ratio` divides the pass time by DuckDB's time
# for the same keys' oracle SQL, measured right before and after each pass,
# so the drift cancels; it is the gated form of the pass time.
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "duckdb_ratio": ("ratio", "lower", 0.25),
}

HL, WS, ALL = "headline", "write_stream", "headline,write_stream"

# name -> (unit, better, moves: "<end-to-end metric> on <workloads>")
PER_LAYER = {
    "session.start_s": ("s", "lower", f"setup_s on {ALL}"),
    "sources.stage_s": ("s", "lower", f"setup_s on {ALL}"),
    "sources.stage_bytes_written": ("bytes", "lower", f"setup_s on {ALL}"),
    "sources.load_s": ("s", "lower", f"duckdb_ratio on {HL}"),
    "operators.build_s": ("s", "lower", f"duckdb_ratio on {ALL}"),
    "operators.build_jobs": ("count", "lower", f"duckdb_ratio on {HL}"),
    "operators.build_sql_executions": ("count", "lower", f"duckdb_ratio on {HL}"),
    "plan.s": ("s", "lower", f"duckdb_ratio on {HL}"),
    "plan.exchanges": ("count", "lower", f"duckdb_ratio on {HL}"),
    "plan.sorts": ("count", "lower", f"duckdb_ratio on {HL}"),
    "exec.s": ("s", "lower", f"duckdb_ratio on {ALL}"),
    "exec.jobs": ("count", "lower", f"duckdb_ratio on {HL}"),
    "exec.stages": ("count", "lower", f"duckdb_ratio on {HL}"),
    "exec.tasks": ("count", "lower", f"duckdb_ratio on {HL}"),
    "exec.task_cpu_s": ("s", "lower", f"duckdb_ratio on {ALL}"),
    "exec.task_run_s": ("s", "lower", f"duckdb_ratio on {ALL}"),
    "exec.gc_s": ("s", "lower", f"duckdb_ratio on {ALL}"),
    "exec.cores_busy_frac": ("frac", "higher", f"duckdb_ratio on {ALL}"),
    "scan.input_rows": ("rows", "lower", f"duckdb_ratio on {HL}"),
    "scan.input_bytes": ("bytes", "lower", f"duckdb_ratio on {HL}"),
    "exchange.shuffle_write_bytes": ("bytes", "lower", f"duckdb_ratio on {HL}"),
    "exchange.shuffle_read_bytes": ("bytes", "lower", f"duckdb_ratio on {HL}"),
    "exchange.fetch_wait_s": ("s", "lower", f"duckdb_ratio on {HL}"),
    "exchange.spill_bytes": ("bytes", "lower", f"duckdb_ratio on {ALL}"),
    "python.exec_s": ("s", "lower", f"duckdb_ratio on {WS}; zero on {HL}"),
    "python.bytes_sent": ("bytes", "lower", f"duckdb_ratio on {WS}; zero on {HL}"),
    "python.bytes_returned": ("bytes", "lower", f"duckdb_ratio on {WS}; zero on {HL}"),
    "python.rows_out": ("rows", "lower", f"duckdb_ratio on {WS}; zero on {HL}"),
    "stream.batches": ("count", "lower", f"duckdb_ratio on {WS}"),
    "stream.input_rows": ("rows", "lower", f"duckdb_ratio on {WS}"),
    "stream.state_rows": ("rows", "lower", f"duckdb_ratio on {WS}"),
    "stream.state_memory_bytes": ("bytes", "lower", f"duckdb_ratio on {WS}"),
    "stream.state_commit_s": ("s", "lower", f"duckdb_ratio on {WS}"),
    "stream.trigger_s": ("s", "lower", f"duckdb_ratio on {WS}"),
    "stream.rows_dropped_by_watermark": ("rows", "lower", f"duckdb_ratio on {WS}"),
    "writes.bytes": ("bytes", "lower", f"duckdb_ratio on {WS}"),
    "writes.files": ("count", "lower", f"duckdb_ratio on {WS}"),
    "cache.persisted_rdds_after": ("count", "lower", f"duckdb_ratio on {ALL}"),
    "cache.storage_bytes_after": ("bytes", "lower", f"duckdb_ratio on {ALL}"),
    "oracle.mismatches": ("count", "lower", "failed on every workload"),
    "trace.overhead_frac": ("frac", "lower", "none: cost of tracing itself"),
}
for _w in WORKLOADS.values():
    for _k in _w.keys:
        PER_LAYER[f"key.{_k}.s"] = ("s", "lower", f"duckdb_ratio on {_w.name}")
