"""One benchmark run inside a prepared run directory (started by run.py).

Closed loop, one client: a single driver thread calls the next key only
after the previous call's write has finished. The input is a copy of the
reference tables under `data/`; `--seed` permutes the key order of each
pass. Phases:

1. set-up: start the session from `bench.bench_conf`, stage the bucketed
   facts into a fresh root (`stage_facts`) and attach every table
   (`datamodel.load`);
2. check pass (also the warm-up): call each key once, collect its output
   and compare it with the key's oracle SQL run by DuckDB; `setup_s` is
   the time from the start of this process to the end of this pass;
3. timed passes, each calling every key once in a seed-permuted order
   and writing to the `noop` sink, until a pass ends after `--seconds`
   and `MIN_PASSES` have run; right before and right after each pass
   DuckDB runs the same keys' oracle SQL, and `duckdb_ratio` compares
   the two engines' pass times.

Before every key execution the session's cached frames are cleared and
the write, stream and temp roots point at a fresh directory. With
`--trace 1` every key runs twice back to back, untraced then traced; the
traced copy adds a planning span and reads Spark's status stores after
it, and the pair gives the tracing overhead.
"""

from __future__ import annotations

import argparse
import dataclasses
import glob
import json
import os
import platform
import random
import shutil
import stat
import statistics
import subprocess
import sys
import tempfile
import time

from catalog import END_TO_END, PER_LAYER, WORKLOADS
from proctree import age_s, tree_cpu_s
from tools.drive_values import norm  # the oracle comparison's value normalization

HERE = os.path.dirname(os.path.abspath(__file__))
DRIVER_MEMORY = "2g"  # bench_conf asks for 16g; the benchmark host may have less
DUCK_REPS = 10  # DuckDB runs of each oracle query before and after each timed pass
MIN_PASSES = 2  # timed passes, however short `--seconds` is
FRESH_ROOTS = ("GDALOS_COG_ROOT", "GDALOS_OVR_ROOT", "GDALOS_GPKG_ROOT")


class Spans:
    """In-memory span tree: run -> setup/pass -> key -> phase."""

    def __init__(self) -> None:
        self.items: list[dict] = []

    def start(self, name: str, parent: dict | None = None, **attrs) -> dict:
        s = {
            "id": len(self.items),
            "parent": parent["id"] if parent else None,
            "name": name,
            "start_ms": time.time() * 1e3,
            "end_ms": None,
            **attrs,
        }
        self.items.append(s)
        return s

    @staticmethod
    def end(span: dict, **attrs) -> dict:
        span["end_ms"] = time.time() * 1e3
        span.update(attrs)
        return span


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) of the regular files under `path`."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            st = os.lstat(os.path.join(root, n))
            if stat.S_ISREG(st.st_mode):
                total += st.st_size
                files += 1
    return total, files


class Runner:
    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.wl = WORKLOADS[args.workload]
        if args.keys:
            keys = tuple(args.keys.split(","))
            unknown = set(keys) - set(self.wl.keys)
            if unknown:
                raise ValueError(f"keys not in workload {self.wl.name}: {sorted(unknown)}")
            self.wl = dataclasses.replace(self.wl, keys=keys)
        self.rng = random.Random(args.seed)
        self.run_dir = os.path.abspath(args.run_dir)
        self.data_dir = os.path.join(HERE, "data", self.wl.data)
        self.nproc = len(os.sched_getaffinity(0))
        self.spans = Spans()
        self.spark = None
        self.conf: dict[str, str] = {}
        self.layer: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self._root_seq = 0
        self._last_root: str | None = None
        self.stats = None  # SparkStats, traced runs only
        self.stream = None  # StreamProgress, traced runs only
        self.counted_stages: set[int] = set()
        self.busy_run_s = 0.0

    # -- session and set-up -------------------------------------------------

    def session(self):
        import bench
        from pyspark.sql import SparkSession

        conf = bench.bench_conf(str(self.nproc))
        conf.update({
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.local.dir": os.path.join(self.run_dir, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.run_dir}/tmp",
            "spark.ui.showConsoleProgress": "false",
        })
        self.conf = conf
        b = SparkSession.builder.master(f"local[{self.nproc}]").appName("perfbench")
        for k, v in conf.items():
            b = b.config(k, v)
        spark = b.getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self, run_span: dict) -> None:
        from gdalos_spark.datamodel import TABLES, load
        from gdalos_spark.sources.bucketed import stage_facts

        span = self.spans.start("setup", run_span)
        t0 = time.perf_counter()
        self.spark = self.session()
        t1 = time.perf_counter()
        stage_facts(self.spark, self.data_dir)  # into run.py's fresh GDALOS_BUCKETED_ROOT
        t2 = time.perf_counter()
        for t in TABLES:
            load(self.spark, self.data_dir, t)
        t3 = time.perf_counter()
        L = self.layer
        L["session.start_s"], L["sources.stage_s"], L["sources.load_s"] = t1 - t0, t2 - t1, t3 - t2
        L["sources.stage_bytes_written"] = dir_usage(os.environ["GDALOS_BUCKETED_ROOT"])[0]
        self.spans.end(span, start_s=t1 - t0, stage_s=t2 - t1, load_s=t3 - t2)

    # -- one key execution ----------------------------------------------------

    def fresh_roots(self) -> str:
        """Point every write, stream-checkpoint and temp root at a new
        directory and remove the previous one."""
        if self._last_root:
            shutil.rmtree(self._last_root, ignore_errors=True)
        self._root_seq += 1
        root = os.path.join(self.run_dir, "roots", str(self._root_seq))
        os.makedirs(os.path.join(root, "tmp"))
        tempfile.tempdir = os.path.join(root, "tmp")
        for var in FRESH_ROOTS:
            os.environ[var] = os.path.join(root, var.split("_")[1].lower())
        self._last_root = root
        return root

    def execute(self, fn, key: str, parent: dict, traced: bool) -> tuple[float, float] | None:
        """Build, (plan,) and write one key to the noop sink; return its
        latency and the CPU seconds the process tree spent meanwhile, or
        None when it raised."""
        self.spark.catalog.clearCache()
        root = self.fresh_roots()
        key_span = self.spans.start("key", parent, key=key, traced=traced)
        self.attempted += 1
        cpu0 = tree_cpu_s(os.getpid())
        try:
            t0 = time.perf_counter()
            b = self.spans.start("build", key_span)
            df = fn(self.spark, self.data_dir)
            self.spans.end(b)
            if traced:
                p = self.spans.start("plan", key_span)
                df._jdf.queryExecution().executedPlan()
                self.spans.end(p)
            e = self.spans.start("execute", key_span)
            df.write.format("noop").mode("overwrite").save()
            self.spans.end(e)
            latency = time.perf_counter() - t0
            cpu = tree_cpu_s(os.getpid()) - cpu0
        except Exception as exc:  # noqa: BLE001 - a failed key is counted, the run goes on
            self.failed += 1
            self.errors.append(f"{key}: {type(exc).__name__}: {str(exc)[:300]}")
            self.spans.end(key_span, error=type(exc).__name__)
            return None
        self.spans.end(key_span, latency_s=latency, cpu_s=cpu)
        if traced:
            self.trace_key(key_span, root)
        return latency, cpu

    def trace_key(self, key_span: dict, root: str) -> None:
        from sparkstats import attribute, stream_totals

        phases = [s for s in self.spans.items if s["parent"] == key_span["id"]]
        jobs, stages, execs = self.stats.snapshot()
        per_phase = attribute(phases, jobs, stages, execs, self.counted_stages)
        L = self.layer
        for ph in phases:
            d = per_phase.get(ph["id"], {})
            dur = (ph["end_ms"] - ph["start_ms"]) / 1e3
            if ph["name"] == "build":
                L["operators.build_s"] += dur
                L["operators.build_jobs"] += d.get("jobs", 0)
                L["operators.build_sql_executions"] += d.get("sql_executions", 0)
            elif ph["name"] == "plan":
                L["plan.s"] += dur
            else:
                L["exec.s"] += dur
                L["exec.jobs"] += d.get("jobs", 0)
                L["exec.stages"] += d.get("stages", 0)
                L["exec.tasks"] += d.get("tasks", 0)
            for name, v in d.items():
                if name in L:
                    L[name] += v
            ph.update(d)
        events, self.stream.events = self.stream.events, []
        for name, v in stream_totals(events).items():
            L[name] += v
        nbytes, nfiles = dir_usage(root)
        L["writes.bytes"] += nbytes
        L["writes.files"] += nfiles
        jsc = self.spark.sparkContext._jsc
        L["cache.persisted_rdds_after"] += jsc.getPersistentRDDs().size()
        infos = jsc.sc().getRDDStorageInfo()
        L["cache.storage_bytes_after"] += sum(i.memSize() + i.diskSize() for i in infos)
        self.busy_run_s += sum(
            per_phase.get(ph["id"], {}).get("exec.task_run_s", 0.0) for ph in phases
        )

    # -- passes ---------------------------------------------------------------

    def oracle_rows(self, con, sql: str, cols: list[str]) -> list[tuple]:
        cur = con.execute(sql)
        idx = {d[0].lower(): j for j, d in enumerate(cur.description)}
        order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
        return sorted(
            tuple(norm(row[idx[cols[i].lower()]]) for i in order) for row in cur.fetchall()
        )

    def check_pass(self, run_span: dict, queries, oracles, con) -> None:
        span = self.spans.start("pass", run_span, kind="check")
        for key in self.wl.keys:
            self.spark.catalog.clearCache()
            self.fresh_roots()
            ks = self.spans.start("key", span, key=key)
            self.attempted += 1
            try:
                b = self.spans.start("build", ks)
                df = queries[key](self.spark, self.data_dir)
                self.spans.end(b)
                e = self.spans.start("execute", ks)
                cols = df.columns
                order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
                got = sorted(tuple(norm(r[cols[i]]) for i in order) for r in df.collect())
                self.spans.end(e)
                o = self.spans.start("oracle_check", ks)
                want = self.oracle_rows(con, oracles[key], cols)
                ok = got == want
                self.spans.end(o, rows=len(got), match=ok)
            except Exception as exc:  # noqa: BLE001 - counted as a failed operation
                ok = False
                self.errors.append(f"check {key}: {type(exc).__name__}: {str(exc)[:300]}")
            if not ok:
                self.failed += 1
                self.layer["oracle.mismatches"] += 1
            self.spans.end(ks, match=ok)
        self.spans.end(span)

    def time_duckdb(self, con, oracles, duck_lat: dict[str, list[float]]) -> None:
        """Run every key's oracle SQL `DUCK_REPS` times in DuckDB."""
        for key in self.wl.keys:
            for _ in range(DUCK_REPS):
                t0 = time.perf_counter()
                con.execute(oracles[key]).fetchall()
                duck_lat[key].append(time.perf_counter() - t0)

    def timed(self, run_span: dict, queries, oracles, con) -> tuple[dict, dict, dict, dict, int]:
        """Closed-loop passes. DuckDB runs the same keys' oracle SQL right
        before and right after each pass, so the two engines are timed
        under the same host load without sharing the CPU with each other."""
        traced = self.args.trace == 1
        untraced_lat: dict[str, list[float]] = {k: [] for k in self.wl.keys}
        traced_lat: dict[str, list[float]] = {k: [] for k in self.wl.keys}
        duck_lat: dict[str, list[float]] = {k: [] for k in self.wl.keys}
        cpu: dict[str, list[float]] = {k: [] for k in self.wl.keys}
        deadline = time.perf_counter() + self.args.seconds
        passes = 0
        while passes < MIN_PASSES or time.perf_counter() < deadline:
            self.time_duckdb(con, oracles, duck_lat)
            span = self.spans.start("pass", run_span, kind="timed", index=passes)
            order = list(self.wl.keys)
            self.rng.shuffle(order)
            for key in order:
                done = self.execute(queries[key], key, span, traced=False)
                if done is not None:
                    untraced_lat[key].append(done[0])
                    cpu[key].append(done[1])
                if traced:
                    done = self.execute(queries[key], key, span, traced=True)
                    if done is not None:
                        traced_lat[key].append(done[0])
            self.spans.end(span)
            passes += 1
        self.time_duckdb(con, oracles, duck_lat)
        return untraced_lat, traced_lat, duck_lat, cpu, passes

    # -- the run --------------------------------------------------------------

    def run(self) -> dict:
        import duckdb

        run_span = self.spans.start("run", None, workload=self.wl.name, seed=self.args.seed)
        con = duckdb.connect()
        con.execute(f"SET threads TO {self.nproc}")
        for p in glob.glob(f"{self.data_dir}/*.parquet"):
            con.execute(
                f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM read_parquet('{p}')"
            )

        self.setup(run_span)
        import __spark_entry__

        queries, oracles = __spark_entry__.queries(), __spark_entry__.oracle_sql()
        if self.args.trace:
            from sparkstats import SparkStats, StreamProgress

            self.stats = SparkStats(self.spark)
            self.stream = StreamProgress()
            self.spark.streams.addListener(self.stream)

        self.check_pass(run_span, queries, oracles, con)
        setup_s = age_s(os.getpid())
        if self.args.trace:  # drop what the check pass left in the stores
            self.stats.snapshot()
            self.stream.events = []
        untraced_lat, traced_lat, duck_lat, cpu, passes = self.timed(run_span, queries, oracles, con)
        self.spark.catalog.clearCache()
        self.spans.end(run_span)

        lats = sorted(v for vs in untraced_lat.values() for v in vs)
        if not lats:
            raise RuntimeError("no key execution succeeded: " + "; ".join(self.errors[:5]))
        med = {k: statistics.median(v) for k, v in untraced_lat.items() if v}
        pass_s = sum(med.values())
        duck_s = sum(statistics.median(duck_lat[k]) for k in med)
        n = len(lats)
        metrics = {"setup_s": setup_s, "duckdb_ratio": pass_s / duck_s}
        info = {
            "pass_s": pass_s,
            "pass_cpu_s": sum(statistics.median(cpu[k]) for k in med),
            "query_p50_s": statistics.median(lats),
            "passes": passes,
            "samples": n,
            # the highest percentile with 10 samples beyond it; below the
            # median (fewer than 20 samples) it says nothing and is omitted
            **({"query_tail_pct": round(100.0 * (n - 10) / n, 1), "query_tail_s": lats[n - 11]}
               if n >= 20 else {}),
            "failed_ops_frac": self.failed / self.attempted,
            "duckdb_pass_s": duck_s,
            "errors": self.errors,
        }
        if self.args.trace:
            L = self.layer
            scale = len(self.wl.keys) / max(1, sum(len(v) for v in traced_lat.values()))
            for name in PER_LAYER:
                if name.split(".")[0] in {
                    "operators", "plan", "exec", "scan", "exchange", "python",
                    "stream", "writes", "cache",
                } and name != "exec.cores_busy_frac":
                    L[name] *= scale  # per pass: one call of every key
            traced_total = sum(sum(v) for v in traced_lat.values())
            L["exec.cores_busy_frac"] = self.busy_run_s / max(1e-9, traced_total * self.nproc)
            both = [k for k in self.wl.keys if untraced_lat[k] and traced_lat[k]]
            L["trace.overhead_frac"] = (
                sum(statistics.median(traced_lat[k]) for k in both)
                / sum(statistics.median(untraced_lat[k]) for k in both)
                - 1.0
            ) if both else 0.0
            for k, v in med.items():
                L[f"key.{k}.s"] = v
        return {"metrics": metrics, "info": info}

    def environment(self) -> dict:
        import duckdb
        import pyspark

        java = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, check=False
        ).stderr.splitlines()
        return {
            "nproc": self.nproc,
            "spark": pyspark.__version__,
            "duckdb": duckdb.__version__,
            "java": java[0] if java else "unknown",
            "python": platform.python_version(),
            "conf": self.conf,
        }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--spans", required=True)
    ap.add_argument("--keys")
    args = ap.parse_args()
    r = Runner(args)
    try:
        out = r.run()
        env = r.environment()
    finally:
        if r.spark is not None:
            r.spark.stop()
    os.makedirs(os.path.dirname(os.path.abspath(args.spans)), exist_ok=True)
    with open(args.spans, "w") as f:
        json.dump({"env": env, "spans": r.spans.items}, f)
    print("env " + json.dumps(env, sort_keys=True))
    print("info " + json.dumps(out["info"], sort_keys=True))
    if args.trace:
        names = PER_LAYER
        values = r.layer
    else:
        names = END_TO_END
        values = out["metrics"]
    metrics = {n: {"value": values[n], "unit": names[n][0]} for n in names}
    print(json.dumps({
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
