"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It makes a fresh run directory under
`.perfbench/`, points every temp, staging, write, checkpoint, Spark-local
and warehouse root into it, starts `worker.py` there with the checkout on
`PYTHONPATH`, samples the resident memory of the worker's whole process
tree (driver Python, JVM, Python workers), then stops every process of
the tree and removes the run directory. The span file of the run stays
at `.perfbench/spans-<workload>-<seed>-trace<0|1>.json`.

The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`). The exit code is
non-zero, with no result line, when the checkout lacks the program or the
worker fails or overruns.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from catalog import WORKLOADS  # noqa: E402
from proctree import group_alive, tree_rss_bytes  # noqa: E402

RUN_LIMIT_S = 170.0  # the whole run, set-up included
KEY_LIMIT_S = 45  # SPARK_GRAFT_STREAM_TIMEOUT_S: a hung stream fails its key
PROGRAM = ("__spark_entry__.py", "bench.py", "gdalos_spark/datamodel.py")


def stop_group(pgid: int) -> None:
    """Kill every process left in the worker's process group and wait
    until none is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            if not group_alive(pgid):
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keys", help="comma-separated subset of the workload's keys (quick checks)")
    args = ap.parse_args()

    checkout = os.getcwd()
    missing = [p for p in PROGRAM if not os.path.exists(os.path.join(checkout, p))]
    if missing:
        print(f"perfbench: not a gdalos_spark checkout (missing {missing})", file=sys.stderr)
        return 2

    base = os.path.join(checkout, ".perfbench")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=base)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub))
    spans = os.path.join(base, f"spans-{args.workload}-{args.seed}-trace{args.trace}.json")
    env = dict(os.environ)
    env.update({
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "GDALOS_BUCKETED_ROOT": os.path.join(run_dir, "bucketed"),
        "GDALOS_COG_ROOT": os.path.join(run_dir, "cog"),
        "GDALOS_OVR_ROOT": os.path.join(run_dir, "ovr"),
        "GDALOS_GPKG_ROOT": os.path.join(run_dir, "gpkg"),
        "SPARK_GRAFT_STREAM_TIMEOUT_S": str(KEY_LIMIT_S),
        "PYTHONPATH": os.pathsep.join(p for p in (checkout, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONWARNINGS": "ignore",
    })
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", run_dir, "--spans", spans,
    ]
    if args.keys:
        cmd += ["--keys", args.keys]
    # a SIGTERM to this process must still stop the worker's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    log_path = os.path.join(base, f"log-{os.path.basename(run_dir)}.txt")
    peak = 0
    timed_out = False
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, stderr=log,
            text=True, start_new_session=True,
        )
        chunks: list[str] = []
        reader = threading.Thread(target=lambda: chunks.append(proc.stdout.read()))
        reader.start()
        t0 = time.monotonic()
        try:
            while proc.poll() is None:
                peak = max(peak, tree_rss_bytes(proc.pid))
                if time.monotonic() - t0 > RUN_LIMIT_S:
                    timed_out = True
                    break
                time.sleep(0.2)
        finally:
            stop_group(proc.pid)
            proc.wait()
            reader.join()
            shutil.rmtree(run_dir, ignore_errors=True)

    lines = "".join(chunks).strip().splitlines()
    if timed_out or proc.returncode != 0 or not lines:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        print(f"perfbench: worker failed (rc={proc.returncode}, timed_out={timed_out})\n{tail}",
              file=sys.stderr)
        return 1
    os.remove(log_path)
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        print(line)
    # reported, not a gated metric: JVM heap growth makes it spread too far
    print(f"peak_rss_mb {peak / 2**20:.1f} MB")
    for name, m in result["metrics"].items():
        print(f"metric {name} {m['value']:.6g} {m['unit']}")
    print(f"failed_ops_frac {result['failed'] / result['attempted']:.6g} "
          f"({result['failed']} of {result['attempted']})")
    print(f"spans {os.path.relpath(spans, checkout)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
