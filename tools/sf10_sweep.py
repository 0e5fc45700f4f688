"""Full-catalog execution sweep at an upscale — the round-discipline
tool VERDICT r11 item 8 asked for (the ad-hoc round-11 version caught
dbscan's static grid cell: 1989 s -> 85 s).

Runs EVERY queries() key end-to-end (noop sink — full computation, no
collect) at the given upscale dir and writes per-key walls
INCREMENTALLY to the output JSON, so a hung key still leaves the
artifact for every key before it. Correctness is NOT checked here (the
sf0.01 driver gate owns that); this is the scale-bug detector: a key
whose wall is wildly out of family with its plan class is the next
dbscan.

Usage:
  python tools/sf10_sweep.py                      # /tmp/gdalos_sf10 -> sf10_sweep.json
  python tools/sf10_sweep.py --sf=DIR --out=F.json
  python tools/sf10_sweep.py --only=k1,k2         # subset
  python tools/sf10_sweep.py --skip=k1,k2         # exclusions
  python tools/sf10_sweep.py --resume             # skip keys already in --out
  python tools/sf10_sweep.py --no-adjudicate      # skip the isolation re-runs

Long single-session sweeps overstate the largest generated-code keys
3-7x on slow hosts (JVM code-cache/GC state after ~290 prior queries —
the r12 finding), so after the sweep any key whose wall is out of
family vs the committed baseline sweep is AUTO-ADJUDICATED: re-run
--only in a fresh child JVM and recorded as {"sec": in_sweep,
"isolated": child_sec}. Out-of-family = wall > 3x the key's baseline
wall after host normalization (the median now/baseline ratio across
all common keys, so a uniformly slower host flags nothing).

The upscale comes from tools/make_scaled_sf.py (throughput data only).
The session starts from the bench's `gdalos_spark.session.conf` so walls
are comparable with the BASELINE.md tables.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def arg(name: str, default: str | None = None) -> str | None:
    for a in sys.argv[1:]:
        if a.startswith(f"--{name}="):
            return a.split("=", 1)[1]
    return default


def main() -> int:
    sf_dir = arg("sf", "/tmp/gdalos_sf10")
    out_path = arg("out", "sf10_sweep.json")
    only = arg("only")
    skip = set((arg("skip") or "").split(",")) - {""}
    resume = "--resume" in sys.argv

    from pyspark.sql import SparkSession

    from gdalos_spark.session import conf

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # The bench's session conf (incl. the grid-derived initialPartitionNum)
    # so sweep walls stay comparable with BASELINE.md, plus two
    # execution-harness limits, not plan properties (local-mode "driver"
    # is the whole process): a larger driver heap for the upscale, and
    # maxResultSize because the stream-stream join keys materialize
    # through the memory sink (their oracle contract) and at a 10x upscale
    # the joined micro-batch output crosses the default 1g (BASELINE.md
    # "Stream-stream join state-store A/B at 10M events"; that A/B tool is
    # retired; in git history).
    harness = {
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        "spark.driver.maxResultSize": "8g",
    }
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(
        "gdalos_spark-sf10-sweep"
    )
    for k, v in {**conf(cpus), **harness}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    names = [s for s in only.split(",") if s] if only else list(qs)
    names = [n for n in names if n not in skip]

    results: dict[str, dict] = {}
    if resume and os.path.exists(out_path):
        with open(out_path) as f:
            results = json.load(f).get("keys", {})
        names = [n for n in names if n not in results]

    def dump() -> None:
        with open(out_path, "w") as f:
            json.dump(
                {"sf_dir": sf_dir, "n_keys": len(results), "keys": results},
                f,
                indent=1,
                sort_keys=True,
            )

    # stage the bucketed fact layout once, like bench.py's ingest step
    try:
        from gdalos_spark.sources.bucketed import stage_facts

        stage_facts(spark, sf_dir)
    except Exception as e:  # noqa: BLE001
        print(f"stage_bucketed: {type(e).__name__}: {e}", file=sys.stderr)

    for i, name in enumerate(names):
        t0 = time.perf_counter()
        try:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            results[name] = {"sec": round(time.perf_counter() - t0, 2)}
        except Exception as e:  # noqa: BLE001
            results[name] = {
                "sec": round(time.perf_counter() - t0, 2),
                "error": f"{type(e).__name__}: {e}"[:300],
            }
        dump()
        print(
            f"[{i + 1}/{len(names)}] {name}: {results[name]['sec']}s"
            + (" ERROR" if "error" in results[name] else ""),
            flush=True,
        )
    dump()

    # --- auto-adjudication of out-of-family walls (fresh per-key JVM) ---
    if "--no-adjudicate" not in sys.argv and not only:
        flagged = _flag_out_of_family(results)
        for k in flagged:
            iso = _isolated_rerun(k, sf_dir, out_path)
            if iso is not None:
                results[k]["isolated"] = iso
                print(f"adjudicated {k}: in_sweep={results[k]['sec']}s "
                      f"isolated={iso}s", flush=True)
            dump()

    errs = {k: v for k, v in results.items() if "error" in v}
    slow = sorted(results.items(), key=lambda kv: -kv[1]["sec"])[:15]
    print(f"\n{len(results)} keys, {len(errs)} errors; slowest:")
    for k, v in slow:
        iso = f" (isolated {v['isolated']}s)" if "isolated" in v else ""
        print(f"  {v['sec']:>8.2f}s  {k}{iso}")
    return 1 if errs else 0


def _flag_out_of_family(results: dict) -> list[str]:
    """Keys whose sweep wall is > 3x their committed-baseline wall after
    host normalization (median now/baseline ratio over all common keys)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base_path = os.path.join(root, "sf10_sweep.json")
    if not os.path.exists(base_path):
        return []
    with open(base_path) as f:
        base = json.load(f).get("keys", {})
    ratios = sorted(
        results[k]["sec"] / base[k]["sec"]
        for k in results
        if k in base and "error" not in results[k]
        and base[k].get("sec", 0) > 1.0 and results[k]["sec"] > 1.0
    )
    if len(ratios) < 10:
        return []
    host = ratios[len(ratios) // 2]
    return [
        k for k in results
        if k in base and "error" not in results[k]
        and base[k].get("sec", 0) > 1.0
        and results[k]["sec"] > 30.0
        and results[k]["sec"] / base[k]["sec"] > 3.0 * host
    ]


def _isolated_rerun(key: str, sf_dir: str, out_path: str) -> float | None:
    """Re-run one key in a fresh child JVM; return its wall or None."""
    import subprocess
    import tempfile

    tmp = os.path.join(tempfile.gettempdir(), f"gdalos_iso_{key}.json")
    if os.path.exists(tmp):
        os.unlink(tmp)
    rc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), f"--sf={sf_dir}",
         f"--only={key}", f"--out={tmp}", "--no-adjudicate"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True,
        timeout=3600,
    )
    if rc.returncode != 0 and not os.path.exists(tmp):
        return None
    try:
        with open(tmp) as f:
            rec = json.load(f)["keys"].get(key, {})
        return None if "error" in rec else rec.get("sec")
    except Exception:  # noqa: BLE001
        return None


if __name__ == "__main__":
    raise SystemExit(main())
