"""Self-test of the benchmark: one tiny pass of two keys, traced and not.

    python3 -m pytest perfbench -q -p no:cacheprovider

Run from the repository root. It pins the metric-name sets and the result
schema, checks that BENCHMARK.json agrees with catalog.py and that the
benchmark refuses to run where the program is absent.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from catalog import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402

KEYS = "pricing_summary,dedup_exact"


def run_bench(cwd: str, *extra: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=300, check=False,
    )


def tiny_run(trace: int) -> dict:
    p = run_bench(
        ROOT, "--workload", "headline", "--seed", "7", "--seconds", "0",
        "--trace", str(trace), "--keys", KEYS,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    # one check call and two timed calls per key; traced runs pair each timed call
    assert result["attempted"] == 2 + 2 * 2 * (1 + trace)
    for m in result["metrics"].values():
        assert set(m) == {"value", "unit"} and isinstance(m["value"], (int, float))
    for name, m in result["metrics"].items():
        assert f"metric {name} " in p.stdout
    return result


def test_untraced_run_reports_every_end_to_end_metric():
    result = tiny_run(0)
    assert set(result["metrics"]) == set(END_TO_END)
    for name, (unit, _, _) in END_TO_END.items():
        assert result["metrics"][name]["unit"] == unit
        assert result["metrics"][name]["value"] > 0


def test_traced_run_reports_every_per_layer_metric():
    result = tiny_run(1)
    assert set(result["metrics"]) == set(PER_LAYER)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["exec.jobs"] > 0 and m["scan.input_rows"] > 0 and m["plan.exchanges"] > 0
    assert m["python.exec_s"] == 0 and m["stream.batches"] == 0
    assert m["key.pricing_summary.s"] > 0 and m["key.streaming_cusum.s"] == 0
    spans = json.load(open(os.path.join(ROOT, ".perfbench", "spans-headline-7-trace1.json")))
    names = {s["name"] for s in spans["spans"]}
    assert {"run", "setup", "pass", "key", "build", "plan", "execute", "oracle_check"} <= names
    assert spans["env"]["conf"]["spark.sql.shuffle.partitions"]


def test_benchmark_json_matches_catalog():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]} == {
        k: v[:2] for k, v in PER_LAYER.items()
    }


@pytest.mark.parametrize("trace", ["0", "1"])
def test_refuses_to_run_without_the_program(tmp_path, trace):
    p = run_bench(str(tmp_path), "--workload", "headline", "--seed", "1",
                  "--seconds", "1", "--trace", trace)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
