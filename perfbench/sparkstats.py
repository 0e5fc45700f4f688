"""Per-layer counters read from Spark's own status stores.

Nothing here runs inside a timed interval: `SparkStats.snapshot()` is
called between keys. It drains the listener bus, then reads the jobs,
stages and SQL executions the status stores hold (as the JSON Spark's
REST API would serve) and attributes each to the key span whose wall
interval contains its submission time. `StreamProgress` keeps the
progress events of streaming queries.
"""

from __future__ import annotations

import json
import re

from pyspark.sql.streaming import StreamingQueryListener

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^([\d.,]+)\s*([A-Za-z]*)")
# tree lines of a formatted plan: "+- Exchange (4)", "   +- * Sort (13)"
_EXCHANGE = re.compile(r"(?:^|[\s+\-:*])(?:Broadcast)?Exchange \(\d+\)")
_SORT = re.compile(r"(?:^|[\s+\-:*])Sort \(\d+\)")

PYTHON_METRICS = {
    "time to run Python workers": "python.exec_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}
_PYTHON_NODE = re.compile(r"InPandas|EvalPython|ArrowPython|PythonUDF|InArrow")


def metric_value(text: str | None) -> float:
    """Parse a formatted SQL metric ('6,000', '379 ms', or
    'total (min, med, max ...)\\n34.3 KiB (...)') into bytes, seconds or a
    plain number."""
    if not text:
        return 0.0
    if text.startswith("total"):
        text = text.split("\n", 1)[-1]
    m = _VALUE.match(text.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def final_plan_tree(desc: str) -> list[str]:
    """Tree lines of the final physical plan in a formatted plan string."""
    lines = desc.split("\n")
    try:
        start = lines.index("== Physical Plan ==") + 1
    except ValueError:
        start = 0
    tree: list[str] = []
    for line in lines[start:]:
        if not line.strip():
            break
        tree.append(line)
    if any("== Final Plan ==" in t for t in tree):
        kept, on = [], False
        for t in tree:
            if "== Final Plan ==" in t:
                on = True
            elif "== Initial Plan ==" in t:
                on = False
            elif on:
                kept.append(t)
        return kept
    return tree


def plan_counts(desc: str) -> tuple[int, int]:
    """(exchanges, sorts) in the final physical plan."""
    tree = final_plan_tree(desc)
    return (
        sum(1 for t in tree if _EXCHANGE.search(t)),
        sum(1 for t in tree if _SORT.search(t)),
    )


class StreamProgress(StreamingQueryListener):
    """Keeps every streaming progress event as a dict."""

    def __init__(self) -> None:
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def stream_totals(events: list[dict]) -> dict[str, float]:
    out = dict.fromkeys(
        (
            "stream.batches", "stream.input_rows", "stream.state_rows",
            "stream.state_memory_bytes", "stream.state_commit_s",
            "stream.trigger_s", "stream.rows_dropped_by_watermark",
        ),
        0.0,
    )
    for p in events:
        out["stream.batches"] += 1
        out["stream.input_rows"] += p.get("numInputRows") or 0
        out["stream.trigger_s"] += ((p.get("durationMs") or {}).get("triggerExecution") or 0) / 1e3
        for op in p.get("stateOperators") or []:
            out["stream.state_rows"] += op.get("numRowsTotal") or 0
            out["stream.state_memory_bytes"] += op.get("memoryUsedBytes") or 0
            out["stream.state_commit_s"] += (op.get("commitTimeMs") or 0) / 1e3
            out["stream.rows_dropped_by_watermark"] += op.get("numRowsDroppedByWatermark") or 0
    return out


class SparkStats:
    """Reads jobs, stages and SQL executions from a live session."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._seen_job = self._seen_exec = -1

    def _json(self, obj) -> list | dict:
        return json.loads(self._mapper.writeValueAsString(obj))

    def snapshot(self) -> tuple[list[dict], dict[int, dict], list[dict]]:
        """New jobs, their stages by id, and new SQL executions since the
        previous snapshot."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        jobs = [j for j in self._json(store.jobsList(None)) if j["jobId"] > self._seen_job]
        defaults = [getattr(store, f"stageList$default${i}")() for i in range(2, 6)]
        stages = {}
        for s in self._json(store.stageList(None, *defaults)):
            if s["attemptId"] == 0 or s["stageId"] not in stages:
                stages[s["stageId"]] = s
        execs = [
            e for e in self._json(self._sql.executionsList())
            if e["executionId"] > self._seen_exec
        ]
        for e in execs:
            e["python_rows"] = self._python_rows(e)
        if jobs:
            self._seen_job = max(j["jobId"] for j in jobs)
        if execs:
            self._seen_exec = max(e["executionId"] for e in execs)
        return jobs, stages, execs

    def _python_rows(self, e: dict) -> float:
        if not any(m["name"] in PYTHON_METRICS for m in e["metrics"]):
            return 0.0
        graph = self._sql.planGraph(e["executionId"])
        values = e.get("metricValues") or {}
        rows = 0.0
        nodes = graph.allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if not _PYTHON_NODE.search(node.name()):
                continue
            metrics = node.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                if m.name() == "number of output rows":
                    rows += metric_value(values.get(str(m.accumulatorId())))
        return rows


def attribute(
    spans: list[dict],
    jobs: list[dict],
    stages: dict[int, dict],
    execs: list[dict],
    counted_stages: set[int],
) -> dict[str, dict[str, float]]:
    """Per-layer counters for each phase span (`build`, `plan`, `execute`)
    keyed by span id: a job or SQL execution belongs to the phase whose
    wall interval contains its submission time. A stage listed by several
    jobs counts once; `counted_stages` carries that across calls."""

    def owner(t_ms: float | None) -> dict | None:
        if t_ms is None:
            return None
        for s in spans:
            if s["start_ms"] <= t_ms <= s["end_ms"]:
                return s
        return None

    out: dict[str, dict[str, float]] = {}

    def add(span: dict, name: str, v: float) -> None:
        d = out.setdefault(span["id"], {})
        d[name] = d.get(name, 0.0) + v

    for j in jobs:
        s = owner(j.get("submissionTime"))
        if s is None:
            continue
        add(s, "jobs", 1)
        for sid in j["stageIds"]:
            st = stages.get(sid)
            if st is None or st["status"] == "SKIPPED" or sid in counted_stages:
                continue
            counted_stages.add(sid)
            add(s, "stages", 1)
            add(s, "tasks", st["numCompleteTasks"])
            add(s, "exec.task_cpu_s", st["executorCpuTime"] / 1e9)
            add(s, "exec.task_run_s", st["executorRunTime"] / 1e3)
            add(s, "exec.gc_s", st["jvmGcTime"] / 1e3)
            add(s, "scan.input_rows", st["inputRecords"])
            add(s, "scan.input_bytes", st["inputBytes"])
            add(s, "exchange.shuffle_write_bytes", st["shuffleWriteBytes"])
            add(s, "exchange.shuffle_read_bytes", st["shuffleReadBytes"])
            add(s, "exchange.fetch_wait_s", st["shuffleFetchWaitTime"] / 1e3)
            add(s, "exchange.spill_bytes", st["diskBytesSpilled"])
    for e in execs:
        s = owner(e.get("submissionTime"))
        if s is None:
            continue
        add(s, "sql_executions", 1)
        ex, so = plan_counts(e.get("physicalPlanDescription") or "")
        add(s, "plan.exchanges", ex)
        add(s, "plan.sorts", so)
        values = e.get("metricValues") or {}
        for m in e["metrics"]:
            name = PYTHON_METRICS.get(m["name"])
            if name:
                add(s, name, metric_value(values.get(str(m["accumulatorId"]))))
        add(s, "python.rows_out", e["python_rows"])
    return out
