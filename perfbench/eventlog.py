"""Per-layer attribution from one run's Spark event log.

Input: the JSON-lines log Spark writes with ``spark.eventLog.enabled``
(uncompressed, not rolled) and the benchmark's own op windows
(epoch-ms start/end of each timed operation, same host clock).

Each completed stage whose submission falls inside an op window is
attributed to one layer by the operators it ran: the plan nodes whose
SQL metrics the stage updated (node and metric names come from the
plan trees in the SQL execution events; RDD scopes are not used, as
they also name the operators of cached ancestors the stage only
reads).  First matching rule wins:

    ArrowEvalPython                       -> parse
    MapInPandas / Scan binaryFile         -> sources.logfiles
    Window                                -> repair_assemble
    rangepartitioning Exchange, Sort on ts_eff,
      or a cache scan with no shuffle     -> merge
    BroadcastExchange / Scan ExistingRDD  -> enrich
    HashAggregate                         -> route
    writes the pre-parse scatter Exchange -> parse
    anything else                         -> other

Busy time is wall-clock: every instant of an op covered by running
stages is split evenly among their layers; the uncovered rest is
driver time, split into planning (op start to first stage) and
scheduling (every other gap).  All figures are per op.
"""

from __future__ import annotations

import json
from collections import defaultdict

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"

LAYERS = (
    "sources.logfiles",
    "parse",
    "repair_assemble",
    "merge",
    "enrich",
    "route",
    "other",
)


def read_events(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def _plan_metrics(events: list[dict]) -> dict[int, tuple[str, str, str, str]]:
    """accumulator id -> (node name, node string, metric name, metric type)."""
    out: dict[int, tuple[str, str, str, str]] = {}

    def walk(node: dict) -> None:
        for m in node.get("metrics", []):
            out[m["accumulatorId"]] = (
                node["nodeName"],
                node.get("simpleString", ""),
                m["name"],
                m["metricType"],
            )
        for child in node.get("children", []):
            walk(child)

    for e in events:
        if e["Event"] in (SQL_START, SQL_AQE):
            walk(e["sparkPlanInfo"])
    return out


class Stage:
    """One completed stage: its interval, task totals and SQL metrics."""

    def __init__(self, info: dict, tasks: list[dict], plan: dict):
        self.id = info["Stage ID"]
        self.start = info["Submission Time"]
        self.end = info["Completion Time"]
        # (node name, node string, metric name) -> value, seconds for timings
        self.sql: dict[tuple[str, str, str], float] = defaultdict(float)
        for acc in info.get("Accumulables", []):
            meta = plan.get(acc.get("ID"))
            if meta is None:
                continue
            node, text, metric, kind = meta
            value = float(acc.get("Value") or 0)
            if kind == "timing":
                value /= 1e3
            elif kind == "nsTiming":
                value /= 1e9
            self.sql[(node, text, metric)] += value
        self.nodes = {k[0] for k in self.sql}
        tm = [t.get("Task Metrics") or {} for t in tasks]
        sr = [m.get("Shuffle Read Metrics", {}) for m in tm]
        self.tasks = len(tasks)
        self.failures = sum(
            1
            for t in tasks
            if t.get("Task End Reason", {}).get("Reason") != "Success"
        )
        self.shuffle_read = sum(
            s.get("Local Bytes Read", 0) + s.get("Remote Bytes Read", 0)
            for s in sr
        )
        self.fetch_wait_s = sum(s.get("Fetch Wait Time", 0) for s in sr) / 1e3
        self.shuffle_write = sum(
            m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            for m in tm
        )
        self.spill = sum(
            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for m in tm
        )
        self.gc_s = sum(m.get("JVM GC Time", 0) for m in tm) / 1e3
        self.cpu_s = sum(m.get("Executor CPU Time", 0) for m in tm) / 1e9
        self.layer = classify(self)

    def metric(self, node: str, metric: str, text_has: str = "") -> float:
        return sum(
            v
            for (n, text, m), v in self.sql.items()
            if n == node and m == metric and text_has in text
        )

    def touches_exchange(self, text_has: str) -> bool:
        return any(
            n == "Exchange" and text_has in text for n, text, _ in self.sql
        )


def classify(st: Stage) -> str:
    nodes = st.nodes
    if "ArrowEvalPython" in nodes:
        return "parse"
    if "MapInPandas" in nodes or any(n.startswith("Scan binaryFile") for n in nodes):
        return "sources.logfiles"
    if "Window" in nodes:
        return "repair_assemble"
    sorts_by_ts = any(
        n == "Sort" and text.startswith("Sort [ts_eff") for n, text, _ in st.sql
    )
    cache_only = (
        "InMemoryTableScan" in nodes
        and not st.shuffle_read
        and not st.shuffle_write
    )
    if st.touches_exchange("rangepartitioning") or sorts_by_ts or cache_only:
        return "merge"
    if "BroadcastExchange" in nodes or "Scan ExistingRDD" in nodes:
        return "enrich"
    if "HashAggregate" in nodes:
        return "route"
    if st.touches_exchange("xxhash64"):
        return "parse"
    return "other"


def load_stages(events: list[dict]) -> list[Stage]:
    plan = _plan_metrics(events)
    tasks: dict[int, list[dict]] = defaultdict(list)
    for e in events:
        if e["Event"] == "SparkListenerTaskEnd":
            tasks[e["Stage ID"]].append(e)
    return [
        Stage(e["Stage Info"], tasks[e["Stage Info"]["Stage ID"]], plan)
        for e in events
        if e["Event"] == "SparkListenerStageCompleted"
        and e["Stage Info"].get("Completion Time")
        and e["Stage Info"].get("Submission Time")
    ]


def _busy_split(stages: list[Stage], t0: float, t1: float) -> dict[str, float]:
    """Sweep [t0, t1]: each instant covered by running stages is split
    evenly among their layers.  Returns seconds per layer."""
    cuts = sorted(
        {t0, t1}
        | {min(max(s.start, t0), t1) for s in stages}
        | {min(max(s.end, t0), t1) for s in stages}
    )
    busy: dict[str, float] = defaultdict(float)
    for a, b in zip(cuts, cuts[1:]):
        running = [s.layer for s in stages if s.start <= a and s.end >= b]
        for layer in running:
            busy[layer] += (b - a) / len(running) / 1e3
    return busy


def attribute(events: list[dict], ops: list[tuple[float, float]]) -> dict:
    """Per-op layer table for the ops given as (start_ms, end_ms)."""
    stages = load_stages(events)
    jobs = [
        e["Submission Time"] for e in events if e["Event"] == "SparkListenerJobStart"
    ]
    tot: dict[str, float] = defaultdict(float)
    wall = 0.0
    for t0, t1 in ops:
        mine = [s for s in stages if t0 <= s.start <= t1]
        wall += (t1 - t0) / 1e3
        busy = _busy_split(mine, t0, t1)
        for layer, sec in busy.items():
            tot[f"{layer}.busy_s"] += sec
        first = min((s.start for s in mine), default=t1)
        plan_s = (first - t0) / 1e3
        tot["driver.plan_s"] += plan_s
        tot["driver.sched_s"] += (t1 - t0) / 1e3 - plan_s - sum(busy.values())
        tot["jobs"] += sum(1 for j in jobs if t0 <= j <= t1)
        tot["stages"] += len(mine)
        for s in mine:
            _add_stage(tot, s)
    n = max(len(ops), 1)
    out = {k: v / n for k, v in tot.items()}
    out["wall_s"] = wall / n
    stage_s = sum(out.get(f"{layer}.busy_s", 0.0) for layer in LAYERS)
    out["stage_coverage"] = stage_s / out["wall_s"] if wall else 0.0
    parsed = out.get("parse.rows_in", 0.0)
    kept = out.pop("merge.filter_rows_out", 0.0)
    out["merge.filter_keep_ratio"] = kept / parsed if parsed and kept else 0.0
    return out


def _add_stage(tot: dict, s: Stage) -> None:
    tot["spark.tasks"] += s.tasks
    tot["spark.task_failures"] += s.failures
    tot["spark.gc_s"] += s.gc_s
    tot["spark.executor_cpu_s"] += s.cpu_s
    tot["session.worker_start_s"] += s.metric(
        "ArrowEvalPython", "time to start Python workers"
    ) + s.metric("MapInPandas", "time to start Python workers")
    tot["merge.filter_rows_out"] += s.metric("Filter", "number of output rows", "ts_eff")
    layer = s.layer
    if layer == "parse":
        tot["parse.rows_in"] += s.metric("ArrowEvalPython", "number of output rows")
        tot["parse.udf_exec_s"] += s.metric("ArrowEvalPython", "time to run Python workers")
        tot["parse.arrow_bytes"] += s.metric(
            "ArrowEvalPython", "data sent to Python workers"
        ) + s.metric("ArrowEvalPython", "data returned from Python workers")
        if "ArrowEvalPython" in s.nodes:
            tot["parse.scatter_bytes"] += s.shuffle_read
    elif layer == "sources.logfiles":
        tot["sources.logfiles.rows_out"] += s.metric("MapInPandas", "number of output rows")
    elif layer == "repair_assemble":
        tot["repair_assemble.shuffle_bytes"] += s.shuffle_read
        tot["repair_assemble.spill_bytes"] += s.spill
        tot["repair_assemble.fetch_wait_s"] += s.fetch_wait_s
    elif layer == "merge":
        if s.shuffle_read or s.shuffle_write:
            tot["merge.sort_busy_s"] += (s.end - s.start) / 1e3
        else:
            tot["merge.sample_s"] += (s.end - s.start) / 1e3
        tot["merge.shuffle_bytes"] += s.shuffle_read
        tot["merge.spill_bytes"] += s.spill
    elif layer == "route":
        tot["route.shuffle_bytes"] += s.shuffle_read
