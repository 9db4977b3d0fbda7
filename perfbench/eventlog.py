"""Spark event-log parser for the traced run.

Reads an uncompressed event log (one JSON event per line) and returns one
record per SQL execution: its span (start, end, description), the nodes of
its last physical plan, and the final value of every SQL metric, keyed by
(node name, metric name). Jobs are mapped to their SQL execution and, for
Structured Streaming, to their micro-batch id.

Only events Spark writes itself are used; nothing in the program is
instrumented.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."
EXEC_START = _SQL + "SparkListenerSQLExecutionStart"
EXEC_END = _SQL + "SparkListenerSQLExecutionEnd"
AQE_UPDATE = _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"
AQE_METRICS = _SQL + "SparkListenerSQLAdaptiveSQLMetricUpdates"
DRIVER_ACCUMS = _SQL + "SparkListenerDriverAccumUpdates"
BATCH_ID_KEY = "streaming.sql.batchId"

# metric types whose raw value is not in the unit the metric name implies
_NS = "nsTiming"


@dataclass
class Node:
    name: str
    simple: str
    metrics: dict[str, int]  # metric name -> accumulator id


@dataclass
class Execution:
    id: int
    description: str
    start_ms: int
    end_ms: int | None = None
    nodes: list[Node] = field(default_factory=list)
    jobs: list[int] = field(default_factory=list)
    batch_id: int | None = None
    metric_types: dict[int, str] = field(default_factory=dict)
    values: dict[int, int] = field(default_factory=dict)
    spill_bytes: int = 0  # task "Disk Bytes Spilled", summed
    persist_bytes: int = 0  # cached-block sizes stored while it ran

    @property
    def duration_s(self) -> float:
        return ((self.end_ms or self.start_ms) - self.start_ms) / 1000.0

    @property
    def root(self) -> str:
        return self.nodes[0].name if self.nodes else ""

    def metric(self, node_prefix: str, metric: str) -> float:
        """Sum of ``metric`` over nodes whose name starts with ``node_prefix``;
        timings in seconds, sizes in bytes, counts as counts."""
        total = 0.0
        for n in self.nodes:
            acc = n.metrics.get(metric)
            if acc is None or not n.name.startswith(node_prefix):
                continue
            v = self.values.get(acc, 0)
            t = self.metric_types.get(acc, "")
            total += v / 1e9 if t == _NS else v / 1e3 if t == "timing" else v
        return total

    def count_nodes(self, node_prefix: str, *, nonzero_metric: str | None = None) -> int:
        """Nodes named ``node_prefix...``; with ``nonzero_metric``, only
        those that produced a non-zero value for it (i.e. really ran)."""
        k = 0
        for n in self.nodes:
            if not n.name.startswith(node_prefix):
                continue
            if nonzero_metric is not None and not self.values.get(n.metrics.get(nonzero_metric, -1), 0):
                continue
            k += 1
        return k


def _walk(info: dict, out: list[Node], types: dict[int, str]) -> None:
    metrics = {}
    for m in info.get("metrics", []):
        metrics[m["name"]] = m["accumulatorId"]
        types[m["accumulatorId"]] = m.get("metricType", "")
    out.append(Node(info.get("nodeName", ""), info.get("simpleString", ""), metrics))
    for c in info.get("children", []):
        _walk(c, out, types)


def _num(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def parse(lines) -> dict[int, Execution]:
    """Executions by id from an iterable of event-log lines."""
    execs: dict[int, Execution] = {}
    job_exec: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    updates: dict[int, int] = defaultdict(int)
    running: list[int] = []
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == EXEC_START:
            e = Execution(ev["executionId"], ev.get("description", ""), ev["time"])
            _walk(ev["sparkPlanInfo"], e.nodes, e.metric_types)
            execs[e.id] = e
            running.append(e.id)
        elif kind == AQE_UPDATE and ev["executionId"] in execs:
            e = execs[ev["executionId"]]
            e.nodes = []
            _walk(ev["sparkPlanInfo"], e.nodes, e.metric_types)
        elif kind == AQE_METRICS and ev["executionId"] in execs:
            for m in ev.get("sqlPlanMetrics", []):
                execs[ev["executionId"]].metric_types[m["accumulatorId"]] = m.get("metricType", "")
        elif kind == EXEC_END and ev["executionId"] in execs:
            execs[ev["executionId"]].end_ms = ev["time"]
            if ev["executionId"] in running:
                running.remove(ev["executionId"])
        elif kind == DRIVER_ACCUMS:
            for acc, v in ev.get("accumUpdates", []):
                updates[acc] += _num(v)
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            xid = props.get("spark.sql.execution.id")
            if xid is None:
                continue
            xid = int(xid)
            job_exec[ev["Job ID"]] = xid
            for s in ev.get("Stage IDs", []):
                stage_job[s] = ev["Job ID"]
            if xid in execs:
                execs[xid].jobs.append(ev["Job ID"])
                if props.get(BATCH_ID_KEY) is not None:
                    execs[xid].batch_id = int(props[BATCH_ID_KEY])
        elif kind == "SparkListenerTaskEnd":
            for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                updates[a["ID"]] += _num(a.get("Update"))
            xid = job_exec.get(stage_job.get(ev.get("Stage ID"), -1))
            if xid in execs:
                execs[xid].spill_bytes += _num((ev.get("Task Metrics") or {}).get("Disk Bytes Spilled"))
        elif kind == "SparkListenerBlockUpdated" and running:
            info = ev.get("Block Updated Info") or {}
            if str(info.get("Block ID", "")).startswith("rdd_"):
                execs[running[-1]].persist_bytes += _num(info.get("Memory Size")) + _num(info.get("Disk Size"))
    # a cached relation's plan appears again under every InMemoryTableScan
    # that reads it, with the same accumulators: a value belongs to the
    # first execution that names its accumulator (the one that computed it)
    owned: set[int] = set()
    for e in sorted(execs.values(), key=lambda x: x.id):
        for n in e.nodes:
            for acc in n.metrics.values():
                if acc in updates and acc not in owned:
                    e.values[acc] = updates[acc]
                owned.add(acc)
    return execs


def spans(execs: dict[int, Execution], run_id: str, parent_of) -> list[dict]:
    """One span per SQL execution; ``parent_of(start_s, end_s)`` names the
    benchmark span that encloses it (wall-clock containment)."""
    out = []
    for e in sorted(execs.values(), key=lambda x: x.start_ms):
        s, t = e.start_ms / 1000.0, (e.end_ms or e.start_ms) / 1000.0
        out.append({
            "name": f"sql:{e.id}:{e.root}", "start": s, "end": t,
            "parent": parent_of(s, t), "run_id": run_id,
            "description": e.description[:120], "batch_id": e.batch_id,
        })
    return out
