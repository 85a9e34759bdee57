"""Benchmark-side tracing: spans kept in memory around each call into a
layer, Spark job groups named after the layer, and a parser for the Spark
event log that sums task metrics per job group and counts plan nodes."""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path
from statistics import median


class Tracer:
    """Spans (layer, start, end, parent, run id) recorded around benchmark
    calls; each span also labels the Spark jobs it starts with
    ``setJobGroup("<run id>/<layer>", layer)``."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, layer: str, spark=None):
        idx = len(self.spans)
        rec = {"name": layer, "run_id": self.run_id, "start": time.time(), "end": None,
               "parent": self.spans[self._stack[-1]]["name"] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(idx)
        if spark is not None:
            spark.sparkContext.setJobGroup(self.group(layer), layer)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if spark is not None:
                spark.sparkContext.setJobGroup(self.group(self.spans[self._stack[-1]]["name"])
                                               if self._stack else "", "")

    def group(self, layer: str) -> str:
        return f"{self.run_id}/{layer}"

    def write(self, path: Path) -> None:
        path.write_text(json.dumps(self.spans, indent=1))


def _event_lines(event_dir: Path):
    for p in sorted(event_dir.rglob("*")):
        if p.is_file() and not p.name.startswith((".", "appstatus")):
            with open(p) as f:
                yield from f


def _walk(node):
    yield node
    for child in node.get("children", []):
        yield from _walk(child)


class EventLog:
    """Task metrics summed per job group, from an uncompressed event log."""

    TASK_FIELDS = ("cpu_ns", "run_ms", "gc_ms", "input_bytes", "shuffle_write_bytes", "spill_bytes")

    def __init__(self, event_dir: Path):
        stage_group: dict[int, str] = {}
        self.jobs: dict[str, int] = defaultdict(int)
        self.totals: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(self.TASK_FIELDS, 0))
        # group -> stage id -> records written per task
        self.task_records: dict[str, dict[int, list[int]]] = defaultdict(lambda: defaultdict(list))
        self._exec_group: dict[int, str] = {}
        self._plans: dict[int, dict] = {}
        for line in _event_lines(event_dir):
            e = json.loads(line)
            ev = e.get("Event", "")
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or ""
                self.jobs[group] += 1
                for sid in e.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
                exec_id = props.get("spark.sql.execution.id")
                if exec_id is not None:
                    self._exec_group.setdefault(int(exec_id), group)
            elif ev == "SparkListenerTaskEnd":
                m = e.get("Task Metrics")
                if not m:
                    continue
                group = stage_group.get(e["Stage ID"], "")
                t = self.totals[group]
                t["cpu_ns"] += m.get("Executor CPU Time", 0)
                t["run_ms"] += m.get("Executor Run Time", 0)
                t["gc_ms"] += m.get("JVM GC Time", 0)
                t["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                written = (m.get("Output Metrics") or {}).get("Records Written", 0)
                if written:
                    self.task_records[group][e["Stage ID"]].append(written)
            elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                # the last plan seen for an execution is its final (adaptive) plan
                self._plans[int(e["executionId"])] = e["sparkPlanInfo"]

    def metric(self, group: str, name: str) -> float:
        return self.totals[group][name]

    def write_plan_nodes(self, group: str) -> tuple[int, int]:
        """(exchanges, python nodes) in the executed plan of the file write
        run by ``group``."""
        for exec_id, g in sorted(self._exec_group.items()):
            plan = self._plans.get(exec_id)
            if g != group or plan is None:
                continue
            names = [n.get("nodeName", "") for n in _walk(plan)]
            if any("InsertIntoHadoopFsRelation" in n for n in names):
                return (sum("Exchange" in n for n in names),
                        sum("Python" in n for n in names))
        return 0, 0

    def task_skew(self, group: str) -> float:
        """Max over median records written per task, in the group's write
        stage with the most records."""
        stages = self.task_records.get(group)
        if not stages:
            return 0.0
        recs = max(stages.values(), key=sum)
        return max(recs) / median(recs)


def where_time_goes(workload: str, rows: list[tuple[str, float, float]]) -> str:
    """A text table of layer self time and its share of the layer sum."""
    total = sum(max(s, 0.0) for _, s, _ in rows) or 1.0
    out = [f"where the time goes: {workload} (self time through noop-sink prefixes, traced run)",
           f"{'layer':<22}{'self_s':>9}{'share':>8}{'cpu_ns/doc':>12}"]
    for layer, self_s, cpu in rows:
        out.append(f"{layer:<22}{self_s:>9.3f}{max(self_s, 0.0) / total:>8.1%}{cpu:>12.0f}")
    return "\n".join(out)
