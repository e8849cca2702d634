"""Roll a Spark event log up by the labels the tracer puts on jobs.

Every job, stage and SQL execution started while a span was open
carries the job description ``pb/<op>/<layer>``. This module reads the
JSON-lines event log (uncompressed, not rolled) and sums, per
``(op, layer)``: jobs, tasks, task CPU, shuffle writes, spills, input
and output bytes, task durations per stage, and the SQL metrics of the
plan nodes the benchmark reports (files and rows scanned, broadcast
size, files written).
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

PREFIX = "pb/"

# (plan node name prefix, SQL metric name) -> roll-up counter
SQL_METRICS = {
    ("Scan parquet", "number of files read"): "scan_files",
    ("Scan parquet", "number of output rows"): "scan_rows",
    ("BroadcastExchange", "data size"): "broadcast_bytes",
    ("Execute InsertIntoHadoopFsRelationCommand", "number of written files"): "files_written",
}


@dataclass
class StageRoll:
    cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    task_s: list[float] = field(default_factory=list)


@dataclass
class LayerRoll:
    jobs: int = 0
    stages: dict[int, StageRoll] = field(default_factory=dict)
    sql: dict[str, float] = field(default_factory=lambda: defaultdict(float))

    def total(self, attr: str) -> float:
        return sum(getattr(s, attr) for s in self.stages.values())

    @property
    def tasks(self) -> int:
        return sum(len(s.task_s) for s in self.stages.values())

    @property
    def map_cpu_s(self) -> float:
        """Task CPU of the stages that feed a shuffle."""
        return sum(s.cpu_s for s in self.stages.values() if s.shuffle_write_bytes > 0)

    @property
    def reduce_skew(self) -> float:
        """Max over median task time in the stage that wrote the most
        output; 0 when no stage wrote output."""
        writers = [s for s in self.stages.values() if s.output_bytes > 0 and s.task_s]
        if not writers:
            return 0.0
        times = sorted(max(writers, key=lambda s: s.output_bytes).task_s)
        mid = times[len(times) // 2] if len(times) % 2 else (
            times[len(times) // 2 - 1] + times[len(times) // 2]) / 2
        return times[-1] / mid if mid > 0 else 0.0


def parse_label(desc: str | None) -> tuple[str, str] | None:
    if not desc or not desc.startswith(PREFIX):
        return None
    op, _, layer = desc[len(PREFIX):].partition("/")
    return (op, layer) if layer else None


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def rollup(lines) -> dict[tuple[str, str], LayerRoll]:
    """``(op, layer)`` -> totals, from an iterable of event-log lines."""
    out: dict[tuple[str, str], LayerRoll] = defaultdict(LayerRoll)
    stage_label: dict[int, tuple[str, str]] = {}
    exec_label: dict[int, tuple[str, str]] = {}
    acc_counter: dict[int, tuple[int, str]] = {}  # acc id -> (exec, counter)
    acc_value: dict[int, float] = defaultdict(float)
    driver_value: dict[int, float] = {}

    def plan(exec_id: int, info: dict) -> None:
        for node in _plan_nodes(info):
            for m in node.get("metrics", []):
                for (prefix, name), counter in SQL_METRICS.items():
                    if node.get("nodeName", "").startswith(prefix) and m["name"] == name:
                        acc_counter[m["accumulatorId"]] = (exec_id, counter)

    for line in lines:
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            label = parse_label(e.get("Properties", {}).get("spark.job.description"))
            if label:
                out[label].jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            label = parse_label(e.get("Properties", {}).get("spark.job.description"))
            if label:
                stage_label[e["Stage Info"]["Stage ID"]] = label
        elif kind == "SparkListenerTaskEnd":
            label = stage_label.get(e["Stage ID"])
            info = e["Task Info"]
            for acc in info.get("Accumulables", []):
                if acc["ID"] in acc_counter:
                    # SQL metric updates are logged as strings
                    acc_value[acc["ID"]] += float(acc.get("Update") or 0)
            if label is None:
                continue
            st = out[label].stages.setdefault(e["Stage ID"], StageRoll())
            m = e.get("Task Metrics") or {}
            st.task_s.append((info["Finish Time"] - info["Launch Time"]) / 1000.0)
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            st.spill_bytes += m.get("Disk Bytes Spilled", 0)
            st.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
            st.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            label = parse_label(e.get("description"))
            if label:
                exec_label[e["executionId"]] = label
                plan(e["executionId"], e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            if e["executionId"] in exec_label:
                plan(e["executionId"], e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e.get("accumUpdates", []):
                driver_value[acc_id] = value

    for acc_id, (exec_id, counter) in acc_counter.items():
        label = exec_label.get(exec_id)
        if label is not None:
            out[label].sql[counter] += acc_value.get(acc_id, 0.0) + driver_value.get(acc_id, 0.0)
    return dict(out)


def read(path: str) -> dict[tuple[str, str], LayerRoll]:
    with open(path, encoding="utf-8") as fh:
        return rollup(fh)


def merge(rolls: dict[tuple[str, str], LayerRoll], op: str,
          layers: tuple[str, ...] | None = None) -> LayerRoll:
    """One op's totals over ``layers`` (every layer when None)."""
    merged = LayerRoll()
    for (o, layer), r in rolls.items():
        if o != op or (layers is not None and layer not in layers):
            continue
        merged.jobs += r.jobs
        merged.stages.update(r.stages)
        for k, v in r.sql.items():
            merged.sql[k] += v
    return merged
