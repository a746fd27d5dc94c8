"""Per-layer accounting for the traced run.

The traced run starts its session with the uncompressed, non-rolling
Spark event log and tags every op with its own job group. This module
reads that log back and, for each job group, sums the task metrics of
the group's stages and keeps each stage's wall interval. Stages are
attributed to a layer by name; everything inside an op's wall interval
that no stage covers is driver time, split at the point where the
program's plan construction returned.

Each op's wall time is cut into disjoint pieces, one per layer, so the
layers' self times add up to the op's wall time exactly; the pass's
remainder (time between ops) is reported as unattributed.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

# Stage-name prefix -> layer; the first match wins, and where stage
# intervals overlap, the earlier layer in this list takes the time.
STAGE_LAYERS = (
    ("localCheckpoint at", "pinning"),
    ("csv at", "io.writers"),
    ("foreachPartition at", "io.rest_sink"),
)
SELF_LAYERS = ("driver.build", "pinning", "io.writers", "io.rest_sink", "spark.stages", "driver.run")

# "time to initialize Python workers" is left out: a reused worker
# reports its one-time initialization again with every task, so the sum
# over tasks exceeds the pass wall.
PYTHON_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}
# Scale to seconds or bytes by SQL metric type. The Python data source's
# custom metrics are left out: their per-task updates are running totals
# of the worker, not the task's own bytes.
METRIC_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0}


def stage_layer(name: str) -> str:
    for prefix, layer in STAGE_LAYERS:
        if name.startswith(prefix):
            return layer
    return "spark.stages"


def _walk_plan(node):
    yield node
    for child in node.get("children", []):
        yield from _walk_plan(child)


class EventLog:
    """Stages and task metrics of one Spark application, by job group."""

    def __init__(self, log_dir: str):
        files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
        self.jobs: dict[str, int] = defaultdict(int)
        self.stage_group: dict[int, str] = {}
        self.stages: dict[int, dict] = {}  # id -> name, start, end
        self.metrics: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._metric_type: dict[int, str] = {}
        with open(files[0]) as fh:
            for line in fh:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerTaskEnd":
            self._task(e)
        elif kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id", "")
            self.jobs[group] += 1
            for sid in e["Stage IDs"]:
                self.stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Submission Time" in info:
                self.stages[info["Stage ID"]] = {
                    "name": info["Stage Name"],
                    "start": info["Submission Time"] / 1e3,
                    "end": info["Completion Time"] / 1e3,
                }
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            for node in _walk_plan(e["sparkPlanInfo"]):
                for m in node.get("metrics", []):
                    self._metric_type[m["accumulatorId"]] = m["metricType"]

    def _task(self, e: dict) -> None:
        m = self.metrics[e["Stage ID"]]
        tm = e.get("Task Metrics") or {}
        m["spark.tasks"] += 1
        m["spark.executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
        m["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        m["spill.memory_bytes"] += tm.get("Memory Bytes Spilled", 0)
        m["spill.disk_bytes"] += tm.get("Disk Bytes Spilled", 0)
        inp = tm.get("Input Metrics") or {}
        m["scan.input_rows"] += inp.get("Records Read", 0)
        m["scan.input_bytes"] += inp.get("Bytes Read", 0)
        m["output.bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
        sr = tm.get("Shuffle Read Metrics") or {}
        m["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        m["shuffle.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
        m["shuffle.write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        for acc in e["Task Info"].get("Accumulables", []):
            metric = PYTHON_METRICS.get(acc.get("Name"))
            scale = METRIC_SCALE.get(self._metric_type.get(acc.get("ID"), ""))
            if metric and scale:
                m[metric] += float(acc["Update"]) * scale

    def group_stages(self, group: str) -> list[int]:
        return [s for s, g in self.stage_group.items() if g == group and s in self.stages]


def _union(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def self_times(op, intervals: list[tuple[float, float, str]]) -> dict[str, float]:
    """Cut the op's wall interval into disjoint per-layer pieces."""
    cuts = {op.start, op.end, op.build_end}
    clipped = []
    for s, e, layer in intervals:
        s, e = max(s, op.start), min(e, op.end)
        if e > s:
            clipped.append((s, e, layer))
            cuts.update((s, e))
    points = sorted(c for c in cuts if op.start <= c <= op.end)
    rank = {layer: i for i, layer in enumerate(SELF_LAYERS)}
    out = dict.fromkeys(SELF_LAYERS, 0.0)
    for a, b in zip(points, points[1:]):
        covering = [layer for s, e, layer in clipped if s <= a and b <= e]
        if covering:
            layer = min(covering, key=rank.__getitem__)
        else:
            layer = "driver.build" if b <= op.build_end else "driver.run"
        out[layer] += b - a
    return out


def pass_metrics(log: EventLog, p) -> dict[str, float]:
    """Per-layer totals for one traced pass (workloads.Pass)."""
    out: dict[str, float] = defaultdict(float)
    out["trace.wall_s"] = p.wall_s
    for op in p.ops:
        sids = log.group_stages(op.group)
        intervals = [(log.stages[s]["start"], log.stages[s]["end"], stage_layer(log.stages[s]["name"])) for s in sids]
        out["spark.jobs"] += log.jobs.get(op.group, 0)
        out["spark.stages"] += len(sids)
        stage_wall = _union([(max(s, op.start), min(e, op.end)) for s, e, _ in intervals if e > op.start and s < op.end])
        out["spark.stage_wall_s"] += stage_wall
        out["spark.driver_gap_s"] += op.wall_s - stage_wall
        out["op.build_s"] += op.build_s
        out["op.run_s"] += op.wall_s - op.build_s
        out[f"build_s.{op.name}"] += op.build_s
        out[f"run_s.{op.name}"] += op.wall_s - op.build_s
        for layer, dt in self_times(op, intervals).items():
            out[f"self.{layer}_s"] += dt
        for s in sids:
            layer = stage_layer(log.stages[s]["name"])
            if layer == "pinning":
                out["pinning.stages"] += 1
                out["pinning.stage_wall_s"] += log.stages[s]["end"] - log.stages[s]["start"]
            elif layer == "io.writers":
                out["writers.csv_stage_wall_s"] += log.stages[s]["end"] - log.stages[s]["start"]
                out["writers.csv_bytes"] += log.metrics[s]["output.bytes"]
            for k, v in log.metrics[s].items():
                if k != "output.bytes":
                    out[k] += v
    out["trace.unattributed_s"] = p.wall_s - sum(op.wall_s for op in p.ops)
    return out
