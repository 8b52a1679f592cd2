"""Layer spans for the traced run, and the Spark event-log reader that
turns them into per-layer metrics.

A span is (name, start, end, parent). Before a layer's calls the tracer
sets a Spark job group named after the layer, so every job (and every
task) the layer starts carries `spark.jobGroup.id` in the event log. The
log is written uncompressed and unrolled, so the stdlib `json` reads it.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = [
    "rdf_parse", "shacl", "filtering", "lineage",
    "kg.normalize", "kg.linking", "kg.canonicalize", "kg.graph",
]
LAYER_METRICS = [
    ("wall_s", "s"), ("driver_s", "s"), ("executor_s", "s"), ("gc_s", "s"),
    ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("jobs", "count"),
    ("rows_out", "count"),
]
# workload-specific counts and ratios, reported next to the layer metrics
EXTRAS = [
    ("rdf_parse.triples_per_doc", "count"),
    ("shacl.violations", "count"),
    ("shacl.task_skew", "ratio"),
    ("filtering.valid_share", "ratio"),
    ("lineage.write_mb", "MB"),
    ("kg.linking.candidates", "count"),
    ("kg.linking.edges_per_candidate", "ratio"),
    ("kg.linking.task_skew", "ratio"),
    ("kg.graph.dedup_ratio", "ratio"),
    # the traced op's wall time; minus the untraced median, the overhead
    ("trace.op_s", "s"),
    # share of the traced op's wall time covered by layer spans
    ("trace.layer_coverage", "ratio"),
]
MB = 1024.0 * 1024.0


def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """Records spans in memory; `layer` also tags the layer's Spark jobs."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.rows: dict[str, int] = defaultdict(int)
        self.rows_of: dict[int, int] = {}  # id(forced DataFrame) -> rows
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.time(), "end": None, "parent": parent}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        if group:
            self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if group:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def layer(self, name: str):
        return self.span(name, group=name)

    def force(self, layer: str, df):
        """Persist and count full width, so the layer's work runs inside
        its own span and its consumers read the cached rows."""
        df = df.persist()
        n = self.rows_of[id(df)] = df.count()
        self.rows[layer] += n
        return df

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_event_log(log_dir: str, app_id: str) -> tuple[dict, dict]:
    """(jobs, tasks) from a finished application's log.

    jobs: job id -> {"group", "start", "end"} (seconds since the epoch);
    tasks: group -> list of (stage key, run s, gc s, shuffle write B,
    spilled B, output B)."""
    path = os.path.join(log_dir, app_id)
    jobs: dict[int, dict] = {}
    stage_group: dict[tuple, str] = {}
    tasks: dict[str, list] = defaultdict(list)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                props = ev.get("Properties") or {}
                stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = (
                    props.get("spark.jobGroup.id"))
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                out = m.get("Output Metrics") or {}
                tasks[stage_group.get(key)].append((
                    key,
                    m.get("Executor Run Time", 0) / 1000.0,
                    m.get("JVM GC Time", 0) / 1000.0,
                    sw.get("Shuffle Bytes Written", 0),
                    m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0),
                    out.get("Bytes Written", 0),
                ))
    return jobs, tasks


def task_skew(layer_tasks: list) -> float:
    """max / median task run time in the layer's busiest stage."""
    by_stage: dict[tuple, list[float]] = defaultdict(list)
    for t in layer_tasks:
        by_stage[t[0]].append(t[1])
    if not by_stage:
        return 0.0
    busiest = max(by_stage.values(), key=sum)
    med = statistics.median(busiest)
    return max(busiest) / med if med > 0 else 0.0


def layer_metrics(tracer: Tracer, jobs: dict, tasks: dict) -> dict[str, float]:
    """The eight metrics of every layer in LAYERS (0 for layers the
    workload does not run)."""
    out: dict[str, float] = {}
    for layer in LAYERS:
        spans = [(s["start"], s["end"]) for s in tracer.spans if s["name"] == layer]
        wall = sum(e - s for s, e in spans)
        # job time inside the layer's spans; the rest is driver-side plan
        # building and py4j round-trips
        job_iv = [
            (max(j["start"], s), min(j["end"], e))
            for j in jobs.values() if j["group"] == layer and j["end"] is not None
            for s, e in spans if j["start"] < e and j["end"] > s
        ]
        lt = tasks.get(layer, [])
        out.update({
            f"{layer}.wall_s": wall,
            f"{layer}.driver_s": max(0.0, wall - _union_seconds(job_iv)),
            f"{layer}.executor_s": sum(t[1] for t in lt),
            f"{layer}.gc_s": sum(t[2] for t in lt),
            f"{layer}.shuffle_write_mb": sum(t[3] for t in lt) / MB,
            f"{layer}.spill_mb": sum(t[4] for t in lt) / MB,
            f"{layer}.jobs": sum(1 for j in jobs.values() if j["group"] == layer),
            f"{layer}.rows_out": tracer.rows.get(layer, 0),
        })
    return out
