"""Spans around calls into the package, and per-layer figures built from them.

A span is one call from the benchmark into a package module. It records
name, layer (the module), start, end, parent span, run id and the
operation it belongs to. In a traced run every span is also a Spark job
group, so the jobs, stages and task metrics of the work it triggers are
attributed to it: jobs and stages are counted through
``statusTracker().getJobIdsForGroup`` when the span closes, and shuffle,
spill, GC and failed tasks are read afterwards from the uncompressed
offline event log.

DataFrames are lazy, so a call that runs an action is charged for the
upstream plan it executes (a parquet write of an ingest frame runs the
chain sampler). Tier spans (layer ``tier``) group the module calls of one
pipeline tier so that such work can still be located.

Spans are kept in memory and written out once, after the run.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

# the layers reported per phase, named after the package modules:
# pipelines.ingest, sources.writers, pipelines.transform,
# pipelines.incremental, pipelines.load, plans.queries
LAYERS = ["ingest", "writers", "transform", "incremental", "load", "queries"]
PHASES = ["cold", "warm"]
SPARK_COUNTERS = ["jobs", "stages", "shuffle_write_bytes", "gc_s"]
# read from the event log per job group; the last four are reported per
# phase only
GROUP_COUNTERS = ["shuffle_write_bytes", "gc_s", "spill_bytes",
                  "failed_tasks", "written_records", "written_bytes"]
PHASE_TOTALS = GROUP_COUNTERS[2:]


class Tracer:
    """Span recorder. Disabled (every span a no-op) unless given a
    SparkContext, so untraced runs pay nothing."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self.bookkeeping_s = 0.0
        self.op: int | None = None
        self.phase: str | None = None
        self._stack: list[dict] = []

    def begin_op(self, index: int, phase: str) -> None:
        self.op, self.phase = index, phase

    @contextmanager
    def span(self, name: str, layer: str):
        if self.sc is None:
            yield
            return
        t = time.perf_counter()
        rec = {
            "id": f"{self.run_id}/{len(self.spans)}",
            "name": name,
            "layer": layer,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id,
            "op": self.op,
            "phase": self.phase,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        self.bookkeeping_s += time.perf_counter() - t
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            t = time.perf_counter()
            self._stack.pop()
            tracker = self.sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(rec["id"])
            infos = [tracker.getJobInfo(j) for j in jobs]
            rec["jobs"] = len(jobs)
            rec["stages"] = sum(len(i.stageIds) for i in infos if i is not None)
            if self._stack:
                parent = self._stack[-1]
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.bookkeeping_s += time.perf_counter() - t

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def event_log_files(log_dir: str, app_id: str) -> list[str]:
    """The files of one application's event log, in order: the rolling
    layout (Spark 4's default) or a single file."""
    rolling = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if not os.path.isdir(rolling):
        return [os.path.join(log_dir, app_id)]
    parts = [n for n in os.listdir(rolling) if n.startswith("events_")]
    parts.sort(key=lambda n: int(n.split("_")[1]))
    return [os.path.join(rolling, n) for n in parts]


def read_event_log(paths: list[str]) -> dict[str, dict[str, float]]:
    """Task metrics summed per job group from an uncompressed event log.

    Stages map to the group of the first job that lists them; tasks map
    to their stage. GC time is the per-task figure Spark reports, so
    concurrent tasks each count a shared pause.
    """
    stage_group: dict[int, str | None] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(GROUP_COUNTERS, 0)
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line[:64]:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for s in ev["Stage IDs"]:
                        stage_group.setdefault(s, group)
                elif '"SparkListenerTaskEnd"' in line[:64]:
                    ev = json.loads(line)
                    _add_task(out[stage_group.get(ev["Stage ID"])], ev)
    return out


def _add_task(acc: dict[str, float], ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    acc["shuffle_write_bytes"] += (
        m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    written = m.get("Output Metrics") or {}
    acc["written_records"] += written.get("Records Written", 0)
    acc["written_bytes"] += written.get("Bytes Written", 0)
    if ev["Task End Reason"]["Reason"] != "Success":
        acc["failed_tasks"] += 1


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span id -> duration minus the time its child spans cover."""
    child_s: dict[str, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child_s[s["id"]] for s in spans}


def layer_metrics(spans: list[dict], groups: dict[str, dict]) -> dict[str, float]:
    """Per-phase, per-layer figures: the cold phase is the first operation
    of the run, the warm phase the median over the operations after it."""
    own = self_times(spans)
    per_op: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    phase_of: dict[int, str] = {}
    for s in spans:
        if s["phase"] not in PHASES:
            continue
        phase_of[s["op"]] = s["phase"]
        acc = per_op[s["op"]]
        if s["layer"] == "tier":
            acc[f"tier.{s['name']}_s"] += s["end"] - s["start"]
            continue
        L = s["layer"]
        g = groups.get(s["id"], {})
        acc[f"{L}.self_s"] += own[s["id"]]
        acc[f"{L}.jobs"] += s["jobs"]
        acc[f"{L}.stages"] += s["stages"]
        acc[f"{L}.shuffle_write_bytes"] += g.get("shuffle_write_bytes", 0)
        acc[f"{L}.gc_s"] += g.get("gc_s", 0.0)
        for k in PHASE_TOTALS:
            acc[k] += g.get(k, 0)
    out: dict[str, float] = {}
    for phase in PHASES:
        ops = [per_op[i] for i in sorted(per_op) if phase_of[i] == phase]
        keys = {k for acc in ops for k in acc}
        for k in keys:
            out[f"{phase}.{k}"] = statistics.median(acc.get(k, 0) for acc in ops)
    return out


def layer_metric_names() -> list[str]:
    """Every per-phase layer metric, in report order."""
    names = []
    for phase in PHASES:
        for L in LAYERS:
            names.append(f"{phase}.{L}.self_s")
            names += [f"{phase}.{L}.{c}" for c in SPARK_COUNTERS]
        names += [f"{phase}.{k}" for k in PHASE_TOTALS]
    return names


def span_median(spans: list[dict], name: str, phase: str) -> float:
    """Median over the phase's operations of the time in spans ``name``."""
    per_op: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["name"] == name and s["phase"] == phase:
            per_op[s["op"]] += s["end"] - s["start"]
    return statistics.median(per_op.values()) if per_op else 0.0


def self_time_table(spans: list[dict]) -> list[tuple[str, str, float, int]]:
    """(phase, layer, self seconds summed over the run, span count)."""
    own = self_times(spans)
    acc: dict[tuple[str, str], list] = defaultdict(lambda: [0.0, 0])
    for s in spans:
        a = acc[(s["phase"] or "-", s["layer"])]
        a[0] += own[s["id"]]
        a[1] += 1
    return [(p, L, v[0], v[1]) for (p, L), v in sorted(acc.items())]
