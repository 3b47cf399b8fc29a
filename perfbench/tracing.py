"""The traced run's instruments: in-memory spans around each layer call
the benchmark makes, Spark job labelling, and the Spark counters read back
from the local event log.

Every job submitted inside a span runs under the job group
``<workload>/<layer>/<iteration>``. Jobs that suites submit from their own
thread pools carry no group (pooled threads do not inherit it), so a job is
attributed to the span its group names, or else to the innermost span open
when it was submitted.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent, iteration) kept in memory. A
    disabled tracer opens no spans and sets no job groups."""

    def __init__(self, spark, workload: str, enabled: bool):
        self.sc = spark.sparkContext
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[dict] = []

    def _label(self, span: dict | None) -> str | None:
        if span is None:
            return None
        return f"{self.workload}/{span['name']}/{span['iteration']}"

    def _set_group(self, span: dict | None) -> None:
        label = self._label(span)
        if label is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(label, label)

    @contextmanager
    def span(self, name: str, iteration):
        if not self.enabled:
            yield None
            return
        parent = self._open[-1] if self._open else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "iteration": iteration,
            "parent": parent["id"] if parent else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            self._set_group(parent)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cursor = 0.0, s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _task_record(ev: dict) -> dict:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    out = m.get("Output Metrics") or {}
    return {
        "duration_s": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
        "run_s": m.get("Executor Run Time", 0) / 1000.0,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "input_records": inp.get("Records Read", 0),
        "output_bytes": out.get("Bytes Written", 0),
    }


def read_event_log(app_id: str, log_dir: str) -> list[dict]:
    """Jobs of one finished application: id, group, submit/end time (epoch
    s) and, per stage run for it, its task records."""
    paths = [p for p in glob.glob(os.path.join(log_dir, app_id + "*")) if os.path.isfile(p)]
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, list[dict]] = {}
    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "id": ev["Job ID"],
                    "group": props.get("spark.jobGroup.id"),
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stage_ids": ev["Stage IDs"],
                    "stages": {},
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                # the latest started job that lists the stage is the one
                # that runs it; earlier jobs sharing it skipped it
                owner = max(
                    (j["id"] for j in jobs.values() if sid in j["stage_ids"]),
                    default=None,
                )
                if owner is not None:
                    stage_job[sid] = owner
            elif kind == "SparkListenerTaskEnd":
                stage_tasks.setdefault(ev["Stage ID"], []).append(_task_record(ev))
    for sid, tasks in stage_tasks.items():
        if sid in stage_job:
            jobs[stage_job[sid]]["stages"].setdefault(sid, []).extend(tasks)
    return sorted(jobs.values(), key=lambda j: j["id"])


def attribute_jobs(tracer: Tracer, jobs: list[dict]) -> dict[int, list[dict]]:
    """span id -> the jobs it submitted (by job group, else by time)."""
    by_label = {tracer._label(s): s for s in tracer.spans}
    out: dict[int, list[dict]] = {}
    for job in jobs:
        span = by_label.get(job["group"])
        if span is None:
            inside = [
                s for s in tracer.spans if s["start"] <= job["submit"] <= (s["end"] or 0)
            ]
            # innermost: the latest-starting span that contains the submission
            span = max(inside, key=lambda s: s["start"], default=None)
        if span is not None:
            out.setdefault(span["id"], []).append(job)
    return out


def counters(jobs: list[dict], wall_s: float, cores: int) -> dict:
    """Spark counters summed over ``jobs``; ``core_utilization`` is task
    run time over ``wall_s`` x ``cores``."""
    tasks = [t for j in jobs for ts in j["stages"].values() for t in ts]
    stages = [ts for j in jobs for ts in j["stages"].values()]
    reduce_durations = [
        t["duration_s"] for ts in stages if any(t["shuffle_read_bytes"] for t in ts) for t in ts
    ]
    run_s = sum(t["run_s"] for t in tasks)
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": len(tasks),
        "executor_run_s": run_s,
        "executor_cpu_s": sum(t["cpu_s"] for t in tasks),
        "gc_s": sum(t["gc_s"] for t in tasks),
        "spill_bytes": sum(t["spill_bytes"] for t in tasks),
        "shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in tasks),
        "shuffle_read_bytes": sum(t["shuffle_read_bytes"] for t in tasks),
        "output_bytes": sum(t["output_bytes"] for t in tasks),
        # stages that wrote shuffle output: one per exchange that ran
        "exchanges": sum(1 for ts in stages if any(t["shuffle_write_bytes"] for t in ts)),
        # stages that scanned input (a file source)
        "scans": sum(1 for ts in stages if any(t["input_records"] for t in ts)),
        "reduce_task_max_over_median": (
            max(reduce_durations) / statistics.median(reduce_durations)
            if reduce_durations and statistics.median(reduce_durations) > 0
            else None
        ),
        "task_max_over_median": (
            max(t["duration_s"] for t in tasks)
            / statistics.median([t["duration_s"] for t in tasks])
            if tasks and statistics.median([t["duration_s"] for t in tasks]) > 0
            else None
        ),
        "core_utilization": run_s / (wall_s * cores) if wall_s > 0 else None,
    }


class LayerTable:
    """Per-layer rows built from the spans plus the jobs attributed to
    them."""

    def __init__(self, tracer: Tracer, jobs: list[dict], cores: int):
        self.all = tracer.spans
        self.selft = self_times(tracer.spans)
        self.by_span = attribute_jobs(tracer, jobs)
        self.cores = cores
        self._children: dict[int, list[dict]] = {}
        for s in tracer.spans:
            if s["parent"] is not None:
                self._children.setdefault(s["parent"], []).append(s)

    def spans(self, name: str) -> list[dict]:
        return [s for s in self.all if s["name"] == name]

    def wall(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans(name)]

    def subtree(self, roots: list[dict]) -> list[dict]:
        out, todo = [], list(roots)
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self._children.get(s["id"], ()))
        return out

    def jobs_of(self, spans: list[dict]) -> list[dict]:
        return [j for s in spans for j in self.by_span.get(s["id"], [])]

    def layer(self, name: str) -> dict:
        """Counters over every span named ``name`` and its children, with
        ``spans`` (how many), ``wall_s`` and ``self_s`` summed."""
        spans = self.spans(name)
        wall = sum(s["end"] - s["start"] for s in spans)
        row = counters(self.jobs_of(self.subtree(spans)), wall, self.cores)
        row.update(
            spans=len(spans),
            wall_s=wall,
            self_s=sum(self.selft[s["id"]] for s in spans),
        )
        return row

    def by_layer(self, roots: list[dict]) -> dict[str, dict]:
        """Self time and own jobs per layer (the span name up to its first
        dot) over the subtrees of ``roots``, the roots themselves excluded."""
        rows: dict[str, dict] = {}
        for s in self.subtree(roots):
            if s in roots:
                continue
            row = rows.setdefault(s["name"].split(".", 1)[0], {"self_s": 0.0, "jobs": 0})
            row["self_s"] += self.selft[s["id"]]
            row["jobs"] += len(self.by_span.get(s["id"], []))
        return rows
