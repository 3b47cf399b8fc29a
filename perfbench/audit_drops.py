"""audit_drops: the production path of ``scripts/run_pipeline.py
--audit-logs --report`` over seeded ausearch ``.log`` drops.

One iteration runs three operations:
  1. ``run_audit_logs_with_checkpoints(force=True)``: per-file parquet and
     manifest;
  2. the same call without ``force`` (the resume), which must skip every
     file;
  3. ``read_events`` -> ``denial_groups`` -> ``run_analyzers`` ->
     ``write_json_report``.

It is the only workload that writes, re-reads and reports. Its aggregation
is skew-bound over a few hot signatures (see inputs.py) and reads parquet.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from avc_parser_spark.analyzers import run_analyzers
from avc_parser_spark.checkpoint import read_events, run_audit_logs_with_checkpoints
from avc_parser_spark.enrich.join import signature_exprs
from avc_parser_spark.parse.udf import parse_pages
from avc_parser_spark.pipeline import denial_groups
from avc_parser_spark.sinks import write_json_report
from avc_parser_spark.sources import read_audit_logs
from common import WORK, dir_bytes, median
from inputs import ROUTES, audit_input

# One drop of 2 000 blocks. checkpoint.py ingests files one after another,
# each with ~1.5 s of driver-side planning and a one-task write, and the
# report costs ~4 s whatever the size; a second file added ~1.5 s to every
# iteration and ~5 s to each run, more than the run budget allows.
N_BLOCKS = 2_000
N_FILES = 1


class Workload:
    name = "audit_drops"
    ops_per_iteration = 3
    # (untraced, traced) iterations in a traced run
    trace_iterations = (1, 1)
    display = {"throughput_per_s": "ingest_blocks_per_s"}

    def __init__(self, seed: int, expected: dict):
        self.logs, self.truth = audit_input(seed, N_BLOCKS, N_FILES)
        self.expected = expected.get(str(N_BLOCKS), {}).get(str(seed))
        self.observed: dict | None = None
        self.out = os.path.join(WORK, "audit_out")
        self.report_path = os.path.join(WORK, "report.json")

    # ---- set-up ---------------------------------------------------------
    def open(self, spark) -> None:
        """Validate the drop directory: every file the sidecar lists."""
        names = sorted(f for f in os.listdir(self.logs) if f.endswith(".log"))
        if names != sorted(self.truth["files"]):
            raise RuntimeError(f"log files {names} != {sorted(self.truth['files'])}")
        shutil.rmtree(self.out, ignore_errors=True)

    # ---- the measured loop ----------------------------------------------
    @staticmethod
    def _report(spark, out: str, path: str) -> None:
        events = read_events(spark, out)
        groups = denial_groups(events)
        findings = run_analyzers(groups)
        write_json_report(groups, findings, path)

    def iteration(self, spark, tracer, it: int) -> tuple[dict, list[tuple[str, str]]]:
        span = tracer.span
        t0 = time.perf_counter()
        with span("checkpoint.ingest", it):
            ingest = run_audit_logs_with_checkpoints(spark, self.logs, self.out, force=True)
        t1 = time.perf_counter()
        with span("checkpoint.resume", it):
            resume = run_audit_logs_with_checkpoints(spark, self.logs, self.out)
        t2 = time.perf_counter()
        with span("report", it):
            self._report(spark, self.out, self.report_path)
        t3 = time.perf_counter()
        with open(self.report_path) as fh:
            report = json.load(fh)
        self.last = {"ingest": ingest, "resume": resume, "report": report}
        return (
            {"iteration_s": t3 - t0, "ingest_s": t1 - t0, "resume_s": t2 - t1, "report_s": t3 - t2},
            self.check(ingest, resume, report),
        )

    def check(self, ingest: dict, resume: dict, report: dict) -> list[tuple[str, str]]:
        failures = []
        files = self.truth["files"]
        for part, entry in sorted(ingest["manifest"].items()):
            name = part.split("-", 1)[1]
            truth = files.get(name)
            if truth is None:
                failures.append(("ingest", f"{part}: not an input file"))
                continue
            if entry["input_rows"] != sum(entry["routed_rows"].values()):
                failures.append(("ingest", f"{part}: rows in {entry['input_rows']} != sum of routes"))
            routed = {r: entry["routed_rows"].get(r, 0) for r in truth["routes"]}
            if routed != truth["routes"]:
                failures.append(("ingest", f"{part}: routes {routed} != ground truth {truth['routes']}"))
        if len(ingest["processed"]) != len(files):
            failures.append(("ingest", f"ingest processed {len(ingest['processed'])} of {len(files)} files"))
        if resume["processed"] or len(resume["skipped"]) != len(files):
            failures.append(
                ("resume", f"resume reprocessed {resume['processed']}, skipped {len(resume['skipped'])}")
            )
        summary = report["summary"]
        if summary["total_events"] != self.truth["parse_ok"]:
            failures.append(
                ("report", f"report total_events {summary['total_events']} != parse_ok {self.truth['parse_ok']}")
            )
        observed = {"groups": summary["total_groups"]}
        reference = self.expected or self.observed
        if reference is not None and observed != reference:
            failures.append(("report", f"outputs {observed} != recorded {reference}"))
        if self.observed is None:
            self.observed = observed
        return failures

    @staticmethod
    def e2e(samples: list[dict]) -> dict:
        """Wall-clock medians, shown but not gated."""
        return {
            "throughput_per_s": N_BLOCKS / median([s["ingest_s"] for s in samples]),
            "iteration_s": median([s["iteration_s"] for s in samples]),
            "report_s": median([s["report_s"] for s in samples]),
            "resume_s": median([s["resume_s"] for s in samples]),
        }

    # ---- the traced iteration -------------------------------------------
    def traced_iteration(self, spark, tracer, it: int) -> list[tuple[str, str]]:
        """The loop's three steps with the report split into its layers,
        each over a persisted input; before them, a probe that times the
        read, parse, enrich and route-count layers the ingest runs inside
        checkpoint."""
        with tracer.span("probe", it):
            with tracer.span("sources.read_audit_logs", it):
                blocks = read_audit_logs(spark, self.logs).persist()
                blocks.count()
            with tracer.span("parse.parse_pages", it):
                parsed = parse_pages(blocks).persist()
                parsed.count()
            with tracer.span("enrich.signature", it):
                signed = signature_exprs(parsed).persist()
                signed.count()
            with tracer.span("pipeline.route_counts", it):
                routes = {r["route"]: r["count"] for r in signed.groupBy("route").count().collect()}
        for df in (signed, parsed, blocks):
            df.unpersist()
        with tracer.span("traced", it):
            with tracer.span("checkpoint.ingest", it):
                ingest = run_audit_logs_with_checkpoints(spark, self.logs, self.out, force=True)
            with tracer.span("checkpoint.resume", it):
                resume = run_audit_logs_with_checkpoints(spark, self.logs, self.out)
            with tracer.span("checkpoint.read_events", it):
                events = read_events(spark, self.out).persist()
                events.count()
            with tracer.span("aggregate.denial_groups", it):
                groups = denial_groups(events).persist()
                groups.count()
            with tracer.span("analyzers.run_analyzers", it):
                findings = run_analyzers(groups).persist()
                findings.count()
            with tracer.span("sinks.json_report", it):
                write_json_report(groups, findings, self.report_path)
        for df in (findings, groups, events):
            df.unpersist()
        with open(self.report_path) as fh:
            report = json.load(fh)
        self.last = {"ingest": ingest, "resume": resume, "report": report}
        failures = self.check(ingest, resume, report)
        truth = {
            r: sum(f["routes"][r] for f in self.truth["files"].values())
            for r in ROUTES
        }
        if {r: routes.get(r, 0) for r in ROUTES} != truth:
            failures.append(("probe", f"route counts {routes} != ground truth {truth}"))
        return failures

    def layer_metrics(self, table) -> dict:
        def med_wall(name):
            return median(table.wall(name))

        manifest = self.last["ingest"]["manifest"]
        file_walls = [e["wall_sec"] for e in manifest.values()]
        report = self.last["report"]
        top = max((g["count"] for g in report["unique_denials"]), default=0)
        ingest = table.layer("checkpoint.ingest")
        analyzers = table.layer("analyzers.run_analyzers")
        sinks = table.layer("sinks.json_report")
        # the production-shaped report (untraced steps) is the one whose
        # scans of the events table count
        reports = table.layer("report")
        return {
            "sources.read_audit_logs_s": med_wall("sources.read_audit_logs"),
            "parse.parse_pages_s": med_wall("parse.parse_pages"),
            "enrich.signature_s": med_wall("enrich.signature"),
            "pipeline.route_counts_s": med_wall("pipeline.route_counts"),
            "checkpoint.ingest_s": med_wall("checkpoint.ingest"),
            "checkpoint.file_wall_s_p50": median(file_walls),
            "checkpoint.file_wall_s_max": max(file_walls),
            "checkpoint.jobs_per_file": ingest["jobs"] / ingest["spans"] / N_FILES,
            "checkpoint.core_utilization": ingest["core_utilization"],
            "checkpoint.bytes_written": dir_bytes(os.path.join(self.out, "events")),
            "checkpoint.resume_s": med_wall("checkpoint.resume"),
            "checkpoint.resume_reprocessed": len(self.last["resume"]["processed"]),
            "aggregate.denial_groups_s": med_wall("aggregate.denial_groups"),
            "aggregate.top_group_share": top / report["summary"]["total_events"],
            "analyzers.run_analyzers_s": med_wall("analyzers.run_analyzers"),
            "analyzers.jobs": analyzers["jobs"] / analyzers["spans"],
            "sinks.json_report_s": med_wall("sinks.json_report"),
            "sinks.jobs": sinks["jobs"] / sinks["spans"],
            "report.events_scans": reports["scans"] / reports["spans"],
        }
