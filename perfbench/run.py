#!/usr/bin/env python3
"""Closed-loop benchmark of the avc_parser_spark engine, driven from
outside through its public functions on ``local[<cores>]``.

    python3 perfbench/run.py --workload audit_drops --seed 0 --seconds 10 --trace 0

One driver, one iteration at a time: the next iteration starts only after
the previous one has finished. Each run

1. makes (or reuses, cached by seed and size) the workload's inputs;
2. records host noise: load averages, ``scripts/ceiling_probe.py``'s
   CPU-availability spin probe, and the share of CPU time the hypervisor
   stole over the run;
3. sets up once: starts the session (and the JVM), validates the inputs
   and runs full iterations until one is within ``STEADY`` of the one
   before (at most ``MAX_WARM`` uncounted iterations). ``setup_s`` runs
   from just before the session starts to the first timed iteration; the
   iteration that shows the loop is steady is the first timed one;
4. with ``--trace 0``, times iterations for ``--seconds`` seconds and at
   least ``MIN_SAMPLES`` iterations, and reports the end-to-end metrics:
   ``cpu_s``, the median CPU time of the process tree per iteration, and
   ``setup_s``; the workload's wall-clock medians are printed but not
   gated, since wall time on a shared host swings with the hypervisor's
   steal phases; with ``--trace 1``, runs untraced then
   traced iterations with the Spark event log on and reports the
   per-layer metrics.

Every iteration's outputs are checked; a failed check or an exception
counts against ``failed``; if no iteration succeeds, the result has
``correct: false`` and no metrics. Human-readable lines come first; the
last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. Details (samples,
warm-up, host noise, spans, the layer table) go to
``.perfbench/results/``. Every process a run starts (the JVM, the Python
workers it forks, the spin probe's helpers) has ended before the run
exits.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import time
import traceback

from common import (
    CORES,
    EVENTLOG,
    RESULTS,
    ROOT,
    RssSampler,
    become_subreaper,
    host_noise,
    steal_share,
    tree_cpu_s,
    median,
    prepare_environment,
    reap_children,
    shutdown_jvm,
    spin_probe,
    start_spark,
    write_json,
)

WORKLOADS = ("audit_drops", "suite_leaves")
# warm-up is steady once an iteration is within 15 % of the one before
STEADY = 0.15
MAX_WARM = 2
# the timed loop runs for --seconds and at least MIN_SAMPLES iterations
# (the steady one included), and never more than MAX_ITERATIONS, which
# bounds it even if every iteration fails at once
MIN_SAMPLES = 2
MAX_ITERATIONS = 1000
LAYERS = (
    "sources",
    "parse",
    "enrich",
    "pipeline",
    "aggregate",
    "checkpoint",
    "analyzers",
    "sinks",
    "functions",
)
UNITS = {"throughput_per_s": "1/s", "spark.peak_rss_mb": "MB"}


def _load_workload(name: str):
    if name == "audit_drops":
        import audit_drops as mod
    else:
        import suite_leaves as mod
    return mod.Workload


class Ledger:
    """Operations attempted and failed, with the reasons."""

    def __init__(self, ops_per_iteration: int):
        self.ops = ops_per_iteration
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, failures: list[tuple[str, str]]) -> None:
        self.attempted += self.ops
        self.failed += len({op for op, _msg in failures})
        self.reasons.extend(msg for _op, msg in failures)

    def crashed(self, exc: BaseException) -> None:
        self.attempted += self.ops
        self.failed += self.ops
        self.reasons.append("".join(traceback.format_exception_only(type(exc), exc)).strip())
        traceback.print_exc(file=sys.stderr)


def _iterate(wl, spark, tracer, it: int, ledger: Ledger) -> dict | None:
    cpu0, jit0 = tree_cpu_s(os.getpid())
    try:
        timings, failures = wl.iteration(spark, tracer, it)
    except Exception as exc:  # noqa: BLE001 - counted as failed operations
        ledger.crashed(exc)
        return None
    cpu1, jit1 = tree_cpu_s(os.getpid())
    # the JIT's share is a warm-up cost that fades over minutes (half the
    # CPU of these short iterations at first), so it is kept apart
    timings["jit_s"] = jit1 - jit0
    timings["cpu_s"] = cpu1 - cpu0 - timings["jit_s"]
    ledger.record(failures)
    return timings


def _warm_to_steady(wl, spark, tracer, ledger: Ledger) -> tuple[list[float], dict | None]:
    """Iterate until an iteration is within ``STEADY`` of the one before.
    Returns the uncounted warm-up walls and the steady iteration's timings
    (None if ``MAX_WARM`` iterations never settled)."""
    walls: list[float] = []
    while True:
        timings = _iterate(wl, spark, tracer, -1 - len(walls), ledger)
        if timings is None:
            return walls, None
        if walls and abs(timings["iteration_s"] / walls[-1] - 1) <= STEADY:
            return walls, timings
        walls.append(timings["iteration_s"])
        if len(walls) >= MAX_WARM:
            return walls, None


def _set_up(wl, app: str, ledger: Ledger, details: dict, event_log: bool = False):
    """Start the session (and the JVM), validate the inputs and warm up to
    steady. ``setup_s`` runs from just before the session starts to the
    start of the first timed iteration. Returns the session and the steady
    iteration's timings, which count as the first timed sample."""
    from tracing import Tracer

    t0 = time.perf_counter()
    spark = start_spark(app, event_log=event_log)
    try:
        wl.open(spark)
        off = Tracer(spark, wl.name, enabled=False)
        details["warmup_iteration_s"], steady = _warm_to_steady(wl, spark, off, ledger)
    except BaseException:
        spark.stop()
        raise
    details["setup_s"] = time.perf_counter() - t0 - (steady["iteration_s"] if steady else 0.0)
    return spark, steady


def e2e_run(wl, seconds: float, details: dict) -> tuple[Ledger, dict, dict]:
    """Time iterations for ``seconds`` and at least ``MIN_SAMPLES``
    iterations. The metrics are empty if no iteration succeeded."""
    from tracing import Tracer

    ledger = Ledger(wl.ops_per_iteration)
    spark, steady = _set_up(wl, f"perfbench-{wl.name}", ledger, details)
    samples: list[dict] = []
    try:
        off = Tracer(spark, wl.name, enabled=False)
        t0 = time.perf_counter()
        if steady is not None:
            samples.append(steady)
            t0 -= steady["iteration_s"]
        first, it = len(samples), 0
        while it < MAX_ITERATIONS and (
            time.perf_counter() - t0 < seconds or first + it < MIN_SAMPLES
        ):
            timings = _iterate(wl, spark, off, it, ledger)
            if timings is not None:
                samples.append(timings)
            it += 1
        details["measured_s"] = time.perf_counter() - t0
    finally:
        spark.stop()
    details["samples"] = samples
    if not samples:
        return ledger, {}, {}
    metrics = {
        "cpu_s": median([s["cpu_s"] for s in samples]),
        "setup_s": details["setup_s"],
    }
    shown = {**wl.e2e(samples), "jit_s": median([s["jit_s"] for s in samples])}
    return ledger, metrics, shown


def traced_run(wl, details: dict) -> tuple[Ledger, dict, dict]:
    """One set-up, warm-up to steady, then ``wl.trace_iterations`` untraced
    and traced iterations with the event log on. Returns the ledger, the
    per-layer metrics every workload reports, and the workload's own; no
    metrics if an operation failed."""
    from tracing import LayerTable, Tracer, counters, read_event_log

    ledger = Ledger(wl.ops_per_iteration)
    shutil.rmtree(EVENTLOG, ignore_errors=True)
    os.makedirs(EVENTLOG)
    untraced, traced = wl.trace_iterations
    with RssSampler() as rss:
        spark, _steady = _set_up(
            wl, f"perfbench-{wl.name}-traced", ledger, details, event_log=True
        )
        tracer = Tracer(spark, wl.name, enabled=True)
        try:
            for it in range(untraced):
                with tracer.span("e2e", it):
                    _iterate(wl, spark, tracer, it, ledger)
            for it in range(untraced, untraced + traced):
                try:
                    ledger.record(wl.traced_iteration(spark, tracer, it))
                except Exception as exc:  # noqa: BLE001 - counted as failed
                    ledger.crashed(exc)
            app_id = spark.sparkContext.applicationId
        finally:
            spark.stop()
    if ledger.failed:
        return ledger, {}, {}
    table = LayerTable(tracer, read_event_log(app_id, EVENTLOG), CORES)
    untraced_s = median(table.wall("e2e"))
    traced_roots = table.spans("traced")

    n = len(traced_roots)
    probe_roots = table.spans("probe")
    per_layer = table.by_layer(traced_roots + probe_roots)
    metrics: dict = {}
    for layer in LAYERS:
        row = per_layer.get(layer, {"self_s": 0.0, "jobs": 0})
        metrics[f"{layer}.self_s"] = row["self_s"] / n
        metrics[f"{layer}.jobs"] = row["jobs"] / n
    e2e = table.layer("e2e")
    for key in (
        "jobs",
        "stages",
        "tasks",
        "executor_run_s",
        "executor_cpu_s",
        "gc_s",
        "spill_bytes",
        "shuffle_write_bytes",
    ):
        metrics[f"spark.{key}"] = e2e[key] / e2e["spans"]
    metrics["spark.core_utilization"] = e2e["core_utilization"]
    # peak resident memory of the driver JVM and Python workers; it moved by
    # more than a tenth between runs, so it is a per-layer metric
    metrics["spark.peak_rss_mb"] = rss.peak_mb
    agg_spans = [
        s
        for s in table.subtree(traced_roots)
        if s["name"].split(".", 1)[0] == "aggregate"
    ]
    agg = counters(
        table.jobs_of(agg_spans),
        sum(s["end"] - s["start"] for s in agg_spans),
        CORES,
    )
    metrics["aggregate.exchanges"] = agg["exchanges"] / n
    metrics["aggregate.shuffle_write_bytes"] = agg["shuffle_write_bytes"] / n
    # 0 when the workload runs no aggregate reduce tasks
    metrics["aggregate.reduce_task_max_over_median"] = agg["reduce_task_max_over_median"] or 0.0
    metrics["trace.overhead_ratio"] = median(table.wall("traced")) / untraced_s
    metrics["trace.covered_share"] = (
        sum(r["self_s"] for r in table.by_layer(traced_roots).values()) / n / untraced_s
    )

    details["spans"] = tracer.spans
    details["layer_table"] = {
        name: table.layer(name) for name in dict.fromkeys(s["name"] for s in tracer.spans)
    }
    details["untraced_iteration_s"] = table.wall("e2e")
    details["traced_iteration_s"] = table.wall("traced")
    return ledger, metrics, wl.layer_metrics(table)


def _unit(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s") or "_s_" in name:
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("ratio", "share", "utilization", "over_median")):
        return "ratio"
    return "count"


def _fmt(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, float) and not math.isfinite(v):
        return str(v)
    return f"{v:.6g}"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "avc_parser_spark")):
        print(f"avc_parser_spark not found under {ROOT}", file=sys.stderr)
        return 2
    prepare_environment()
    Workload = _load_workload(args.workload)
    expected_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")
    with open(expected_path) as fh:
        expected = json.load(fh).get(args.workload, {})

    details: dict = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": CORES,
        "host_before": host_noise(),
        "spin_per_core": spin_probe(),
    }
    t_gen = time.perf_counter()
    wl = Workload(args.seed, expected)
    details["input_s"] = time.perf_counter() - t_gen
    details["recorded_outputs"] = bool(getattr(wl, "expected", None))

    try:
        if args.trace:
            ledger, metrics, specific = traced_run(wl, details)
            details["layer_metrics"] = specific
        else:
            ledger, metrics, specific = e2e_run(wl, args.seconds, details)
    finally:
        shutdown_jvm()
    details["host_after"] = host_noise()
    details["steal_share"] = steal_share(details["host_before"], details["host_after"])
    details.update(
        attempted=ledger.attempted,
        failed=ledger.failed,
        failures=ledger.reasons,
        metrics=metrics,
    )
    stamp = time.strftime("%Y%m%dT%H%M%S")
    write_json(
        os.path.join(RESULTS, f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}.json"),
        details,
    )

    names = getattr(wl, "display", {})
    print(
        f"{args.workload} seed={args.seed} trace={args.trace} cores={CORES} "
        f"load={details['host_before']['loadavg']}->{details['host_after']['loadavg']} "
        f"spin/core={details['spin_per_core']:.4g} steal={details['steal_share']:.3f}"
    )
    if not args.trace:
        n = len(details["samples"])
        print(f"  {n} timed iterations in {details['measured_s']:.1f} s; medians over them")
    for name, value in {**metrics, **specific}.items():
        label = names.get(name, name)
        alias = f" (= {name})" if label != name else ""
        print(f"  {label:40s} {_fmt(value):>14s} {_unit(name)}{alias}")
    error_rate = ledger.failed / ledger.attempted if ledger.attempted else 0.0
    print(f"  {'error_rate':40s} {_fmt(error_rate):>14s} ratio ({ledger.failed}/{ledger.attempted})")
    correct = ledger.failed == 0 and bool(metrics)
    print(f"  outputs check: {'ok' if correct else 'FAILED'}")
    for reason in ledger.reasons[:5]:
        print(f"    {reason}")

    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": ledger.attempted,
                "failed": ledger.failed,
                "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
            }
        )
    )
    return 0


def _terminate(signum, _frame) -> None:
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    # every process the run starts ends before it does, on every way out,
    # SIGTERM included
    signal.signal(signal.SIGTERM, _terminate)
    become_subreaper()
    try:
        code = main()
    finally:
        if reap_children():
            print("perfbench: left-over child processes had to be signalled", file=sys.stderr)
    sys.exit(code)
