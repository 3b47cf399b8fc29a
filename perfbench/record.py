#!/usr/bin/env python3
"""Record the outputs a workload must reproduce, per seed, into
``perfbench/expected.json``; ``run.py`` checks every iteration against
them. Seeds without a record are checked against the run's own first
iteration (and always against the generator's ground truth).

    python3 perfbench/record.py --workload audit_drops --seeds 0-31
    python3 perfbench/record.py --workload suite_leaves --seeds 0-31

``--size`` overrides the workload's input size (blocks or documents).
"""

from __future__ import annotations

import argparse
import json
import os

from common import prepare_environment, start_spark, write_json

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected.json")


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("audit_drops", "suite_leaves"))
    ap.add_argument("--seeds", default="0")
    ap.add_argument("--size", type=int, help="input size (blocks or documents)")
    args = ap.parse_args()
    prepare_environment()

    from tracing import Tracer

    if args.workload == "audit_drops":
        import audit_drops as mod

        if args.size:
            mod.N_BLOCKS = args.size
        key = str(mod.N_BLOCKS)
    else:
        import suite_leaves as mod

        if args.size:
            mod.N_DOCS = args.size
        key = str(mod.N_DOCS)

    with open(EXPECTED) as fh:
        expected = json.load(fh)
    book = expected.setdefault(args.workload, {}).setdefault(key, {})
    spark = start_spark(f"perfbench-record-{args.workload}")
    try:
        for seed in _seeds(args.seeds):
            wl = mod.Workload(seed, {})
            wl.open(spark)
            _timings, failures = wl.iteration(spark, Tracer(spark, wl.name, False), 0)
            if failures:
                raise SystemExit(f"seed {seed}: ground-truth check failed: {failures}")
            book[str(seed)] = wl.observed
            print(seed, wl.observed, flush=True)
            write_json(EXPECTED, expected)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
