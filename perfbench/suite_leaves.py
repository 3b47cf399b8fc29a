"""suite_leaves: an ``__spark_entry__.queries()`` suite leaf over a seeded
documents table, run as ``queries()[name](spark, table_dir).count()``.

The only workload that runs ``functions/*`` and ``__spark_entry__``. It
parses nothing; driver-side plan construction and short jobs dominate.
One leaf fits the per-run time: ``dedup_minhash_lsh`` (MinHash sketch,
LSH banding and n-gram Jaccard verification from ``functions/dedup.py``;
~2 s a warm pass on 4 cores, ~12 s cold). ``ngram_overlap_suite`` would add
~3.5 s a pass and ~7 s to set-up; ``token_suite``, ``link_graph_suite`` and
``corpus_curation`` take 5-10 s each warm, and ``dedup_resolve`` and
``ann_suite`` also need the embeddings table.

The leaf is timed as plan construction (the ``queries()`` call,
driver-side) plus execution (the ``count``). Jobs the suites submit from
their own thread pools carry no job group; the tracer attributes them by
submission time.
"""

from __future__ import annotations

import time

import __spark_entry__ as entry
from common import median
from inputs import documents_input

LEAVES = ("dedup_minhash_lsh",)
# the repository's sf0.1 test table has 5 000 documents; the leaf costs
# the same at 1 000 and 2 000, so plan and job overheads dominate
N_DOCS = 2_000


class Workload:
    name = "suite_leaves"
    ops_per_iteration = len(LEAVES)
    # (untraced, traced) iterations in a traced run
    trace_iterations = (2, 2)
    display = {"iteration_s": "suite_wall_s", "throughput_per_s": "leaves_per_s"}

    def __init__(self, seed: int, expected: dict):
        self.dir, self.truth = documents_input(seed, N_DOCS)
        self.expected = expected.get(str(N_DOCS), {}).get(str(seed))
        self.observed: dict[str, int] = {}

    def open(self, spark) -> None:
        """Validate the documents table."""
        rows = spark.read.parquet(f"{self.dir}/documents.parquet").count()
        if rows != N_DOCS:
            raise RuntimeError(f"documents rows {rows} != {N_DOCS}")
        self.queries = entry.queries()

    def _leaf(self, spark, tracer, leaf: str, it: int) -> tuple[float, float, int]:
        with tracer.span(f"functions.{leaf}", it):
            t0 = time.perf_counter()
            with tracer.span(f"functions.{leaf}.plan", it):
                df = self.queries[leaf](spark, self.dir)
            t1 = time.perf_counter()
            with tracer.span(f"functions.{leaf}.exec", it):
                rows = df.count()
            return t1 - t0, time.perf_counter() - t1, rows

    def iteration(self, spark, tracer, it: int) -> tuple[dict, list[tuple[str, str]]]:
        timings, rows = {}, {}
        for leaf in LEAVES:
            plan_s, exec_s, rows[leaf] = self._leaf(spark, tracer, leaf, it)
            timings[f"{leaf}.plan_s"] = plan_s
            timings[f"{leaf}.exec_s"] = exec_s
        timings["iteration_s"] = sum(timings.values())
        return timings, self.check(rows)

    def check(self, rows: dict[str, int]) -> list[tuple[str, str]]:
        failures = []
        reference = self.expected or self.observed
        for leaf, n in rows.items():
            want = reference.get(leaf)
            if want is not None and n != want:
                failures.append((leaf, f"{leaf}: {n} rows != recorded {want}"))
            self.observed.setdefault(leaf, n)
        return failures

    @staticmethod
    def e2e(samples: list[dict]) -> dict:
        """Wall-clock medians, shown but not gated."""
        it = median([s["iteration_s"] for s in samples])
        return {
            "throughput_per_s": len(LEAVES) / it,
            "iteration_s": it,
            **{k: median([s[k] for s in samples]) for k in samples[0] if k.startswith(LEAVES)},
        }

    def traced_iteration(self, spark, tracer, it: int) -> list[tuple[str, str]]:
        with tracer.span("traced", it):
            _timings, failures = self.iteration(spark, tracer, it)
        return failures

    def layer_metrics(self, table) -> dict:
        out = {}
        for leaf in LEAVES:
            # eager suites run jobs while planning, so counters cover the
            # whole leaf span (plan and exec)
            whole = table.layer(f"functions.{leaf}")
            out[f"{leaf}.plan_s"] = median(table.wall(f"functions.{leaf}.plan"))
            out[f"{leaf}.exec_s"] = median(table.wall(f"functions.{leaf}.exec"))
            out[f"{leaf}.jobs"] = whole["jobs"] / whole["spans"]
            out[f"{leaf}.shuffle_bytes"] = whole["shuffle_write_bytes"] / whole["spans"]
            out[f"{leaf}.task_max_over_median"] = whole["task_max_over_median"]
        return out
