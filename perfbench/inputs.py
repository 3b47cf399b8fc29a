"""Seeded input generators, cached under ``.perfbench/inputs`` by
(seed, size). They run in this process, without Spark, so generation is
never part of a measured set-up; the audit generator reuses
``avc_parser_spark.datagen``'s pure functions.

* ``audit_input``: ``n`` ausearch event blocks in ``files`` ``.log`` files
  (the reference CLI's native input). Routes follow ``payload.route_for``;
  parse-ok blocks are drawn Zipf-skewed from a few dozen denial templates,
  each ``make_event_block(i, Random(template_seed))``, so a template's
  fields stay fixed while its timestamp, serial and event id vary.
* ``documents_input``: a ``documents.parquet`` table in the shape of the
  repository's ``documents`` test table (doc ids ``0..n-1``, the same
  vocabulary and language mix) for the suite leaves.

Each input directory holds a ``_truth.json`` sidecar with the ground truth
the workloads check their outputs against. The sidecar is written last and
the directory is moved into place atomically, so a half-written input is
never reused.
"""

from __future__ import annotations

import json
import os
import random
import shutil

from common import INPUTS

AUDIT_TEMPLATES = 36
# P(template t) ~ 1/(t+1)^2: the top template draws ~60 % of parse-ok
# blocks, the reference's "10 k denials -> ~20 groups" shape.
AUDIT_ZIPF_EXPONENT = 2.0
ROUTES = ("parse_ok", "malformed", "quarantine")
# the repository's documents test table's vocabulary and language mix
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
DOC_LANGS = ("en", "zh", "es", "fr", "de")
DOC_LANG_WEIGHTS = (0.4, 0.15, 0.15, 0.15, 0.15)
# a leading underscore keeps Spark's file sources from reading the sidecar
TRUTH = "_truth.json"


def _publish(tmp: str, final: str, truth: dict) -> None:
    with open(os.path.join(tmp, TRUTH), "w") as fh:
        json.dump(truth, fh, indent=1, sort_keys=True)
    if os.path.isdir(final):
        shutil.rmtree(final)
    os.replace(tmp, final)


def _cached(final: str) -> dict | None:
    try:
        with open(os.path.join(final, TRUTH)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def _fresh_tmp(final: str) -> str:
    tmp = final + ".tmp"
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    return tmp


def documents_input(seed: int, n: int, root: str = INPUTS) -> tuple[str, dict]:
    """(table directory, truth) for the suite-leaves workload: a
    ``documents.parquet`` shaped like the repository's test table (doc ids
    ``0..n-1``, one row group), whose word draws the seed sets. The ids are
    fixed because the suites plant their own duplicate clusters by doc id."""
    final = os.path.join(root, f"documents-s{seed}-n{n}")
    truth = _cached(final)
    if truth is not None:
        return final, truth

    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = _fresh_tmp(final)
    rng = random.Random(seed)
    texts = [" ".join(rng.choices(DOC_WORDS, k=rng.randint(10, 100))) for _ in range(n)]
    langs = rng.choices(DOC_LANGS, DOC_LANG_WEIGHTS, k=n)
    table = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(tmp, "documents.parquet"))
    truth = {"seed": seed, "n": n, "chars": sum(len(t) for t in texts)}
    _publish(tmp, final, truth)
    return final, truth


def audit_blocks(seed: int, n: int):
    """Yield (block text, route, template id or None) for block ids
    ``[seed*n, seed*n + n)``."""
    from avc_parser_spark.datagen.payload import (
        _rng,
        make_event_block,
        make_malformed_block,
        make_quarantine_block,
        route_for,
    )

    weights = [1.0 / (t + 1) ** AUDIT_ZIPF_EXPONENT for t in range(AUDIT_TEMPLATES)]
    picks = random.Random(seed).choices(range(AUDIT_TEMPLATES), weights, k=n)
    for j, template in enumerate(picks):
        i = seed * n + j
        route = route_for(i)
        if route == "parse_ok":
            template_seed = seed * AUDIT_TEMPLATES + template
            yield make_event_block(i, random.Random(template_seed)), route, template
        elif route == "malformed":
            yield make_malformed_block(i, _rng(i)), route, None
        else:
            yield make_quarantine_block(i, _rng(i)), route, None


def audit_input(seed: int, n: int, files: int, root: str = INPUTS) -> tuple[str, dict]:
    """(log directory, truth) for the audit-drops workload: ``files``
    daily ``.log`` files of consecutive blocks, ausearch-formatted (each
    event opens with a ``----`` line)."""
    final = os.path.join(root, f"audit-s{seed}-n{n}-k{files}")
    truth = _cached(final)
    if truth is not None:
        return final, truth

    tmp = _fresh_tmp(final)
    per_file: dict[str, dict] = {}
    template_counts: dict[int, int] = {}
    blocks = audit_blocks(seed, n)
    for k in range(files):
        size = n // files + (1 if k < n % files else 0)
        name = f"audit-day{k:02d}.log"
        routes = dict.fromkeys(ROUTES, 0)
        with open(os.path.join(tmp, name), "w", encoding="utf-8", newline="\n") as fh:
            for _ in range(size):
                text, route, template = next(blocks)
                fh.write("----\n" + text + "\n")
                routes[route] += 1
                if template is not None:
                    template_counts[template] = template_counts.get(template, 0) + 1
        per_file[name] = {"blocks": size, "routes": routes}

    parse_ok = sum(f["routes"]["parse_ok"] for f in per_file.values())
    truth = {
        "seed": seed,
        "n": n,
        "files": per_file,
        "parse_ok": parse_ok,
        "templates_used": sorted(template_counts),
        "top_template_share": max(template_counts.values()) / parse_ok if parse_ok else 0.0,
    }
    _publish(tmp, final, truth)
    return final, truth
