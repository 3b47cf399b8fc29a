"""The benchmark's input generators are pure functions of (seed, size):
same seed, same bytes; and each sidecar describes the files it sits with.

    python3 -m pytest perfbench/test_inputs.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import inputs  # noqa: E402


def _digests(directory: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as fh:
            out[name] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_audit_input_same_seed_same_bytes(tmp_path):
    a, truth_a = inputs.audit_input(3, 900, 2, root=str(tmp_path / "a"))
    b, truth_b = inputs.audit_input(3, 900, 2, root=str(tmp_path / "b"))
    assert _digests(a) == _digests(b)
    assert truth_a == truth_b
    c, _ = inputs.audit_input(4, 900, 2, root=str(tmp_path / "c"))
    assert _digests(c) != _digests(a)


def test_audit_truth_describes_the_files(tmp_path):
    logs, truth = inputs.audit_input(5, 1000, 3, root=str(tmp_path))
    from avc_parser_spark.datagen.payload import route_for

    assert sorted(truth["files"]) == sorted(f for f in os.listdir(logs) if f.endswith(".log"))
    for name, entry in truth["files"].items():
        with open(os.path.join(logs, name)) as fh:
            assert fh.read().count("----\n") == entry["blocks"]
    routes = {r: sum(f["routes"][r] for f in truth["files"].values()) for r in inputs.ROUTES}
    ids = range(5 * 1000, 6 * 1000)
    assert routes == {r: sum(route_for(i) == r for i in ids) for r in inputs.ROUTES}
    assert truth["parse_ok"] == routes["parse_ok"]
    # the Zipf skew puts at least half the parse-ok blocks on one template
    assert truth["top_template_share"] >= 0.5


def test_documents_input_same_seed_same_bytes(tmp_path):
    a, truth_a = inputs.documents_input(1, 300, root=str(tmp_path / "a"))
    b, truth_b = inputs.documents_input(1, 300, root=str(tmp_path / "b"))
    assert _digests(a) == _digests(b)
    assert truth_a == truth_b
    c, _ = inputs.documents_input(2, 300, root=str(tmp_path / "c"))
    assert _digests(c) != _digests(a)

    import pyarrow.parquet as pq

    table = pq.read_table(os.path.join(a, "documents.parquet"))
    assert table.column_names == ["doc_id", "text", "lang", "source", "n_chars"]
    assert table.column("doc_id").to_pylist() == list(range(300))
    assert sum(table.column("n_chars").to_pylist()) == truth_a["chars"]
