"""Metric-name grammar and the committed BENCHMARK.json."""

import json
import os

from perfbench import spec

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_metric_and_workload_names_follow_the_grammar():
    names = [m.name for m in spec.END_TO_END + tuple(spec.per_layer())]
    names += [w.name for w in spec.WORKLOADS]
    assert len(names) == len(set(names))
    for name in names:
        assert spec.NAME_RE.match(name), name
    for m in spec.END_TO_END + tuple(spec.per_layer()):
        assert spec.UNIT_RE.match(m.unit), m.unit
        assert m.better in ("lower", "higher")


def test_grammar_rejects_bad_names():
    for bad in ("", "_x", ".x", "a b", "a/b", "x" * 65, "wallé"):
        assert not spec.NAME_RE.match(bad), bad


def test_end_to_end_bounds():
    bounds = {m.name: m.bound for m in spec.END_TO_END}
    assert set(bounds) >= {"setup_s", "wall_s"}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def test_every_layer_reports_the_common_metrics():
    names = {m.name for m in spec.per_layer()}
    for layer in spec.LAYERS:
        for metric, _, _ in spec.COMMON:
            assert f"{layer}.{metric}" in names
    assert {"extraction.triples_per_chunk", "similarity.gate_iterations",
            "similarity.edges_out", "canonicalize.merged_nodes",
            "pipeline.bytes_written_mb"} <= names


def test_workload_reasons_fit_one_line():
    for w in spec.WORKLOADS:
        assert w.why and "\n" not in w.why and len(w.why) <= 200


def test_committed_benchmark_json_matches_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert json.load(f) == spec.benchmark_json()
