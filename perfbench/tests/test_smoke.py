"""Tiny end-to-end runs of every workload, untraced and traced.

Each run starts its own Spark driver (~25 s). The digests pin the
program's output for seed 0 at a tenth of the workload size: a change
that alters any triple, node id or edge key fails here.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import spec

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DIGESTS = {
    "kg_dedup_knn": "{'triples': (1260, '-117682999936515304734'), "
                    "'nodes': (16, '35680394301716197785'), "
                    "'edges': (4160, '45113121536130599843')}",
    "kg_workdir": "{'triples': (5211, '320679130677891412415'), "
                  "'nodes': (228, '-98227291765871977366'), "
                  "'edges': (17042, '815995084434450958633')}",
}


def run_bench(cwd, *args):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w.name for w in spec.WORKLOADS])
def test_smoke_run(workload, trace):
    p = run_bench(ROOT, "--workload", workload, "--seed", "0", "--seconds", "1",
                  "--trace", str(trace), "--scale", "0.1")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    assert all(line.startswith("# ") for line in lines[:-1])
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    expected = spec.per_layer() if trace else spec.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m.name: m.unit for m in expected
    }
    assert "# oracle: triple precision 1.0000 recall 1.0000" in p.stdout
    assert f"# digest: {DIGESTS[workload]}" in lines
    values = {k: v["value"] for k, v in result["metrics"].items()}
    if not trace:
        assert all(v > 0 for v in values.values())
        return
    assert values["chunking.jobs"] > 0 and values["extraction.rows_out"] > 0
    assert values["sources.jobs"] > 0
    wl = spec.workload(workload)
    if wl.workdir:
        assert values["pipeline.jobs"] > 0 and values["pipeline.bytes_written_mb"] > 0
        assert values["similarity.jobs"] == 0 and values["canonicalize.jobs"] == 0
    else:
        assert values["pipeline.jobs"] == 0 and values["pipeline.bytes_written_mb"] == 0
        assert values["similarity.jobs"] > 0 and values["canonicalize.jobs"] > 0
    assert any(line.startswith("# trace: sum of layer walls") for line in lines)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("out", "__pycache__"))
    name = spec.WORKLOADS[0].name
    p = run_bench(tmp_path, "--workload", name, "--seed", "1", "--seconds", "1")
    assert p.returncode != 0
    assert "{" not in p.stdout
