"""What the benchmark measures: workloads, metric names, units, bounds.

``BENCHMARK.json`` at the repository root is generated from this module
(``python3 perfbench/spec.py > BENCHMARK.json``) and a test keeps the two
equal. The module imports nothing from Spark so that tests can read it.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from typing import Dict, List, Tuple

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

RUN_SECONDS = 30
# untimed operations before measuring; counted in setup_s. The first one
# pays for Python worker start-up, code generation and JIT compilation.
WARMUP_OPS = 1


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    turns: int                     # corpus size: turns, not conversations
    config: Dict[str, object] = field(default_factory=dict)  # PipelineConfig kwargs
    workdir: bool = False          # run_pipeline(..., workdir=<fresh dir>)


WORKLOADS: Tuple[Workload, ...] = (
    Workload(
        "kg_dedup_knn",
        "deduplicate_nodes + similar_edges, lazy, 6k turns: KNN SIMILAR (LSH, "
        "degree-gate fixpoint) and alias canonicalization dominate; no StageWriter I/O",
        turns=6_000,
        config={"deduplicate_nodes": True, "similar_edges": True},
    ),
    Workload(
        "kg_workdir",
        "jobs/ingest_kg.py shape, default config, 24k turns, workdir set: each stage "
        "written as parquet, re-read, counted into _lineage; no KNN/canonicalize",
        turns=24_000,
        workdir=True,
    ),
)


@dataclass(frozen=True)
class Metric:
    name: str
    unit: str
    better: str
    bound: float | None = None     # end-to-end metrics only


END_TO_END: Tuple[Metric, ...] = (
    # session start + package shipping + median corpus build + warm-up
    Metric("setup_s", "s", "lower", 0.25),
    # median wall of one pipeline run, input to forced triples/nodes/edges
    Metric("wall_s", "s", "lower", 0.25),
    Metric("triples_per_s", "1/s", "higher", 0.25),
    # peak summed RSS of the Python driver, driver JVM and Python workers
    Metric("peak_rss_mb", "MB", "lower", 0.1),
)

# layer -> the public functions its span covers (see README.md for which
# end-to-end metric each layer metric should move)
LAYERS: Dict[str, str] = {
    "sources": "benchmark corpus generation (set-up only)",
    "chunking": "chunk_transcripts",
    "extraction": "extract_stage",
    "linking": "link_chunks, structural_edges",
    "similarity": "with_text_embeddings, knn_similar_edges",
    "canonicalize": "canonicalize_nodes, rewrite_triples, rewrite_edges",
    "materialize": "build_nodes, build_edges",
    "pipeline": "StageWriter.materialize",
}
COMMON: Tuple[Tuple[str, str, str], ...] = (
    ("wall_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("task_s", "s", "lower"),
    ("gc_s", "s", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("rows_out", "rows", "higher"),
    ("straggler_ratio", "x", "lower"),
)
EXTRA: Dict[str, Tuple[Tuple[str, str, str], ...]] = {
    "extraction": (("triples_per_chunk", "triples/chunk", "higher"),),
    "similarity": (("gate_iterations", "count", "lower"), ("edges_out", "rows", "higher")),
    "canonicalize": (("merged_nodes", "count", "higher"),),
    "pipeline": (("bytes_written_mb", "MB", "lower"),),
}

def per_layer() -> List[Metric]:
    out = []
    for layer in LAYERS:
        for name, unit, better in COMMON + EXTRA.get(layer, ()):
            out.append(Metric(f"{layer}.{name}", unit, better))
    return out


def workload(name: str) -> Workload:
    for w in WORKLOADS:
        if w.name == name:
            return w
    raise KeyError(f"unknown workload {name!r}; known: {[w.name for w in WORKLOADS]}")


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": w.name, "why": w.why} for w in WORKLOADS],
        "end_to_end": [
            {"name": m.name, "unit": m.unit, "better": m.better, "bound": m.bound}
            for m in END_TO_END
        ],
        "per_layer": [
            {"name": m.name, "unit": m.unit, "better": m.better} for m in per_layer()
        ],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
