"""Per-layer cost of one pipeline run, measured from outside the package.

The traced run calls each layer's public functions in pipeline order and
forces the layer's outputs (eager ``localCheckpoint``) under a Spark job
group named after the layer, so no layer's work leaks into the next one.
Afterwards the jobs of each group are read back from the status store:
``statusTracker().getJobIdsForGroup`` gives the jobs, the status store's
``stageData`` / ``taskList`` give stages and task metrics. This works with
the UI off.

The forced boundaries perturb the run (lazy mode would fuse the layers
into a few actions), so the sum of the layer walls is always reported next
to the untraced end-to-end wall.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from typing import Dict, List, Optional

from pyspark.sql import DataFrame

from context_aware_rag_spark.config import PipelineConfig
from context_aware_rag_spark.operators import (
    canonicalize,
    chunking,
    extraction,
    linking,
    materialize,
    similarity,
)
from context_aware_rag_spark.plans.pipeline import StageWriter

from perfbench import spec

MB = 1024.0 * 1024.0


class Tracer:
    """Job-group spans for one traced operation; ``tag`` keeps the groups
    of successive operations apart."""

    def __init__(self, spark, tag: str):
        self.sc = spark.sparkContext
        self.tag = tag
        self.walls: Dict[str, float] = {}
        self.rows: Dict[str, int] = {}
        self.stage_rows: Dict[str, int] = {}
        self.extra: Dict[str, float] = {}
        self._stack: List[str] = []

    def group(self, layer: str) -> str:
        return f"{layer}#{self.tag}"

    @contextmanager
    def layer(self, name: str):
        """Span of ``name``; a nested span's time is billed to it alone
        (the parent keeps its self time)."""
        self._stack.append(name)
        self.sc.setJobGroup(self.group(name), name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            took = time.perf_counter() - t0
            self._stack.pop()
            self.walls[name] = self.walls.get(name, 0.0) + took
            if self._stack:
                parent = self._stack[-1]
                self.walls[parent] = self.walls.get(parent, 0.0) - took
                self.sc.setJobGroup(self.group(parent), parent)
            else:
                self.sc.setJobGroup("untraced", "untraced")

    def force(self, layer: str, stage: str, df: DataFrame) -> DataFrame:
        """Materialize ``df`` (the ``stage`` output of ``layer``) inside the
        current span and count its rows."""
        out = df.localCheckpoint(eager=True)
        self.stage_rows[stage] = n = out.count()
        self.rows[layer] = self.rows.get(layer, 0) + n
        return out

    def job_metrics(self, layer: str) -> Dict[str, float]:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = list(tracker.getJobIdsForGroup(self.group(layer)))
        stage_ids = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        m = dict(tasks=0, task_s=0.0, gc_s=0.0, shuffle_write_mb=0.0,
                 spill_mb=0.0, bytes_written_mb=0.0)
        task_ms: List[int] = []
        for sid in stage_ids:
            attempts = store.stageData(sid, False, None, False, None)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                m["tasks"] += st.numCompleteTasks()
                m["task_s"] += st.executorRunTime() / 1000.0
                m["gc_s"] += st.jvmGcTime() / 1000.0
                m["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                m["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
                m["bytes_written_mb"] += st.outputBytes() / MB
                tasks = store.taskList(sid, st.attemptId(), 1 << 20)
                for j in range(tasks.size()):
                    tm = tasks.apply(j).taskMetrics()
                    if tm.isDefined():
                        task_ms.append(tm.get().executorRunTime())
        median = statistics.median(task_ms) if task_ms else 0
        m["straggler_ratio"] = max(task_ms) / median if median > 0 else 0.0
        m["jobs"] = len(jobs)
        return m

    def table(self) -> Dict[str, float]:
        """Flat ``<layer>.<metric>`` values of this operation."""
        out: Dict[str, float] = {}
        for layer in spec.LAYERS:
            m = self.job_metrics(layer)
            m["wall_s"] = self.walls.get(layer, 0.0)
            m["rows_out"] = self.rows.get(layer, 0)
            for name, _, _ in spec.COMMON + spec.EXTRA.get(layer, ()):
                key = f"{layer}.{name}"
                out[key] = self.extra.get(key, m.get(name, 0.0))
        return out


def traced_pipeline(
    spark,
    transcripts: DataFrame,
    cfg: PipelineConfig,
    tracer: Tracer,
    workdir: Optional[str] = None,
):
    """``run_pipeline``'s stage graph (plans/pipeline.py) with every layer
    forced under its own job group. With ``workdir``, each forced stage is
    then handed to ``StageWriter.materialize`` under the ``pipeline``
    group, so the parquet write, re-read and lineage job are billed apart
    from the compute. Returns (triples, nodes, edges)."""
    writer = StageWriter(spark, workdir, tracer.tag)

    def stage(layer: str, name: str, df: DataFrame) -> DataFrame:
        df = tracer.force(layer, name, df)
        if not workdir:
            return df
        with tracer.layer("pipeline"):
            out = writer.materialize(name, lambda: df)
        tracer.rows["pipeline"] = tracer.rows.get("pipeline", 0) + writer.metrics[name]["rows"]
        return out

    with tracer.layer("chunking"):
        chunks = stage("chunking", "chunks", chunking.chunk_transcripts(transcripts, cfg))
    with tracer.layer("extraction"):
        triples, _ = extraction.extract_stage(chunks, cfg)
        triples = stage("extraction", "triples_raw", triples)
        mentions = stage(
            "extraction", "mentions", extraction.mentions_from_triples(triples)
        )
    tracer.extra["extraction.triples_per_chunk"] = (
        tracer.stage_rows["triples_raw"] / max(tracer.stage_rows["chunks"], 1)
    )
    with tracer.layer("linking"):
        linked = stage("linking", "linked_chunks", linking.link_chunks(chunks))
        structural = stage(
            "linking", "structural_edges", linking.structural_edges(linked, mentions)
        )

    similar = None
    if cfg.similar_edges:
        stats: dict = {}
        with tracer.layer("similarity"):
            uniq = chunks.dropDuplicates(["chunk_id"]).select("chunk_id", "text")
            with_emb = similarity.with_text_embeddings(uniq, dim=cfg.embedding_dim)
            similar = stage("similarity", "similar_edges", similarity.knn_similar_edges(
                with_emb,
                id_col="chunk_id",
                min_score=cfg.knn_min_score,
                top_k=cfg.knn_top_k,
                bands=cfg.lsh_bands,
                bits_per_band=cfg.lsh_bits_per_band,
                dim=cfg.embedding_dim,
                max_degree=cfg.knn_max_degree,
                stats=stats,
            ))
        tracer.extra["similarity.gate_iterations"] = stats.get("iterations", 0)
        tracer.extra["similarity.edges_out"] = tracer.stage_rows["similar_edges"]

    canonical_map = None
    if cfg.deduplicate_nodes:
        with tracer.layer("canonicalize"):
            canonical_map = stage("canonicalize", "canonical_map", canonicalize.canonicalize_nodes(
                mentions.select("node_id", "name", "type").dropDuplicates(["node_id"]),
                threshold=cfg.duplicate_score,
                embedding_dim=cfg.embedding_dim,
                n_blocks=cfg.gemm_blocks,
                blocking=cfg.canonicalize_blocking,
                lsh_bands=cfg.canon_lsh_bands,
                lsh_bits_per_band=cfg.canon_lsh_bits,
            ))
            merged = canonicalize.merged_counts(canonical_map).collect()[0]
            tracer.extra["canonicalize.merged_nodes"] = merged["merged_nodes"]
            triples = stage(
                "canonicalize", "triples",
                canonicalize.rewrite_triples(triples, canonical_map),
            )
            structural = stage(
                "canonicalize", "structural_edges_canon",
                canonicalize.rewrite_edges(structural, canonical_map),
            )

    with tracer.layer("materialize"):
        nodes = stage("materialize", "nodes", materialize.build_nodes(mentions, canonical_map))
        edges = stage(
            "materialize", "edges", materialize.build_edges(structural, triples, similar)
        )
    return triples, nodes, edges
