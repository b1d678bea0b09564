"""End-to-end KG construction pipeline with checkpointed, resumable stages.

Stage graph (SURVEY.md §7):

    transcripts → chunks → (triples, mentions) → linked_chunks
               → structural edges → [similarity pairs → canonical_map]
               → nodes / edges / triples

Every stage optionally checkpoints to ``workdir/<stage>/`` (parquet in
the sandbox; Iceberg ``writeTo(...).createOrReplace()`` on a real
catalog — same code path, different format string). A stage whose
``_SUCCESS`` marker exists is NOT recomputed on resume — the reference's
idempotent-MERGE property (neo4j_db.py:519-556) re-expressed as
write-once atomic table swaps.

Lineage: one row per (run, stage, write task) with the task's output
row count and the stage's wall time — the analog of the reference's
graph_rag_metrics.json (rag_health.py:20-48), but per write task so
stragglers and skew are visible. The counts come from the written
files' parquet footers, so the bookkeeping costs no Spark job beyond
the stage write; the run's rows are appended to ``workdir/_lineage/``
in one write when the run ends (also when a stage raised), next to
``workdir/metrics_<run_id>.json``. Every workdir access goes through
the Hadoop FileSystem API (``fsutil``), so URI workdirs resume too.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession

from ..config import PipelineConfig
from ..fsutil import fs_and_path
from ..operators import canonicalize, chunking, extraction, linking, materialize, similarity


@dataclass
class PipelineResult:
    chunks: DataFrame
    linked_chunks: DataFrame
    triples: DataFrame
    mentions: DataFrame
    edges: DataFrame
    nodes: DataFrame
    canonical_map: Optional[DataFrame] = None
    metrics: Dict[str, dict] = field(default_factory=dict)


_LINEAGE_SCHEMA = (
    "partition int, out_rows long, stage string, run_id string, wall_s double"
)


def _task_row_counts(spark: SparkSession, path: str) -> Dict[int, int]:
    """Rows per write task of the parquet table at ``path``, read from the
    data files' footers on the driver (no Spark job). The task id is the
    ``NNNNN`` of Spark's ``part-NNNNN-<job>-cNNN`` file names; a task that
    rolled over into several files is summed."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    fs, p = fs_and_path(spark, path)
    counts: Dict[int, int] = {}
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if not (st.isFile() and name.startswith("part-")):
            continue
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
        )
        try:
            rows = reader.getRecordCount()
        finally:
            reader.close()
        task = int(name.split("-")[1])
        counts[task] = counts.get(task, 0) + rows
    return counts


class StageWriter:
    """Checkpoint + lineage bookkeeping for one pipeline run. Use it as a
    context manager: on exit the run's lineage rows and metrics are
    written (``close``), also when a stage raised."""

    def __init__(self, spark: SparkSession, workdir: Optional[str], run_id: str):
        self.spark = spark
        self.workdir = workdir
        self.run_id = run_id
        self.metrics: Dict[str, dict] = {}
        self._lineage: List[tuple] = []

    def __enter__(self) -> "StageWriter":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def _path(self, stage: str) -> str:
        return os.path.join(self.workdir, stage)

    def materialize(self, stage: str, df_thunk: Callable[[], DataFrame]) -> DataFrame:
        """Compute-or-load a stage. Without a workdir, just build the plan
        (lazy, single-job execution at the end)."""
        if not self.workdir:
            return df_thunk()
        path = self._path(stage)
        fs, success = fs_and_path(self.spark, os.path.join(path, "_SUCCESS"))
        if fs.exists(success):
            self.metrics[stage] = {"resumed": True}
            return self.spark.read.parquet(path)
        t0 = time.monotonic()
        df = df_thunk()
        df.write.mode("overwrite").parquet(path)
        wall = time.monotonic() - t0
        counts = _task_row_counts(self.spark, path)
        self._lineage.extend(
            (task, rows, stage, self.run_id, wall) for task, rows in sorted(counts.items())
        )
        self.metrics[stage] = {"rows": sum(counts.values()), "wall_s": wall}
        # the frame's own schema: no inference job over the footers
        return self.spark.read.schema(df.schema).parquet(path)

    def close(self) -> None:
        """Append the buffered lineage rows to ``workdir/_lineage`` and
        write ``workdir/metrics_<run_id>.json``. One append per run: each
        append is a Spark job of its own."""
        if not self.workdir:
            return
        if self._lineage:
            self.spark.createDataFrame(self._lineage, _LINEAGE_SCHEMA).write.mode(
                "append"
            ).parquet(os.path.join(self.workdir, "_lineage"))
            self._lineage = []
        fs, p = fs_and_path(
            self.spark, os.path.join(self.workdir, f"metrics_{self.run_id}.json")
        )
        out = fs.create(p, True)
        try:
            out.write(bytearray(json.dumps(self.metrics, indent=2, default=str), "utf-8"))
        finally:
            out.close()


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: PipelineConfig | None = None,
    workdir: Optional[str] = None,
    run_id: str = "run0",
) -> PipelineResult:
    cfg = cfg or PipelineConfig()
    if cfg.shuffle_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
    if cfg.chunking == "topic":
        chunk_fn = chunking.chunk_transcripts_topic
    elif cfg.chunking == "chars":
        chunk_fn = chunking.chunk_transcripts
    else:
        raise ValueError(f"unknown chunking strategy: {cfg.chunking!r}")

    with StageWriter(spark, workdir, run_id) as w:
        chunks = w.materialize("chunks", lambda: chunk_fn(transcripts, cfg))

        def _extract() -> DataFrame:
            t, _ = extraction.extract_stage(chunks, cfg)
            return t

        triples = w.materialize("triples_raw", _extract)
        if not workdir and cfg.deduplicate_nodes:
            # lazy mode + dedup: canonicalization's iterative actions (CC
            # fixpoint, GEMM stage) would re-run the extraction UDF once per
            # job — pin the extraction output once (the workdir path gets
            # the same break from its stage table)
            triples = triples.localCheckpoint()
        mentions = w.materialize(
            "mentions", lambda: extraction.mentions_from_triples(triples)
        )
        if not workdir and cfg.deduplicate_nodes:
            # same break for the mention table: the dedup tail evaluates it
            # 2-4 times (canonicalize's node-vocabulary input + node_to_rep
            # re-scan, build_nodes, structural rewrite), and each
            # evaluation re-runs the endpoint explode + mention dedup
            # exchange; one vocabulary-sized cache pays for all of them
            mentions = mentions.localCheckpoint()
        return assemble_graph(w, cfg, chunks, triples, mentions, transcripts)


def assemble_graph(
    w: StageWriter,
    cfg: PipelineConfig,
    chunks: DataFrame,
    triples: DataFrame,
    mentions: DataFrame,
    transcripts: Optional[DataFrame] = None,
) -> PipelineResult:
    """Pipeline tail shared by batch (`run_pipeline`) and streaming
    finalize (`streaming.ingest.finalize_graph`): linking, structural
    edges, optional SIMILAR KNN pass, optional canonicalization, node /
    edge materialization. ``transcripts`` is only needed for the
    source_tools enrichment. The caller closes ``w`` (it is a context
    manager), which writes the run's lineage and metrics."""
    workdir = w.workdir

    def _link() -> DataFrame:
        if cfg.salted_linking:
            from ..operators.skew import link_chunks_salted

            return link_chunks_salted(chunks, block_turns=cfg.salt_block_turns)
        return linking.link_chunks(chunks)

    linked = w.materialize("linked_chunks", _link)
    structural = w.materialize(
        "structural_edges", lambda: linking.structural_edges(linked, mentions)
    )

    canonical_map = None
    similar = None
    if cfg.similar_edges:
        # EP2 step f — chunk-KNN SIMILAR edges (neo4j_db.py:610-653)
        def _similar() -> DataFrame:
            uniq = chunks.dropDuplicates(["chunk_id"]).select("chunk_id", "text")
            with_emb = similarity.with_text_embeddings(uniq, dim=cfg.embedding_dim)
            return similarity.knn_similar_edges(
                with_emb,
                id_col="chunk_id",
                min_score=cfg.knn_min_score,
                top_k=cfg.knn_top_k,
                bands=cfg.lsh_bands,
                bits_per_band=cfg.lsh_bits_per_band,
                dim=cfg.embedding_dim,
                max_degree=cfg.knn_max_degree,
            )

        similar = w.materialize("similar_edges", _similar)

    if cfg.deduplicate_nodes:
        canonical_map = w.materialize(
            "canonical_map",
            lambda: canonicalize.canonicalize_nodes(
                mentions.select("node_id", "name", "type").dropDuplicates(
                    ["node_id"]
                ),
                threshold=cfg.duplicate_score,
                embedding_dim=cfg.embedding_dim,
                n_blocks=cfg.gemm_blocks,
                blocking=cfg.canonicalize_blocking,
                lsh_bands=cfg.canon_lsh_bands,
                lsh_bits_per_band=cfg.canon_lsh_bits,
            ),
        )
        if workdir:
            # A11 — totalMerged metric (neo4j_db.py:1665-1684)
            counts = canonicalize.merged_counts(canonical_map).collect()[0].asDict()
            counts["resumed"] = bool(
                w.metrics.get("canonical_map", {}).get("resumed")
            )
            w.metrics["canonicalization"] = counts
        triples = w.materialize(
            "triples", lambda: canonicalize.rewrite_triples(triples, canonical_map)
        )
        structural = w.materialize(
            "structural_edges_canon",
            lambda: canonicalize.rewrite_edges(structural, canonical_map),
        )

    def _nodes() -> DataFrame:
        n = materialize.build_nodes(mentions, canonical_map)
        if cfg.node_source_tools:
            if transcripts is None:
                raise ValueError(
                    "node_source_tools=True requires the transcripts table "
                    "(streaming finalize_graph callers must pass one)"
                )
            n = materialize.with_source_tools(
                n, mentions, chunks, transcripts, canonical_map
            )
        return n

    nodes = w.materialize("nodes", _nodes)
    edges = w.materialize(
        "edges", lambda: materialize.build_edges(structural, triples, similar)
    )

    return PipelineResult(
        chunks=chunks,
        linked_chunks=linked,
        triples=triples,
        mentions=mentions,
        edges=edges,
        nodes=nodes,
        canonical_map=canonical_map,
        metrics=w.metrics,
    )
