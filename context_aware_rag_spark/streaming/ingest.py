"""Structured Streaming ingestion mode.

The reference is a long-running HTTP service with a count-based batcher
and an ``is_last`` end-of-stream marker (SURVEY.md §2.8: no watermarks,
no event-time windows). Because batch membership is a pure function of
``(conv_id, turn_idx)`` and chunk identity is a pure function of chunk
text, the streaming mode is simply ``readStream → foreachBatch(same
pure transforms) → append`` — each micro-batch's turns chunk and
extract independently (batch_size=1 default), so append-mode output is
exactly the batch pipeline's output with no cross-batch state.

Cross-batch artifacts (chunk position / NEXT_CHUNK links, which the
reference also only computes at finalize time — base.py:752-778) are
produced by running the batch ``link_chunks`` stage over the
accumulated chunks table at ``complete_ingestion`` time, mirroring the
reference's EP2 barrier exactly.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from ..config import PipelineConfig
from ..operators import chunking, extraction
from ..sources.transcripts import TRANSCRIPT_SCHEMA


def ingest_microbatch(
    batch_df: DataFrame, cfg: PipelineConfig, out_dir: str, epoch_id: int
) -> None:
    """The per-micro-batch body: chunk → extract → write stage tables.

    Exactly-once: each output lands in an ``epoch=<id>`` partition
    directory written with overwrite — a retried micro-batch (the
    foreachBatch contract allows replays of the same epoch) rewrites the
    SAME directory instead of appending duplicates. Readers go through
    :func:`read_stage`, which drops the epoch partition column.
    """
    chunks = chunking.chunk_transcripts(batch_df, cfg)
    triples, mentions = extraction.extract_stage(chunks, cfg)
    for name, df in (("chunks", chunks), ("triples_raw", triples), ("mentions", mentions)):
        df.write.mode("overwrite").parquet(
            os.path.join(out_dir, name, f"epoch={epoch_id}")
        )


def read_stage(spark: SparkSession, out_dir: str, name: str) -> DataFrame:
    """Read an epoch-partitioned streaming stage table (epoch dropped)."""
    df = spark.read.option("basePath", os.path.join(out_dir, name)).parquet(
        os.path.join(out_dir, name, "epoch=*")
    )
    return df.drop("epoch")


def start_streaming_ingest(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    cfg: Optional[PipelineConfig] = None,
    checkpoint_dir: Optional[str] = None,
    available_now: bool = True,
):
    """File-source streaming ingest (kafka would swap in the same shape).

    ``available_now`` drains everything currently present and stops —
    the batch-equivalence mode used in tests; ``False`` runs continuous
    micro-batches.
    """
    cfg = cfg or PipelineConfig()
    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_checkpoint")
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .parquet(input_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(
            lambda df, epoch_id: ingest_microbatch(df, cfg, out_dir, epoch_id)
        )
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def finalize_ingestion(spark: SparkSession, out_dir: str) -> DataFrame:
    """EP2 analog: run the cross-batch linking over accumulated chunks."""
    from ..operators.linking import link_chunks

    chunks = read_stage(spark, out_dir, "chunks")
    return link_chunks(
        chunks.dropDuplicates(["conv_id", "batch_id", "turn_idx", "split_pos"])
    )


def finalize_graph(
    spark: SparkSession,
    out_dir: str,
    cfg: Optional[PipelineConfig] = None,
    workdir: Optional[str] = None,
    run_id: str = "finalize",
    transcripts: Optional[DataFrame] = None,
):
    """Full EP2 finalize barrier: assemble the COMPLETE graph (linking,
    structural edges, optional KNN SIMILAR pass — the reference's
    update_knn runs here, neo4j_db.py:610-653 — optional
    canonicalization, node/edge tables) from the accumulated streaming
    stage tables. Output is identical to the batch pipeline over the
    same turns (tested), because every stage is a pure function of the
    accumulated inputs.

    Returns a :class:`~..plans.pipeline.PipelineResult`.
    """
    from ..plans.pipeline import StageWriter, assemble_graph

    cfg = cfg or PipelineConfig()
    key = ["conv_id", "batch_id", "turn_idx", "split_pos"]
    chunks = read_stage(spark, out_dir, "chunks").dropDuplicates(key)
    triples = read_stage(spark, out_dir, "triples_raw").dropDuplicates(
        ["chunk_id", "subj_id", "pred", "obj_id"]
    )
    mentions = read_stage(spark, out_dir, "mentions").dropDuplicates(
        ["conv_id", "chunk_id", "node_id"]
    )
    if cfg.deduplicate_nodes and not workdir:
        triples = triples.localCheckpoint()  # see run_pipeline note
    # cfg.node_source_tools needs the raw transcripts (not a streaming
    # stage table) — callers pass the source table; assemble_graph
    # raises a clear ValueError if it's required but missing
    with StageWriter(spark, workdir, run_id) as w:
        return assemble_graph(w, cfg, chunks, triples, mentions, transcripts)
