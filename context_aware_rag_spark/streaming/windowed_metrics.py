"""Event-time windowed ingest metrics with late-data watermarking.

The reference's service counts ingested docs per batch with wall-clock
logging (no event-time semantics — SURVEY.md §2.8). At cluster scale
the useful ingest telemetry is EVENT-time: turns/sec per tumbling
window, attributable to the conversation timeline even when the
transport delivers out of order. This operator is the Structured
Streaming shape for that:

    readStream → withWatermark(ts) → groupBy(window(ts), role) → append

- **Append mode + watermark**: a window's row is emitted exactly once,
  when the watermark (max event time seen minus ``late_allowance``)
  passes the window end — so the metrics sink is immutable and
  idempotent under micro-batch replay (no upserts needed on the
  consumer side).
- **Late data**: rows later than the allowance are DROPPED from the
  aggregation by the watermark contract — tested, not assumed.
- **State size**: the only streaming state is one partial aggregate
  per (window, role) newer than the watermark — bounded by
  late_allowance / window_size × |roles|, independent of corpus size.

At 100 TB-scale ingest this runs beside the triple-extraction stream
(streaming/ingest.py) off the same source, giving per-window turn
counts. They do not reconcile row for row with the batch pipeline's
``_lineage`` table: that counts each stage's output rows (chunks,
triples, ...) per write task, not input turns, and the watermark drops
late turns from these windows.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.transcripts import TRANSCRIPT_SCHEMA


def windowed_turn_metrics(
    turns: DataFrame,
    window_size: str = "5 minutes",
    late_allowance: str = "10 minutes",
) -> DataFrame:
    """The aggregation itself (stream- or batch-applicable): tumbling
    event-time windows × role → turn count, char volume, distinct-conv
    sketch. On a streaming frame the watermark bounds state and gates
    append-mode emission; on a batch frame withWatermark is a no-op, so
    the SAME function computes the reconciliation twin."""
    return (
        turns.withWatermark("ts", late_allowance)
        .groupBy(F.window("ts", window_size), F.col("role"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.length("text")).alias("n_chars"),
            F.approx_count_distinct("conv_id").alias("approx_convs"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "role",
            "n_turns",
            "n_chars",
            "approx_convs",
        )
    )


def start_windowed_metrics(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    window_size: str = "5 minutes",
    late_allowance: str = "10 minutes",
    checkpoint_dir: Optional[str] = None,
    available_now: bool = True,
):
    """File-source stream → watermarked windowed metrics → parquet
    append sink. ``available_now=True`` drains the currently-present
    files and stops (the test/replay mode); the checkpoint carries the
    watermark across restarts, so late rows arriving in a later run are
    still dropped against the earlier runs' watermark."""
    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_checkpoint")
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(input_dir)
    metrics = windowed_turn_metrics(stream, window_size, late_allowance)
    writer = (
        metrics.writeStream.outputMode("append")
        .format("parquet")
        .option("path", os.path.join(out_dir, "window_metrics"))
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_metrics(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "window_metrics"))
