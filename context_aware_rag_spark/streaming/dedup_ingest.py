"""Streaming deduplicating ingest: each micro-batch is exact-deduped
against the hash index accumulated by every PRIOR epoch before its
survivors are appended — the streaming counterpart of
``dedup.exact_dedup_incremental`` (same pure transforms, same
reference MERGE-on-ingest semantics as the KG streaming mode in
``streaming/ingest.py``).

Exactly-once shape (identical to ingest.py): every epoch writes its
survivors and their hashes to ``epoch=<id>`` partition directories
with overwrite, so a replayed epoch — the foreachBatch contract allows
replays — recomputes against the SAME prior-epoch index (its own
epoch's partial output is never part of its input) and rewrites the
same directories byte-for-byte instead of appending duplicates.

At scale the prior-hash read is a parquet scan of 16-byte keys pruned
by the epoch partition column; on a real deployment the index would be
an Iceberg table compacted periodically, same contract.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..operators import dedup

_HASH_SCHEMA = "doc_id long, text_hash string"


def _read_prior_index(
    spark: SparkSession,
    out_dir: str,
    subdir: str,
    before_epoch: int,
    schema: str,
    what: str,
) -> DataFrame:
    """Moved to streaming/epochs.py (shared with canonical_ingest)."""
    from .epochs import read_prior_index

    return read_prior_index(spark, out_dir, subdir, before_epoch, schema, what)


def read_prior_hashes(
    spark: SparkSession, out_dir: str, before_epoch: int
) -> DataFrame:
    """Exact-dedup hash index from epochs before ``before_epoch``."""
    return _read_prior_index(
        spark, out_dir, "hashes", before_epoch, _HASH_SCHEMA, "dedup hash"
    )


def dedup_microbatch(
    batch_df: DataFrame,
    out_dir: str,
    epoch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalized: bool = True,
) -> None:
    """Per-micro-batch body: survivors = batch anti-joined against the
    prior-epoch hash index (plus within-batch min-id election); write
    survivors' full rows and their hashes, epoch-partitioned."""
    spark = batch_df.sparkSession
    index = read_prior_hashes(spark, out_dir, epoch_id)
    survivors = dedup.dedup_against_index(
        batch_df, index, id_col=id_col, text_col=text_col, normalized=normalized
    ).localCheckpoint()  # consumed twice (rows join + hash write)
    rows = batch_df.join(survivors.select(id_col), id_col, "left_semi")
    rows.write.mode("overwrite").parquet(
        os.path.join(out_dir, "docs", f"epoch={epoch_id}")
    )
    survivors.write.mode("overwrite").parquet(
        os.path.join(out_dir, "hashes", f"epoch={epoch_id}")
    )


def read_deduped(spark: SparkSession, out_dir: str) -> DataFrame:
    """The accumulated deduplicated corpus (epoch column dropped)."""
    base = os.path.join(out_dir, "docs")
    return (
        spark.read.option("basePath", base)
        .parquet(os.path.join(base, "epoch=*"))
        .drop("epoch")
    )


def start_streaming_dedup(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    schema: Optional[T.StructType] = None,
    checkpoint_dir: Optional[str] = None,
    max_files_per_trigger: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """File-source streaming dedup ingest; one file per trigger by
    default so multi-file inputs exercise real cross-epoch dedup."""
    schema = schema or T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_checkpoint")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    return (
        stream.writeStream.foreachBatch(
            lambda df, epoch_id: dedup_microbatch(
                df, out_dir, epoch_id, id_col=id_col, text_col=text_col
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# streaming NEAR-dup ingest (MinHash) — the approximate counterpart
# ---------------------------------------------------------------------------

_SIG_SCHEMA = "doc_id long, signature array<bigint>"


_BAND_SCHEMA = "doc_id long, band int, band_hash long"


def read_prior_signatures(
    spark: SparkSession, out_dir: str, before_epoch: int
) -> DataFrame:
    """MinHash signature index from epochs before ``before_epoch`` —
    same epoch/replay/reset contract as :func:`read_prior_hashes`."""
    return _read_prior_index(
        spark, out_dir, "sigs", before_epoch, _SIG_SCHEMA, "near-dup signature"
    )


def read_prior_bands(
    spark: SparkSession, out_dir: str, before_epoch: int
) -> DataFrame:
    """The index's STORED banded form ((doc_id, band, band_hash), one
    write per epoch at append time) — so each micro-batch probes the
    accumulated bands instead of re-banding all history (O(batch), not
    O(history), per epoch)."""
    return _read_prior_index(
        spark, out_dir, "bands", before_epoch, _BAND_SCHEMA, "near-dup banding"
    )


def neardup_microbatch(
    batch_df: DataFrame,
    out_dir: str,
    epoch_id: int,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Per-micro-batch body for NEAR-dup streaming ingest: survivors =
    dedup.minhash_dedup_incremental against the prior-epoch signature
    index, probed through the STORED banded form; write survivors'
    full rows, their signatures (the est re-join side), and their
    bands (so no later epoch ever re-bands them), epoch-partitioned
    with overwrite — a replayed epoch recomputes against the same
    prior index and rewrites identical bytes."""
    spark = batch_df.sparkSession
    index = read_prior_signatures(spark, out_dir, epoch_id)
    index_banded = read_prior_bands(spark, out_dir, epoch_id)
    survivors = dedup.minhash_dedup_incremental(
        batch_df, index, threshold=threshold, id_col=id_col,
        text_col=text_col, index_banded=index_banded,
    ).localCheckpoint()  # consumed thrice (rows join + sig/band writes)
    rows = batch_df.join(survivors.select(id_col), id_col, "left_semi")
    rows.write.mode("overwrite").parquet(
        os.path.join(out_dir, "docs", f"epoch={epoch_id}")
    )
    survivors.write.mode("overwrite").parquet(
        os.path.join(out_dir, "sigs", f"epoch={epoch_id}")
    )
    dedup.banded_signatures(survivors, id_col=id_col).write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, "bands", f"epoch={epoch_id}"))


def start_streaming_neardup(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    threshold: float = 0.8,
    schema: Optional[T.StructType] = None,
    checkpoint_dir: Optional[str] = None,
    max_files_per_trigger: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """File-source streaming NEAR-dup ingest (MinHash): each micro-batch
    is deduplicated against every prior epoch's survivors before its
    rows are appended. Same exactly-once shape as
    :func:`start_streaming_dedup`."""
    schema = schema or T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_checkpoint")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    return (
        stream.writeStream.foreachBatch(
            lambda df, epoch_id: neardup_microbatch(
                df, out_dir, epoch_id, threshold=threshold,
                id_col=id_col, text_col=text_col,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
