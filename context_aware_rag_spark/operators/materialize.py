"""Stage 6 — graph materialization: nodes / edges / triples tables.

Reference sink semantics are MERGE-based upserts (neo4j_db.py:508-608),
i.e. set semantics on deterministic keys — reproduced here as
``dropDuplicates`` on the key before an atomic write. On a production
cluster these land as Iceberg tables bucketed by id (plans/pipeline.py
handles the write + lineage); here we produce the final DataFrames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_nodes(mentions: DataFrame, canonical_map: DataFrame | None = None) -> DataFrame:
    """Entity node table: one row per (canonical) node id.

    Property merge on canonicalization follows apoc.refactor.mergeNodes
    "discard" semantics (neo4j_db.py:1673-1674): the canonical (min-id)
    node's name/type win; conv_ids are combined (A5 set-union).
    """
    m = mentions
    if canonical_map is not None:
        cmap = canonical_map.select(
            F.col("node_id").alias("_old"), F.col("canon_id")
        )
        m = (
            m.join(cmap, m.node_id == F.col("_old"), "left")
            .withColumn("canon_id", F.coalesce(F.col("canon_id"), F.col("node_id")))
            .drop("_old")
        )
    else:
        m = m.withColumn("canon_id", F.col("node_id"))
    return (
        m.groupBy("canon_id")
        .agg(
            F.min_by("name", "node_id").alias("name"),
            F.min_by("type", "node_id").alias("type"),
            F.array_sort(F.collect_set("conv_id")).alias("conv_ids"),
            F.countDistinct("chunk_id").alias("mention_chunks"),
        )
        .withColumnRenamed("canon_id", "node_id")
    )


def with_source_tools(
    nodes: DataFrame,
    mentions: DataFrame,
    chunks: DataFrame,
    transcripts: DataFrame,
    canonical_map: DataFrame | None = None,
) -> DataFrame:
    """Multi-source property set-union — the camera-list analog.

    The reference merges ``camera_id`` lists when nodes merge
    (apoc.refactor.mergeNodes {camera_id: "combine"}, neo4j_db.py:1674;
    arango list-union arango_db.py:1177-1203). The transcripts contract
    has no camera column; its multi-source analog is ``tool``: every
    entity node gains ``source_tools`` = sorted distinct tools of the
    turns it was mentioned in, unioned ACROSS merged aliases when a
    canonical_map is given.

    Plan shape: mention -> chunk (turn coordinates) -> transcript tool,
    all equi-joins; the per-node union is one groupBy collect_set.
    """
    # a chunk_id (sha1 of text+conv) can map to SEVERAL turns when the
    # same utterance recurs in a conversation — keep every (conv, turn)
    # row so tools from all occurrences union in (dropDuplicates on
    # chunk_id alone would pick a partition-order-dependent turn)
    turn_map = chunks.select("chunk_id", "conv_id", "turn_idx").dropDuplicates(
        ["chunk_id", "conv_id", "turn_idx"]
    )
    tools = transcripts.select("conv_id", "turn_idx", "tool").filter(
        F.col("tool").isNotNull()
    )
    m = mentions.select("node_id", "chunk_id")
    if canonical_map is not None:
        cmap = canonical_map.select(
            F.col("node_id").alias("_old"), F.col("canon_id")
        )
        m = (
            m.join(cmap, m.node_id == F.col("_old"), "left")
            .withColumn("node_id", F.coalesce(F.col("canon_id"), F.col("node_id")))
            .select("node_id", "chunk_id")
        )
    ent_tools = (
        m.join(turn_map, "chunk_id")
        .join(tools, ["conv_id", "turn_idx"])
        .groupBy("node_id")
        .agg(F.array_sort(F.collect_set("tool")).alias("source_tools"))
    )
    return nodes.join(ent_tools, "node_id", "left").withColumn(
        "source_tools",
        F.coalesce(F.col("source_tools"), F.array().cast("array<string>")),
    )


def predicate_edges(triples: DataFrame) -> DataFrame:
    """Extracted (subj)-[pred]->(obj) edges with set semantics."""
    return triples.select(
        F.col("subj_id").alias("src"),
        F.col("obj_id").alias("dst"),
        F.col("pred").alias("rel_type"),
        "conv_id",
    ).dropDuplicates(["src", "dst", "rel_type", "conv_id"])


def build_edges(
    structural: DataFrame, triples: DataFrame, similar: DataFrame | None = None
) -> DataFrame:
    edges = structural.unionByName(predicate_edges(triples))
    if similar is not None:
        edges = edges.unionByName(
            similar.select(
                "src", "dst", F.lit("SIMILAR").alias("rel_type"),
                F.lit(None).cast("string").alias("conv_id"),
            )
        )
    return edges.dropDuplicates(["src", "dst", "rel_type", "conv_id"])

