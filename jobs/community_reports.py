#!/usr/bin/env python
"""spark-submit entrypoint for the GraphRAG community layer over an
ingested KG workdir (Edge et al. 2024 — the community structure the
reference delegates to its graph-DB plugin, here computed engine-side).

    spark-submit --py-files context_aware_rag_spark.zip \
        jobs/community_reports.py --workdir <ingest workdir> \
        [--min-count 10] [--max-members 12] [--run-id c1] \
        [--query "..."] [--entity "Name::Type"] [--k 5]

Reads the ingest job's ``triples`` stage table, builds the entity
co-assertion graph, runs LPA + the report/hierarchy compose, and
writes ``communities_<run-id>/reports`` and
``communities_<run-id>/hierarchy`` parquet tables back to the workdir
(Iceberg tables on a real catalog — same stage-swap contract as
jobs/ingest_kg.py). With --query it additionally prints the global
search's top-k report rows; with --entity, the local-search context
package. Final stdout line is one JSON summary.
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main(argv=None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workdir", required=True)
    p.add_argument("--min-count", type=int, default=10)
    p.add_argument("--max-members", type=int, default=12)
    p.add_argument("--run-id", default="c1")
    p.add_argument("--query")
    p.add_argument("--entity")
    p.add_argument("--k", type=int, default=5)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.appName("kg-communities")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from context_aware_rag_spark.deploy import ensure_on_executors
    from context_aware_rag_spark.fsutil import fs_and_path
    from context_aware_rag_spark.operators import communities
    from context_aware_rag_spark.operators.graph import label_propagation

    ensure_on_executors(spark)

    t0 = time.monotonic()
    # canonicalized triples when the ingest ran --dedup, raw otherwise
    tri_path = os.path.join(args.workdir, "triples")
    fs, tri = fs_and_path(spark, tri_path)
    if not fs.exists(tri):
        tri_path = os.path.join(args.workdir, "triples_raw")
    triples = (
        spark.read.parquet(tri_path)
        .select(
            "conv_id", "subj_name", "subj_type", "pred",
            "obj_name", "obj_type",
        )
        .distinct()
        .localCheckpoint()
    )
    nodes, edges = communities.entity_graph(
        triples, min_count=args.min_count
    )
    edges = edges.localCheckpoint()
    reports = communities.community_reports(
        nodes, edges, max_members=args.max_members
    ).localCheckpoint()
    hierarchy = communities.community_hierarchy(edges)

    out_dir = os.path.join(args.workdir, f"communities_{args.run_id}")
    reports.write.mode("overwrite").parquet(os.path.join(out_dir, "reports"))
    hierarchy.write.mode("overwrite").parquet(
        os.path.join(out_dir, "hierarchy")
    )

    if args.query:
        hits = communities.community_global_search(
            reports, args.query, k=args.k
        )
        for row in hits.collect():
            print(json.dumps({"search": row.asDict()}, default=str))
    if args.entity:
        labels = label_propagation(edges).select("node_id", "label")
        pkg = communities.community_local_search(
            labels, reports, triples, args.entity, k=args.k
        )
        for row in pkg.collect():
            print(json.dumps({"local": row.asDict()}, default=str))

    n_reports = reports.count()
    n_parents = hierarchy.select("parent").distinct().count()
    largest = reports.agg(F.max("n_members")).collect()[0][0]
    wall = time.monotonic() - t0
    print(json.dumps({
        "run_id": args.run_id,
        "wall_s": round(wall, 3),
        "n_communities": n_reports,
        "n_parents": n_parents,
        "largest_community": largest,
        "out": out_dir,
    }, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
