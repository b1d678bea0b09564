"""StageWriter bookkeeping in workdir mode: lineage counted from the
stage files' parquet footers, one ``_lineage`` append per run, resume
through URI workdirs, lineage kept when a late stage raises."""

import json
import os

import pytest
from pyspark.sql import functions as F

from context_aware_rag_spark.config import PipelineConfig
from context_aware_rag_spark.operators import materialize
from context_aware_rag_spark.plans.pipeline import run_pipeline
from context_aware_rag_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA,
    generate_rows,
)

STAGES = (
    "chunks", "triples_raw", "mentions", "linked_chunks",
    "structural_edges", "nodes", "edges",
)


def _part_files(path):
    return sorted(n for n in os.listdir(path) if n.startswith("part-"))


@pytest.fixture(scope="module")
def transcripts(spark):
    return spark.createDataFrame(generate_rows(4), schema=TRANSCRIPT_SCHEMA)


@pytest.fixture(scope="module")
def written(spark, transcripts, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("kgwork"))
    res = run_pipeline(spark, transcripts, PipelineConfig(), workdir=wd, run_id="w1")
    return wd, res


def test_lineage_counts_match_stage_tables(spark, written):
    wd, res = written
    lineage = spark.read.parquet(os.path.join(wd, "_lineage")).collect()
    assert {r["run_id"] for r in lineage} == {"w1"}
    assert {r["stage"] for r in lineage} == set(STAGES)
    for stage in STAGES:
        rows = [r for r in lineage if r["stage"] == stage]
        path = os.path.join(wd, stage)
        n = spark.read.parquet(path).count()
        assert sum(r["out_rows"] for r in rows) == res.metrics[stage]["rows"] == n, stage
        # one lineage row per write task, keyed by the part-NNNNN id
        tasks = {int(name.split("-")[1]) for name in _part_files(path)}
        assert sorted(r["partition"] for r in rows) == sorted(tasks), stage
        assert {r["wall_s"] for r in rows} == {res.metrics[stage]["wall_s"]}


def test_lineage_appended_once_per_run(written):
    wd, _ = written
    # every write job names its files part-NNNNN-<job uuid>-cNNN
    jobs = {name.split("-", 2)[2].rsplit("-c", 1)[0]
            for name in _part_files(os.path.join(wd, "_lineage"))}
    assert len(jobs) == 1, jobs
    with open(os.path.join(wd, "metrics_w1.json")) as f:
        assert set(json.load(f)) == set(STAGES)


def test_reread_schema_equals_inferred(spark, written):
    wd, res = written
    frames = {
        "chunks": res.chunks, "triples_raw": res.triples,
        "mentions": res.mentions, "linked_chunks": res.linked_chunks,
        "nodes": res.nodes, "edges": res.edges,
    }
    for stage, df in frames.items():
        assert df.schema == spark.read.parquet(os.path.join(wd, stage)).schema, stage


def test_file_uri_workdir_resumes(spark, transcripts, tmp_path_factory):
    wd = "file://" + str(tmp_path_factory.mktemp("kguri"))
    r1 = run_pipeline(spark, transcripts, PipelineConfig(), workdir=wd, run_id="u1")
    t1 = {tuple(r) for r in r1.triples.collect()}
    r2 = run_pipeline(spark, transcripts, PipelineConfig(), workdir=wd, run_id="u2")
    assert set(r2.metrics) == set(STAGES)
    assert all(m.get("resumed") for m in r2.metrics.values()), r2.metrics
    assert {tuple(r) for r in r2.triples.collect()} == t1
    local = wd[len("file://"):]
    assert os.path.exists(os.path.join(local, "metrics_u2.json"))
    runs = spark.read.parquet(os.path.join(wd, "_lineage")).select("run_id").distinct()
    assert [r["run_id"] for r in runs.collect()] == ["u1"]  # u2 wrote nothing


def test_failed_run_keeps_completed_stage_lineage(
    spark, transcripts, tmp_path_factory, monkeypatch
):
    def boom(*args, **kwargs):
        raise RuntimeError("edges stage failed")

    monkeypatch.setattr(materialize, "build_edges", boom)
    wd = str(tmp_path_factory.mktemp("kgfail"))
    with pytest.raises(RuntimeError, match="edges stage failed"):
        run_pipeline(spark, transcripts, PipelineConfig(), workdir=wd, run_id="f1")
    done = set(STAGES) - {"edges"}
    lineage = spark.read.parquet(os.path.join(wd, "_lineage"))
    got = {r["stage"] for r in lineage.select("stage").distinct().collect()}
    assert got == done
    assert lineage.filter(F.col("run_id") != "f1").count() == 0
    with open(os.path.join(wd, "metrics_f1.json")) as f:
        assert set(json.load(f)) == done
