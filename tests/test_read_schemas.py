"""The runners and the incremental readers read parquet with schemas they
already hold: the hub with the ``schema`` its record carries, the
incremental sinks with their batch record's ``sink_schemas``, input
files and tombstones with ``incremental.RAW_SCHEMA`` (plus
``ingest_batch``). A plain ``spark.read.parquet`` starts a
schema-inference job outside any SQL execution; these tests count such
jobs in one job group and expect none."""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager

from aws_log_ingestion_spark.config import PipelineConfig
from aws_log_ingestion_spark.operators import checkpoint as ckpt
from aws_log_ingestion_spark.plans.incremental import (
    TOMBSTONE_SCHEMA,
    hub_lookup,
    live_rows,
    run_incremental,
)
from aws_log_ingestion_spark.plans.job import run_pipeline

CFG = PipelineConfig(logging_enabled=True)


@contextmanager
def _job_group(spark):
    sc = spark.sparkContext
    group = f"reads_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "runner reads")
    jobs: set[int] = set()
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        jobs.update(sc.statusTracker().getJobIdsForGroup(group))


def _jobs_outside_sql(spark, jobs: set[int]) -> set[int]:
    """The jobs of ``jobs`` that belong to no SQL execution."""
    listed = spark._jsparkSession.sharedState().statusStore().executionsList()
    in_sql = set()
    for i in range(listed.size()):
        ids = listed.apply(i).jobs().keys().mkString(",")
        in_sql |= {int(j) for j in ids.split(",") if j}
    return jobs - in_sql


def test_run_pipeline_infers_no_schema(spark, template_df, template_meta_df, tmp_path):
    out = str(tmp_path / "out")
    with _job_group(spark) as jobs:
        run_pipeline(spark, template_df, template_meta_df, out, CFG, resume=False)
    assert jobs
    assert not _jobs_outside_sql(spark, jobs)
    # the resumed hub is read with the recorded schema too
    os.remove(os.path.join(out, "_checkpoints", "chunks.json"))
    with _job_group(spark) as jobs:
        run_pipeline(spark, template_df, template_meta_df, out, CFG)
    assert jobs
    assert not _jobs_outside_sql(spark, jobs)
    schema = ckpt.CheckpointLog(out).read("classified")["schema"]
    assert ckpt.read_with_schema(spark, schema, f"{out}/classified").schema == (
        spark.read.parquet(f"{out}/classified").schema
    )


def _late_turns(template_df):
    """Late turns of c0: ingested after the templates, they supersede
    one conversation."""
    return template_df.filter("conv_id = 'c0'").selectExpr(
        "conv_id", "turn_idx + 1000 AS turn_idx", "role", "text", "tool", "ts"
    )


def test_incremental_append_infers_no_schema(spark, template_df, tmp_path):
    """An append with late turns reads new input files, the hub (overlap
    and batch read-back) and the tombstones."""
    in_dir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    template_df.coalesce(1).write.parquet(f"{in_dir}/b0")
    assert run_incremental(spark, in_dir, out, CFG)["batch_id"] == 0
    _late_turns(template_df).coalesce(1).write.parquet(f"{in_dir}/b1")
    with _job_group(spark) as jobs:
        result = run_incremental(spark, in_dir, out, CFG)
    assert result["batch_id"] == 1 and result["superseded_convs"] == 1
    assert jobs
    assert not _jobs_outside_sql(spark, jobs)


def test_incremental_readers_infer_no_schema(spark, template_df, tmp_path):
    """``live_rows`` and ``hub_lookup`` over a two-batch out dir with
    tombstones read with the recorded schemas, which equal what a plain
    read infers."""
    in_dir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    template_df.coalesce(1).write.parquet(f"{in_dir}/b0")
    run_incremental(spark, in_dir, out, CFG)
    _late_turns(template_df).coalesce(1).write.parquet(f"{in_dir}/b1")
    assert run_incremental(spark, in_dir, out, CFG)["superseded_convs"] == 1
    with _job_group(spark) as jobs:
        assert live_rows(spark, out, "chunk_stats").count() > 0
    assert jobs
    assert not _jobs_outside_sql(spark, jobs)
    with _job_group(spark) as jobs:
        assert hub_lookup(spark, out, "c0").count() > 0
    assert jobs
    assert not _jobs_outside_sql(spark, jobs)

    record = ckpt.CheckpointLog(out).read("ingest.b1")
    reads = {"classified": record["schema"], **record["sink_schemas"]}
    assert sorted(reads) == ["chunk_stats", "classified", "infra", "logging"]
    for name, schema in reads.items():
        root = f"{out}/{name}"
        assert ckpt.read_with_schema(spark, schema, root).schema == (
            spark.read.parquet(root).schema
        ), name
    tombstones = f"{out}/tombstones"
    assert spark.read.schema(TOMBSTONE_SCHEMA).parquet(tombstones).schema == (
        spark.read.parquet(tombstones).schema
    )
