"""One sink fan-out (``route.write_sinks``) behind all three runners: on the
template corpus, ``run_pipeline``, one ``run_incremental`` batch and one
availableNow ``run_stream`` write the same ``infra``, ``logging`` and
``chunk_stats`` row multisets (``ingest_batch`` dropped)."""

from __future__ import annotations

import pytest

from aws_log_ingestion_spark.config import PipelineConfig
from aws_log_ingestion_spark.plans.incremental import live_rows, run_incremental
from aws_log_ingestion_spark.plans.job import run_pipeline
from aws_log_ingestion_spark.sources.derive import conv_meta_from_transcripts
from aws_log_ingestion_spark.streaming.stream_job import run_stream

CFG = PipelineConfig(logging_enabled=True)
SINKS = ("infra", "logging", "chunk_stats")


@pytest.fixture(scope="module")
def runs(spark, template_df, tmp_path_factory):
    """Each runner's output dir over the same input file."""
    root = tmp_path_factory.mktemp("fanout")
    in_dir = str(root / "in")
    template_df.coalesce(1).write.parquet(in_dir)
    transcripts = spark.read.parquet(in_dir)
    meta = conv_meta_from_transcripts(transcripts)

    out = {name: str(root / name) for name in ("pipeline", "incremental", "stream")}
    run_pipeline(spark, transcripts, meta, out["pipeline"], CFG, resume=False)
    assert run_incremental(spark, in_dir, out["incremental"], CFG)["batch_id"] == 0
    q = run_stream(spark, in_dir, meta, out["stream"], CFG, trigger_once=True)
    q.awaitTermination(180)
    assert q.exception() is None
    return out


def _rows(spark, out_dir: str, sink: str, incremental: bool):
    if incremental:
        return live_rows(spark, out_dir, sink).drop("ingest_batch")
    return spark.read.parquet(f"{out_dir}/{sink}")


@pytest.mark.parametrize("runner", ["incremental", "stream"])
@pytest.mark.parametrize("sink", SINKS)
def test_runner_sink_equals_run_pipeline(spark, runs, runner, sink):
    want = _rows(spark, runs["pipeline"], sink, incremental=False)
    got = _rows(spark, runs[runner], sink, incremental=runner == "incremental")
    assert sorted(got.columns) == sorted(want.columns)
    got = got.select(*want.columns)
    assert want.count() > 0
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
