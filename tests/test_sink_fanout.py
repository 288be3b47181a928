"""One sink fan-out (``route.write_sinks``) behind both runners: on the
template corpus, ``run_pipeline`` and three ways of running
``run_incremental`` write the same ``infra``, ``logging`` and
``chunk_stats`` row multisets (``ingest_batch`` dropped):

- ``incremental``: one batch over the whole corpus;
- ``replayed``: that batch killed after its sink writes, before its
  commit (``fail_at="new_batch"``), then rerun. A replayed batch leaves
  the sinks as one clean run does, with no duplicated row;
- ``three_batches``: the corpus as three conversation-aligned files,
  one ``run_incremental`` per file."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_log_ingestion_spark.config import PipelineConfig
from aws_log_ingestion_spark.plans.incremental import live_rows, run_incremental
from aws_log_ingestion_spark.plans.job import run_pipeline
from aws_log_ingestion_spark.sources.derive import conv_meta_from_transcripts

CFG = PipelineConfig(logging_enabled=True)
SINKS = ("infra", "logging", "chunk_stats")
RUNNERS = ("incremental", "replayed", "three_batches")


@pytest.fixture(scope="module")
def runs(spark, template_df, tmp_path_factory):
    """Each runner's output dir over the same template corpus."""
    root = tmp_path_factory.mktemp("fanout")
    in_dir = str(root / "in")
    template_df.coalesce(1).write.parquet(in_dir)
    transcripts = spark.read.parquet(in_dir)
    meta = conv_meta_from_transcripts(transcripts)

    out = {name: str(root / name) for name in ("pipeline", *RUNNERS)}
    run_pipeline(spark, transcripts, meta, out["pipeline"], CFG, resume=False)
    assert run_incremental(spark, in_dir, out["incremental"], CFG)["batch_id"] == 0

    with pytest.raises(RuntimeError, match="injected kill at new_batch"):
        run_incremental(spark, in_dir, out["replayed"], CFG, fail_at="new_batch")
    assert run_incremental(spark, in_dir, out["replayed"], CFG)["batch_id"] == 0

    split_dir = str(root / "split")
    part_of = F.abs(F.hash("conv_id")) % 3
    for part in range(3):
        template_df.filter(part_of == part).coalesce(1).write.parquet(f"{split_dir}/p{part}")
        result = run_incremental(spark, split_dir, out["three_batches"], CFG)
        assert (result["batch_id"], result["superseded_convs"]) == (part, 0)
    return out


@pytest.mark.parametrize("runner", RUNNERS)
@pytest.mark.parametrize("sink", SINKS)
def test_runner_sink_equals_run_pipeline(spark, runs, runner, sink):
    want = spark.read.parquet(f"{runs['pipeline']}/{sink}")
    got = live_rows(spark, runs[runner], sink).drop("ingest_batch")
    assert sorted(got.columns) == sorted(want.columns)
    got = got.select(*want.columns)
    assert want.count() > 0
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
