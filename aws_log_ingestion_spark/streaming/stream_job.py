"""Structured Streaming skin over the batch pipeline.

The reference is invocation-driven — each Lambda call is an isolated
micro-batch with no cross-invocation state, no event-time windows, no
late-data policy (SURVEY.md §2 "Streaming-only": none). That maps 1:1
onto ``foreachBatch``: every micro-batch builds the same hub as the
batch job (``plans.job.prepare``) and writes it through the same fan-out
(``route.write_sinks``), so batch/stream semantics cannot drift.
Forward-fills are correct when a conversation arrives within one
micro-batch, the reference's model. A conversation whose turns span
input batches is ``plans/incremental.py::run_incremental``'s job: it
recomputes the whole conversation from the hub's raw turns.

Sinks are append-mode parquet (``checkpoint.write_parquet`` with
``mode="append"``, v1 committer; Iceberg in production); the checkpoint
location gives exactly-once per micro-batch — the streaming analog of
the batch job's checkpoint table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..config import PipelineConfig
from ..operators.checkpoint import write_parquet
from ..operators.route import write_sinks
from ..plans.job import prepare


def make_batch_processor(
    conv_meta: DataFrame,
    out_dir: str,
    cfg: PipelineConfig | None = None,
):
    """The foreachBatch function: the batch job's hub and its three
    sinks (infra, logging, chunk_stats), appended per micro-batch. Under
    the reference's invocation model (whole conversations per
    micro-batch) the appended sinks equal the batch job's — pinned by
    tests/test_stateful_streaming.py and tests/test_sink_fanout.py."""
    cfg = cfg or PipelineConfig()

    def commit(name, df, partition_by, order_by, _metrics, follow=None) -> None:
        # a micro-batch keeps no per-sink record, so it observes nothing;
        # a follow-up frame is one more append
        path = f"{out_dir}/{name}"
        write_parquet(df, path, partition_by, order_by, mode="append")
        extra = follow() if follow else None
        if extra is not None:
            write_parquet(extra, path, partition_by, order_by, mode="append")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # materialize the hub once per micro-batch — the sinks and both
        # chunk legs read it, mirroring the batch job's checkpointed hub
        hub = prepare(batch_df, conv_meta, cfg).persist()
        try:
            write_sinks(hub, cfg, commit)
        finally:
            hub.unpersist()

    return process


def run_stream(
    spark: SparkSession,
    input_dir: str,
    conv_meta: DataFrame,
    out_dir: str,
    cfg: PipelineConfig | None = None,
    trigger_once: bool = True,
):
    """File-source stream of transcript parquet -> routed sinks.

    ``trigger_once`` drains available input and stops (test/batch-catchup
    mode); otherwise a continuous micro-batch trigger."""
    from ..sources.datagen import to_spark_df  # for schema only

    schema = to_spark_df(spark, []).schema
    stream = spark.readStream.schema(schema).parquet(input_dir)
    writer = (
        stream.writeStream.foreachBatch(make_batch_processor(conv_meta, out_dir, cfg))
        .option("checkpointLocation", f"{out_dir}/_stream_checkpoint")
        .outputMode("update")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="10 seconds")
    return writer.start()
