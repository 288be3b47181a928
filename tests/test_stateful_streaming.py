"""Fills across input batches, and the watermarked windowed rollup.

A conversation whose turns arrive in different input files is
``run_incremental``'s job: each new file is one ingest batch, and a
conversation that reappears is recomputed whole from the hub's raw turns,
so the trace/request-id carry survives the batch boundary. Whole
conversations per batch, the reference's model, are the
``three_batches`` runner of ``tests/test_sink_fanout.py``. The one
Structured Streaming query left is ``streaming/windowed.py``'s rollup
over the classified hub."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_log_ingestion_spark.config import PipelineConfig
from aws_log_ingestion_spark.plans.incremental import live_rows, run_incremental
from aws_log_ingestion_spark.sources import datagen

CFG = PipelineConfig(logging_enabled=True)


def _ingest(spark, in_dir: str, out_dir: str, rows: list[dict]) -> None:
    """Append ``rows`` as one new input file and ingest it as one batch."""
    datagen.to_spark_df(spark, rows).coalesce(1).write.mode("append").parquet(in_dir)
    assert run_incremental(spark, in_dir, out_dir, CFG)["batch_id"] is not None


def test_request_id_carries_across_micro_batches(spark, tmp_path):
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    uuid_a, uuid_b = datagen.UUID_A, datagen.UUID_B

    # batch 1: conv sets request id A, then a probe line without an id
    batch1 = [
        {"conv_id": "cx", "turn_idx": 0, "role": "user", "tool": "lambda",
         "text": f"START RequestId: {uuid_a} Version: $LATEST",
         "ts_millis": datagen.BASE_TS_MILLIS},
        {"conv_id": "cx", "turn_idx": 1, "role": "user", "tool": "lambda",
         "text": "no id here", "ts_millis": datagen.BASE_TS_MILLIS + 1},
    ]
    _ingest(spark, in_dir, out_dir, batch1)

    # batch 2 (a new file): the carry must still be A until B
    batch2 = [
        {"conv_id": "cx", "turn_idx": 2, "role": "user", "tool": "lambda",
         "text": "still no id", "ts_millis": datagen.BASE_TS_MILLIS + 2},
        {"conv_id": "cx", "turn_idx": 3, "role": "user", "tool": "lambda",
         "text": f"START RequestId: {uuid_b} Version: $LATEST",
         "ts_millis": datagen.BASE_TS_MILLIS + 3},
        {"conv_id": "cy", "turn_idx": 0, "role": "user", "tool": "lambda",
         "text": "fresh conversation, no id", "ts_millis": datagen.BASE_TS_MILLIS},
    ]
    _ingest(spark, in_dir, out_dir, batch2)

    live = live_rows(spark, out_dir, "logging").collect()
    got = {(r["conv_id"], r["turn_idx"]): r["lambda_request_id"] for r in live}
    assert len(got) == len(live) == 5
    assert got[("cx", 0)] == uuid_a
    assert got[("cx", 1)] == uuid_a
    assert got[("cx", 2)] == uuid_a  # <- crossed the batch boundary
    assert got[("cx", 3)] == uuid_b
    assert got[("cy", 0)] is None  # fresh conversation starts empty


def test_trace_id_carries_and_clears_across_micro_batches(spark, tmp_path):
    """MELT trace semantics across the batch boundary: a decodable NR
    marker in batch 1 must still fill turns arriving in batch 2, and an
    UNDECODABLE marker in batch 2 must clear the carry (''-clears, ref
    src/function.py:519-532). Request ids carry independently."""
    from aws_log_ingestion_spark.sources.derive import (
        DECODABLE_NR_MARKER,
        DECODABLE_NR_TRACE_ID,
    )

    in_dir, out_dir = str(tmp_path / "min"), str(tmp_path / "mout")

    # batch 1: decodable marker sets the trace carry; request id set after
    batch1 = [
        {"conv_id": "ct", "turn_idx": 0, "role": "agent", "tool": "lambda",
         "text": DECODABLE_NR_MARKER, "ts_millis": datagen.BASE_TS_MILLIS},
        {"conv_id": "ct", "turn_idx": 1, "role": "user", "tool": "lambda",
         "text": f"START RequestId: {datagen.UUID_A} Version: $LATEST",
         "ts_millis": datagen.BASE_TS_MILLIS + 1},
    ]
    _ingest(spark, in_dir, out_dir, batch1)

    # batch 2: plain turn (trace must still be filled from batch 1), then
    # an undecodable marker clears it; later turn sees NULL trace but
    # keeps the request id
    batch2 = [
        {"conv_id": "ct", "turn_idx": 2, "role": "user", "tool": "lambda",
         "text": "no ids here", "ts_millis": datagen.BASE_TS_MILLIS + 2},
        {"conv_id": "ct", "turn_idx": 3, "role": "agent", "tool": "lambda",
         "text": datagen.NR_SHORT, "ts_millis": datagen.BASE_TS_MILLIS + 3},
        {"conv_id": "ct", "turn_idx": 4, "role": "user", "tool": "lambda",
         "text": "after the clear", "ts_millis": datagen.BASE_TS_MILLIS + 4},
    ]
    _ingest(spark, in_dir, out_dir, batch2)

    live = live_rows(spark, out_dir, "logging").where(F.col("conv_id") == "ct").collect()
    got = {r["turn_idx"]: (r["trace_id"], r["lambda_request_id"]) for r in live}
    assert len(got) == len(live) == 5
    tid = DECODABLE_NR_TRACE_ID
    assert got[0] == (tid, None)
    assert got[1] == (tid, datagen.UUID_A)
    assert got[2] == (tid, datagen.UUID_A)  # <- trace crossed the boundary
    assert got[3] == (None, datagen.UUID_A)  # undecodable marker clears
    assert got[4] == (None, datagen.UUID_A)


def test_windowed_turn_rate_stream_equals_batch(spark, template_df, tmp_path):
    """Watermarked event-time windowed agg: the streaming (availableNow)
    result equals the same plan run in batch mode — windows, counts and
    HLL distinct-conv estimates identical."""
    from aws_log_ingestion_spark.config import PipelineConfig
    from aws_log_ingestion_spark.streaming.windowed import windowed_turn_rate

    from aws_log_ingestion_spark.operators.classify import classify

    in_dir = str(tmp_path / "win_in")
    out_dir = str(tmp_path / "win_out")
    ck = str(tmp_path / "win_ck")
    cfg = PipelineConfig(logging_enabled=True)
    # streaming consumes the CLASSIFIED hub table (conv-level classify
    # windows are not expressible on an unbounded stream)
    classify(template_df, cfg, fill_request_ids=False).write.mode(
        "overwrite"
    ).parquet(in_dir)

    stream = spark.readStream.schema(
        spark.read.parquet(in_dir).schema
    ).parquet(in_dir)
    def run_once():
        q = (
            windowed_turn_rate(stream, cfg)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()  # batch 1: windows still open (watermark hasn't passed)
    want = {
        (r["window_start"], r["sink"]): (r["n_turns"], r["approx_convs"])
        for r in windowed_turn_rate(spark.read.parquet(in_dir), cfg).collect()
    }
    # batch 2: one event far past the watermark horizon finalizes batch
    # 1's windows (append mode emits a window once watermark > its end)
    flush_ts = F.timestamp_millis(F.lit(1548935491000 + 3_600_000))
    spark.read.parquet(in_dir).limit(1).withColumn("ts", flush_ts).write.mode(
        "append"
    ).parquet(in_dir)
    run_once()

    got = {
        (r["window_start"], r["sink"]): (r["n_turns"], r["approx_convs"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == want and len(got) > 0  # flush row's own window never emits


def test_stream_stateful_logging_equals_batch_melt_over_3_batch_split(
    spark, template_df, tmp_path
):
    """VERDICT r3 #8: logging ingested over a 3-batch split that cuts
    EVERY conversation mid-stream (one file per third of each
    conversation's turns, one ``run_incremental`` per file) must equal
    ``run_pipeline``'s logging over the full input per turn — message,
    timestamp, trace_id AND lambda_request_id."""
    from aws_log_ingestion_spark.plans.job import run_pipeline
    from aws_log_ingestion_spark.sources.derive import conv_meta_from_transcripts

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")

    # three files, each holding a CONTIGUOUS turn range of every
    # conversation (0-1, 2-3, 4+) — no multi-turn conversation is
    # batch-local
    part_of = (
        F.when(F.col("turn_idx") < 2, 0).when(F.col("turn_idx") < 4, 1).otherwise(2)
    )
    batch_ids = []
    for part in range(3):
        template_df.filter(part_of == part).coalesce(1).write.mode("append").parquet(
            in_dir
        )
        batch_ids.append(run_incremental(spark, in_dir, out_dir, CFG)["batch_id"])
    # sanity: the split really produced 3 batches
    assert batch_ids == [0, 1, 2]

    batch_dir = str(tmp_path / "batch")
    run_pipeline(
        spark, template_df, conv_meta_from_transcripts(template_df), batch_dir, CFG,
        resume=False,
    )

    key = lambda d: (d["conv_id"], d["turn_idx"])
    want_df = spark.read.parquet(f"{batch_dir}/logging")
    got_df = live_rows(spark, out_dir, "logging").drop("ingest_batch")
    assert sorted(got_df.columns) == sorted(want_df.columns)
    got = sorted((r.asDict() for r in got_df.collect()), key=key)
    want = sorted((r.asDict() for r in want_df.collect()), key=key)
    assert got == want
