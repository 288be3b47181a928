"""Event-time windowed aggregation with a late-data watermark.

The reference has no event-time semantics (each invocation is isolated —
SURVEY.md §2 "Streaming-only": none), so this is a streaming EXTENSION:
the per-sink turn-rate rollup an operations dashboard reads, expressed
the Structured Streaming way — ``withWatermark`` bounds state for late
events, tumbling ``window()`` buckets event time, and the aggregate is
the same Catalyst plan batch mode runs (one shuffle on the window+sink
keys with partial aggregation map-side).

At 100 TB/day the watermark is the state-size knob: state per trigger =
(#open windows x #sinks), independent of row volume, because the
pre-aggregation is map-side partial.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import PipelineConfig
from ..operators.classify import classify


def windowed_turn_rate(
    df: DataFrame,
    cfg: PipelineConfig | None = None,
    window: str = "1 minute",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Per (event-time window, sink) turn counts + distinct-conversation
    counts. Works on a streaming OR batch DataFrame (same plan); on a
    stream the watermark lets Spark emit finalized windows and drop
    state once ``watermark`` past the window end.

    approx_count_distinct (HLL) instead of exact count_distinct: exact
    distinct inside a streaming agg needs per-key row state, HLL keeps
    the state O(registers) — at 100 TB the only viable shape.
    """
    cfg = cfg or PipelineConfig()
    if "sink" not in df.columns:
        # classification's conversation-level any() is a conv_id window —
        # not expressible on an unbounded stream (Spark rejects non-time
        # windows there). Streaming callers feed the CLASSIFIED hub table
        # (what run_pipeline and run_incremental write), the same
        # layering production uses; batch callers may pass raw
        # transcripts.
        if df.isStreaming:
            raise ValueError(
                "streaming input must already carry a 'sink' column "
                "(read the classified hub stream)"
            )
        df = classify(df, cfg, fill_request_ids=False)
    src = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if src.isStreaming:
        src = src.withWatermark("ts", watermark)
    return (
        src.groupBy(F.window("ts", window).alias("w"), "sink")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.approx_count_distinct("conv_id").alias("approx_convs"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "sink",
            "n_turns",
            "approx_convs",
        )
    )
