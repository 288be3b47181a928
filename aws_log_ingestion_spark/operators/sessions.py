"""Conversation sessionization + per-conversation statistics.

Log-pipeline staples the reference never needed (one Lambda invocation =
one envelope) but any transcript analytics layer does: gap-based session
windows over event time and per-conversation rollups. Both are pure
window/aggregate Catalyst — one conv_id exchange each, exactly
SQL-oracle-able, and the same shuffle key as the rest of the pipeline so
at 100 TB they ride an existing partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from ..functions import patterns as P


def sessionize(df: DataFrame, gap_ms: int = 300_000) -> DataFrame:
    """Gap-based session ids per conversation: a new session starts when
    the event-time gap to the previous turn exceeds ``gap_ms`` (classic
    sessionization, e.g. 5-minute web-session windows). session_idx is
    the running count of session starts in turn order — one window
    exchange on conv_id, no UDFs.
    """
    w = W.partitionBy("conv_id").orderBy("turn_idx")
    ts_ms = F.unix_millis(F.col("ts").cast("timestamp"))
    prev = F.lag(ts_ms).over(w)
    is_new = F.when(
        prev.isNull() | (ts_ms - prev > gap_ms), F.lit(1)
    ).otherwise(F.lit(0))
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    out = df.select(
        "conv_id",
        "turn_idx",
        ts_ms.alias("ts_ms"),
        is_new.alias("session_start"),
    )
    return out.withColumn(
        "session_idx", (F.sum("session_start").over(run) - 1).cast("int")
    )


def conversation_stats(df: DataFrame) -> DataFrame:
    """Per-conversation rollup: turn/role counts, event-time span, and
    reference-flag tallies (REPORT lines, NR markers, request-id
    mentions) — the monitoring aggregate a transcript pipeline publishes
    per conversation. One shuffle (the groupBy); flags are the same
    fused pre-shuffle regexes the classifier uses."""
    t = F.col("text")
    ts_ms = F.unix_millis(F.col("ts").cast("timestamp"))
    return df.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.countDistinct("role").cast("long").alias("n_roles"),
        F.countDistinct("tool").cast("long").alias("n_tools"),
        F.min(ts_ms).cast("long").alias("first_ts_ms"),
        F.max(ts_ms).cast("long").alias("last_ts_ms"),
        (F.max(ts_ms) - F.min(ts_ms)).cast("long").alias("span_ms"),
        F.sum(P.is_report(t).cast("int")).cast("long").alias("n_report"),
        F.sum(P.is_nr_marker(t).cast("int")).cast("long").alias("n_nr_marker"),
        F.sum((F.instr(t, "RequestId:") > 0).cast("int"))
        .cast("long")
        .alias("n_request_id_lines"),
    )


def key_skew_stats(
    df: DataFrame,
    key: str = "conv_id",
    top_k: int = 20,
    target_rows_per_task: int = 100_000,
) -> DataFrame:
    """Skew diagnostic + salting planner: the top-k heaviest keys with
    their integer per-million share of all rows and the salt count a
    two-level decomposition would use for them
    (ceil(n_rows / target_rows_per_task) — the knob the salted
    request-id fill takes).

    The north rule demands skew handled EXPLICITLY; this is the operator
    that finds the hot conversations to hand to the salted fill.  Scale
    shape: one map-side-combining groupBy on the key (hot keys collapse
    to one row per input partition before the shuffle), a broadcast of
    the ONE-row grand total (never a single-partition window over the
    full counts table), and a driver-side TakeOrdered top-k.  All
    derived columns are integer arithmetic, so the driver oracle is
    exact.
    """
    counts = df.groupBy(key).agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    total = counts.agg(F.sum("n_rows").cast("long").alias("total_rows"))
    top = (
        counts.crossJoin(F.broadcast(total))
        .orderBy(F.col("n_rows").desc(), F.col(key).asc())
        .limit(top_k)
    )
    w = W.orderBy(F.col("n_rows").desc(), F.col(key).asc())
    t = target_rows_per_task
    # DIV = true integer division (DuckDB `//`) — no double rounding ever
    return top.select(
        F.row_number().over(w).cast("int").alias("skew_rank"),
        key,
        "n_rows",
        "total_rows",
        F.expr("n_rows * 1000000 DIV total_rows").cast("long").alias("share_ppm"),
        F.expr(f"(n_rows + {t} - 1) DIV {t}").cast("long").alias("suggested_salts"),
    )
