"""Conversation classification + intra-conversation forward fills.

Re-expresses three reference behaviors as ONE window specification over
``partitionBy(conv_id).orderBy(turn_idx)`` (SURVEY.md §4: "compute both
fills and the any() classification in one window pass"):

1. ``_get_entry_type`` (/root/reference/src/function.py:408-419): the
   per-entry ``any(_is_lambda_message(...))`` becomes an unbounded
   ``max(flag)`` over the conversation partition; precedence VPC > LAMBDA
   > OTHER mirrors the reference's if/elif order (:413-419).
2. request-id forward-fill (:538-545, pinned by
   test/log_ingestion_test.py:570-600): ``last(..., ignorenulls=True)``
   over rows unboundedPreceding..currentRow, gated on the lambda prefix.
3. trace-id forward-fill (:519-532): same running ``last`` fed by the
   NR-marker decode output.

At 100 TB the single shuffle here is the pipeline's only wide exchange;
hot conversations are handled either by AQE skew splitting (reads) or by
``forward_fill_salted`` — a two-pass distributed scan that salts on turn
ranges and then prefix-propagates the per-salt carry value (the standard
parallel-scan decomposition; SURVEY.md §4 item 1).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from ..config import PipelineConfig
from ..functions import patterns as P

SINK_LAMBDA = "lambda"
SINK_VPC = "vpc"
SINK_OTHER = "other"


def with_parse_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Narrow, codegen-fused per-turn predicates + raw request-id extract."""
    t = F.col(text_col)
    return (
        df.withColumn("is_report", P.is_report(t))
        .withColumn("is_lambda_msg", P.is_lambda_message(t))
        .withColumn("req_id_raw", P.extract_request_id(t))
    )


def with_log_group(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Materialise the ``log_group`` column from ``tool`` (conv-constant).

    Mirrors derive.LOG_GROUP_CASE so the classifier sees the same
    logGroup string the reference reads (:412).
    """
    return df.withColumn(
        "log_group",
        F.when(F.col("tool") == "lambda", F.concat(F.lit(cfg.lambda_prefix + "/fn-"), F.col("conv_id")))
        .when(F.col("tool") == "vpc", F.lit(cfg.vpc_prefix))
        .when(F.col("tool") == "rds", F.lit("RDSOSMetrics"))
        .otherwise(F.concat(F.lit("/custom/app-"), F.col("conv_id"))),
    )


def _conv_window():
    return W.partitionBy("conv_id")


def _running_window():
    return (
        W.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )


def classify(
    df: DataFrame,
    cfg: PipelineConfig | None = None,
    fill_request_ids: bool = True,
    skew_safe: bool = False,
) -> DataFrame:
    """Add ``sink`` in {vpc, lambda, other} (+ forward-filled request id).

    Expects columns: conv_id, turn_idx, text, tool (or log_group already
    present). One shuffle on conv_id serves the whole-conversation max()
    AND the running fill (same partitioning, same ordering).

    ``fill_request_ids=False`` skips the ordered fill — the max-window
    then needs NO sort at all. The production job uses this: the infra
    path never attaches request ids (the reference's infra payload is the
    raw filtered entry, /root/reference/src/function.py:255-261) and the
    MELT projection computes its own fills, so sorting the hub would be
    pure waste.

    ``skew_safe=True`` replaces the conv_id max-window (which needs a
    whole conversation in ONE task) with a map-side-combining
    groupBy(conv_id).max + equi-join back — partial aggregation makes the
    agg skew-immune, and the join's hot partition is AQE-skew-splittable
    (a window partition is not). Chosen by plans.job.prepare's skew probe
    for corpora with a conversation above the per-task row threshold.
    It covers the sink flag only (with ``fill_request_ids`` it raises
    ValueError; the salted fill is ``melt.with_melt_fills_salted``'s).
    """
    cfg = cfg or PipelineConfig()
    if "log_group" not in df.columns:
        df = with_log_group(df, cfg)
    if "is_lambda_msg" not in df.columns:
        df = with_parse_flags(df)

    if skew_safe:
        conv_any = df.groupBy("conv_id").agg(
            F.max(F.col("is_lambda_msg").cast("int")).alias("__any_lambda")
        )
        df = df.join(conv_any, "conv_id", "left")
        any_lambda_msg: Column = F.col("__any_lambda") == 1
    else:
        any_lambda_msg: Column = F.max(F.col("is_lambda_msg").cast("int")).over(_conv_window()) == 1

    is_vpc_group = F.col("log_group").startswith(cfg.vpc_prefix)
    is_lambda_group = F.col("log_group").startswith(cfg.lambda_prefix)

    # Precedence: VPC prefix wins outright; LAMBDA requires prefix AND a
    # qualifying message anywhere in the conversation (:413-419).
    sink = (
        F.when(is_vpc_group, F.lit(SINK_VPC))
        .when(is_lambda_group & any_lambda_msg, F.lit(SINK_LAMBDA))
        .otherwise(F.lit(SINK_OTHER))
    )

    if not fill_request_ids:
        return df.withColumn("sink", sink).drop("__any_lambda")

    if skew_safe:
        raise ValueError("skew_safe covers the sink flag only; pass fill_request_ids=False")

    # Request-id fill only applies under the lambda log-group prefix
    # (:538): the extract is masked, then carried forward.
    rid_masked = F.when(is_lambda_group, F.col("req_id_raw"))
    rid_fill = F.last(rid_masked, ignorenulls=True).over(_running_window())

    # ORDERED window first: its (conv_id, turn_idx) sort also satisfies
    # the unordered max-window's clustering, so the plan has ONE Sort;
    # the reverse order costs a second Sort after the max-window.
    return df.withColumn("lambda_request_id", rid_fill).withColumn("sink", sink)


def forward_fill(
    df: DataFrame, value_col: str, out_col: str, order_col: str = "turn_idx"
) -> DataFrame:
    """Generic last-observation-carried-forward within a conversation."""
    w = (
        W.partitionBy("conv_id")
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return df.withColumn(out_col, F.last(value_col, ignorenulls=True).over(w))


def forward_fill_salted(
    df: DataFrame,
    value_col: str | Sequence[str],
    out_col: str | Sequence[str],
    order_col: str = "turn_idx",
    salt_range: int = 100_000,
) -> DataFrame:
    """Skew-proof forward fill: two-pass distributed scan.

    A single conversation with 10^7 turns serialises the naive window on
    one task. Decomposition (SURVEY.md §4 item 1, cf. parallel prefix
    scan):

      pass 1: salt = floor(turn_idx / salt_range); fill WITHIN each
              (conv_id, salt) block — blocks are balanced, parallel.
      pass 2: per-block last value -> tiny DF (one row per block); a
              window over salt ids computes the carry-in for each block
              (last non-null among strictly-earlier blocks); broadcast
              back and coalesce.

    ``value_col`` and ``out_col`` may be equal-length lists: every pair
    fills in the same pass (one block window, one per-block aggregate,
    one carry window, one join). Exactly equivalent to the naive window
    for any salt_range >= 1.
    """
    values = [value_col] if isinstance(value_col, str) else list(value_col)
    outs = [out_col] if isinstance(out_col, str) else list(out_col)
    blk = [f"__blk{i}" for i in range(len(values))]
    ends = [f"__blk_last{i}" for i in range(len(values))]
    carry = [f"__carry{i}" for i in range(len(values))]

    salt = F.floor(F.col(order_col) / F.lit(salt_range)).cast("long")
    df = df.withColumn("__salt", salt)

    w_block = (
        W.partitionBy("conv_id", "__salt")
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # one select -> one Window exec for every fill
    df = df.select(
        "*", *[F.last(v, ignorenulls=True).over(w_block).alias(b) for v, b in zip(values, blk)]
    )

    # one row per block: the block's final carried value
    block_last = df.groupBy("conv_id", "__salt").agg(
        *[F.max_by(F.col(b), F.col(order_col)).alias(e) for b, e in zip(blk, ends)]
    )
    # carry-in = last non-null block-final among earlier blocks
    w_carry = (
        W.partitionBy("conv_id")
        .orderBy("__salt")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    carry_df = block_last.select(
        "conv_id",
        "__salt",
        *[F.last(e, ignorenulls=True).over(w_carry).alias(c) for e, c in zip(ends, carry)],
    )

    # Plain equi-join: AQE broadcasts the carry side when small (the
    # common case); at 10^12 turns / 10^5-turn blocks it is ~10^7 rows
    # and AQE falls back to a shuffle join that co-partitions with the
    # groupBy output.
    out = df.join(carry_df, ["conv_id", "__salt"], "left")
    for o, b, c in zip(outs, blk, carry, strict=True):
        out = out.withColumn(o, F.coalesce(b, c))
    return out.drop("__salt", *blk, *carry)
