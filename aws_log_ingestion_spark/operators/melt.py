"""Logging (MELT) projection — the richest per-event transform.

Re-expresses ``_package_log_payload`` (/root/reference/src/function.py:
511-566) relationally. Per turn, in conversation order:

  * trace-id refresh on NR-marker lines (decode UDF) + carry-forward to
    all later turns; empty decode CLEARS the carry (:519-532)
  * message/timestamp projection (:525-529) — epoch millis
  * extra-key -> attributes copy with ``id`` dropped (:534-536); our
    ``turn_idx`` plays the role of ``id`` — excluded from the payload,
    kept only as the ordering key
  * request-id extract + carry-forward, gated on the lambda log-group
    prefix (:538-545)
  * common attributes {plugin, aws:{logGroup, logStream}} (:549-562)

IMPORTANT parity note: the logging path packages the UNFILTERED entry
(:270 re-serializes the original log_entry) — every turn of every
conversation appears here, unlike the infra-lambda sink.

Output is flat (one column per payload field) rather than nested: flat
columns stay pruneable/pushable at the parquet scan and are directly
oracle-able; ``to_payload_struct`` folds them into the nested MELT shape
when a JSON payload is required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from ..config import PipelineConfig
from ..functions import patterns as P
from ..functions.tracing import trace_id_raw
from .classify import with_log_group
from .enrich import with_common_attributes


def with_melt_fills(
    df: DataFrame,
    cfg: PipelineConfig | None = None,
    decode_traces: bool = True,
    carry_decode: bool = False,
    finalize: bool = True,
) -> DataFrame:
    """The two ordered conversation fills the MELT payload needs:
    ``trace_id`` (NR-marker decode, carried forward, ''-clears) and
    ``lambda_request_id`` (extract gated on the lambda log-group prefix,
    carried forward) — reference :519-532 and :538-545.

    Factored out of ``melt_project`` so the production plan can compute
    the fills ONCE during the hub write (whose conv_id exchange they
    share) and the logging sink becomes a pure projection of hub columns
    — no second conv_id shuffle+sort over 10^12 turns (BENCH/plans.md).
    """
    cfg = cfg or PipelineConfig()
    if "log_group" not in df.columns:
        df = with_log_group(df, cfg)

    t = F.col("text")
    is_nr = P.is_nr_marker(t)
    run = (
        W.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )

    # trace id: decode on marker rows only ('' on failure, NULL on
    # non-marker rows), forward-fill, then ''->NULL for attachment.
    # Split-scan shape: even an input-MASKED udf ships every row through
    # Arrow (measured ~1us/row = half the logging stage at 5M turns), so
    # the marker branch is filtered BEFORE the UDF and unioned with the
    # null-literal rest — the UDF touches only the ~1% marker rows, the
    # union feeds the window's existing conv_id exchange, and unlike a
    # broadcast-join of decoded markers this stays linear at 10^12 turns
    # (no driver-side collect, no broadcast limit). The doubled scan is
    # columnar + filter-pushed, i.e. ~free next to the Arrow round-trip.
    if decode_traces and carry_decode == "marker_join":
        # BEST-OF-BOTH zero-exchange shape: decode ONLY the ~1% marker
        # rows in a side branch (Arrow ships 1% of rows, like split-scan)
        # and LEFT-JOIN the decoded values back on (conv_id, turn_idx).
        # Over a conv_id-bucketed main side the join co-partitions on the
        # subset key conv_id (session.py sets
        # spark.sql.requireAllClusterKeysForCoPartition=false): only the
        # tiny marker side shuffles, the main side keeps its clustering,
        # and the fill windows stack exchange-free after the join.
        is_nr_b = F.coalesce(is_nr, F.lit(False))
        markers = df.filter(is_nr_b).select(
            F.col("conv_id").alias("__m_conv"),
            F.col("turn_idx").alias("__m_turn"),
            trace_id_raw(t, F.lit(True)).alias("__trace_raw"),
        )
        df = df.join(
            markers,
            (F.col("conv_id") == F.col("__m_conv"))
            & (F.col("turn_idx") == F.col("__m_turn")),
            "left",
        ).drop("__m_conv", "__m_turn")
        # BOTH fills in one projection: window expressions declared in the
        # same select land in ONE Window exec (an interleaved Project
        # between two withColumns defeats CollapseWindow — observed as two
        # Window passes over the sorted 5M rows in the r7 plan dump)
        is_lambda_group = F.col("log_group").startswith(cfg.lambda_prefix)
        rid = F.when(is_lambda_group, P.extract_request_id(t))
        # temp aliases then withColumn: an upstream frame may already
        # carry lambda_request_id (classify's own fill, the default
        # fill_request_ids=True) and select("*", alias) would duplicate
        # it where withColumn replaces
        df = df.select(
            "*",
            F.last("__trace_raw", ignorenulls=True).over(run).alias("__tr_last"),
            F.last(rid, ignorenulls=True).over(run).alias("__rid_last"),
        )
        return (
            df.withColumn("trace_id", F.nullif(F.col("__tr_last"), F.lit("")))
            .withColumn("lambda_request_id", F.col("__rid_last"))
            .drop("__trace_raw", "__tr_last", "__rid_last")
        )

    if decode_traces and carry_decode:
        # ZERO-EXCHANGE shape (bucketed-ingest plan): carry the latest
        # marker LINE through the fill window (pure Catalyst) and decode
        # the carried text AFTER every window via decode_carried_traces.
        # Any pre-window Arrow UDF reports UnknownPartitioning and forces
        # back the conv_id exchange a bucketed scan just removed; the
        # post-window placement keeps scan->sort->window->project with no
        # shuffle at all. Semantics identical to decode-then-carry:
        # decode is a deterministic function of the marker text, and a
        # failed decode still yields '' -> NULL (the clear semantics).
        # With finalize=False the caller may interpose MORE same-key
        # windows (e.g. classify's max) before decode_carried_traces —
        # keeping ALL windows adjacent on one clustering.
        is_lambda_group = F.col("log_group").startswith(cfg.lambda_prefix)
        rid = F.when(is_lambda_group, P.extract_request_id(t))
        # one select -> one Window exec for both fills (see marker_join)
        df = df.select(
            "*",
            F.last(F.when(is_nr, t), ignorenulls=True).over(run).alias("__trace_carry"),
            F.last(rid, ignorenulls=True).over(run).alias("__rid_last"),
        )
        df = df.withColumn("lambda_request_id", F.col("__rid_last")).drop(
            "__rid_last"
        )
        return decode_carried_traces(df) if finalize else df

    if decode_traces:
        is_nr_b = F.coalesce(is_nr, F.lit(False))
        markers = df.filter(is_nr_b).withColumn(
            "__trace_raw", trace_id_raw(t, F.lit(True))
        )
        rest = df.filter(~is_nr_b).withColumn(
            "__trace_raw", F.lit(None).cast("string")
        )
        df = markers.unionByName(rest)
    else:
        df = df.withColumn("__trace_raw", F.when(is_nr, F.lit("")))
    # request id: extract (search semantics), gate on lambda prefix, fill.
    # Both fills declared in ONE select so they share a single Window
    # exec (see the marker_join branch note).
    is_lambda_group = F.col("log_group").startswith(cfg.lambda_prefix)
    rid = F.when(is_lambda_group, P.extract_request_id(t))
    df = df.select(
        "*",
        F.last("__trace_raw", ignorenulls=True).over(run).alias("__tr_last"),
        F.last(rid, ignorenulls=True).over(run).alias("__rid_last"),
    )
    return (
        df.withColumn("trace_id", F.nullif(F.col("__tr_last"), F.lit("")))
        .withColumn("lambda_request_id", F.col("__rid_last"))
        .drop("__trace_raw", "__tr_last", "__rid_last")
    )


def with_melt_fills_salted(
    df: DataFrame,
    cfg: PipelineConfig | None = None,
    salt_range: int = 100_000,
) -> DataFrame:
    """Skew-proof variant of ``with_melt_fills``: both conversation fills
    via the two-pass salted scan (``classify.forward_fill_salted``'s
    decomposition, done once for the pair).

    A single 10^7-turn conversation serialises the naive conv_id window
    on one task; here the ordered window partitions on (conv_id,
    floor(turn_idx/salt_range)) — every task bounded at ``salt_range``
    rows — and a per-block carry (one row per block) propagates the
    running value across blocks. Exactly equivalent to the naive fills
    for any salt_range >= 1 (pinned in tests/test_skew.py). The carry
    join is keyed on (conv_id, __salt), which is balanced by
    construction; AQE broadcasts the tiny carry side in the common case.
    """
    cfg = cfg or PipelineConfig()
    if "log_group" not in df.columns:
        df = with_log_group(df, cfg)

    t = F.col("text")
    is_nr_b = F.coalesce(P.is_nr_marker(t), F.lit(False))
    # split-scan trace decode, as in the default path: Arrow ships only
    # the ~1% marker rows; the union feeds the block window's exchange
    markers = df.filter(is_nr_b).withColumn("__trace_raw", trace_id_raw(t, F.lit(True)))
    rest = df.filter(~is_nr_b).withColumn("__trace_raw", F.lit(None).cast("string"))
    df = markers.unionByName(rest)
    is_lambda_group = F.col("log_group").startswith(cfg.lambda_prefix)
    df = df.withColumn("__rid_raw", F.when(is_lambda_group, P.extract_request_id(t)))

    df = df.withColumn(
        "__salt", F.floor(F.col("turn_idx") / F.lit(salt_range)).cast("long")
    )
    w_block = (
        W.partitionBy("conv_id", "__salt")
        .orderBy("turn_idx")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    df = df.withColumn(
        "__tr_blk", F.last("__trace_raw", ignorenulls=True).over(w_block)
    ).withColumn("__rid_blk", F.last("__rid_raw", ignorenulls=True).over(w_block))

    # one row per block: the block-final carried value of each fill
    block_last = df.groupBy("conv_id", "__salt").agg(
        F.max_by("__tr_blk", F.col("turn_idx")).alias("__tr_last"),
        F.max_by("__rid_blk", F.col("turn_idx")).alias("__rid_last"),
    )
    w_carry = (
        W.partitionBy("conv_id").orderBy("__salt").rowsBetween(W.unboundedPreceding, -1)
    )
    carry = block_last.select(
        "conv_id",
        "__salt",
        F.last("__tr_last", ignorenulls=True).over(w_carry).alias("__tr_carry"),
        F.last("__rid_last", ignorenulls=True).over(w_carry).alias("__rid_carry"),
    )
    out = (
        df.join(carry, ["conv_id", "__salt"], "left")
        # ''-clears AFTER the carry, exactly like nullif(fill, '') in the
        # naive path: a failed/empty marker decode still clears the carry
        .withColumn(
            "trace_id",
            F.nullif(F.coalesce("__tr_blk", "__tr_carry"), F.lit("")),
        )
        .withColumn("lambda_request_id", F.coalesce("__rid_blk", "__rid_carry"))
    )
    return out.drop(
        "__trace_raw", "__rid_raw", "__salt",
        "__tr_blk", "__rid_blk", "__tr_carry", "__rid_carry",
    )


def decode_carried_traces(df: DataFrame) -> DataFrame:
    """Finish the carry-decode fill: decode the carried marker text into
    ``trace_id`` (memoized — ~one gzip decode per marker per batch) and
    drop the carry column. Kept separate from ``with_melt_fills`` so the
    caller can stack every same-clustering window BEFORE the Arrow node
    (which would otherwise split the window group and re-introduce an
    exchange between them)."""
    from ..functions.tracing import decode_trace_id_memo

    return df.withColumn(
        "trace_id",
        F.nullif(decode_trace_id_memo(F.col("__trace_carry")), F.lit("")),
    ).drop("__trace_carry")


def melt_project(
    df: DataFrame,
    cfg: PipelineConfig | None = None,
    decode_traces: bool = True,
) -> DataFrame:
    """Flat MELT projection over every turn (unfiltered).

    Expects conv_id, turn_idx, text, tool, ts (+ optional enrichment
    columns log_group_name/log_stream_name from the broadcast join).
    ``decode_traces=False`` skips the pandas UDF (for oracle-able runs
    where no marker is decodable anyway).

    If ``trace_id`` AND ``lambda_request_id`` are already present (the
    hub materialised them via ``with_melt_fills``) the fills — and their
    conv_id shuffle+sort — are skipped entirely: the projection is then
    narrow (zero exchanges), which is what makes the logging sink a pure
    scan->project->write at 10^12 turns.
    """
    cfg = cfg or PipelineConfig()
    if "log_group" not in df.columns:
        df = with_log_group(df, cfg)
    if not ("trace_id" in df.columns and "lambda_request_id" in df.columns):
        df = with_melt_fills(df, cfg, decode_traces=decode_traces)

    t = F.col("text")
    df = (
        df.withColumn("message", t)
        .withColumn("timestamp", F.unix_millis(F.col("ts").cast("timestamp")))
        # extra event keys -> attributes (id/message/timestamp excluded):
        # role and tool are the transcript table's "extra keys"
        .withColumn("attr_role", F.col("role"))
        .withColumn("attr_tool", F.col("tool"))
    )
    df = with_common_attributes(df, cfg)

    keep = [
        "conv_id",
        "turn_idx",
        "message",
        "timestamp",
        "trace_id",
        "lambda_request_id",
        "attr_role",
        "attr_tool",
        "plugin_type",
        "plugin_version",
        "log_group",
    ]
    for extra in ("log_group_name", "log_stream_name", "owner"):
        if extra in df.columns:
            keep.append(extra)
    keep += [c for c in df.columns if c.startswith("tag_")]
    return df.select(*keep)


def to_payload_struct(melted: DataFrame) -> DataFrame:
    """Fold flat MELT columns into the nested reference payload shape:
    ``{common:{attributes:{plugin, aws}}, logs:[{message, timestamp,
    trace.id?, attributes}]}`` grouped per conversation.
    """
    log_msg = F.struct(
        F.col("message"),
        F.col("timestamp"),
        F.col("trace_id").alias("trace.id"),
        F.struct(
            F.struct(F.col("lambda_request_id")).alias("aws"),
            F.col("attr_role").alias("role"),
            F.col("attr_tool").alias("tool"),
        ).alias("attributes"),
    )
    common = F.struct(
        F.struct(
            F.struct(
                F.col("plugin_type").alias("type"),
                F.col("plugin_version").alias("version"),
            ).alias("plugin"),
            F.struct(
                F.coalesce(F.col("log_stream_name"), F.lit("")).alias("logStream")
                if "log_stream_name" in melted.columns
                else F.lit("").alias("logStream"),
                F.col("log_group").alias("logGroup"),
            ).alias("aws"),
        ).alias("attributes")
    )
    return (
        melted.withColumn("__log", log_msg)
        .withColumn("__common", common)
        .groupBy("conv_id")
        .agg(
            F.any_value(F.col("__common")).alias("common"),
            F.sort_array(
                F.collect_list(F.struct(F.col("turn_idx"), F.col("__log").alias("log")))
            ).alias("__ordered"),
        )
        .withColumn("logs", F.transform(F.col("__ordered"), lambda x: x["log"]))
        .drop("__ordered")
    )
