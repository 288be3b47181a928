"""Logging (MELT) projection — the richest per-event transform.

Re-expresses ``_package_log_payload`` (/root/reference/src/function.py:
511-566) relationally. Per turn, in conversation order:

  * trace-id refresh on NR-marker lines + carry-forward to all later
    turns; empty decode CLEARS the carry (:519-532). One rule, one
    decode: ``_decode_markers`` runs the Arrow UDF on the marker rows
    only, and every fill shape (``with_melt_fills``' union or
    marker_join attach, ``with_melt_fills_salted``) carries its output
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
from ..functions.tracing import decode_trace_id
from .classify import forward_fill_salted, with_log_group
from .enrich import with_common_attributes


def _decode_markers(df: DataFrame) -> DataFrame:
    """The NR-marker rows only, each with its decode in ``__trace_raw``:
    the one place the trace-decode UDF runs.

    Filtering BEFORE the UDF is the cost control: even an input-masked
    UDF ships every row through Arrow (measured ~1us/row = half the
    logging stage at 5M turns), while the filtered branch ships only the
    ~1% marker rows. A FAILED decode yields '' (not NULL): the reference
    RESETS the carried trace id on every marker line (:521-523), so ''
    flows into the forward fill and clobbers any earlier value; the fill
    then attaches ``trace.id`` only when non-empty (:531-532) via
    ``nullif(fill, '')``."""
    t = F.col("text")
    is_nr = F.coalesce(P.is_nr_marker(t), F.lit(False))
    return df.filter(is_nr).withColumn("__trace_raw", decode_trace_id(t))


def _union_markers(df: DataFrame) -> DataFrame:
    """``_decode_markers`` unioned with the rest of the rows, whose
    ``__trace_raw`` is a NULL literal."""
    is_nr = F.coalesce(P.is_nr_marker(F.col("text")), F.lit(False))
    rest = df.filter(~is_nr).withColumn("__trace_raw", F.lit(None).cast("string"))
    return _decode_markers(df).unionByName(rest)


def with_melt_fills(
    df: DataFrame,
    cfg: PipelineConfig | None = None,
    decode_traces: bool = True,
    carry_decode: bool | str = False,
) -> DataFrame:
    """The two ordered conversation fills the MELT payload needs:
    ``trace_id`` (NR-marker decode, carried forward, ''-clears) and
    ``lambda_request_id`` (extract gated on the lambda log-group prefix,
    carried forward) — reference :519-532 and :538-545.

    Factored out of ``melt_project`` so the production plan can compute
    the fills ONCE during the hub write (whose conv_id exchange they
    share) and the logging sink becomes a pure projection of hub columns
    — no second conv_id shuffle+sort over 10^12 turns (BENCH/plans.md).

    The decoded marker rows (``_decode_markers``) are attached in one of
    two ways, then both fills run in one window:

    * default: union with the null-literal rest of the rows. The union
      feeds the window's conv_id exchange and stays linear at 10^12
      turns (no driver-side collect, no broadcast limit); the doubled
      scan is columnar + filter-pushed, ~free next to the Arrow
      round-trip. One fact-side Exchange on any layout.
    * ``carry_decode="marker_join"``: left join on (conv_id, turn_idx).
      Over a conv_id-bucketed main side the join co-partitions on the
      subset key conv_id (session.py sets
      spark.sql.requireAllClusterKeysForCoPartition=false): only the
      tiny marker side shuffles and the fill window stacks
      exchange-free after it. On a random layout it costs a
      SortMergeJoin (3 Exchanges, 3 Sorts) once the marker side is too
      large to broadcast, so it is the attach step for clustered input
      only: ``plans/job.py::prepare`` picks it when the input's scan
      reports a conv_id hash partitioning (a bucketed table).

    ``carry_decode`` accepts only a falsy value or ``"marker_join"``.
    """
    if carry_decode and carry_decode != "marker_join":
        raise ValueError(f"carry_decode must be falsy or 'marker_join', got {carry_decode!r}")
    cfg = cfg or PipelineConfig()
    if "log_group" not in df.columns:
        df = with_log_group(df, cfg)

    t = F.col("text")
    if not decode_traces:
        df = df.withColumn("__trace_raw", F.when(P.is_nr_marker(t), F.lit("")))
    elif carry_decode:
        markers = _decode_markers(df).select(
            F.col("conv_id").alias("__m_conv"),
            F.col("turn_idx").alias("__m_turn"),
            "__trace_raw",
        )
        df = df.join(
            markers,
            (F.col("conv_id") == F.col("__m_conv"))
            & (F.col("turn_idx") == F.col("__m_turn")),
            "left",
        ).drop("__m_conv", "__m_turn")
    else:
        df = _union_markers(df)

    run = (
        W.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    rid = F.when(
        F.col("log_group").startswith(cfg.lambda_prefix), P.extract_request_id(t)
    )
    # BOTH fills in one select: window expressions declared in the same
    # select land in ONE Window exec (an interleaved Project between two
    # withColumns defeats CollapseWindow — observed as two Window passes
    # over the sorted 5M rows in the r7 plan dump). Temp aliases then
    # withColumn: an upstream frame may already carry lambda_request_id
    # (classify's own fill, the default fill_request_ids=True) and
    # select("*", alias) would duplicate it where withColumn replaces.
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
    """Skew-proof variant of ``with_melt_fills``: the same decoded marker
    branch (union attach), then both conversation fills in one
    ``classify.forward_fill_salted`` pass.

    A single 10^7-turn conversation serialises the naive conv_id window
    on one task; the salted scan bounds every task at ``salt_range``
    rows. Exactly equivalent to the naive fills for any salt_range >= 1
    (pinned in tests/test_skew.py)."""
    cfg = cfg or PipelineConfig()
    if "log_group" not in df.columns:
        df = with_log_group(df, cfg)

    rid = F.when(
        F.col("log_group").startswith(cfg.lambda_prefix),
        P.extract_request_id(F.col("text")),
    )
    df = _union_markers(df).withColumn("__rid_raw", rid)
    df = forward_fill_salted(
        df,
        ["__trace_raw", "__rid_raw"],
        ["trace_id", "lambda_request_id"],
        salt_range=salt_range,
    )
    # ''-clears AFTER the carry, exactly like nullif(fill, '') in the
    # naive path: a failed/empty marker decode still clears the carry
    return df.withColumn(
        "trace_id", F.nullif(F.col("trace_id"), F.lit(""))
    ).drop("__trace_raw", "__rid_raw")


def decode_carried_traces(df: DataFrame) -> DataFrame:
    """Decode a carried marker line ``__trace_carry`` into ``trace_id``
    and drop the carry column. No fill in this package produces
    ``__trace_carry`` any more; the function stays importable because
    ``bench.py`` imports it."""
    return df.withColumn(
        "trace_id", F.nullif(decode_trace_id(F.col("__trace_carry")), F.lit(""))
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
