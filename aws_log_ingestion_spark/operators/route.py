"""Sink router — the fan-out that replaces the reference's dual HTTP send.

The reference tees every entry to up to two families (infra default-on,
logging default-off; /root/reference/src/function.py:251-275), with the
infra URL path picked by EntryType (:384-393) and the infra-LAMBDA branch
dropping non-(REPORT|lambda-message) lines first (:252-257). Here each
family/EntryType combination is a filtered write to its own table —
separate tables (not a partition column) because the sinks carry
different schemas, exactly like the reference's differently-shaped
payloads (SURVEY.md §2 row 15). ``write_sinks`` is the one place that
builds the sink frames; the batch and incremental runners each pass
only their commit.

Writes sort within partitions by (conv_id, turn_idx) so per-turn order —
load-bearing in the reference's tests — is physically preserved and
run-length encodes well in parquet.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..config import PipelineConfig
from ..functions import patterns as P
from .chunks import chunk_total_exprs, over_cap_expr, sink_chunk_counts
from .classify import SINK_LAMBDA, SINK_OTHER, SINK_VPC
from .melt import melt_project

INFRA_SINKS = (SINK_LAMBDA, SINK_VPC, SINK_OTHER)

# EntryType -> ingest path segment (/root/reference/src/function.py:113-117),
# kept as routing metadata on the manifest.
INFRA_SERVICE_PATHS = {SINK_LAMBDA: "/aws/lambda", SINK_VPC: "/aws/vpc", SINK_OTHER: "/aws"}


def _survives_col(classified: DataFrame) -> F.Column:
    """The lambda-sink survival predicate, reusing the parse-flag columns
    when the classifier already materialised them (is_report |
    is_lambda_msg IS the predicate — ``with_parse_flags`` computed it
    from the same text), so the router/counter never re-runs the three
    regexes over 10^12 rows (guide §2.3: don't recompute what a prior
    stage already shuffled/stored). Falls back to the text regexes for
    frames without the flags."""
    if "is_report" in classified.columns and "is_lambda_msg" in classified.columns:
        return F.col("is_report") | F.col("is_lambda_msg")
    return P.survives_lambda_filter(F.col("text"))


def infra_url(sink: str, cfg: PipelineConfig | None = None) -> str:
    """Full ingest URL for one infra sink: region endpoint + EntryType
    path + version (reference _get_infra_url
    /root/reference/src/function.py:384-393; pinned by
    test/entry_type_test.py:57-84)."""
    from ..config import INGEST_SERVICE_VERSION, resolve_infra_endpoint

    cfg = cfg or PipelineConfig()
    return resolve_infra_endpoint(cfg) + INFRA_SERVICE_PATHS[sink] + "/" + INGEST_SERVICE_VERSION


def infra_rows(classified: DataFrame, sink: str, cfg: PipelineConfig | None = None) -> DataFrame:
    """Rows reaching the given infra sink.

    LAMBDA applies the survival filter (+ optional .NET reformat of the
    SURVIVORS — format_agent_logs runs inside the filter loop, reference
    :199-202); VPC/OTHER pass through unfiltered (:259-261).
    """
    cfg = cfg or PipelineConfig()
    df = classified.filter(F.col("sink") == sink)
    if sink == SINK_LAMBDA:
        df = df.filter(_survives_col(classified))
        if cfg.format_logs:
            df = df.withColumn("text", P.format_agent_logs(F.col("text")))
    return df


def infra_leg(classified: DataFrame, cfg: PipelineConfig | None = None) -> tuple[Column, Column]:
    """The infra family's ``(keep, text)`` over ``classified``: the rows
    that reach an infra sink (lambda-sink rows that survive the filter,
    every vpc/other row; reference :252-261) and their payload text (the
    optional .NET reformat of lambda survivors, :199-202).
    ``infra_union`` writes exactly these rows and texts, and the chunk
    stage's infra leg costs them (``chunks.sink_chunk_counts``)."""
    cfg = cfg or PipelineConfig()
    is_lambda = F.col("sink") == SINK_LAMBDA
    text = F.col("text")
    if cfg.format_logs:
        text = F.when(is_lambda, P.format_agent_logs(text)).otherwise(text)
    return ~is_lambda | _survives_col(classified), text


def infra_union(classified: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """All infra rows in ONE pass, keeping ``sink`` as a partition column.

    The three infra sinks share a schema, so a single write with
    ``partitionBy('sink')`` replaces three filtered jobs — one scan, one
    sort, one commit instead of three (the reference's three URL paths
    map to the three partition directories). The lambda filter and
    optional reformat (``infra_leg``) apply only to lambda-sink rows.
    """
    keep, text = infra_leg(classified, cfg)
    # The hub may carry the MELT fill columns (materialised for the
    # logging sink); the infra payload is the raw filtered entry and
    # never attaches them (/root/reference/src/function.py:255-261) —
    # drop to keep the infra schema (and write bytes) unchanged.
    return (
        classified.filter(keep)
        .withColumn("text", text)
        .drop("trace_id", "lambda_request_id")
    )


def write_sinks(hub: DataFrame, cfg: PipelineConfig, commit) -> None:
    """The fan-out every runner shares: build each enabled sink's frame
    from the hub and hand it to ``commit(name, df, partition_by,
    order_by, metrics, follow=None)``, in the order infra, logging,
    chunk_stats. The commit owns the write: ``checkpoint.write_parquet``
    with the partition and order columns fixed here, as ``run_pipeline``'s
    checkpointed stage or ``run_incremental``'s per-batch directory
    overwrite.
    ``metrics`` are the ``observe()`` aggregates a counting commit puts
    on the write, so no runner re-reads a sink to count it. ``follow``,
    when given, is called once after the write; a frame it returns is
    appended to the same sink with the same partition and order columns
    and observed with the same ``metrics``, and the commit records the
    stage once, after both writes, with the two writes' metrics summed.

    - ``infra``: ``infra_union``, partitioned by ``sink``; observes
      ``infra_<sink>_rows`` per infra sink.
    - ``logging``: ``melt_project`` (a pure projection when the hub
      carries the MELT fills); observes ``logging_rows``.
    - ``chunk_stats``: ``chunks.sink_chunk_counts``, written unsorted:
      the rows that provably fit one chunk, then, only when that write
      saw a (conv_id, path) row over the cap, the follow-up's exact walk
      of those rows. Observes the per-(sink, path)
      ``chunks.chunk_total_exprs`` and ``over_cap``.
    """
    order = ["conv_id", "turn_idx"]
    if cfg.infra_enabled:
        per_sink = [
            F.count(F.when(F.col("sink") == s, 1)).alias(f"infra_{s}_rows") for s in INFRA_SINKS
        ]
        commit("infra", infra_union(hub, cfg), ["sink"], order, per_sink)
    if cfg.logging_enabled:
        rows = [F.count(F.lit(1)).alias("logging_rows")]
        commit("logging", melt_project(hub, cfg), [], order, rows)
    chunks = sink_chunk_counts(hub, cfg)
    if chunks is not None:
        singles, follow = chunks
        metrics = [*chunk_total_exprs(), over_cap_expr(cfg)]
        commit("chunk_stats", singles, [], [], metrics, follow)


def route_count_exprs(
    classified: DataFrame, cfg: PipelineConfig | None = None
) -> list[F.Column]:
    """The per-sink routed-row count aggregates over ``classified``:
    infra-lambda counts only surviving rows, vpc/other count all rows,
    logging counts every row (the unfiltered tee, reference :270). A
    disabled sink family counts 0. Usable in ``agg`` and ``observe``."""
    cfg = cfg or PipelineConfig()
    survives = _survives_col(classified)
    zero = F.lit(0).cast("long")
    exprs = []
    for s in INFRA_SINKS:
        hit = F.col("sink") == s
        if s == SINK_LAMBDA:
            hit = hit & survives
        count = F.sum(hit.cast("long")) if cfg.infra_enabled else zero
        exprs.append(count.alias(f"infra_{s}_rows"))
    logging = F.count(F.lit(1)) if cfg.logging_enabled else zero
    return exprs + [logging.alias("logging_rows")]


def route_counts(classified: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """Per-sink routed-row counts (the graded aggregate) in ONE pass:
    a conditional aggregation instead of 4 filtered count() jobs."""
    return classified.agg(*route_count_exprs(classified, cfg))
