"""End-to-end pipeline plan: scan -> parse -> classify -> enrich ->
checkpointed hub -> route -> chunk-aggregate.

The Spark lifecycle equivalent of ``lambda_handler`` ->
``_send_log_entry`` (/root/reference/src/function.py:626-656,223-283),
per SURVEY.md §3.1, with one deliberate physical choice measured on this
hardware: the classified+enriched "hub" is MATERIALISED once (parquet
here; an Iceberg table in production) and every sink fan-out reads from
it. At 10^12 turns this trades one extra sequential write for 3-4
recomputations of the conv_id window — and doubles as the resume point:
a re-run that finds the hub checkpoint skips straight to the un-written
sinks. Measured locally (2M turns): hub-through-storage beats both
recompute-per-sink (~2.4x) and .cache() (~1.3x). The hub itself is one
Spark job that writes one file per task, with one checkpoint record
(operators/checkpoint.py::observed_write_bucketed); every write goes
through ``checkpoint.write_parquet``. Over conv_id-bucketed input
(``maintenance.bucketize_transcripts``) the hub plans with no fact-side
exchange (``prepare``), so its write runs one task per bucket.

Run via spark-submit (package zipped by scripts/make_pyfiles.sh):
    spark-submit --py-files dist/aws_log_ingestion_spark.zip \
        scripts/run_job.py <in_sf_dir> <out_dir>
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import PipelineConfig, resolve_logging_endpoint
from ..operators import checkpoint as ckpt
from ..operators import chunks as chunk_op
from ..operators.classify import classify
from ..operators.enrich import enrich
from ..operators.melt import with_melt_fills, with_melt_fills_salted
from ..operators.route import INFRA_SINKS, infra_url, write_sinks
from ..sources.derive import conv_meta_from_events, transcripts_from_events

# a conversation above this many turns would serialise the hub's conv_id
# window onto one task (the whole partition must fit one task's sort);
# above it prepare() switches to the salted two-pass fills + agg-join
# classify. prepare(skew_threshold=0) disables the probe (plain window
# unconditionally).
SKEW_THRESHOLD = 1_000_000


def max_conv_rows(transcripts: DataFrame) -> int:
    """Cheap skew probe: the largest per-conversation row count. One
    map-side-combining agg over (conv_id) — itself skew-immune. In a
    production deployment this comes free from ingest/table statistics;
    here it is one narrow pre-pass job."""
    row = (
        transcripts.groupBy("conv_id")
        .count()
        .agg(F.max("count").alias("m"))
        .collect()[0]
    )
    return int(row["m"] or 0)


def conv_id_clustered(df: DataFrame) -> bool:
    """Whether ``df``'s physical plan reports a hash partitioning on
    ``conv_id`` alone, as a conv_id-bucketed table scan does. Reads the
    planned output partitioning (a few py4j calls, no Spark job)."""
    part = df._jdf.queryExecution().sparkPlan().outputPartitioning()
    if part.getClass().getSimpleName() != "HashPartitioning":
        return False
    keys = part.expressions()
    if keys.size() != 1:
        return False
    key = keys.apply(0)
    return key.getClass().getSimpleName() == "AttributeReference" and key.name() == "conv_id"


def prepare(
    transcripts: DataFrame,
    conv_meta: DataFrame,
    cfg: PipelineConfig | None = None,
    skew_threshold: int | None = None,
) -> DataFrame:
    """Parse + classify + (MELT fills) + enrich — the hub DataFrame.

    When logging is enabled the hub materialises ``trace_id`` and
    ``lambda_request_id`` via ``with_melt_fills``: the ordered fill
    window rides the SAME conv_id clustering the classifier's max-window
    already needs, so the logging sink (and the chunk cost pass) become
    pure projections of hub columns — the second 10^12-turn conv_id
    shuffle+sort the r3 plan paid in the logging stage is gone. Infra
    sinks drop the two fill columns again (``infra_union``): the
    reference's infra payload is the raw filtered entry and never
    carries them (/root/reference/src/function.py:255-261).

    The attach step of the decoded trace markers follows the input's
    layout. Over input already clustered on conv_id
    (``conv_id_clustered``: a bucketed table scan) they attach by
    ``marker_join``, and the hub plans with no fact-side exchange. Every
    other input (a random layout, incremental batches) keeps the union
    attach and its one conv_id exchange; there the union's Python-UDF
    branch would hide any clustering.

    Skew auto-routing (VERDICT r5 #3): a pre-pass probes the largest
    conversation; above ``skew_threshold`` rows (default
    ``SKEW_THRESHOLD``, 1M) the hub switches to the salted
    two-pass fills + agg-join classifier, whose tasks are bounded at the
    salt range instead of the hottest conversation's full length. Output
    is hash-identical to the plain-window plan (tests/test_skew.py)."""
    cfg = cfg or PipelineConfig()
    threshold = SKEW_THRESHOLD if skew_threshold is None else skew_threshold
    skewed = bool(threshold) and max_conv_rows(transcripts) > threshold
    hub = transcripts
    if cfg.logging_enabled:
        # Fills FIRST: every shape decodes the NR-marker rows in one
        # filtered branch (melt._decode_markers). The plain fill pays the
        # conv_id exchange (none over clustered input) + (conv_id,
        # turn_idx) sort; the classifier's unordered max-window then
        # rides the SAME clustering with no new exchange or sort. The
        # reverse order duplicates the classify window into both union
        # branches (each with its own exchange+sort) — 3 exchanges
        # instead of 1 (plan-asserted in scripts/dump_plans.py). The
        # salted shape fills both columns in one
        # classify.forward_fill_salted pass.
        if skewed:
            hub = with_melt_fills_salted(hub, cfg)
        else:
            attach = "marker_join" if conv_id_clustered(transcripts) else False
            hub = with_melt_fills(hub, cfg, decode_traces=True, carry_decode=attach)
    return enrich(
        classify(hub, cfg, fill_request_ids=False, skew_safe=skewed), conv_meta
    )


def codegen_compilations(spark: SparkSession) -> int | None:
    """Classes the session's JVM has compiled from generated code so far
    (Spark's ``CodegenMetrics`` compilation count), or None when the
    counter cannot be read."""
    try:
        metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        return int(metrics.METRIC_COMPILATION_TIME().getCount())
    except Exception:
        return None


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    conv_meta: DataFrame,
    out_dir: str,
    cfg: PipelineConfig | None = None,
    resume: bool = True,
) -> dict:
    """Execute the full fan-out; returns counts + manifest.

    Idempotent: re-running with the same out_dir skips stages whose
    checkpoint record exists (kill-and-resume converges to identical
    counts — BASELINE.md "Resume idempotency"). The unit of resume is a
    stage: a kill anywhere before the hub's record (during its job, or
    after the job but before the record) rewrites the whole hub once."""
    cfg = cfg or PipelineConfig()
    codegen_start = codegen_compilations(spark)
    log = ckpt.CheckpointLog(out_dir)
    if not resume:
        log.clear()

    # stage 0: the hub — the job's one wide stage (no exchange at all
    # over conv_id-bucketed input), written once, in one job, one file
    # per task, with one checkpoint record.
    hub_path = f"{out_dir}/classified"
    if not log.is_done("classified"):
        ckpt.observed_write_bucketed(
            prepare(transcripts, conv_meta, cfg), hub_path, log, "classified"
        )
    hub = ckpt.read_with_schema(spark, log.read("classified")["schema"], hub_path)

    counts: dict[str, int] = {}

    def infra_record(observed: dict) -> dict:
        return {
            "per_sink": {s: observed[f"infra_{s}_rows"] for s in INFRA_SINKS},
            # routing metadata: the region-resolved ingest URL each sink
            # partition would ship to (reference :384-393)
            "endpoints": {s: infra_url(s, cfg) for s in INFRA_SINKS},
        }

    def chunks_record(observed: dict) -> dict:
        totals = chunk_op.observed_chunk_totals(observed)
        now = codegen_compilations(spark)
        return {
            "totals": totals,
            "rows": sum(t["n_chunks"] for t in totals),
            "over_cap": observed["over_cap"],
            # classes compiled since this call began: a generated-class
            # cache too small for the plans shows up here
            "codegen_classes": None
            if codegen_start is None or now is None
            else now - codegen_start,
        }

    def commit(name, df, partition_by, order_by, metrics, follow=None) -> None:
        path = f"{out_dir}/{name}"
        if name == "infra":
            # one partitioned write replaces three filtered jobs
            per_sink = ckpt.commit_stage(
                df, path, log, "infra", partition_by, order_by, metrics, infra_record
            )["per_sink"]
            for s in INFRA_SINKS:
                counts[f"infra_{s}_rows"] = per_sink[s]
        elif name == "logging":
            counts["logging_rows"] = ckpt.observed_write(
                df,
                path,
                log,
                "logging",
                order_cols=order_by,
                extra={"endpoint": resolve_logging_endpoint(cfg)},
            )
        else:
            # chunk_stats: the rows that provably fit one chunk (pure
            # Catalyst byte arithmetic, zero Python, zero gzip), then the
            # follow-up's exact walk appended only when that write saw a
            # row over the cap; one record after both writes. The
            # exact-gz-bytes replay (chunk_replay) remains available for
            # byte-level audits.
            ckpt.commit_stage(
                df, path, log, "chunks", partition_by, order_by, metrics, chunks_record,
                follow=follow,
            )

    write_sinks(hub, cfg, commit)

    manifest = ckpt.read_manifest(out_dir)
    return {"counts": counts, "manifest": manifest}


def main(argv: list[str]) -> None:
    from ..session import get_spark

    in_dir = argv[1] if len(argv) > 1 else "/root/testdata/sf0.01"
    out_dir = argv[2] if len(argv) > 2 else "/tmp/pipeline_out"
    spark = get_spark("transcript-log-pipeline")
    cfg = PipelineConfig(logging_enabled=True)
    transcripts = transcripts_from_events(spark, in_dir)
    conv_meta = conv_meta_from_events(spark, in_dir)
    result = run_pipeline(spark, transcripts, conv_meta, out_dir, cfg)
    print(result["counts"])


if __name__ == "__main__":
    main(sys.argv)
