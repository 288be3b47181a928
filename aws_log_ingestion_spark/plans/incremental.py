"""Incremental ingest: process only NEW input files per run.

``run_pipeline`` (plans/job.py) is a full-corpus job with stage-level
resume; at 10^12 turns the input table *grows* between runs and
reprocessing the corpus per run is not viable. This plan keeps the
pipeline's outputs equal to "run_pipeline over the full current input"
while doing per-run work proportional to the NEW data:

- The checkpoint manifest records, per ingest batch, the exact input
  files consumed (path + byte size). A new run lists the input
  directory, diffs against the union of recorded batches, and processes
  only the delta. Input files are append-only (a recorded file whose
  size changed raises ValueError) — the parquet analog of immutable
  Iceberg data files.

- Every output root gains an ``ingest_batch`` partition level:
  ``classified/ingest_batch=N/conv_bucket=K/``,
  ``infra/ingest_batch=N/sink=S/``, ``logging/ingest_batch=N/``,
  ``chunk_stats/ingest_batch=N/``. A batch is written straight into
  its own ``ingest_batch=N/`` directories, replacing them and no other
  batch's, and its batch record is written last.

- Recovery has one rule, Iceberg's: a commit publishes a fixed set of
  data files. Before batch N writes anything, its ``.staged`` record
  fixes the batch's files and its overlap decision. A re-run after a
  kill at any point finishes batch N with exactly those files,
  replacing whatever the killed attempt left; files that arrived since
  are ingested afterwards, in the same call, as batch N+1. A staged
  file that vanished or changed size is refused like a recorded one.

- Conversations that REAPPEAR in a later batch (late turns appended to
  an existing conv_id) are handled by conversation-scoped recompute:
  every pipeline derivation is conv-local (classification ``any()``,
  forward fills, chunk replay — SURVEY.md §2 rows 3, 8, 9, 16), so the
  affected conversations' prior raw turns are pulled back out of the
  hub (which keeps the raw transcript columns), unioned with the new
  turns, recomputed, and written into the new batch. The old copies are
  then superseded in two different ways:

  * The hub (``classified/``) stays physically exact — it is the
    recompute source and the resume point, and holds each input turn
    once. Per affected (ingest_batch, conv_bucket) pair the retained
    rows are staged in their final layout and swapped in with
    ``os.rename``; ``ckpt.conv_bucket`` (crc32(conv_id) % 32) is computable
    from the key alone, so only the buckets the new batch touches are
    read and swapped. The swap runs no Spark job.
  * The sinks (``infra``, ``logging``, ``chunk_stats``) of old batches
    are never rewritten. The superseded conversations' old hub rows are
    committed as ``tombstones/by_batch=N/`` (the raw columns plus the
    ``ingest_batch`` they lived in) — an equality-delete file
    on (ingest_batch, conv_id), the Iceberg v2 merge-on-read model
    (https://iceberg.apache.org/spec/#row-level-deletes).

Read contract: a sink's rows are ``live_rows(spark, out_dir, sink)`` —
the raw sink minus the committed tombstones. A raw ``spark.read`` of a
sink root still holds superseded conversations. The hub needs no
tombstones (``hub_lookup`` and raw reads are exact). Counts carry
forward, as in an Iceberg snapshot summary: a batch record's ``counts``
are the previous record's, plus what this batch's sink writes observed,
minus the rows its tombstones delete; no earlier batch's files are read.

Single-writer contract: one incremental run mutates an out_dir at a
time (the checkpoint manifest is a ledger, not a lock). Iceberg's
optimistic snapshot commits would arbitrate concurrent writers; the
parquet fallback deliberately does not pretend to.

Reference semantics note: the Lambda reference is already incremental —
each invocation is one self-contained entry, and at-least-once delivery
plus idempotent sinks make redelivery safe
(/root/reference/src/function.py:136-177,286-306). This plan is the
distributed generalization: the unit of ingest is a file batch, the
unit of recompute is a conversation, and the manifest is the dedup
ledger.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..config import PipelineConfig
from ..operators import checkpoint as ckpt
from ..operators import chunks as chunk_op
from ..operators.route import INFRA_SINKS, route_count_exprs, write_sinks
from ..sources.derive import conv_meta_from_transcripts
from . import job

#: the transcript columns an input file contributes, with their types:
#: input files and tombstones are read with this schema, so no read
#: starts a schema-inference job
RAW_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
)
RAW_COLS = RAW_SCHEMA.fieldNames()
TOMBSTONES = "tombstones"
#: a tombstone row: the superseded hub row's raw columns and its batch
TOMBSTONE_SCHEMA = StructType([*RAW_SCHEMA.fields, StructField("ingest_batch", IntegerType())])


def list_input_files(in_dir: str) -> list[dict]:
    """Parquet files under ``in_dir`` as [{file: relpath, bytes: size}],
    sorted by path. Driver-side listing: at 10^12 turns this is the
    table-format metadata read (Iceberg snapshot diff), not a data scan."""
    out = []
    for root, _dirs, files in os.walk(in_dir):
        for fname in sorted(files):
            if fname.endswith(".parquet"):
                fp = os.path.join(root, fname)
                out.append(
                    {
                        "file": os.path.relpath(fp, in_dir),
                        "bytes": os.path.getsize(fp),
                    }
                )
    return sorted(out, key=lambda e: e["file"])


def _batch_records(log: ckpt.CheckpointLog) -> list[dict]:
    records = []
    k = 0
    while (rec := log.read(f"ingest.b{k}")) is not None:
        records.append(rec)
        k += 1
    return records


def _last_batch_record(out_dir: str) -> dict:
    """The newest batch record of ``out_dir``; an out_dir that
    ``run_incremental`` never committed a batch to is refused."""
    batches = _batch_records(ckpt.CheckpointLog(out_dir))
    if not batches:
        raise ValueError(f"no incremental batch record in {out_dir}")
    return batches[-1]


def _cfg_fingerprint(cfg: PipelineConfig) -> dict:
    # JSON round-trip so the fresh fingerprint is type-identical to one
    # read back from a stored batch record (ADVICE r6: sorted(v.items())
    # yields TUPLES, which JSON round-trips to lists — with any non-empty
    # dict field, e.g. tags, the equality check would spuriously fail on
    # every second run)
    fp = {k: (sorted(v.items()) if isinstance(v, dict) else v)
          for k, v in dataclasses.asdict(cfg).items()}
    return json.loads(json.dumps(fp))


def _batch_dir(root: str, batch: int) -> str:
    return os.path.join(root, f"ingest_batch={batch}")


def _with_batch(df: DataFrame, batch: int) -> DataFrame:
    """``df`` with the ``ingest_batch`` column its batch directory adds on
    read: the frame whose schema a batch record holds."""
    return df.withColumn("ingest_batch", F.lit(batch))


def _write_batch_partition(
    df: DataFrame,
    root: str,
    batch: int,
    partition_cols: list[str],
    order_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Write one batch's rows into ``<root>/ingest_batch=<batch>/``, which
    ``mode="overwrite"`` replaces whole: a re-run after a mid-write kill
    converges (idempotent), and other batches' directories are never
    touched. ``df`` has no ``ingest_batch`` column; the directory supplies
    it on read. A literal batch column in the written frame would put the
    batch id into the write stage's generated code, and Spark would
    compile that stage anew for every append."""
    ckpt.write_parquet(df, _batch_dir(root, batch), partition_cols, order_cols, mode)


def live_rows(spark: SparkSession, out_dir: str, name: str) -> DataFrame:
    """A sink's live rows across all ingest batches: the raw rows minus
    every committed tombstone's (ingest_batch, conv_id). Columns and
    their order are the raw sink's. Both are read with the schemas the
    last batch record and ``TOMBSTONE_SCHEMA`` hold."""
    last = _last_batch_record(out_dir)
    rows = ckpt.read_with_schema(spark, last["sink_schemas"][name], os.path.join(out_dir, name))
    tombstones = os.path.join(out_dir, TOMBSTONES)
    if not os.path.isdir(tombstones):
        return rows
    dead = spark.read.schema(TOMBSTONE_SCHEMA).parquet(tombstones).select("ingest_batch", "conv_id")
    return rows.join(dead, ["ingest_batch", "conv_id"], "anti").select(*rows.columns)


def _pair_dir(root: str, batch: int, bucket: int) -> str:
    return os.path.join(_batch_dir(root, batch), f"conv_bucket={bucket}")


def hub_lookup(spark: SparkSession, out_dir: str, conv_id: str) -> DataFrame:
    """Point lookup of one conversation across all ingest batches.

    ``ckpt.conv_bucket`` of a literal key constant-folds, so the scan
    carries a partition filter and touches 1/``N_BUCKETS`` of the
    table's files regardless of batch count — the read-path payoff of
    the bucketed layout (at 10^12 turns: one bucket's manifest, not the
    table's). The residual conv_id equality prunes further via parquet
    row-group stats (sinks sort within files by conv_id). The hub is
    read with the last batch record's ``schema``."""
    last = _last_batch_record(out_dir)
    return (
        ckpt.read_with_schema(spark, last["schema"], os.path.join(out_dir, "classified"))
        .filter(F.col("conv_bucket") == ckpt.conv_bucket(F.lit(conv_id)))
        .filter(F.col("conv_id") == conv_id)
    )


def run_incremental(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    cfg: PipelineConfig | None = None,
    fail_at: str | None = None,
) -> dict:
    """Ingest the input files not yet recorded in the manifest.

    Returns {"counts": <run_pipeline-compatible per-sink counts over ALL
    batches>, "batch_id": int | None, "new_files": [...],
    "superseded_convs": int}. ``batch_id`` is None when there was
    nothing new to do.

    Recovery rule: the ``.staged`` record fixes a batch's files. A
    re-run after a kill finishes that batch with exactly those files,
    replacing each of its output directories; a staged file that
    vanished or changed size is refused like any recorded one. Files
    that arrived after the staging are then ingested as the next batch
    in the same call, whose result (counts are cumulative) is returned.

    ``fail_at`` is a test hook simulating a mid-run kill: 'staged'
    raises right after the staging commit, 'new_batch' after the new
    batch's writes but before the supersede commit, 'hub_rename' after
    the commit's first hub rename, 'cow' after the commit but before the
    batch record. A plain re-run must converge to the same final state
    (tests/test_incremental.py).
    """
    cfg = cfg or PipelineConfig()
    log = ckpt.CheckpointLog(out_dir)
    batches = _batch_records(log)

    fingerprint = _cfg_fingerprint(cfg)
    for rec in batches:
        if rec.get("config") != fingerprint:
            raise ValueError(
                "pipeline config changed across incremental runs; "
                "reprocess from scratch (new out_dir) instead"
            )

    batch_id = len(batches)
    bstage = f"ingest.b{batch_id}"
    # a killed attempt's staged record fixes this batch's file set
    staged = log.read(f"{bstage}.staged")
    known: dict[str, int] = {}
    for rec in [*batches, *([staged] if staged else [])]:
        for f in rec["files"]:
            known[f["file"]] = f["bytes"]
    current = list_input_files(in_dir)
    changed = [f["file"] for f in current if f["file"] in known and known[f["file"]] != f["bytes"]]
    if changed:
        raise ValueError(
            f"input files are append-only; changed in place: {changed}"
        )
    # ADVICE r6 (low): a recorded file DELETED (or renamed) from in_dir
    # also breaks the append-only invariant — outputs would keep rows for
    # inputs that no longer exist, diverging from "outputs equal
    # run_pipeline over the full current input".
    current_names = {f["file"] for f in current}
    missing = sorted(k for k in known if k not in current_names)
    if missing:
        raise ValueError(
            f"input files are append-only; recorded files missing from "
            f"{in_dir}: {missing}"
        )
    counts = dict.fromkeys([f"infra_{s}_rows" for s in INFRA_SINKS], 0)
    if cfg.logging_enabled:
        counts["logging_rows"] = 0
    counts.update(batches[-1]["counts"] if batches else {})
    new_files = [f for f in current if f["file"] not in known]
    # files that arrived after the staging wait for the next batch
    files, later = (new_files, []) if staged is None else (staged["files"], new_files)
    if not files:
        return {
            "counts": counts,
            "batch_id": None,
            "new_files": [],
            "superseded_convs": 0,
        }

    staging = os.path.join(out_dir, "_staging", f"b{batch_id}")
    staged_hub = os.path.join(staging, "hub_retained")
    staged_tombstones = os.path.join(staging, TOMBSTONES)
    tombstones = os.path.join(out_dir, TOMBSTONES, f"by_batch={batch_id}")
    hub_root = os.path.join(out_dir, "classified")

    new_turns = spark.read.schema(RAW_SCHEMA).parquet(
        *[os.path.join(in_dir, f["file"]) for f in files]
    )

    # --- overlap detection + staging (all BEFORE any mutation) ----------
    # The staged record freezes the decision: a re-run after a mid-commit
    # kill must not re-derive "affected" from a half-swapped hub. This
    # batch writes nothing before the record lands, so the hub read here
    # holds earlier batches only.
    if staged is None:
        # a stale retained dir from an earlier staging must never be
        # renamed into the hub
        shutil.rmtree(staging, ignore_errors=True)
        affected_pairs: list[list[int]] = []
        superseded_convs = 0
        deleted_now: dict[str, int] = {}
        retained_dirs: list[list[int]] = []
        if batches:
            # no distinct(): the semi/anti joins below only test
            # membership, and a distinct would add a shuffle to each
            new_convs = new_turns.select("conv_id")
            # bucket ids are computable from the keys alone -> partition
            # pruning: only the buckets the new batch hashes into are read
            new_buckets = [
                r["b"]
                for r in new_convs.select(ckpt.conv_bucket().alias("b")).distinct().collect()
            ]
            hub = ckpt.read_with_schema(spark, batches[-1]["schema"], hub_root)
            candidates = hub.filter(F.col("conv_bucket").isin(new_buckets))
            # one row per affected pair; a conversation lives in exactly
            # one pair, so the per-pair counts add up to the superseded
            # conversations
            overlap = (
                candidates.join(new_convs, "conv_id", "semi")
                .groupBy("ingest_batch", "conv_bucket")
                .agg(F.countDistinct("conv_id").alias("convs"))
                .collect()
            )
            affected_pairs = sorted(
                [int(r["ingest_batch"]), int(r["conv_bucket"])] for r in overlap
            )
            superseded_convs = sum(int(r["convs"]) for r in overlap)
            if affected_pairs:
                cond = None
                for b, k in affected_pairs:
                    term = (F.col("ingest_batch") == b) & (F.col("conv_bucket") == k)
                    cond = term if cond is None else (cond | term)
                affected_parts = hub.filter(cond)
                # the superseded conversations' old hub rows: the recompute
                # input, and after the commit the sinks' delete file. Its
                # route counts are exactly the old sink rows it deletes.
                superseded = affected_parts.join(new_convs, "conv_id", "semi")
                obs = Observation("obs_tombstones")
                ckpt.write_parquet(
                    superseded.observe(obs, *route_count_exprs(superseded, cfg)).select(
                        *RAW_COLS, "ingest_batch"
                    ),
                    staged_tombstones,
                )
                deleted_now = {k: int(v or 0) for k, v in obs.get.items()}
                ckpt.write_parquet(
                    affected_parts.join(new_convs, "conv_id", "anti"),
                    staged_hub,
                    ["ingest_batch", "conv_bucket"],
                    ckpt.HUB_ORDER,
                )
                retained_dirs = [
                    [b, k]
                    for b, k in affected_pairs
                    if os.path.isdir(_pair_dir(staged_hub, b, k))
                ]
        log.record(
            f"{bstage}.staged",
            {
                "affected_pairs": affected_pairs,
                "superseded_convs": superseded_convs,
                "deleted": deleted_now,
                "retained_dirs": retained_dirs,
                "staging": staging,
                "files": files,
            },
        )
        staged = log.read(f"{bstage}.staged")
    if fail_at == "staged":
        raise RuntimeError("injected kill at staged")
    affected_pairs = [tuple(p) for p in staged["affected_pairs"]]
    superseded_convs = staged["superseded_convs"]

    # --- recompute input: new turns + prior turns of superseded convs ---
    inc_turns = new_turns
    batch_rows = sum(
        pq.ParquetFile(os.path.join(in_dir, f["file"])).metadata.num_rows for f in files
    )
    if affected_pairs:
        # the tombstones sit in staging until the commit renames them
        tomb_dir = staged_tombstones if os.path.isdir(staged_tombstones) else tombstones
        inc_turns = inc_turns.unionByName(
            spark.read.schema(RAW_SCHEMA).parquet(tomb_dir)
        )
        batch_rows += sum(e["rows"] for e in ckpt.file_lineage(tomb_dir))
    conv_meta = conv_meta_from_transcripts(inc_turns)
    # footer rows, no Spark job: a batch of at most SKEW_THRESHOLD rows
    # cannot hold a conversation above it, so the skew probe is skipped
    skew_threshold = 0 if batch_rows <= job.SKEW_THRESHOLD else None
    inc_hub = job.prepare(inc_turns, conv_meta, cfg, skew_threshold)

    # --- new-batch hub + sinks (a re-run replaces each directory) -------
    _write_batch_partition(
        inc_hub.withColumn("conv_bucket", ckpt.conv_bucket()),
        hub_root,
        batch_id,
        ["conv_bucket"],
        ckpt.HUB_ORDER,
    )
    hub_schema = (
        _with_batch(inc_hub, batch_id).withColumn("conv_bucket", ckpt.conv_bucket()).schema.json()
    )
    batch_hub = ckpt.read_with_schema(spark, hub_schema, hub_root).filter(
        F.col("ingest_batch") == batch_id
    ).drop("ingest_batch", "conv_bucket")

    observed: dict[str, dict] = {}
    sink_schemas: dict[str, str] = {}

    def commit(name, df, partition_by, order_by, metrics, follow=None) -> None:
        # only this batch's footers are read
        root = os.path.join(out_dir, name)

        def write(frame: DataFrame, append: bool) -> None:
            # a follow-up appends into the directory just overwritten
            mode = "append" if append else "overwrite"
            _write_batch_partition(frame, root, batch_id, partition_by, order_by, mode)

        observed[name] = ckpt.observed_writes(write, df, metrics, follow)
        ckpt.checked_lineage(_batch_dir(root, batch_id), observed[name]["rows"])
        sink_schemas[name] = _with_batch(df, batch_id).schema.json()

    write_sinks(batch_hub, cfg, commit)

    if fail_at == "new_batch":
        raise RuntimeError("injected kill at new_batch")

    # --- supersede commit: renames only, no Spark job -------------------
    # Every step is idempotent and re-applied by each re-run until the
    # batch record lands.
    if affected_pairs:
        moved = {tuple(p) for p in staged["retained_dirs"]}
        for b, k in affected_pairs:
            live = _pair_dir(hub_root, b, k)
            retained = _pair_dir(staged_hub, b, k)
            if os.path.isdir(retained):
                shutil.rmtree(live, ignore_errors=True)
                os.rename(retained, live)
                if fail_at == "hub_rename":
                    raise RuntimeError("injected kill at hub_rename")
            elif (b, k) not in moved:
                # every row of the pair was superseded
                shutil.rmtree(live, ignore_errors=True)
        if os.path.isdir(staged_tombstones):
            os.makedirs(os.path.dirname(tombstones), exist_ok=True)
            os.rename(staged_tombstones, tombstones)

    if fail_at == "cow":
        raise RuntimeError("injected kill at cow")

    # --- totals + batch record (LAST: marks the files as ingested) ------
    added = {**observed.get("infra", {}), **observed.get("logging", {})}
    counts = {k: v + added.get(k, 0) - staged["deleted"].get(k, 0) for k, v in counts.items()}
    stats = observed.get("chunk_stats")
    chunk_totals = chunk_op.observed_chunk_totals(stats) if stats else []
    log.record(
        bstage,
        {
            "rows": sum(counts.values()),
            "files": files,
            "counts": counts,
            "chunk_totals": chunk_totals,
            "over_cap": stats["over_cap"] if stats else 0,
            "superseded_convs": superseded_convs,
            "affected_pairs": [list(p) for p in affected_pairs],
            "deleted": staged["deleted"],
            "config": fingerprint,
            "schema": hub_schema,
            "sink_schemas": sink_schemas,
        },
    )
    shutil.rmtree(staging, ignore_errors=True)
    if later:
        return run_incremental(spark, in_dir, out_dir, cfg)
    return {
        "counts": counts,
        "batch_id": batch_id,
        "new_files": [f["file"] for f in files],
        "superseded_convs": superseded_convs,
    }


def main(argv: list[str]) -> None:
    from ..session import get_spark

    in_dir = argv[1]
    out_dir = argv[2]
    spark = get_spark("transcript-log-pipeline-incremental")
    cfg = PipelineConfig(logging_enabled=True)
    result = run_incremental(spark, in_dir, out_dir, cfg)
    print(result["counts"])
