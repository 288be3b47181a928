"""Table maintenance: small-file compaction + bucketed-layout rewrite.

Two jobs a 10^12-turn deployment runs continuously, expressed over the
parquet fallback layout (on Iceberg they are `rewrite_data_files` and a
bucket-transform `REPLACE TABLE ... PARTITIONED BY`):

1. **Compaction** — incremental ingest (plans/incremental.py) accretes
   one file set per batch; at scale that is millions of small files, and
   scan task scheduling + footer reads dominate the read path long
   before data volume does. ``compact_parquet_root`` rewrites every
   leaf partition directory whose file count exceeds what its byte size
   justifies at ``target_bytes`` per file, preserving the partition
   directory layout, the row multiset (verified from parquet footers
   before the swap), and the within-file (conv_id, turn_idx) clustering
   the sinks write.

2. **Bucketization** — the measured zero-exchange hub (BENCH/BASELINE.md
   "bucketed ingest": the job's ONE shuffle disappears when the input is
   clustered by conv_id) needs an operational path from a random-layout
   landing table to the bucketed layout. ``bucketize_transcripts``
   rewrites a transcript parquet directory as a conv_id-bucketed,
   (conv_id, turn_idx)-sorted table — the same layout bench.py's
   SPARK_GRAFT_BUCKETED_INPUT mode consumes, standing in for Iceberg's
   ``bucket(N, conv_id)`` partition transform.

The reference has no storage layer at all (it ships payloads to an HTTP
API per invocation — /root/reference/src/function.py:240-283); both
jobs exist purely because the Spark re-expression owns its tables.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import checkpoint as ckpt

DEFAULT_TARGET_BYTES = 128 << 20  # the usual parquet sweet spot at scale
ORDER_COLS = ("conv_id", "turn_idx")
SWAP_MARKER = "._swap.json"


def swap_markers(root: str) -> list[str]:
    """Leaves left mid-swap by a killed compaction (ADVICE r6: a crash
    between the remove and move loops used to leave a silently truncated
    leaf with nothing on disk marking it). The marker file is written
    before any original file is removed and deleted only after every
    staged file is moved in, so its presence == the leaf's data may be
    split between leaf and staging."""
    out = []
    for cur, _dirs, files in os.walk(root):
        if SWAP_MARKER in files:
            out.append(os.path.relpath(cur, root))
    return sorted(out)


def _refuse_mid_swap(root: str) -> None:
    marked = swap_markers(root)
    if marked:
        raise RuntimeError(
            f"table {root} has leaves mid-swap from a killed compaction: "
            f"{marked}; restore each leaf from the staging dir recorded in "
            f"its {SWAP_MARKER} before reading or re-compacting"
        )


def leaf_dirs(root: str) -> dict[str, list[dict]]:
    """Leaf partition directories under ``root`` (directories directly
    holding .parquet files) -> [{file, bytes}]. Driver-side listing: the
    Iceberg analog reads this from the snapshot manifests."""
    out: dict[str, list[dict]] = {}
    for cur, _dirs, files in os.walk(root):
        parts = [
            {"file": f, "bytes": os.path.getsize(os.path.join(cur, f))}
            for f in sorted(files)
            if f.endswith(".parquet")
        ]
        if parts:
            out[os.path.relpath(cur, root)] = parts
    return out


def plan_compaction(
    root: str, target_bytes: int = DEFAULT_TARGET_BYTES
) -> list[dict]:
    """Leaf directories worth rewriting: more files than
    ``ceil(total_bytes / target_bytes)`` would produce."""
    _refuse_mid_swap(root)
    jobs = []
    for rel, parts in sorted(leaf_dirs(root).items()):
        total = sum(p["bytes"] for p in parts)
        target_n = max(1, math.ceil(total / target_bytes))
        if len(parts) > target_n:
            jobs.append(
                {
                    "dir": rel,
                    "files_before": len(parts),
                    "target_files": target_n,
                    "bytes": total,
                }
            )
    return jobs


def _rows_in(path: str) -> int:
    return sum(e["rows"] for e in ckpt.file_lineage(path))


def compact_parquet_root(
    spark: SparkSession,
    root: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    order_cols=ORDER_COLS,
) -> dict:
    """Rewrite undersized-file leaf directories in place.

    Per leaf: read (partition-column values live in the directory name,
    which is preserved), coalesce to the byte-justified file count —
    coalesce, not repartition: no shuffle, files merge where they sit —
    re-sort within each output file on the sink's clustering columns,
    stage next to the root, verify the staged row count against the
    original footers, then swap. The stage-verify-swap is the manual
    parquet form of Iceberg's atomic rewrite_data_files commit; a crash
    between remove and move leaves the staged files on disk for manual
    recovery, which is exactly the window a real table format closes.

    Returns {"rewritten": [...], "skipped": n_leaves_ok, "rows": total}.

    Refuses Hive-bucketed table directories (``bucketize_transcripts``
    output): bucket ids live in the FILE NAMES (``part-...-uuid_00007``),
    so renaming files breaks the bucket map — Spark then fails every
    read with INVALID_BUCKET_FILE (probed on this Spark). Compacting a
    bucketed table IS re-running bucketize.
    """
    bucketed = [
        f"{rel}/{p['file']}"
        for rel, parts in leaf_dirs(root).items()
        for p in parts
        if re.search(r"_\d{5}\.c\d{3}\.", p["file"])
    ]
    if bucketed:
        raise ValueError(
            "refusing to compact a Hive-bucketed table directory "
            f"(bucket ids live in file names, e.g. {bucketed[0]}); "
            "re-run bucketize_transcripts to compact it"
        )
    jobs = plan_compaction(root, target_bytes)
    n_leaves = len(leaf_dirs(root))
    staging_base = root.rstrip("/") + "._compaction"
    rewritten = []
    for job in jobs:
        leaf = os.path.join(root, job["dir"])
        staged = os.path.join(staging_base, job["dir"])
        df = spark.read.parquet(leaf)
        cols = [c for c in order_cols if c in df.columns]
        ckpt.write_parquet(df.coalesce(job["target_files"]), staged, order_by=cols)
        rows_before, rows_after = _rows_in(leaf), _rows_in(staged)
        if rows_before != rows_after:
            raise RuntimeError(
                f"compaction row drift in {job['dir']}: "
                f"{rows_before} -> {rows_after}; staged output left at {staged}"
            )
        # mid-swap marker BEFORE the remove loop: a kill inside the swap
        # window then leaves an on-disk breadcrumb (staging path + row
        # count) instead of a silently truncated leaf; removed only after
        # every staged file has been moved in (ADVICE r6).
        marker = os.path.join(leaf, SWAP_MARKER)
        with open(marker, "w") as mf:
            json.dump({"staging": staged, "rows": rows_after}, mf)
        for fname in os.listdir(leaf):
            if fname.endswith(".parquet"):
                os.remove(os.path.join(leaf, fname))
        moved = 0
        for fname in sorted(os.listdir(staged)):
            if fname.endswith(".parquet"):
                os.replace(
                    os.path.join(staged, fname),
                    os.path.join(leaf, f"compacted-{moved:05d}.parquet"),
                )
                moved += 1
        os.remove(marker)
        rewritten.append({**job, "files_after": moved, "rows": rows_after})
    shutil.rmtree(staging_base, ignore_errors=True)
    return {
        "rewritten": rewritten,
        "skipped": n_leaves - len(jobs),
        "rows": sum(j["rows"] for j in rewritten),
    }


def bucketize_transcripts(
    spark: SparkSession,
    in_path: str,
    table_path: str,
    table_name: str = "transcripts_bucketed",
    n_buckets: int = 64,
) -> DataFrame:
    """Rewrite a random-layout transcript directory as the conv_id-
    bucketed, (conv_id, turn_idx)-sorted table (same layout as bench.py's
    ``write_bucketed``; Iceberg: ``bucket(n, conv_id)`` transform). Its
    scan reports the conv_id hash partitioning, so ``job.prepare`` builds
    ``run_pipeline``'s hub over ``spark.table(table_name)`` with zero
    fact-side exchange (the marker-join attach; plan-asserted in
    scripts/dump_plans.py) and writes it in one task per bucket. Measured
    for bench.py's bucketed mode: ~15-25% wall / ~15% CPU at 5M turns
    (BENCH/BASELINE.md). The chunk stage still groups the hub on conv_id
    with its own exchanges."""
    t = spark.read.parquet(in_path)
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    (
        t.repartition(n_buckets, F.col("conv_id"))
        .write.mode("overwrite")
        .option("path", table_path)
        .options(**ckpt.parquet_text_options(t))
        .bucketBy(n_buckets, "conv_id")
        .sortBy("conv_id", "turn_idx")
        .saveAsTable(table_name)
    )
    return spark.table(table_name)


def main(argv: list[str]) -> None:
    from ..session import get_spark

    usage = (
        "usage: run_maintenance.py compact <root> [target_mb] | "
        "bucketize <in_parquet> <table_path> [n_buckets]"
    )
    if len(argv) < 3:
        raise SystemExit(usage)
    cmd = argv[1]
    spark = get_spark("transcript-log-pipeline-maintenance")
    if cmd == "compact":
        target = (int(argv[3]) << 20) if len(argv) > 3 else DEFAULT_TARGET_BYTES
        report = compact_parquet_root(spark, argv[2], target)
        print(
            {
                "rewritten_dirs": len(report["rewritten"]),
                "skipped_dirs": report["skipped"],
                "rows_rewritten": report["rows"],
            }
        )
    elif cmd == "bucketize":
        n = int(argv[4]) if len(argv) > 4 else 64
        out = bucketize_transcripts(spark, argv[2], argv[3], n_buckets=n)
        print({"table": "transcripts_bucketed", "rows": out.count(), "buckets": n})
    else:
        raise SystemExit(usage)
