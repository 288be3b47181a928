"""Per-stage lineage/metrics + idempotent resume.

The reference's delivery guarantees live in HTTP retry + at-least-once
Lambda semantics (/root/reference/src/function.py:136-177,286-306). The
distributed analog (SURVEY.md §4 item 3): task-level retry is Spark's,
commit atomicity is the sink write, and JOB-level resume is this module —
a checkpoint table recording, per stage and sink, row counts and
per-partition lineage, written after each successful sink commit. A
re-run consults the manifest and skips (or verifies) completed sinks, so
a mid-job kill converges to identical per-sink counts.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

# Free-text / unique-id string columns. A parquet dictionary attempt on
# these always overflows its size cap and falls back to plain encoding,
# so the per-row-group dictionary build is pure wasted CPU on the hot
# write path — measured 39% of end-to-end job CPU at 10M turns, with
# byte-identical output (zstd captures the little redundancy a fallback
# dictionary would have; writer A/B in BENCH/BASELINE.md). Categorical
# columns (conv_id, role, sink, log_group, trace_id...) keep dictionary
# encoding: it genuinely shrinks them and feeds dictionary-filter
# pushdown on the read side.
HIGH_CARDINALITY_TEXT_COLS = frozenset({"text", "message", "req_id_raw"})


def parquet_text_options(df: DataFrame) -> dict[str, str]:
    """Per-column writer options (parquet.enable.dictionary#<col>, a
    parquet-java >= 1.12 feature) disabling dictionary encoding for the
    high-cardinality text columns actually present in ``df``."""
    cols = HIGH_CARDINALITY_TEXT_COLS.intersection(
        f.name for f in df.schema.fields
    )
    return {f"parquet.enable.dictionary#{c}": "false" for c in sorted(cols)}


class CheckpointLog:
    """JSON-lines manifest (one file per completed stage) under
    ``<dir>/_checkpoints``. File-per-stage keeps writes atomic at the
    filesystem level (rename-on-write); in the Iceberg deployment this is
    an append to a checkpoint table, one atomic snapshot per stage."""

    def __init__(self, out_dir: str, job_id: str | None = None):
        self.dir = os.path.join(out_dir, "_checkpoints")
        os.makedirs(self.dir, exist_ok=True)
        self.job_id = job_id or uuid.uuid4().hex[:12]

    def _path(self, stage: str) -> str:
        return os.path.join(self.dir, f"{stage}.json")

    def is_done(self, stage: str) -> bool:
        return os.path.exists(self._path(stage))

    def record(self, stage: str, payload: dict) -> None:
        tmp = self._path(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {"job_id": self.job_id, "stage": stage, "wall_time": time.time(), **payload},
                f,
                sort_keys=True,
            )
        os.replace(tmp, self._path(stage))

    def read(self, stage: str) -> dict | None:
        if not self.is_done(stage):
            return None
        with open(self._path(stage)) as f:
            return json.load(f)

    def clear(self) -> None:
        for f in os.listdir(self.dir):
            if f.endswith(".json"):
                os.remove(os.path.join(self.dir, f))


def file_lineage(path: str) -> list[dict]:
    """Per-output-file row counts straight from parquet footers (pyarrow,
    no Spark job): the cheap physical form of per-partition lineage —
    each task's output file is one entry. On Iceberg this is the
    manifest-file content the snapshot already carries."""
    import pyarrow.parquet as pq

    out = []
    for root, _dirs, files in os.walk(path):
        for fname in sorted(files):
            if fname.endswith(".parquet"):
                fp = os.path.join(root, fname)
                out.append(
                    {
                        "file": os.path.relpath(fp, path),
                        "rows": pq.ParquetFile(fp).metadata.num_rows,
                    }
                )
    return out


# --- Iceberg catalog routing (VERDICT r3 #7) -------------------------------
# Sinks write to Iceberg tables when (a) a SparkCatalog is configured AND
# (b) the Iceberg runtime jar is actually on the classpath; parquet paths
# otherwise (this sandbox — no jar — always takes the parquet branch;
# SURVEY.md §7 licenses the fallback). Detection is split so the branch
# choice itself is testable without the jar.

ICEBERG_NAMESPACE = os.environ.get("SPARK_GRAFT_ICEBERG_NAMESPACE", "logs")


def configured_catalogs(spark) -> list[str]:
    """Names of catalogs declared via ``spark.sql.catalog.<name>`` conf."""
    names = set()
    for k, _v in spark.sparkContext.getConf().getAll():
        parts = k.split(".")
        # spark.sql.catalog.<name> exactly (sub-keys like .type have 5+)
        if len(parts) == 4 and parts[:3] == ["spark", "sql", "catalog"]:
            names.add(parts[3])
    return sorted(names)


def iceberg_available(spark) -> bool:
    """True iff the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def iceberg_catalog(spark) -> str | None:
    """The catalog name sinks should write through, or None for parquet.

    A catalog conf WITHOUT the runtime jar falls back to parquet (loud in
    the manifest via ``sink_format``) instead of failing every write."""
    cats = configured_catalogs(spark)
    if cats and iceberg_available(spark):
        return cats[0]
    return None


def sink_format(spark) -> dict:
    """The branch decision, recorded verbatim into stage manifests."""
    cats = configured_catalogs(spark)
    cat = iceberg_catalog(spark)
    return {
        "format": "iceberg" if cat else "parquet",
        "catalog": cat,
        "catalogs_configured": cats,
        "iceberg_runtime": iceberg_available(spark),
    }


def _write_observed(observed: DataFrame, path: str, stage: str, order_cols) -> dict:
    """Route one sorted sink write: Iceberg ``writeTo`` when a catalog is
    usable, parquet path otherwise. Returns the manifest fragment."""
    spark = observed.sparkSession
    fmt = sink_format(spark)
    sorted_df = observed.sortWithinPartitions(*order_cols)
    if fmt["format"] == "iceberg":
        table = f"{fmt['catalog']}.{ICEBERG_NAMESPACE}.{stage}"
        # createOrReplace = one atomic snapshot commit per stage — the
        # Iceberg analog of the parquet overwrite + manifest record
        sorted_df.writeTo(table).using("iceberg").createOrReplace()
        return {**fmt, "table": table}
    sorted_df.write.mode("overwrite").options(
        **parquet_text_options(sorted_df)
    ).parquet(path)
    return {**fmt, "path": path}


def observed_write(
    df: DataFrame,
    path: str,
    log: CheckpointLog,
    stage: str,
    order_cols=("conv_id", "turn_idx"),
    extra: dict | None = None,
) -> int:
    """Write one sink with observe() metrics + checkpoint record.

    Returns the row count. If the stage is already checkpointed, the
    write is skipped and the recorded count returned (idempotent resume).
    ``observe`` rides the write job — no second scan for the count.
    """
    prior = log.read(stage)
    if prior is not None:
        return prior["rows"]
    from pyspark.sql import Observation

    obs = Observation(f"obs_{stage}")
    observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    sink_info = _write_observed(observed, path, stage, order_cols)
    rows = obs.get["rows"]
    record = {"rows": rows, **sink_info, **(extra or {})}
    if sink_info["format"] == "parquet":
        lineage = file_lineage(path)
        assert sum(e["rows"] for e in lineage) == rows, "lineage/observe count drift"
        record["lineage"] = lineage
    log.record(stage, record)
    return rows


#: hub buckets: ``conv_bucket = crc32(conv_id) % N_BUCKETS`` —
#: content-derived, so deterministic across runs and uniform under skew,
#: and computable from a conv_id alone (``incremental.hub_lookup``)
N_BUCKETS = 32
#: resume ranges of ``observed_write_bucketed``: bucket % N_BATCHES
N_BATCHES = 4
HUB_ORDER = ("conv_id", "turn_idx")


def conv_bucket(conv_id: Column | str = "conv_id") -> Column:
    """The hub's ``conv_bucket`` of a conv_id column (or literal)."""
    return (F.crc32(conv_id) % N_BUCKETS).cast("int")


def observed_write_bucketed(
    df: DataFrame,
    path: str,
    log: CheckpointLog,
    stage: str,
    fail_after_batches: int | None = None,
) -> int:
    """Stage write with PER-CONV-RANGE resume (finer than stage-level).

    Conversations hash into ``N_BUCKETS`` buckets (``conv_bucket``),
    grouped into ``N_BATCHES`` ranges (bucket % N_BATCHES), each sorted
    by ``HUB_ORDER`` within its files.
    Every PENDING range (one with no ``<stage>.b<k>`` record) is written
    in ONE job: the plan is built, the input scanned and the Python trace
    decode run once, not once per range (each Python-evaluating task pays
    a fixed worker cost, see functions/tracing.py). One ``observe()``
    counts the rows of each pending range; after the write, one footer
    listing supplies each range's lineage, and each range still gets its
    own checkpoint record. A re-run filters the committed ranges out of
    the scan (never recomputed, never rewritten).

    Partition overwrite is dynamic: output is staged under
    ``.spark-staging-*`` and bucket directories are published at job
    commit, so a kill DURING the job publishes nothing and records no
    range — a fresh run killed mid-job redoes the whole stage. Once range
    records exist, a resume rewrites only the pending ranges' bucket
    directories — idempotent. This is the distributed analog of the
    reference's per-invocation at-least-once retry (src/function.py:
    136-177): the unit of redelivery is a conversation range, and the
    manifest is the dedup ledger.

    ``fail_after_batches`` is a test hook: after the write, raise once N
    range records are committed, to simulate a kill between records.
    """
    from pyspark.sql import Observation

    prior = {k: log.read(f"{stage}.b{k}") for k in range(N_BATCHES)}
    pending = [k for k, rec in prior.items() if rec is None]
    total = sum(rec["rows"] for rec in prior.values() if rec is not None)
    # Fresh start (no range checkpoints) into a dir holding a previous
    # run's output: dynamic partition-overwrite only replaces buckets
    # present in the NEW data, so stale buckets from the old run would
    # survive and trip the lineage assert (or leak rows). Truncate first —
    # the Iceberg analog is CREATE OR REPLACE before the first snapshot.
    fresh = len(pending) == N_BATCHES
    if fresh and os.path.isdir(path):
        import shutil

        shutil.rmtree(path)
    if pending:
        staged = df.withColumn("conv_bucket", conv_bucket())
        batch = F.col("conv_bucket") % N_BATCHES
        if not fresh:
            staged = staged.filter(batch.isin(pending))
        obs = Observation(f"obs_{stage}")
        observed = staged.observe(
            obs, *[F.sum((batch == k).cast("long")).alias(f"b{k}") for k in pending]
        )
        (
            observed.sortWithinPartitions("conv_bucket", *HUB_ORDER)
            .write.mode("overwrite")
            .options(**parquet_text_options(observed))
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("conv_bucket")
            .parquet(path)
        )
        rows = {k: int(obs.get[f"b{k}"] or 0) for k in pending}
        # one listing for every range; files outside the bucket dirs (a
        # killed job's leftover .spark-staging-*) belong to no range
        batch_of = {f"conv_bucket={b}": b % N_BATCHES for b in range(N_BUCKETS)}
        lineages: dict[int, list[dict]] = {k: [] for k in pending}
        for e in file_lineage(path):
            k = batch_of.get(e["file"].split("/", 1)[0])
            if k in lineages:
                lineages[k].append(e)
        committed = N_BATCHES - len(pending)
        for k in pending:
            if fail_after_batches is not None and committed >= fail_after_batches:
                raise RuntimeError(f"injected kill after {fail_after_batches} batches")
            lineage = lineages[k]
            assert sum(e["rows"] for e in lineage) == rows[k], "bucket lineage drift"
            log.record(
                f"{stage}.b{k}",
                {
                    "rows": rows[k],
                    "path": path,
                    "buckets": [b for b in range(N_BUCKETS) if b % N_BATCHES == k],
                    "lineage": lineage,
                },
            )
            total += rows[k]
            committed += 1
    if log.read(stage) is None:
        log.record(stage, {"rows": total, "path": path, "batches": N_BATCHES, "buckets": N_BUCKETS})
    return total


def read_manifest(spark: SparkSession, out_dir: str) -> dict:
    """All recorded stages as {stage: payload}."""
    ckpt_dir = os.path.join(out_dir, "_checkpoints")
    result = {}
    if not os.path.isdir(ckpt_dir):
        return result
    for fname in sorted(os.listdir(ckpt_dir)):
        if fname.endswith(".json"):
            with open(os.path.join(ckpt_dir, fname)) as f:
                payload = json.load(f)
            result[payload["stage"]] = payload
    return result
