"""Per-stage lineage/metrics + idempotent resume.

The reference's delivery guarantees live in HTTP retry + at-least-once
Lambda semantics (/root/reference/src/function.py:136-177,286-306). The
distributed analog (SURVEY.md §4 item 3): task-level retry is Spark's,
commit atomicity is the sink write, and JOB-level resume is this module —
a checkpoint table recording, per stage and sink, row counts and
per-partition lineage, written after each successful sink commit. A
re-run consults the manifest and skips (or verifies) completed sinks, so
a mid-job kill converges to identical per-sink counts. Every
``run_pipeline`` stage commits through ``commit_stage``, which counts on
the write itself (one ``observe()``, not a rescan).
``write_parquet`` is the package's one DataFrame parquet writer; every
runner commits through it.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import StructType

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


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by=(),
    order_by=(),
    mode: str = "overwrite",
) -> None:
    """The package's one DataFrame parquet writer.

    Sorts within partitions by ``partition_by`` then ``order_by`` (no
    Sort when both are empty) and always sets ``parquet_text_options``.
    ``mode`` is how the write commits:

    - ``"overwrite"``: replace ``path`` whole; each task's files land in
      ``path`` as the task commits (the session's committer v2), so a
      failed job can leave some behind (checkpoint-gated stage writes,
      each incremental batch's directory).
    - ``"publish"``: replace ``path`` whole, with every file published
      at job commit (committer v1), so a failed job publishes nothing
      (the ``run_pipeline`` hub).
    - ``"append"``: add files, committer v1 (the chunk stage's
      follow-up write).
    """
    cols = [*partition_by, *order_by]
    if cols:
        df = df.sortWithinPartitions(*cols)
    options = parquet_text_options(df)
    if mode != "overwrite":
        # The session default is committer v2 (fast, but a mid-job failure
        # can leave partial task files visible); an overwrite's rerun
        # removes them. An append's files go only with the overwrite its
        # stage reruns first (each follow-up appends into the directory
        # its stage just overwrote), and the hub must publish nothing
        # from a failed job: committer v1 stages task output under
        # _temporary and publishes it at job commit (ADVICE r4).
        options["mapreduce.fileoutputcommitter.algorithm.version"] = "1"
    writer = df.write.mode("append" if mode == "append" else "overwrite").options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def checked_lineage(path: str, rows: int) -> list[dict]:
    """The footer lineage of ``path``, which must hold exactly the
    observed ``rows``."""
    lineage = file_lineage(path)
    assert sum(e["rows"] for e in lineage) == rows, f"{path}: lineage/observe count drift"
    return lineage


def observed_writes(write, df: DataFrame, metrics=(), follow=None) -> dict:
    """One sink write and its optional follow-up, counted on the writes.

    ``write(df, append=False)`` runs with one ``observe()`` that counts
    ``rows`` and evaluates ``metrics``. Then, when ``follow`` is given,
    ``follow()`` is called; a frame it returns goes through
    ``write(frame, append=True)``, observed the same way. Returns the
    observed metrics summed over the writes (a sum over no rows is None).
    """

    def observed(frame: DataFrame, append: bool) -> dict:
        obs = Observation()
        write(frame.observe(obs, F.count(F.lit(1)).alias("rows"), *metrics), append)
        return obs.get

    got = observed(df, False)
    extra = follow() if follow else None
    if extra is None:
        return got
    more = observed(extra, True)
    return {
        k: more[k] if v is None else v if more[k] is None else v + more[k]
        for k, v in got.items()
    }


def commit_stage(
    df: DataFrame, path: str, log: CheckpointLog, stage: str, partition_by=(), order_by=(),
    metrics=(), payload=None, mode: str = "overwrite", follow=None,
) -> dict:
    """The one parquet stage commit; returns the stage's record.

    A recorded stage is skipped (idempotent resume). Otherwise
    ``write_parquet`` writes ``df`` in ``mode`` and appends the frame
    ``follow()`` may return (``observed_writes``, whose observed
    ``rows`` and ``metrics`` cover both writes); the footer lineage must
    sum to ``rows``; and the stage is recorded once, after both writes,
    with ``rows``, ``path``, ``lineage``, the written ``schema`` (as
    ``schema.json()``, for ``read_with_schema``) and ``payload(observed)``,
    which may override ``rows``. A kill before the record re-runs the whole
    stage, and its overwrite removes an appended follow-up.
    """
    prior = log.read(stage)
    if prior is not None:
        return prior

    def write(frame: DataFrame, append: bool) -> None:
        write_parquet(frame, path, partition_by, order_by, "append" if append else mode)

    got = observed_writes(write, df, metrics, follow)
    record = {
        "rows": got["rows"],
        "path": path,
        "lineage": checked_lineage(path, got["rows"]),
        "schema": df.schema.json(),
    }
    record.update(payload(got) if payload else {})
    log.record(stage, record)
    return record


def observed_write(
    df: DataFrame,
    path: str,
    log: CheckpointLog,
    stage: str,
    order_cols=("conv_id", "turn_idx"),
    extra: dict | None = None,
) -> int:
    """``commit_stage`` of one unpartitioned sink sorted by ``order_cols``,
    with ``extra`` added to its record; returns the row count (the
    recorded count when the stage is already checkpointed).

    It stays a separate function so the logging write is one named call:
    pipebench times the logging layer by wrapping ``observed_write``, and
    the infra and chunks intervals of its layer split are bounded by that
    span.
    """
    return commit_stage(
        df, path, log, stage, (), order_cols, payload=lambda _: extra or {}
    )["rows"]


#: ``run_incremental``'s hub buckets: ``conv_bucket = crc32(conv_id) %
#: N_BUCKETS`` — content-derived, so deterministic across runs and
#: uniform under skew, and computable from a conv_id alone
#: (``incremental.hub_lookup``). Each (batch, bucket) directory is that
#: hub's copy-on-write unit. The ``run_pipeline`` hub has no buckets.
N_BUCKETS = 32
HUB_ORDER = ("conv_id", "turn_idx")


def conv_bucket(conv_id: Column | str = "conv_id") -> Column:
    """The incremental hub's ``conv_bucket`` of a conv_id column (or literal)."""
    return (F.crc32(conv_id) % N_BUCKETS).cast("int")


def observed_write_bucketed(df: DataFrame, path: str, log: CheckpointLog, stage: str) -> int:
    """The ``run_pipeline`` hub write: one Spark job, one file per write
    task, each sorted by ``HUB_ORDER``, and one checkpoint record. If the
    stage is already recorded, the write is skipped and the recorded
    count returned.

    It stays a separate function so the hub write is one named call:
    pipebench times the hub layer by wrapping it, which is also why it
    keeps the name it had when the hub was written into ``conv_bucket=``
    directories.

    The hub is read whole and resumed whole, so it has no partition
    directories: over conv_id-bucketed input its exchange-free plan
    writes one file per bucket, where ``N_BUCKETS`` directories would
    open that many writers in every task. Measured and not adopted, on a
    4-vCPU prototype of pipebench's ``batch_bucketed``: this flat write
    with the union attach's exchange kept. AQE coalesces that small
    shuffle into one task, so the hub is one file and ``infra``,
    ``logging`` and the chunk map each read it in one task too (chunk
    map 0.45 -> 0.87 s); wall_s fell 9%, not robustly across seeds.
    That is what a random layout gets at that scale.

    The write replaces ``path`` whole, stale files and directories
    included, and commits in ``"publish"`` mode (committer v1): task
    output is published at job commit, so a job killed or failed
    mid-write publishes nothing. A kill at any point before the record
    redoes the whole hub — the distributed analog of the reference's
    per-invocation at-least-once retry (src/function.py:136-177), with
    the manifest as the dedup ledger.
    """
    return commit_stage(df, path, log, stage, (), HUB_ORDER, mode="publish")["rows"]


def read_with_schema(spark: SparkSession, schema_json: str, *paths: str) -> DataFrame:
    """Parquet ``paths`` read with a schema the code already holds (a
    record's ``schema``): no schema-inference job."""
    return spark.read.schema(StructType.fromJson(json.loads(schema_json))).parquet(*paths)


def read_manifest(out_dir: str) -> dict:
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
