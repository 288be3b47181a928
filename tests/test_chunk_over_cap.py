"""The chunk stage's two phases through both runners.

``chunk_stats`` is written as the rows that provably fit one chunk, then,
only when that write saw a (conv_id, path) row over the cap, the exact
walk of those rows appended (``chunks.sink_chunk_counts``). At a 600 B
cap most (conv_id, path) rows are over the cap, so here ``run_pipeline``
and two ``run_incremental`` batches (the second with late turns) all
take the follow-up, and each must equal ``chunk_counts_fast`` per
(conv_id, path). The corpus adds a conversation whose first infra row is
a later turn with different meta.
"""

from __future__ import annotations

import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from aws_log_ingestion_spark.config import PipelineConfig
from aws_log_ingestion_spark.functions import chunking as C
from aws_log_ingestion_spark.operators import checkpoint as ckpt
from aws_log_ingestion_spark.operators import chunks as chunk_op
from aws_log_ingestion_spark.operators.route import infra_union
from aws_log_ingestion_spark.plans.incremental import live_rows, run_incremental
from aws_log_ingestion_spark.plans.job import prepare, run_pipeline
from aws_log_ingestion_spark.sources import datagen
from aws_log_ingestion_spark.sources.derive import conv_meta_from_transcripts

CAP = 600
CFG = PipelineConfig(logging_enabled=True, max_payload_size=CAP)
# the mixed conversation: turn 0 is a lambda-sink START line the infra
# filter drops, turn 1 an rds line (sink 'other', log group RDSOSMetrics),
# so its infra payload starts at turn 1 with other meta and sink
MIXED = "c90"
STATS_COLS = ["conv_id", "sink", "path", "n_events", "n_chunks", "raw_bytes"]


def _rows(conv_id, start, texts, tool="lambda"):
    return [
        {
            "conv_id": conv_id,
            "turn_idx": start + i,
            "role": datagen.ROLES[(start + i) % 4],
            "text": text,
            "tool": tool,
            "ts_millis": datagen.BASE_TS_MILLIS + start + i,
        }
        for i, text in enumerate(texts)
    ]


def _batches(spark):
    mixed = (
        _rows(MIXED, 0, [datagen.START])
        + _rows(MIXED, 1, ['{"engine":"POSTGRES","instanceID":"instance-9"}'], tool="rds")
        + _rows(MIXED, 2, [datagen.NR_SHORT] + [datagen.REPORT] * 18)
    )
    late = _rows(MIXED, 21, [datagen.REPORT] * 10) + _rows(
        "c0", 500, [f"Test Message {i}" for i in range(500, 520)]
    )
    return (
        datagen.to_spark_df(spark, datagen.all_template_rows() + mixed),
        datagen.to_spark_df(spark, late),
    )


@pytest.fixture(scope="module")
def runs(spark, tmp_path_factory):
    """Each runner's output dir over the same two input files, plus the
    expected ``chunk_stats`` rows from ``chunk_counts_fast``."""
    root = tmp_path_factory.mktemp("over_cap")
    in_dir = str(root / "in")
    first, late = _batches(spark)
    first.coalesce(1).write.parquet(f"{in_dir}/b0")
    out = {name: str(root / name) for name in ("pipeline", "incremental")}
    assert run_incremental(spark, in_dir, out["incremental"], CFG)["batch_id"] == 0
    late.coalesce(1).write.parquet(f"{in_dir}/b1")
    assert run_incremental(spark, in_dir, out["incremental"], CFG)["batch_id"] == 1

    transcripts = spark.read.parquet(f"{in_dir}/b0", f"{in_dir}/b1")
    meta = conv_meta_from_transcripts(transcripts)
    result = run_pipeline(spark, transcripts, meta, out["pipeline"], CFG, resume=False)

    hub = spark.read.parquet(f"{out['pipeline']}/classified")
    want = chunk_op.chunk_counts_fast(infra_union(hub, CFG), "infra", CFG).unionByName(
        chunk_op.chunk_counts_fast(hub, "logging", CFG)
    )
    return {
        "in": in_dir,
        "out": out,
        "hub": hub,
        "manifest": result["manifest"],
        "want": _by_key(want),
    }


def _by_key(df) -> dict:
    rows = [r.asDict() for r in df.select(*STATS_COLS).collect()]
    keyed = {(r["conv_id"], r["path"]): r for r in rows}
    assert len(keyed) == len(rows), "one row per (conv_id, path)"
    return keyed


def _stats(spark, runs, runner):
    out = runs["out"][runner]
    if runner == "incremental":
        return live_rows(spark, out, "chunk_stats").drop("ingest_batch")
    return spark.read.parquet(f"{out}/chunk_stats")


def _over_cap(rows) -> int:
    """Rows whose raw size does not provably gzip under the cap: the
    walk's rows (a walked row's raw_bytes sums its chunks' envelopes, so
    it never drops under the bound)."""
    return sum(C.gz_len_upper_bound(r["raw_bytes"]) >= CAP for r in rows)


def _sorted_totals(totals) -> list:
    return sorted(tuple(sorted(t.items())) for t in totals)


def test_mixed_meta_conversation_present(runs):
    """The corpus holds the case the per-path firsts exist for: the
    mixed conversation's first infra row is a later turn than its first
    row, with another sink and log group."""
    hub = runs["hub"].filter(F.col("conv_id") == MIXED)
    first = hub.orderBy("turn_idx").first()
    infra_first = infra_union(hub, CFG).orderBy("turn_idx").first()
    assert infra_first["turn_idx"] > first["turn_idx"]
    assert infra_first["log_group"] != first["log_group"]
    assert (first["sink"], infra_first["sink"]) == ("lambda", "other")
    want = runs["want"]
    assert want[(MIXED, "logging")]["sink"] == "lambda"
    assert want[(MIXED, "infra")]["sink"] == "other"


def test_cap_sends_most_rows_through_the_walk(runs):
    want = runs["want"]
    assert _over_cap(want.values()) > len(want) // 2
    assert want[("c0", "infra")]["n_chunks"] > 1
    assert want[("c0", "logging")]["n_chunks"] > 1


@pytest.mark.parametrize("runner", ["pipeline", "incremental"])
def test_runner_chunk_stats_equal_chunk_counts_fast(spark, runs, runner):
    assert _by_key(_stats(spark, runs, runner)) == runs["want"]


def test_pipeline_record_totals_and_over_cap(spark, runs):
    chunks = runs["manifest"]["chunks"]
    stats = spark.read.parquet(f"{runs['out']['pipeline']}/chunk_stats")
    rollup = [r.asDict() for r in chunk_op.chunk_totals_fast(stats).collect()]
    assert _sorted_totals(chunks["totals"]) == _sorted_totals(rollup)
    assert chunks["rows"] == sum(r["n_chunks"] for r in runs["want"].values())
    assert chunks["over_cap"] == _over_cap(runs["want"].values()) > 0
    assert sum(e["rows"] for e in chunks["lineage"]) == stats.count()


def test_batch_records_totals_and_over_cap(spark, runs):
    out = runs["out"]["incremental"]
    log = ckpt.CheckpointLog(out)
    for k in (0, 1):
        rec = log.read(f"ingest.b{k}")
        stats = spark.read.parquet(f"{out}/chunk_stats/ingest_batch={k}")
        rollup = [r.asDict() for r in chunk_op.chunk_totals_fast(stats).collect()]
        assert _sorted_totals(rec["chunk_totals"]) == _sorted_totals(rollup), k
        rows = [r.asDict() for r in stats.collect()]
        assert rec["over_cap"] == _over_cap(rows) > 0, k


def _kill_at_record(monkeypatch, stage: str) -> None:
    """Make ``CheckpointLog.record`` of ``stage`` raise: a kill after the
    stage's writes, before its record."""
    record = ckpt.CheckpointLog.record

    def killed(self, name, payload):
        if name == stage:
            raise RuntimeError(f"injected kill before the {stage} record")
        return record(self, name, payload)

    monkeypatch.setattr(ckpt.CheckpointLog, "record", killed)


def _parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, names in os.walk(path) for f in names)


def test_pipeline_kill_before_chunks_record_resumes(spark, runs, tmp_path, monkeypatch):
    out = str(tmp_path / "killed")
    transcripts = spark.read.parquet(f"{runs['in']}/b0", f"{runs['in']}/b1")
    meta = conv_meta_from_transcripts(transcripts)
    with monkeypatch.context() as m:
        _kill_at_record(m, "chunks")
        with pytest.raises(RuntimeError, match="injected kill"):
            run_pipeline(spark, transcripts, meta, out, CFG, resume=False)
    clean = f"{runs['out']['pipeline']}/chunk_stats"
    # both writes landed before the kill: the singles and the walk
    assert _parquet_files(f"{out}/chunk_stats") == _parquet_files(clean)
    result = run_pipeline(spark, transcripts, meta, out, CFG)
    assert _by_key(spark.read.parquet(f"{out}/chunk_stats")) == runs["want"]
    assert _parquet_files(f"{out}/chunk_stats") == _parquet_files(clean)
    want = runs["manifest"]["chunks"]
    got = result["manifest"]["chunks"]
    for key in ("totals", "rows", "over_cap"):
        assert got[key] == want[key], key


def test_incremental_kill_before_batch_record_resumes(spark, runs, tmp_path, monkeypatch):
    in_dir = str(tmp_path / "in")
    shutil.copytree(f"{runs['in']}/b0", f"{in_dir}/b0")
    out = str(tmp_path / "killed")
    run_incremental(spark, in_dir, out, CFG)
    shutil.copytree(f"{runs['in']}/b1", f"{in_dir}/b1")
    with monkeypatch.context() as m:
        _kill_at_record(m, "ingest.b1")
        with pytest.raises(RuntimeError, match="injected kill"):
            run_incremental(spark, in_dir, out, CFG)
    assert run_incremental(spark, in_dir, out, CFG)["batch_id"] == 1
    got = live_rows(spark, out, "chunk_stats").drop("ingest_batch")
    assert _by_key(got) == runs["want"]
    clean = runs["out"]["incremental"]
    assert ckpt.CheckpointLog(out).read("ingest.b1")["over_cap"] == (
        ckpt.CheckpointLog(clean).read("ingest.b1")["over_cap"]
    )


def test_common_case_chunk_plan_has_no_walk(spark, template_df, template_meta_df, tmp_path):
    """At the production 1 MB cap the written ``chunk_stats`` plan is one
    hub pass: no pandas walk, no Python UDF, no sort-based aggregate, and
    at most the two aggregates' hash exchanges."""
    cfg = PipelineConfig(logging_enabled=True)
    prepare(template_df, template_meta_df, cfg).write.parquet(str(tmp_path / "hub"))
    hub = spark.read.parquet(str(tmp_path / "hub"))
    singles, _ = chunk_op.sink_chunk_counts(hub, cfg)
    plan = singles._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    assert "ArrowEvalPython" not in plan
    assert "SortAggregate" not in plan
    assert len(re.findall(r"\bExchange hashpartitioning", plan)) <= 2
