"""End-to-end pipeline: routed sink writes, per-sink counts vs the
reference oracle, and kill-and-resume idempotency (BASELINE.md targets)."""

from __future__ import annotations

import os
import re
import uuid

import pytest
from pyspark.sql import functions as F

from aws_log_ingestion_spark.config import PipelineConfig
from aws_log_ingestion_spark.operators import checkpoint as ckpt
from aws_log_ingestion_spark.operators.chunks import chunk_totals_fast
from aws_log_ingestion_spark.plans.job import conv_id_clustered, prepare, run_pipeline
from aws_log_ingestion_spark.plans.maintenance import bucketize_transcripts
from aws_log_ingestion_spark.sources import datagen
from reference_oracle import (
    load_reference,
    oracle_entry_type,
    oracle_filtered_messages,
    requires_reference,
    rows_to_entry,
)


def _expected_counts():
    """Per-sink row counts computed with the reference's own functions."""
    counts = {"infra_lambda_rows": 0, "infra_vpc_rows": 0, "infra_other_rows": 0, "logging_rows": 0}
    names = sorted(datagen.TEMPLATES)
    for i, name in enumerate(names):
        conv_id = f"c{i}"
        rows = datagen.template_rows(name, conv_id)
        tool = rows[0]["tool"]
        entry = rows_to_entry(rows, datagen.log_group_for(tool, conv_id), "s", "o")
        etype = oracle_entry_type(entry)
        if etype == "lambda":
            counts["infra_lambda_rows"] += len(oracle_filtered_messages(entry))
        elif etype == "vpc":
            counts["infra_vpc_rows"] += len(rows)
        else:
            counts["infra_other_rows"] += len(rows)
        counts["logging_rows"] += len(rows)  # unfiltered tee (reference :270)
    return counts


def _sorted_items(d: dict) -> tuple:
    return tuple(sorted(d.items()))


def _sorted_rows(df) -> list[dict]:
    """``df``'s rows as plain dicts, in a canonical order."""
    return sorted((r.asDict(recursive=True) for r in df.collect()), key=repr)


def _hub_rows(spark, out_dir):
    """The hub as plain dicts, in a canonical order."""
    return _sorted_rows(spark.read.parquet(f"{out_dir}/classified"))


def _parquet_files(path: str) -> dict[str, tuple[int, int]]:
    """Every ``.parquet`` file under ``path``, at any depth -> (bytes, mtime_ns)."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(root, f))
                out[os.path.relpath(os.path.join(root, f), path)] = (st.st_size, st.st_mtime_ns)
    return out


@pytest.fixture(scope="module")
def clean_run(spark, template_df, template_meta_df, tmp_path_factory):
    """A clean ``run_pipeline`` over the templates in a fresh dir: the
    output the sink tests read and the expected values of the kill/resume
    tests, needing no reference. Returns (out_dir, counts, hub rows)."""
    out = str(tmp_path_factory.mktemp("clean_out"))
    cfg = PipelineConfig(logging_enabled=True)
    result = run_pipeline(spark, template_df, template_meta_df, out, cfg, resume=False)
    return out, result["counts"], _hub_rows(spark, out)


@pytest.fixture(scope="module")
def bucketed_templates(spark, template_df, tmp_path_factory):
    """The template corpus as a 4-bucket conv_id table, written by
    ``maintenance.bucketize_transcripts``, read with ``spark.table``."""
    base = tmp_path_factory.mktemp("bucketed_templates")
    template_df.write.parquet(str(base / "raw"))
    table = "templates_bucketed"
    yield bucketize_transcripts(spark, str(base / "raw"), str(base / "table"), table, 4)
    spark.sql(f"DROP TABLE IF EXISTS {table}")


@requires_reference
def test_per_sink_counts_match_reference(clean_run):
    _, counts, _ = clean_run
    assert counts == _expected_counts()


def test_sink_files_ordered_and_readable(spark, clean_run):
    run_dir, _, _ = clean_run
    lam = spark.read.parquet(f"{run_dir}/infra").filter(F.col("sink") == "lambda")
    assert lam.count() > 0
    # per-turn order within each conversation is reconstructible
    idx = sorted(datagen.TEMPLATES).index("lambda_full")
    got = lam.filter(F.col("conv_id") == f"c{idx}").orderBy("turn_idx").select("text").collect()
    assert [r["text"] for r in got] == [datagen.NR_SHORT, datagen.REPORT]


def test_chunk_manifest_written(spark, clean_run):
    run_dir, _, _ = clean_run
    manifest = ckpt.read_manifest(run_dir)
    assert "chunks" in manifest
    totals = manifest["chunks"]["totals"]
    # the totals observed on the write equal a rollup of what it wrote
    rollup = chunk_totals_fast(spark.read.parquet(f"{run_dir}/chunk_stats")).collect()
    assert sorted(map(_sorted_items, totals)) == sorted(
        _sorted_items(r.asDict()) for r in rollup
    )
    assert manifest["chunks"]["rows"] == sum(t["n_chunks"] for t in totals)
    assert {t["path"] for t in totals} == {"infra", "logging"}
    by = {(t["sink"], t["path"]): t for t in totals}
    # logging tee covers every conversation regardless of sink
    names = sorted(datagen.TEMPLATES)
    assert sum(t["n_convs"] for t in totals if t["path"] == "logging") == len(names)
    # the fast count stage proves counts arithmetically; n_chunks >= convs
    assert all(t["n_chunks"] >= t["n_convs"] for t in totals)
    assert all(t["raw_bytes"] > 0 for t in totals)
    # every stage record carries its footer lineage, checked against the
    # rows its write observed: chunk_stats rows (not the n_chunks `rows`)…
    chunks = manifest["chunks"]
    assert chunks["path"] == f"{run_dir}/chunk_stats"
    stats_rows = spark.read.parquet(f"{run_dir}/chunk_stats").count()
    assert sum(e["rows"] for e in chunks["lineage"]) == stats_rows
    # …and the infra rows of all three sinks
    infra = manifest["infra"]
    assert sum(e["rows"] for e in infra["lineage"]) == sum(infra["per_sink"].values())
    assert infra["rows"] == sum(infra["per_sink"].values())


def test_resume_is_idempotent(spark, template_df, template_meta_df, clean_run):
    """Re-running over an existing checkpoint dir reproduces identical
    counts without rewriting (manifest wall-times unchanged)."""
    out, counts, hub_rows = clean_run
    before = ckpt.read_manifest(out)
    assert "classified" in before
    cfg = PipelineConfig(logging_enabled=True)
    result2 = run_pipeline(spark, template_df, template_meta_df, out, cfg, resume=True)
    after = ckpt.read_manifest(out)
    assert result2["counts"] == counts
    assert _hub_rows(spark, out) == hub_rows
    for stage, payload in before.items():
        assert after[stage]["wall_time"] == payload["wall_time"], f"{stage} was rewritten"


def test_partial_failure_resume(spark, template_df, template_meta_df, clean_run, tmp_path):
    """Simulate a mid-job kill: only the hub stage completes, then resume —
    final counts equal a clean run's and the hub is not rewritten."""
    out = str(tmp_path / "partial")
    cfg = PipelineConfig(logging_enabled=True)
    log = ckpt.CheckpointLog(out)
    ckpt.observed_write(
        prepare(template_df, template_meta_df, cfg), f"{out}/classified", log, "classified"
    )
    assert not log.is_done("infra") and not log.is_done("logging")
    hub_time = log.read("classified")["wall_time"]

    result = run_pipeline(spark, template_df, template_meta_df, out, cfg, resume=True)
    _, counts, hub_rows = clean_run
    assert result["counts"] == counts
    assert _hub_rows(spark, out) == hub_rows
    assert ckpt.read_manifest(out)["classified"]["wall_time"] == hub_time


def test_chunk_stats_one_row_per_conv_and_path(spark, clean_run):
    """``chunk_stats`` holds exactly one row per (conv_id, path): the
    prerequisite for taking per-path conversation counts as plain row
    counts."""
    run_dir, _, _ = clean_run
    stats = spark.read.parquet(f"{run_dir}/chunk_stats")
    assert stats.count() > 0
    assert stats.count() == stats.select("conv_id", "path").distinct().count()


def test_mid_stage_kill_rewrites_hub_once(
    spark, template_df, template_meta_df, clean_run, tmp_path, monkeypatch
):
    """Kill after the hub job commits but before its checkpoint record:
    the resume rewrites the hub exactly once and converges to a clean
    run's counts and hub rows. The new record's lineage sums to the input
    turns and names only files at the top of the hub directory."""
    out = str(tmp_path / "midstage")
    path = f"{out}/classified"
    cfg = PipelineConfig(logging_enabled=True)
    record = ckpt.CheckpointLog.record

    def killed(self, stage, payload):
        if stage == "classified":
            raise RuntimeError("injected kill before the hub record")
        record(self, stage, payload)

    with monkeypatch.context() as m:
        m.setattr(ckpt.CheckpointLog, "record", killed)
        with pytest.raises(RuntimeError, match="injected kill"):
            run_pipeline(spark, template_df, template_meta_df, out, cfg, resume=True)
    log = ckpt.CheckpointLog(out)
    assert not os.listdir(log.dir)
    stale = _parquet_files(path)
    assert stale

    writes = []
    write = ckpt.write_parquet

    def counted(df, target, *a, **k):
        writes.append(target)
        write(df, target, *a, **k)

    monkeypatch.setattr(ckpt, "write_parquet", counted)
    result = run_pipeline(spark, template_df, template_meta_df, out, cfg, resume=True)
    _, counts, hub_rows = clean_run
    assert writes.count(path) == 1
    assert result["counts"] == counts
    assert _hub_rows(spark, out) == hub_rows
    assert not set(_parquet_files(path).items()) & set(stale.items())
    rec = log.read("classified")
    n_turns = template_df.count()
    assert rec["rows"] == n_turns
    assert sum(e["rows"] for e in rec["lineage"]) == n_turns
    assert all("/" not in e["file"] for e in rec["lineage"])


def _sql_executions_for_group(spark, group: str) -> list[int]:
    """Ids of the SQL executions (one per DataFrame action) that ran the
    jobs of ``group``. AQE submits each query stage as its own Spark job,
    so a single write shows up as several jobs of ONE execution."""
    jobs = set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
    listed = spark._jsparkSession.sharedState().statusStore().executionsList()
    out = []
    for i in range(listed.size()):
        e = listed.apply(i)
        ids = {int(j) for j in e.jobs().keys().mkString(",").split(",") if j}
        if ids & jobs:
            out.append(e.executionId())
    return out


def test_resume_over_stale_hub_is_one_write_job(
    spark, template_df, template_meta_df, tmp_path
):
    """A dir holding stale hub output and no hub record: the resume
    writes the hub in ONE SQL execution and no stale file survives, nor
    a stale subdirectory (here one from the hub's old ``conv_bucket=``
    layout) that the new write never touches."""
    out = str(tmp_path / "stale_hub")
    path = f"{out}/classified"
    cfg = PipelineConfig(logging_enabled=True)

    log = ckpt.CheckpointLog(out)
    hub_df = prepare(template_df, template_meta_df, cfg)
    ckpt.observed_write_bucketed(hub_df, path, log, "classified")
    os.remove(os.path.join(log.dir, "classified.json"))
    orphan = os.path.join(path, "conv_bucket=99")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-stale.parquet"), "wb") as f:
        f.write(b"stale")
    stale = _parquet_files(path)
    assert len(stale) > 1

    sc = spark.sparkContext
    group = f"hub_resume_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "hub resume over stale output")
    try:
        total = ckpt.observed_write_bucketed(hub_df, path, log, "classified")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(_sql_executions_for_group(spark, group)) == 1
    assert total == template_df.count()
    assert not os.path.exists(orphan)
    assert not set(_parquet_files(path).items()) & set(stale.items())
    assert sum(e["rows"] for e in log.read("classified")["lineage"]) == total


def test_task_failure_in_hub_job_publishes_nothing(
    spark, template_df, template_meta_df, bucketed_templates, clean_run, tmp_path
):
    """A task failing inside the single hub job aborts it whole: no hub
    record and no published ``.parquet`` file, on the random layout and
    on the bucketed table, whose exchange-free hub job writes in one task
    per bucket. The failing task first sleeps, so the other tasks have
    committed by the time it fails: under committer v2 their files would
    be published. A rerun on clean input converges to a clean run's
    counts and hub rows."""
    cfg = PipelineConfig(logging_enabled=True)
    _, counts, hub_rows = clean_run
    sc = spark.sparkContext
    sleep = F.reflect(F.lit("java.lang.Thread"), F.lit("sleep"), F.lit(3000).cast("long"))
    for layout, transcripts in (("random", template_df), ("bucketed", bucketed_templates)):
        out = str(tmp_path / layout)
        path = f"{out}/classified"
        poisoned = prepare(transcripts, template_meta_df, cfg).withColumn(
            "text",
            F.when(
                F.col("conv_id") == "c0",
                F.raise_error(F.concat(F.lit("injected task failure"), F.coalesce(sleep, F.lit("")))),
            ).otherwise(F.col("text")),
        )
        log = ckpt.CheckpointLog(out)
        group = f"hub_failure_{uuid.uuid4().hex}"
        sc.setJobGroup(group, "hub write with a failing task")
        try:
            with pytest.raises(Exception, match="injected task failure"):
                ckpt.observed_write_bucketed(poisoned, path, log, "classified")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert not [f for f in os.listdir(log.dir) if f.startswith("classified")], layout
        assert not _parquet_files(path), layout
        if layout == "bucketed":
            # the failing stage is the hub's write stage, one task per bucket
            tracker = sc.statusTracker()
            stages = [
                tracker.getStageInfo(st)
                for j in tracker.getJobIdsForGroup(group)
                for st in tracker.getJobInfo(j).stageIds
            ]
            assert [s.numTasks for s in stages if s and s.numFailedTasks] == [4]

        result = run_pipeline(spark, transcripts, template_meta_df, out, cfg, resume=True)
        assert result["counts"] == counts, layout
        assert _hub_rows(spark, out) == hub_rows, layout


def test_bucketed_input_hub_has_no_exchange(spark, template_df, template_meta_df, bucketed_templates):
    """``prepare`` reads the input's layout: over the conv_id-bucketed
    table it attaches the trace markers by join and plans the hub with no
    hash Exchange (only the marker and enrich BroadcastExchanges); over
    the random layout it keeps exactly one, the union attach's conv_id
    exchange."""
    cfg = PipelineConfig(logging_enabled=True)
    assert conv_id_clustered(bucketed_templates)
    assert not conv_id_clustered(template_df)

    def hash_exchanges(df) -> int:
        plan = prepare(df, template_meta_df, cfg)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in plan, plan
        return len(re.findall(r"\bExchange hashpartitioning", plan))

    assert hash_exchanges(bucketed_templates) == 0
    assert hash_exchanges(template_df) == 1


def test_bucketed_run_equals_random_layout_run(
    spark, template_meta_df, bucketed_templates, clean_run, tmp_path
):
    """``run_pipeline`` over the bucketed table writes the same hub rows,
    sink counts and sink rows as over the random layout."""
    run_dir, counts, hub_rows = clean_run
    out = str(tmp_path / "bucketed")
    cfg = PipelineConfig(logging_enabled=True)
    result = run_pipeline(spark, bucketed_templates, template_meta_df, out, cfg, resume=False)
    assert result["counts"] == counts
    assert _hub_rows(spark, out) == hub_rows
    for sink in ("infra", "logging", "chunk_stats"):
        got = _sorted_rows(spark.read.parquet(f"{out}/{sink}"))
        assert got == _sorted_rows(spark.read.parquet(f"{run_dir}/{sink}")), sink


def test_logging_record_is_a_plain_stage_record(spark, clean_run, tmp_path):
    """The logging sink commits like every other stage: ``observed_write``
    counts on its write and records exactly a ``commit_stage`` record, to
    which ``run_pipeline`` adds only the resolved ``endpoint``."""
    out = str(tmp_path / "sink")
    log = ckpt.CheckpointLog(out)
    df = spark.createDataFrame(
        [("c1", 0, "a"), ("c1", 1, "b")], "conv_id string, turn_idx int, text string"
    )
    rows = ckpt.observed_write(df, f"{out}/t", log, "t")
    rec = log.read("t")
    assert rows == 2 and rec["rows"] == 2
    assert sum(e["rows"] for e in rec["lineage"]) == 2
    plain = set(ckpt.commit_stage(df, f"{out}/p", log, "p")) | {"job_id", "stage", "wall_time"}
    assert set(rec) == plain
    run_dir, _, _ = clean_run
    assert set(ckpt.read_manifest(run_dir)["logging"]) == plain | {"endpoint"}
