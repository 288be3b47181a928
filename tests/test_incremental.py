"""Incremental ingest (plans/incremental.py): per-batch file diffing,
batch-equivalence with the one-shot pipeline, and conversation-scoped
recompute when late turns extend existing conversations (hub swapped by
rename, old sinks superseded by tombstones).

The equivalence target is exact: after any sequence of incremental runs,
the hub's row multiset and every sink's live row multiset (``live_rows``)
equal ``run_pipeline`` over the full current input. The overlap batch includes a conversation whose extension FLIPS
its classification (an ``other`` conversation gains an NR marker line →
the whole conversation becomes ``lambda`` and the infra filter applies),
which only a conversation-scoped recompute can get right — a row-local
append would leave the old rows routed to the stale sink.
"""

from __future__ import annotations

import datetime
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from aws_log_ingestion_spark.config import PipelineConfig
from aws_log_ingestion_spark.operators import checkpoint as ckpt
from aws_log_ingestion_spark.operators.chunks import chunk_totals_fast
from aws_log_ingestion_spark.plans.incremental import hub_lookup, live_rows, run_incremental
from aws_log_ingestion_spark.plans.job import run_pipeline
from aws_log_ingestion_spark.sources.derive import (
    conv_meta_from_transcripts,
    transcripts_from_events,
)

SF_DIR = "/root/testdata/sf0.001"
CFG = PipelineConfig(logging_enabled=True)

# conversations extended in batch C (late turns appended):
#   c0:  user 0 % 8 == 0 → lambda conv; extension lines carry no
#        RequestId, so their lambda_request_id must be forward-filled
#        from the conversation's OLD tail (cross-batch fill).
#   c3:  user 3 % 8 == 3 → lambda log-group but no lambda message →
#        sink 'other'; the extension adds an NR marker line, flipping
#        the WHOLE conversation to sink 'lambda'.
EXT_FILL_CONV = "c0"
EXT_FLIP_CONV = "c3"
NR_SHORT = '[1,"NR_LAMBDA_MONITORING","H4sIAImox"]'


def _grp(conv_id_col):
    return F.substring(conv_id_col, 2, 10).cast("int") % 3


def _copy_parts(src_dir: str, in_dir: str, prefix: str) -> None:
    """Move a Spark write's part files into the shared input dir under
    stable names (the input contract is a growing set of files)."""
    i = 0
    for fname in sorted(os.listdir(src_dir)):
        if fname.endswith(".parquet"):
            shutil.copy(
                os.path.join(src_dir, fname),
                os.path.join(in_dir, f"{prefix}_{i}.parquet"),
            )
            i += 1
    assert i > 0


def _extension_rows(spark, transcripts):
    """Late-turn rows for the two extended conversations."""
    tails = {
        r["conv_id"]: r["m"]
        for r in transcripts.filter(
            F.col("conv_id").isin(EXT_FILL_CONV, EXT_FLIP_CONV)
        )
        .groupBy("conv_id")
        .agg(F.max("turn_idx").alias("m"))
        .collect()
    }
    ts = datetime.datetime(2026, 1, 1)
    rows = [
        (EXT_FILL_CONV, tails[EXT_FILL_CONV] + 1, "assistant",
         "late line with no request id", "lambda", ts),
        (EXT_FILL_CONV, tails[EXT_FILL_CONV] + 2, "tool",
         "another late line", "lambda", ts),
        (EXT_FLIP_CONV, tails[EXT_FLIP_CONV] + 1, "system",
         NR_SHORT, "lambda", ts),
    ]
    return spark.createDataFrame(
        rows, schema=transcripts.select(
            "conv_id", "turn_idx", "role", "text", "tool", "ts"
        ).schema
    )


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    """Three conversation-aligned input batches + the incremental out dir."""
    base = tmp_path_factory.mktemp("incremental")
    in_dir = str(base / "input")
    os.makedirs(in_dir)
    transcripts = transcripts_from_events(spark, SF_DIR)
    stage = str(base / "stage")
    batches = {
        "a": transcripts.filter(_grp(F.col("conv_id")) == 0),
        "b": transcripts.filter(_grp(F.col("conv_id")) == 1),
    }
    ext = _extension_rows(spark, batches["a"])
    batches["c"] = transcripts.filter(_grp(F.col("conv_id")) == 2).unionByName(ext)
    for name, df in batches.items():
        df.repartition(2).write.mode("overwrite").parquet(f"{stage}/{name}")
    return {
        "in_dir": in_dir,
        "stage": stage,
        "out": str(base / "out"),
        "oneshot": str(base / "oneshot"),
    }


def _sorted_cols(df):
    return df.select(*sorted(df.columns))


def _assert_same_rows(got, want, label):
    got, want = _sorted_cols(got), _sorted_cols(want)
    assert sorted(got.columns) == sorted(want.columns), label
    assert got.exceptAll(want).count() == 0, f"{label}: extra rows"
    assert want.exceptAll(got).count() == 0, f"{label}: missing rows"


def _oneshot(spark, in_dir, out_dir):
    """run_pipeline over the full current input (the equivalence target)."""
    full = spark.read.parquet(in_dir)
    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    return run_pipeline(
        spark, full, conv_meta_from_transcripts(full), out_dir, CFG, resume=False
    )


def _compare_outputs(spark, inc_out, one_out):
    """The hub read raw (it is physically exact); the sinks read live."""
    got = spark.read.parquet(f"{inc_out}/classified").drop("ingest_batch", "conv_bucket")
    want = spark.read.parquet(f"{one_out}/classified")
    _assert_same_rows(got, want, "classified")
    for sink in ("infra", "logging", "chunk_stats"):
        got = live_rows(spark, inc_out, sink).drop("ingest_batch")
        want = spark.read.parquet(f"{one_out}/{sink}")
        _assert_same_rows(got, want, sink)


def _sorted_items(d: dict) -> tuple:
    return tuple(sorted(d.items()))


def _sink_files(out_dir, batches):
    """{path: (size, mtime_ns)} of every sink file of the given batches."""
    files = {}
    for sink in ("infra", "logging", "chunk_stats"):
        for b in batches:
            root = os.path.join(out_dir, sink, f"ingest_batch={b}")
            for cur, _dirs, names in os.walk(root):
                for name in names:
                    st = os.stat(os.path.join(cur, name))
                    files[os.path.join(cur, name)] = (st.st_size, st.st_mtime_ns)
    return files


def test_b0_bootstrap_equals_oneshot(spark, env):
    _copy_parts(f"{env['stage']}/a", env["in_dir"], "batch_a")
    result = run_incremental(spark, env["in_dir"], env["out"], CFG)
    assert result["batch_id"] == 0
    assert result["superseded_convs"] == 0
    one = _oneshot(spark, env["in_dir"], env["oneshot"])
    assert result["counts"] == one["counts"]
    _compare_outputs(spark, env["out"], env["oneshot"])


def test_b1_disjoint_append(spark, env):
    _copy_parts(f"{env['stage']}/b", env["in_dir"], "batch_b")
    result = run_incremental(spark, env["in_dir"], env["out"], CFG)
    assert result["batch_id"] == 1
    assert result["superseded_convs"] == 0  # conversation-aligned batch
    one = _oneshot(spark, env["in_dir"], env["oneshot"])
    assert result["counts"] == one["counts"]
    _compare_outputs(spark, env["out"], env["oneshot"])


def test_b2_overlap_copy_on_write(spark, env):
    _copy_parts(f"{env['stage']}/c", env["in_dir"], "batch_c")
    env["old_sinks_before_b2"] = _sink_files(env["out"], [0, 1])
    result = run_incremental(spark, env["in_dir"], env["out"], CFG)
    assert result["batch_id"] == 2
    assert result["superseded_convs"] == 2  # c0 (fill) + c3 (flip)
    one = _oneshot(spark, env["in_dir"], env["oneshot"])
    assert result["counts"] == one["counts"]
    _compare_outputs(spark, env["out"], env["oneshot"])

    hub = spark.read.parquet(f"{env['out']}/classified")
    extended = hub.filter(F.col("conv_id").isin(EXT_FILL_CONV, EXT_FLIP_CONV))
    # the hub swap removed the superseded conversations from the old batches…
    assert extended.filter(F.col("ingest_batch") < 2).count() == 0
    # …and the recomputed rows live (once) in the new batch
    assert (
        extended.groupBy("conv_id", "turn_idx").count().filter("count > 1").count()
        == 0
    )
    # classification flip: EVERY row of c3 (old turns included) is lambda now
    flip = hub.filter(F.col("conv_id") == EXT_FLIP_CONV)
    assert flip.filter(F.col("sink") != "lambda").count() == 0
    # cross-batch forward fill: the late no-RequestId lines inherit the
    # request id from the conversation's old tail
    late = (
        live_rows(spark, env["out"], "logging")
        .filter(
            (F.col("conv_id") == EXT_FILL_CONV)
            & F.col("message").startswith("late line")
        )
        .select("lambda_request_id")
        .collect()
    )
    assert len(late) == 1 and late[0]["lambda_request_id"]
    # one live chunk_stats row per (conv_id, path): the superseded
    # conversations' old-batch rows are tombstoned
    stats = live_rows(spark, env["out"], "chunk_stats")
    assert stats.filter(F.col("ingest_batch") == 2).count() > 0
    assert stats.count() == stats.select("conv_id", "path").distinct().count()


def test_b2_old_sinks_tombstoned_not_rewritten(spark, env):
    """The overlap append leaves every old-batch sink file untouched
    (same bytes and mtime): the superseded conversations stay in the raw
    old sinks, and only the tombstone-applying read drops them."""
    before = env["old_sinks_before_b2"]
    assert before and _sink_files(env["out"], [0, 1]) == before
    extended = [EXT_FILL_CONV, EXT_FLIP_CONV]
    for sink in ("infra", "logging", "chunk_stats"):
        raw = spark.read.parquet(f"{env['out']}/{sink}")
        live = live_rows(spark, env["out"], sink)
        old_raw = raw.filter((F.col("ingest_batch") < 2) & F.col("conv_id").isin(extended))
        old_live = live.filter((F.col("ingest_batch") < 2) & F.col("conv_id").isin(extended))
        assert old_raw.count() > 0, sink
        assert old_live.count() == 0, sink
        assert live.filter(F.col("conv_id").isin(extended)).count() > 0, sink


def test_batch_records_hold_own_chunk_totals(spark, env):
    """Each batch record's ``chunk_totals`` are that batch's own
    ``chunk_stats`` rolled up, as observed on its write."""
    log = ckpt.CheckpointLog(env["out"])
    for k in range(3):
        rec = log.read(f"ingest.b{k}")
        rollup = chunk_totals_fast(
            spark.read.parquet(f"{env['out']}/chunk_stats/ingest_batch={k}")
        ).collect()
        assert rec["chunk_totals"], k
        assert sorted(map(_sorted_items, rec["chunk_totals"])) == sorted(
            _sorted_items(r.asDict()) for r in rollup
        ), k


def test_noop_when_no_new_files(spark, env):
    before = run_incremental(spark, env["in_dir"], env["out"], CFG)
    assert before["batch_id"] is None
    assert before["new_files"] == []
    one = _oneshot(spark, env["in_dir"], env["oneshot"])
    assert before["counts"] == one["counts"]


def test_changed_file_rejected(spark, env, tmp_path):
    victim = os.path.join(env["in_dir"], "batch_a_0.parquet")
    original = victim + ".orig"
    shutil.copy(victim, original)
    try:
        with open(victim, "ab") as f:
            f.write(b"x")
        with pytest.raises(ValueError, match="append-only"):
            run_incremental(spark, env["in_dir"], env["out"], CFG)
    finally:
        os.replace(original, victim)


def test_config_change_rejected(spark, env):
    with pytest.raises(ValueError, match="config changed"):
        run_incremental(
            spark, env["in_dir"], env["out"], PipelineConfig(logging_enabled=False)
        )


@pytest.fixture(scope="module")
def kill_env(spark, env, tmp_path_factory):
    """A fresh 2-batch sequence (A, then the overlap batch C) for the
    mid-kill resume probes — reusing env's staged batch files."""
    base = tmp_path_factory.mktemp("inc_kill")
    in_dir = str(base / "input")
    os.makedirs(in_dir)
    _copy_parts(f"{env['stage']}/a", in_dir, "batch_a")
    return {
        "in_dir": in_dir,
        "stage": env["stage"],
        "out": str(base / "out"),
        "oneshot": str(base / "oneshot"),
    }


def test_kill_after_staging_resumes(spark, kill_env):
    assert run_incremental(spark, kill_env["in_dir"], kill_env["out"], CFG)[
        "batch_id"
    ] == 0
    _copy_parts(f"{kill_env['stage']}/c", kill_env["in_dir"], "batch_c")
    with pytest.raises(RuntimeError, match="injected kill at staged"):
        run_incremental(spark, kill_env["in_dir"], kill_env["out"], CFG,
                        fail_at="staged")
    result = run_incremental(spark, kill_env["in_dir"], kill_env["out"], CFG)
    assert result["batch_id"] == 1
    assert result["superseded_convs"] == 2
    one = _oneshot(spark, kill_env["in_dir"], kill_env["oneshot"])
    assert result["counts"] == one["counts"]
    _compare_outputs(spark, kill_env["out"], kill_env["oneshot"])


def test_kill_before_cow_resumes(spark, kill_env, tmp_path_factory):
    """Kill AFTER the new batch's writes but BEFORE the supersede commit: the
    hub transiently holds the superseded conversations twice; the re-run
    must converge to the deduplicated final state."""
    base = tmp_path_factory.mktemp("inc_kill2")
    in_dir = str(base / "input")
    os.makedirs(in_dir)
    _copy_parts(f"{kill_env['stage']}/a", in_dir, "batch_a")
    out = str(base / "out")
    assert run_incremental(spark, in_dir, out, CFG)["batch_id"] == 0
    _copy_parts(f"{kill_env['stage']}/c", in_dir, "batch_c")
    with pytest.raises(RuntimeError, match="injected kill at new_batch"):
        run_incremental(spark, in_dir, out, CFG, fail_at="new_batch")
    # the manifest has no batch record yet, so the re-run redoes batch 1
    result = run_incremental(spark, in_dir, out, CFG)
    assert result["batch_id"] == 1
    assert result["superseded_convs"] == 2
    one = _oneshot(spark, in_dir, str(base / "oneshot"))
    assert result["counts"] == one["counts"]
    _compare_outputs(spark, out, str(base / "oneshot"))


def _add_bucket_mate(spark, stage: str, in_dir: str) -> None:
    """Add a copy of c0 under a conv_id in c0's bucket, so that bucket
    keeps retained rows when c0 is superseded and its hub dir is swapped
    by rename (the 'hub_rename' kill window)."""
    import zlib

    bucket = zlib.crc32(EXT_FILL_CONV.encode()) % 32
    mate = next(
        f"{EXT_FILL_CONV}_mate{i}"
        for i in range(10_000)
        if zlib.crc32(f"{EXT_FILL_CONV}_mate{i}".encode()) % 32 == bucket
    )
    mate_dir = f"{in_dir}_mate"
    spark.read.parquet(f"{stage}/a").filter(F.col("conv_id") == EXT_FILL_CONV).withColumn(
        "conv_id", F.lit(mate)
    ).coalesce(1).write.mode("overwrite").parquet(mate_dir)
    _copy_parts(mate_dir, in_dir, "batch_a_mate")


def test_kill_after_first_hub_rename_resumes(spark, kill_env, tmp_path_factory):
    """Kill inside the supersede commit, right after its first hub
    rename: part of the hub is swapped, the rest and the tombstones are
    still staged. The re-run must finish the commit and converge to the
    one-shot outputs and counts."""
    base = tmp_path_factory.mktemp("inc_kill3")
    in_dir = str(base / "input")
    os.makedirs(in_dir)
    _copy_parts(f"{kill_env['stage']}/a", in_dir, "batch_a")
    _add_bucket_mate(spark, kill_env["stage"], in_dir)
    out = str(base / "out")
    assert run_incremental(spark, in_dir, out, CFG)["batch_id"] == 0
    _copy_parts(f"{kill_env['stage']}/c", in_dir, "batch_c")
    with pytest.raises(RuntimeError, match="injected kill at hub_rename"):
        run_incremental(spark, in_dir, out, CFG, fail_at="hub_rename")
    result = run_incremental(spark, in_dir, out, CFG)
    assert result["batch_id"] == 1
    assert result["superseded_convs"] == 2
    one = _oneshot(spark, in_dir, str(base / "oneshot"))
    assert result["counts"] == one["counts"]
    _compare_outputs(spark, out, str(base / "oneshot"))
    assert not os.path.exists(os.path.join(out, "_staging", "b1"))


def test_b3_double_supersede_extension_only_batch(spark, env):
    """Batch D holds ONLY late turns for a conversation already
    recomputed into batch 2 by the previous overlap — the supersede must
    chase the conversation to its CURRENT batch, and a batch with zero new
    conversations must still commit cleanly."""
    hub = spark.read.parquet(f"{env['out']}/classified")
    tail = (
        hub.filter(F.col("conv_id") == EXT_FILL_CONV)
        .agg(F.max("turn_idx").alias("m"))
        .collect()[0]["m"]
    )
    ts = datetime.datetime(2026, 2, 1)
    ext2 = spark.createDataFrame(
        [(EXT_FILL_CONV, tail + 1, "user", "second extension line", "lambda", ts)],
        schema=hub.select("conv_id", "turn_idx", "role", "text", "tool", "ts").schema,
    )
    ext2.coalesce(1).write.mode("overwrite").parquet(f"{env['stage']}/d")
    _copy_parts(f"{env['stage']}/d", env["in_dir"], "batch_d")

    result = run_incremental(spark, env["in_dir"], env["out"], CFG)
    assert result["batch_id"] == 3
    assert result["superseded_convs"] == 1
    one = _oneshot(spark, env["in_dir"], env["oneshot"])
    assert result["counts"] == one["counts"]
    _compare_outputs(spark, env["out"], env["oneshot"])

    hub = spark.read.parquet(f"{env['out']}/classified")
    where = (
        hub.filter(F.col("conv_id") == EXT_FILL_CONV)
        .select("ingest_batch")
        .distinct()
        .collect()
    )
    # the conversation now lives ONLY in batch 3 (chased out of batch 2)
    assert [r["ingest_batch"] for r in where] == [3]


def test_hub_lookup_prunes_partitions(spark, env):
    looked = hub_lookup(spark, env["out"], EXT_FLIP_CONV)
    full = (
        spark.read.parquet(f"{env['out']}/classified")
        .filter(F.col("conv_id") == EXT_FLIP_CONV)
    )
    got = sorted(map(tuple, looked.select(*sorted(looked.columns)).collect()))
    want = sorted(map(tuple, full.select(*sorted(full.columns)).collect()))
    assert got and got == want
    # plan-level: the conv_bucket predicate lands in PartitionFilters,
    # so the scan reads one bucket directory per batch, not the table
    plan = looked._jdf.queryExecution().executedPlan().toString()
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "conv_bucket" in pf.group(1), plan


@pytest.fixture(scope="module")
def staged_only(spark, template_df, tmp_path_factory):
    """An out_dir whose first batch was killed right after staging: a
    ``.staged`` record and no batch record."""
    base = tmp_path_factory.mktemp("staged_only")
    in_dir, out = str(base / "in"), str(base / "out")
    template_df.coalesce(1).write.parquet(in_dir)
    with pytest.raises(RuntimeError, match="injected kill at staged"):
        run_incremental(spark, in_dir, out, CFG, fail_at="staged")
    return out


def test_live_rows_refuses_out_dir_without_batch_record(spark, staged_only):
    msg = f"no incremental batch record in {re.escape(staged_only)}"
    with pytest.raises(ValueError, match=msg):
        live_rows(spark, staged_only, "logging")


def test_hub_lookup_refuses_out_dir_without_batch_record(spark, staged_only):
    msg = f"no incremental batch record in {re.escape(staged_only)}"
    with pytest.raises(ValueError, match=msg):
        hub_lookup(spark, staged_only, "c0")


@pytest.fixture(scope="module")
def split_c(spark, env):
    """Batch C split into extensions-only and new-convs-only file sets."""
    a = spark.read.parquet(f"{env['stage']}/a")
    ext = _extension_rows(spark, a)
    ext.coalesce(1).write.mode("overwrite").parquet(f"{env['stage']}/c_ext")
    t = transcripts_from_events(spark, SF_DIR)
    t.filter(_grp(F.col("conv_id")) == 2).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{env['stage']}/c_new")
    return env["stage"]


def _fresh(tmp_path_factory, stage, name):
    base = tmp_path_factory.mktemp(name)
    in_dir = str(base / "input")
    os.makedirs(in_dir)
    _copy_parts(f"{stage}/a", in_dir, "batch_a")
    return in_dir, str(base / "out"), str(base / "oneshot")


def test_files_arriving_during_recovery_restage(spark, split_c, tmp_path_factory):
    """Kill at 'staged', then MORE input files arrive before the re-run:
    the staged record fixed batch 1's files, so one plain re-run
    finishes batch 1 with exactly those and ingests the arrivals as
    batch 2. Re-using the frozen overlap decision for the arrivals would
    duplicate c0/c3 across batches 0 and 1."""
    in_dir, out, oneshot = _fresh(tmp_path_factory, split_c, "inc_regrow")
    assert run_incremental(spark, in_dir, out, CFG)["batch_id"] == 0
    # the kill happens with a NO-overlap file set staged (affected = []);
    # the files that arrive next DO overlap
    _copy_parts(f"{split_c}/c_new", in_dir, "batch_c_new")
    with pytest.raises(RuntimeError, match="injected kill at staged"):
        run_incremental(spark, in_dir, out, CFG, fail_at="staged")
    _copy_parts(f"{split_c}/c_ext", in_dir, "batch_c_ext")
    result = run_incremental(spark, in_dir, out, CFG)
    assert result["batch_id"] == 2
    assert result["superseded_convs"] == 2
    b1 = ckpt.CheckpointLog(out).read("ingest.b1")
    assert b1["superseded_convs"] == 0
    assert all(f["file"].startswith("batch_c_new") for f in b1["files"])
    one = _oneshot(spark, in_dir, oneshot)
    assert result["counts"] == one["counts"]
    _compare_outputs(spark, out, oneshot)


def test_files_arriving_after_cow_commit_refused(spark, split_c, tmp_path_factory):
    """Kill at 'cow' (old hub pairs swapped, tombstones committed), then
    more files arrive: one plain re-run finishes batch 1 with its staged
    files and ingests the arrivals as batch 2, with no operator step.
    (The name is kept from when this case was refused.)"""
    in_dir, out, oneshot = _fresh(tmp_path_factory, split_c, "inc_cowgrow")
    assert run_incremental(spark, in_dir, out, CFG)["batch_id"] == 0
    _copy_parts(f"{split_c}/c_ext", in_dir, "batch_c_ext")
    with pytest.raises(RuntimeError, match="injected kill at cow"):
        run_incremental(spark, in_dir, out, CFG, fail_at="cow")
    _copy_parts(f"{split_c}/c_new", in_dir, "batch_c_new")
    result = run_incremental(spark, in_dir, out, CFG)
    assert result["batch_id"] == 2
    assert result["superseded_convs"] == 0
    assert ckpt.CheckpointLog(out).read("ingest.b1")["superseded_convs"] == 2
    one = _oneshot(spark, in_dir, oneshot)
    assert result["counts"] == one["counts"]
    _compare_outputs(spark, out, oneshot)


def test_files_arriving_during_new_batch_recovery_restage(
    spark, split_c, tmp_path_factory
):
    """Kill at 'new_batch' — the batch's hub/sink partitions are already
    on disk, the supersede commit has not run — then more input files
    arrive before the re-run. The re-run replaces batch 1's directories
    from its staged files and decision, commits it, and ingests the
    arrivals as batch 2. Mirrors
    test_files_arriving_during_recovery_restage one failure window
    later."""
    in_dir, out, oneshot = _fresh(tmp_path_factory, split_c, "inc_nbgrow")
    assert run_incremental(spark, in_dir, out, CFG)["batch_id"] == 0
    # overlapping extension files are staged AND the new batch is fully
    # written (ingest_batch=1 partitions exist) when the kill hits
    _copy_parts(f"{split_c}/c_ext", in_dir, "batch_c_ext")
    with pytest.raises(RuntimeError, match="injected kill at new_batch"):
        run_incremental(spark, in_dir, out, CFG, fail_at="new_batch")
    _copy_parts(f"{split_c}/c_new", in_dir, "batch_c_new")
    result = run_incremental(spark, in_dir, out, CFG)
    assert result["batch_id"] == 2
    one = _oneshot(spark, in_dir, oneshot)
    assert result["counts"] == one["counts"]
    _compare_outputs(spark, out, oneshot)


def test_files_arriving_after_hub_rename_converge(spark, split_c, tmp_path_factory):
    """Kill inside the supersede commit, then more files arrive: one
    plain re-run finishes the commit for batch 1's staged files and
    ingests the arrivals as batch 2."""
    in_dir, out, oneshot = _fresh(tmp_path_factory, split_c, "inc_renamegrow")
    _add_bucket_mate(spark, split_c, in_dir)
    assert run_incremental(spark, in_dir, out, CFG)["batch_id"] == 0
    _copy_parts(f"{split_c}/c_ext", in_dir, "batch_c_ext")
    with pytest.raises(RuntimeError, match="injected kill at hub_rename"):
        run_incremental(spark, in_dir, out, CFG, fail_at="hub_rename")
    _copy_parts(f"{split_c}/c_new", in_dir, "batch_c_new")
    result = run_incremental(spark, in_dir, out, CFG)
    assert result["batch_id"] == 2
    one = _oneshot(spark, in_dir, oneshot)
    assert result["counts"] == one["counts"]
    _compare_outputs(spark, out, oneshot)


def test_staged_file_removed_before_rerun_refused(spark, split_c, tmp_path_factory):
    """Kill at 'staged', then one of the staged input files is deleted:
    the staged record fixed the batch's files, so the re-run refuses it
    like a recorded file instead of silently staging a smaller batch."""
    in_dir, out, _ = _fresh(tmp_path_factory, split_c, "inc_stagedel")
    assert run_incremental(spark, in_dir, out, CFG)["batch_id"] == 0
    _copy_parts(f"{split_c}/c_new", in_dir, "batch_c_new")
    _copy_parts(f"{split_c}/c_ext", in_dir, "batch_c_ext")
    with pytest.raises(RuntimeError, match="injected kill at staged"):
        run_incremental(spark, in_dir, out, CFG, fail_at="staged")
    os.remove(os.path.join(in_dir, "batch_c_ext_0.parquet"))
    with pytest.raises(ValueError, match="append-only"):
        run_incremental(spark, in_dir, out, CFG)


def test_append_reads_no_earlier_batch_sink_files(spark, env, tmp_path_factory):
    """An append counts from the previous batch record plus its own
    writes: with batch 0's sink files moved away, it still returns the
    one-shot counts over both batches."""
    in_dir, out, oneshot = _fresh(tmp_path_factory, env["stage"], "inc_noreread")
    assert run_incremental(spark, in_dir, out, CFG)["batch_id"] == 0
    sinks = ("infra", "logging", "chunk_stats")
    moves = [(os.path.join(out, s, "ingest_batch=0"), f"{out}_{s}_b0") for s in sinks]
    for src, dst in moves:
        os.rename(src, dst)
    _copy_parts(f"{env['stage']}/b", in_dir, "batch_b")  # disjoint from a
    result = run_incremental(spark, in_dir, out, CFG)
    for src, dst in moves:
        os.rename(dst, src)
    assert result["batch_id"] == 1
    assert result["superseded_convs"] == 0
    one = _oneshot(spark, in_dir, oneshot)
    assert result["counts"] == one["counts"]
    _compare_outputs(spark, out, oneshot)


def test_nonempty_tags_fingerprint_stable_across_runs(
    spark, split_c, tmp_path_factory
):
    """ADVICE r6 (medium): dict-valued config fields (tags) fingerprint
    as lists-of-tuples, which JSON round-trips to lists-of-lists — with
    any non-empty tags the second run used to raise 'config changed'."""
    cfg = PipelineConfig(logging_enabled=True, tags={"team": "ingest", "env": "ci"})
    in_dir, out, _ = _fresh(tmp_path_factory, split_c, "inc_tags")
    assert run_incremental(spark, in_dir, out, cfg)["batch_id"] == 0
    _copy_parts(f"{split_c}/c_new", in_dir, "batch_c_new")
    result = run_incremental(spark, in_dir, out, cfg)  # must not raise
    assert result["batch_id"] == 1


def test_deleted_recorded_input_file_refused(spark, split_c, tmp_path_factory):
    """ADVICE r6 (low): a recorded input file deleted from in_dir breaks
    the append-only invariant — refuse loudly instead of keeping output
    rows for inputs that no longer exist."""
    in_dir, out, _ = _fresh(tmp_path_factory, split_c, "inc_del")
    assert run_incremental(spark, in_dir, out, CFG)["batch_id"] == 0
    victim = next(
        f for f in sorted(os.listdir(in_dir)) if f.endswith(".parquet")
    )
    os.remove(os.path.join(in_dir, victim))
    _copy_parts(f"{split_c}/c_new", in_dir, "batch_c_new")
    with pytest.raises(ValueError, match="missing"):
        run_incremental(spark, in_dir, out, CFG)
