"""Spark's generated-class cache holds the pipeline's working set.

Spark keeps compiled generated classes in an LRU cache
(``spark.sql.codegen.cache.maxEntries``, default 100 entries). One
``run_pipeline`` over the template corpus uses ~130 distinct classes, so
at the default every repeated run evicted its own classes and recompiled
about 100 of them. ``get_spark`` sizes the cache to 1024; these tests
pin that repeated ``run_pipeline`` runs and ``run_incremental`` appends
reuse compiled classes. A warm run is not pinned at zero: AQE replans by
stage completion order, so it can still generate a few new classes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_log_ingestion_spark.config import PipelineConfig
from aws_log_ingestion_spark.operators import checkpoint as ckpt
from aws_log_ingestion_spark.plans.incremental import run_incremental
from aws_log_ingestion_spark.plans.job import codegen_compilations, run_pipeline

CFG = PipelineConfig(logging_enabled=True)


def test_session_sizes_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1024"


def test_third_pipeline_run_reuses_compiled_classes(
    spark, template_df, template_meta_df, tmp_path
):
    compiled = []
    for i in range(3):
        out = str(tmp_path / f"run{i}")
        run_pipeline(spark, template_df, template_meta_df, out, CFG, resume=False)
        compiled.append(ckpt.read_manifest(out)["chunks"]["codegen_classes"])
    assert None not in compiled, compiled
    assert compiled[2] <= 30, compiled


def test_third_append_reuses_compiled_classes(spark, template_df, tmp_path):
    """A bootstrap and three appends in one session, each append with new
    conversations plus late turns of one bootstrapped conversation. Each
    batch is written into its own ingest_batch directory without a batch
    column, so no write stage's generated code holds the batch id and the
    third append compiles almost nothing (with a literal batch column,
    the hub's and the sinks' write stages compiled 8 classes per append)."""
    conv_ids = sorted(r["conv_id"] for r in template_df.select("conv_id").distinct().collect())
    in_dir, out = str(tmp_path / "in"), str(tmp_path / "out")
    boot = conv_ids[0::4]
    template_df.filter(F.col("conv_id").isin(boot)).coalesce(1).write.parquet(f"{in_dir}/b0")
    run_incremental(spark, in_dir, out, CFG)
    compiled = []
    for i in range(1, 4):
        late = template_df.filter(F.col("conv_id") == boot[i - 1]).withColumn(
            "turn_idx", F.col("turn_idx") + 1000
        )
        template_df.filter(F.col("conv_id").isin(conv_ids[i::4])).unionByName(late).coalesce(
            1
        ).write.parquet(f"{in_dir}/b{i}")
        before = codegen_compilations(spark)
        result = run_incremental(spark, in_dir, out, CFG)
        compiled.append(codegen_compilations(spark) - before)
        assert result["batch_id"] == i and result["superseded_convs"] == 1
    assert compiled[2] <= 3, compiled
