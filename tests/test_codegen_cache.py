"""Spark's generated-class cache holds the pipeline's working set.

Spark keeps compiled generated classes in an LRU cache
(``spark.sql.codegen.cache.maxEntries``, default 100 entries). One
``run_pipeline`` over the template corpus uses ~130 distinct classes, so
at the default every repeated run evicted its own classes and recompiled
about 100 of them, and every streaming micro-batch 30-50. ``get_spark``
sizes the cache to 1024; these tests pin that repeated runs and
micro-batches reuse compiled classes. A warm run is not pinned at zero:
AQE replans by stage completion order, so it can still generate a few
new classes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_log_ingestion_spark.config import PipelineConfig
from aws_log_ingestion_spark.operators import checkpoint as ckpt
from aws_log_ingestion_spark.plans.job import codegen_compilations, run_pipeline
from aws_log_ingestion_spark.streaming.stream_job import make_batch_processor

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
        compiled.append(ckpt.read_manifest(None, out)["chunks"]["codegen_classes"])
    assert None not in compiled, compiled
    assert compiled[2] <= 30, compiled


def test_micro_batches_reuse_compiled_classes(spark, template_df, template_meta_df, tmp_path):
    """Four micro-batches of disjoint conversations through the
    foreachBatch function: after the first, each compiles almost nothing."""
    conv_ids = sorted(r["conv_id"] for r in template_df.select("conv_id").distinct().collect())
    process = make_batch_processor(template_meta_df, str(tmp_path / "out"), CFG)
    compiled = []
    for batch_id in range(4):
        batch = template_df.filter(F.col("conv_id").isin(conv_ids[batch_id::4]))
        before = codegen_compilations(spark)
        process(batch, batch_id)
        compiled.append(codegen_compilations(spark) - before)
    assert max(compiled[1:]) <= 10, compiled
