"""Per-operator isolation benchmarks (guide §1.4) — NOT the graded bench.

``bench.py`` is frozen for measurement; this file exists so optimization
rounds can time each expensive query in isolation with the noop sink
(computation only, no sink cost), label jobs for the UI, and dump
``.explain("formatted")`` into plans/r07/. Usage:

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
        python bench_extra.py [job|chunk|docs|media|plans] ...

Prints one JSON line per group with phase timings (min of N walls plus
process-tree CPU seconds, the co-tenant-immune signal bench.py uses).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import _tree_cpu_seconds, materialize_input  # frozen helpers

from pyspark.sql import functions as F

from aws_log_ingestion_spark.config import PipelineConfig
from aws_log_ingestion_spark.operators import checkpoint as ckpt
from aws_log_ingestion_spark.operators.chunks import (
    chunk_counts_fast,
    chunk_replay,
    chunk_totals,
    chunk_totals_fast,
)
from aws_log_ingestion_spark.operators.melt import melt_project
from aws_log_ingestion_spark.operators.route import infra_union, route_counts
from aws_log_ingestion_spark.plans.job import prepare
from aws_log_ingestion_spark.session import get_spark
from aws_log_ingestion_spark.sources import derive

AMPLIFY = int(os.environ.get("SPARK_GRAFT_AMPLIFY", "50"))
REPS = int(os.environ.get("SPARK_GRAFT_EXTRA_REPS", "3"))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(spark, label: str, fn, reps: int = REPS) -> dict:
    walls, cpus = [], []
    for _ in range(reps):
        spark.catalog.clearCache()
        c0 = _tree_cpu_seconds()
        t0 = time.time()
        spark.sparkContext.setJobDescription(label)
        fn()
        spark.sparkContext.setJobDescription(None)
        walls.append(round(time.time() - t0, 3))
        cpus.append(round(_tree_cpu_seconds() - c0, 1))
    return {"min": min(walls), "walls": walls, "cpus": cpus}


def dump_plan(df, name: str) -> None:
    import io
    from contextlib import redirect_stdout

    os.makedirs("plans/r07", exist_ok=True)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    tag = os.environ.get("SPARK_GRAFT_PLAN_TAG", "before")
    with open(f"plans/r07/{name}_{tag}.txt", "w") as f:
        f.write(buf.getvalue())


def main() -> None:
    groups = set(sys.argv[1:]) or {"job", "chunk", "docs"}
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("bench_extra", cores=cpus)
    spark.range(1000).select(F.sum("id")).collect()

    out: dict = {"groups": sorted(groups), "amplify": AMPLIFY, "cpus": cpus}
    work = tempfile.mkdtemp(prefix="benchx_")
    try:
        in_path = f"{work}/transcripts"
        materialize_input(spark, sf_dir, AMPLIFY, in_path, bucketed=False)
        t = spark.read.parquet(in_path)
        meta = derive.conv_meta_from_events(spark, sf_dir)
        cfg = PipelineConfig(logging_enabled=True)

        if "job" in groups or "chunk" in groups:
            hub_df = prepare(t, meta, cfg)
            # warm codegen + python workers once
            noop(hub_df)

        if "job" in groups:
            out["hub_noop"] = timed(spark, "hub compute (noop)", lambda: noop(hub_df))
            dump_plan(hub_df, "hub")

            def hub_write():
                hub_df.write.mode("overwrite").options(
                    **ckpt.parquet_text_options(hub_df)
                ).parquet(f"{work}/classified")

            out["hub_write"] = timed(spark, "hub write", hub_write)
            hub = spark.read.parquet(f"{work}/classified")
            iu = infra_union(hub, cfg)
            out["infra_noop"] = timed(
                spark,
                "infra compute (noop)",
                lambda: noop(iu.sortWithinPartitions("sink", "conv_id", "turn_idx")),
            )
            dump_plan(iu, "infra_union")
            mp = melt_project(hub, cfg, decode_traces=True)
            out["logging_noop"] = timed(spark, "logging compute (noop)", lambda: noop(mp))
            dump_plan(mp, "melt_project")
            out["route_counts"] = timed(
                spark, "route_counts", lambda: route_counts(hub, cfg).collect()
            )
            dump_plan(route_counts(hub, cfg), "route_counts")

        if "chunk" in groups:
            if "job" not in groups:
                hub_df.write.mode("overwrite").options(
                    **ckpt.parquet_text_options(hub_df)
                ).parquet(f"{work}/classified")
            hub = spark.read.parquet(f"{work}/classified")
            cf = chunk_counts_fast(hub, "logging", cfg)
            out["chunk_fast_full"] = timed(
                spark,
                "chunk_counts_fast full",
                lambda: chunk_totals_fast(cf).collect(),
            )
            dump_plan(chunk_totals_fast(cf), "chunk_fast")
            sample = hub.filter(F.crc32(F.col("conv_id")) % 20 == 0)
            out["chunk_replay_5pct"] = timed(
                spark,
                "chunk_replay 5pct",
                lambda: chunk_totals(chunk_replay(sample, "logging", cfg)).collect(),
            )
            dump_plan(chunk_totals(chunk_replay(sample, "logging", cfg)), "chunk_replay")

        if "docs" in groups:
            from aws_log_ingestion_spark.operators import dedup as DD
            from aws_log_ingestion_spark.operators import text_analysis as TA

            docs_amp = int(os.environ.get("SPARK_GRAFT_DOCS_AMPLIFY", "20"))
            docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
            kk = F.explode(F.sequence(F.lit(0), F.lit(docs_amp - 1))).alias("k")
            amp = docs.select("doc_id", "text", "lang", "source", kk).select(
                (F.col("doc_id") * docs_amp + F.col("k")).alias("doc_id"),
                F.regexp_replace(
                    F.col("text"),
                    F.lit(" "),
                    F.concat(F.lit(" "), F.col("k").cast("string"), F.lit("q")),
                ).alias("text"),
                "lang",
                "source",
            )
            amp.repartition(32).write.mode("overwrite").parquet(f"{work}/docs_amp")
            docs_df = spark.read.parquet(f"{work}/docs_amp")
            docs_df.count()

            out["curate"] = timed(
                spark,
                "curate",
                lambda: TA.curate(docs_df).groupBy("verdict").count().collect(),
            )
            dump_plan(TA.curate(docs_df), "curate")
            out["minhash"] = timed(
                spark,
                "minhash_lsh_pairs",
                lambda: DD.minhash_lsh_pairs(docs_df, threshold=0.5).count(),
            )
            dump_plan(DD.minhash_lsh_pairs(docs_df, threshold=0.5), "minhash")
            # sub-phases: shingle+signature only; buckets join only
            out["minhash_sig_only"] = timed(
                spark,
                "minhash signatures only (noop)",
                lambda: noop(
                    DD.minhash_signatures(docs_df).select("doc_id", "h0", "h63")
                ),
            )
            out["rarity"] = timed(
                spark,
                "rarity_score",
                lambda: TA.rarity_score(docs_df).agg(F.sum("rarity_sum")).collect(),
            )
            dump_plan(TA.rarity_score(docs_df), "rarity")

        if "media" in groups:
            import numpy as np

            from aws_log_ingestion_spark.operators.jpeg import encode_jpeg
            from aws_log_ingestion_spark.operators.mp4 import encode_mp4_mjpeg
            from aws_log_ingestion_spark.operators.multimodal import (
                decoded_features,
                video_frame_features,
            )

            n_jpeg = int(os.environ.get("SPARK_GRAFT_JPEG_BENCH", "20000"))
            rr, cc = np.meshgrid(np.arange(64), np.arange(64), indexing="ij")
            img = ((rr * 3 + cc * 5 + (rr * cc) // 7) % 256).astype(np.uint8)
            payload = encode_jpeg(
                img[..., None].repeat(3, axis=2), quality=50, subsample=True
            )
            jm = spark.range(n_jpeg).select(
                F.col("id").alias("doc_id"),
                F.lit("image/jpeg").alias("media_type"),
                F.lit(bytes(payload)).alias("payload"),
            )
            out["jpeg_decode"] = timed(
                spark,
                "jpeg decode",
                lambda: decoded_features(jm).agg(F.sum("decoded")).collect(),
            )
            n_video = max(1, n_jpeg // 10)
            vid_payload = encode_mp4_mjpeg(
                [img[..., None].repeat(3, axis=2)] * 6, fps=6, quality=50
            )
            vm = spark.range(n_video).select(
                F.col("id").alias("doc_id"),
                F.lit("video/mp4").alias("media_type"),
                F.lit(bytes(vid_payload)).alias("payload"),
            )
            out["mp4_decode"] = timed(
                spark, "mp4 decode", lambda: video_frame_features(vm).count()
            )

        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
