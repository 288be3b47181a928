"""Dump .explain('formatted') for the load-bearing plans into
BENCH/plans.md and assert the physical properties the 100 TB design
depends on:

  * classify: exactly ONE Exchange (the conv_id shuffle) feeding both
    window computations
  * hub over conv_id-bucketed input (maintenance.bucketize_transcripts):
    ZERO hash Exchanges — the scan's clustering feeds the windows, the
    trace markers attach by broadcast join
  * enrich: BroadcastHashJoin (fact side never shuffles for the join)
  * sink scan: filter pushdown + column pruning reach the parquet scan
  * trace decode: every ArrowEvalPython (the trace UDF) sits directly
    on the NR-marker Filter branch — in the hub, the standalone melt and
    the chunk stage over a hub without fills
  * chunk_stats at the 1 MB cap: one pass over the hub — no
    FlatMapGroupsInPandas, no ArrowEvalPython, no SortAggregate, at
    most 2 hash Exchanges
"""

from __future__ import annotations

import io
import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from contextlib import redirect_stdout

from pyspark.sql import functions as F

from aws_log_ingestion_spark.config import PipelineConfig
from aws_log_ingestion_spark.operators.classify import classify
from aws_log_ingestion_spark.operators.enrich import enrich
from aws_log_ingestion_spark.operators.melt import melt_project
from aws_log_ingestion_spark.operators.route import infra_union
from aws_log_ingestion_spark.session import get_spark
from aws_log_ingestion_spark.sources import derive


def fmt(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def assert_decode_on_marker_filter(p: str) -> None:
    """Every ArrowEvalPython node's child is a Filter whose condition is
    the NR-marker predicate (not its negation): Arrow ships marker rows
    only."""
    on_filter = re.findall(r"ArrowEvalPython \((\d+)\)\n[ :|]*\+- Filter \((\d+)\)", p)
    n_arrow = len(re.findall(r"\(\d+\) ArrowEvalPython", p))
    assert on_filter and len(on_filter) == n_arrow, f"trace decode off the marker filter: {p}"
    for _, fid in on_filter:
        cond = re.search(rf"\({fid}\) Filter\n(?:.*\n)*?Condition : (.*)", p).group(1)
        assert "NR_LAMBDA_MONITORING" in cond and "NOT" not in cond, cond


def main() -> None:
    spark = get_spark("plans", cores=8)
    sf = "/root/testdata/sf0.001"
    work = tempfile.mkdtemp()
    cfg = PipelineConfig(logging_enabled=True)

    t = derive.transcripts_from_events(spark, sf)
    t.write.mode("overwrite").parquet(f"{work}/t")
    t = spark.read.parquet(f"{work}/t")
    meta = derive.conv_meta_from_events(spark, sf)

    sections = {}

    # production hub: classify + MELT fills + enrich. The ordered fill
    # window rides the classifier's conv_id exchange — ONE fact Exchange,
    # ONE (conv_id, turn_idx) Sort serving both window computations, the
    # trace decode Arrow UDF on the filtered marker branch, broadcast
    # enrich. This is the job's ONLY wide stage: logging and the chunk
    # cost pass downstream are projections of these columns.
    from aws_log_ingestion_spark.plans.job import prepare

    hub_df = prepare(t, meta, cfg)
    p = fmt(hub_df)
    sections["hub: classify + melt fills + enrich (production job stage 0, random layout)"] = p
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", p))
    assert n_exchanges == 2, f"expected 2 Exchanges (fact + broadcast build), got {n_exchanges}"
    n_sorts = len(re.findall(r"\(\d+\) Sort", p))
    assert n_sorts == 1, f"one Sort should serve max-window AND fills, got {n_sorts}"
    assert re.search(r"turn_idx#\d+ ASC", p), "fill window must sort by (conv_id, turn_idx)"
    assert "ArrowEvalPython" in p, "hub carries the trace decode"
    assert_decode_on_marker_filter(p)
    assert "BroadcastHashJoin" in p, "enrich must be a broadcast join"

    # production hub over the bucketize_transcripts layout: prepare()
    # sees the scan's conv_id hash partitioning and attaches the decoded
    # markers by join, so no fact row crosses an exchange; the write then
    # runs one task per bucket
    from aws_log_ingestion_spark.plans.job import conv_id_clustered
    from aws_log_ingestion_spark.plans.maintenance import bucketize_transcripts

    tb = bucketize_transcripts(spark, f"{work}/t", f"{work}/tb", "plans_transcripts", 8)
    assert conv_id_clustered(tb) and not conv_id_clustered(t), "layout detection"
    hub_tb = prepare(tb, meta, cfg)
    p = fmt(hub_tb)
    sections["hub over conv_id-bucketed input (production job stage 0, bucketize_transcripts)"] = p
    # the fact side is every join's left child, printed before the first
    # broadcast; the one Exchange left is conv_meta's dedup aggregate,
    # on the enrich broadcast's build side
    fact = hub_tb._jdf.queryExecution().executedPlan().toString().split("BroadcastExchange")[0]
    n_hash = len(re.findall(r"Exchange hashpartitioning", fact))
    assert n_hash == 0, f"bucketed hub must have no fact-side hash Exchange, got {n_hash}"
    assert "Bucketed: true" in fact, "the fact scan must read the buckets"
    n_bcast = len(re.findall(r"\(\d+\) BroadcastExchange", p))
    assert n_bcast == 2, f"expected the marker and enrich broadcasts, got {n_bcast}"
    n_sorts = len(re.findall(r"\(\d+\) Sort", p))
    assert n_sorts == 1, f"one Sort should serve max-window AND fills, got {n_sorts}"
    assert_decode_on_marker_filter(p)
    spark.sql("DROP TABLE IF EXISTS plans_transcripts")

    # infra-only hub (logging disabled -> no fills): NO sort at all —
    # the classification max-window needs only conv_id clustering
    p = fmt(prepare(t, meta, PipelineConfig(logging_enabled=False, infra_enabled=True)))
    sections["hub without logging (no fills -> sortless window)"] = p
    n_sorts = len(re.findall(r"\(\d+\) Sort", p))
    assert n_sorts == 1, f"no-fill hub should have the conv_id grouping Sort only, got {n_sorts}"
    assert not re.search(r"turn_idx#\d+ ASC", p), "no-fill hub must not sort by turn_idx"

    # full classify (with request fill): ONE sort serves both windows
    p = fmt(enrich(classify(t, cfg), meta))
    sections["classify with request-fill (one shared sort)"] = p
    n_sorts = len(re.findall(r"\(\d+\) Sort", p))
    assert n_sorts == 1, f"one Sort should serve both windows, got {n_sorts}"

    hub_df.write.mode("overwrite").parquet(f"{work}/hub")
    hub = spark.read.parquet(f"{work}/hub")

    lam = hub.filter(F.col("sink") == "lambda").select("conv_id", "turn_idx", "text")
    p = fmt(lam)
    sections["sink read (filter pushdown + pruning)"] = p
    assert "PushedFilters: [IsNotNull(sink), EqualTo(sink,lambda)]" in p, "filter not pushed"
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "conv_id", "turn_idx", "text", "sink",
    }, f"column pruning failed: {m and m.group(1)}"

    p = fmt(infra_union(hub, cfg))
    sections["infra_union (single-pass partitioned sink)"] = p
    assert "Exchange" not in p, "infra_union must be narrow (no shuffle)"

    # production chunk_stats at the 1 MB cap: both legs from one pass
    # over the hub, the walk left to a follow-up that runs only when the
    # write sees a row over the cap
    from aws_log_ingestion_spark.operators.chunks import sink_chunk_counts

    singles, _ = sink_chunk_counts(hub, cfg)
    p = fmt(singles)
    sections["chunk_stats (production, 1 MB cap): one hub pass, no walk"] = p
    assert "FlatMapGroupsInPandas" not in p, "the common-case chunk plan must not walk"
    assert "ArrowEvalPython" not in p, "the common-case chunk plan must not run Python"
    assert "SortAggregate" not in p, "the chunk aggregates must stay hash aggregates"
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange$", p, re.M))
    assert n_exchanges <= 2, f"chunk_stats: at most the 2 aggregates' exchanges, got {n_exchanges}"

    # hub carries the fills -> the logging sink is a PURE projection:
    # zero exchanges, zero windows, zero Python (the 10^12-turn property)
    p = fmt(melt_project(hub, cfg))
    sections["melt_project over the hub (pure projection — the logging sink)"] = p
    assert "Exchange" not in p, "hub-fed melt must not shuffle"
    assert "Window" not in p, "hub-fed melt must not re-run fills"
    assert "ArrowEvalPython" not in p, "hub-fed melt must not re-decode traces"

    # standalone melt (no hub fills): the self-filling path still costs
    # exactly one conv_id exchange with the Arrow decode on markers only
    p = fmt(melt_project(spark.read.parquet(f"{work}/t"), cfg))
    sections["melt_project standalone (self-filling fallback)"] = p
    assert "ArrowEvalPython" in p, "trace decode should be Arrow-vectorized"
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", p))
    assert n_exchanges == 1, f"melt should reuse one conv_id exchange, got {n_exchanges}"
    assert_decode_on_marker_filter(p)

    # chunk stage over a hub WITHOUT the fills (classify + enrich only):
    # the logging costs take their fills from with_melt_fills, so the
    # trace decode runs on the NR-marker branch, never on every row
    from aws_log_ingestion_spark.operators.chunks import chunk_census

    p = fmt(chunk_census(enrich(classify(t, cfg), meta), "logging", cfg))
    sections["chunk_census logging over a hub without fills"] = p
    assert "ArrowEvalPython" in p, "fill-less chunk stage must decode traces"
    assert_decode_on_marker_filter(p)

    # embedding near-dup: bucketed equi-join, never a cartesian product
    from aws_log_ingestion_spark.operators.similarity import neardup_pairs_lsh

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    p = fmt(neardup_pairs_lsh(emb, threshold=0.35, probe_hamming=2))
    sections["embedding_neardup (LSH candidates + exact verify)"] = p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, (
        "neardup must join on bucket keys, not cross-join"
    )

    out = ["# Physical plans (judge reference) — generated by scripts/dump_plans.py\n"]
    out.append(
        "Asserted properties: hub = 1 fact Exchange + 1 shared Sort + "
        "BroadcastHashJoin, carrying the MELT fills; over conv_id-bucketed "
        "input the hub has 0 hash Exchanges (markers and enrich broadcast); "
        "sink reads push "
        "`sink=` filters and prune to read columns; infra_union is "
        "shuffle-free; hub-fed MELT is a PURE projection (no "
        "Exchange/Window/Python); standalone MELT keeps the one-exchange "
        "self-filling path; in the hub, the standalone MELT and the "
        "chunk stage over a hub without fills, every Arrow trace decode "
        "sits on the NR-marker Filter branch (marker rows only); the "
        "production chunk_stats plan at the 1 MB cap has no pandas walk, "
        "no Python UDF, no SortAggregate and at most 2 hash Exchanges.\n"
    )
    for name, plan in sections.items():
        out.append(f"\n## {name}\n\n```\n{plan}\n```\n")
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/plans.md", "w") as f:
        f.write("\n".join(out))
    print("plans ok; wrote BENCH/plans.md")
    spark.stop()


if __name__ == "__main__":
    main()
