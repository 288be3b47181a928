"""Differential parity for the Catalyst/DuckDB JSON byte-cost arithmetic
(functions/jsoncost.py) against the REAL ``json.dumps`` and the runtime
cost functions (functions/chunking.py:event_cost_*), over adversarial
unicode. This is what licenses the zero-gzip fast chunk path: if these
hold, per-conversation raw sizes from pure Catalyst are exact.
"""

from __future__ import annotations

import json

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from aws_log_ingestion_spark.config import PipelineConfig
from aws_log_ingestion_spark.functions import chunking as C
from aws_log_ingestion_spark.functions import jsoncost as jc
from aws_log_ingestion_spark.operators.chunks import (
    _META,
    _envelope,
    _payload_text,
    chunk_counts_fast,
    chunk_raw_costs,
    chunk_replay,
)
from aws_log_ingestion_spark.operators.classify import classify
from aws_log_ingestion_spark.sources import datagen
from reference_oracle import rows_to_entry

ADVERSARIAL = [
    "",
    "plain ascii line",
    'quote " inside',
    "back\\slash \\\\ two",
    "tab\tnl\ncr\rff\x0cbs\x08",
    "ctl \x01\x02\x1f\x00end",
    "café latin-1 supplément",
    "中文テスト 한글",
    "emoji \U0001f600\U0001f680!",
    'mix " \\ \t é 中 \U0001f680 \x05 end',
]


def _esc1(s: str) -> int:
    return len(json.dumps(s).encode()) - 2


def _esc2(s: str) -> int:
    inner = json.dumps(s)[1:-1]
    return len(json.dumps(inner).encode()) - 2


@pytest.mark.parametrize("depth", [1, 2])
def test_spark_esc_len_matches_json_dumps(spark, depth):
    df = spark.createDataFrame([(s,) for s in ADVERSARIAL], ["s"])
    got = [r[0] for r in df.select(jc.esc_len(F.col("s"), depth)).collect()]
    want = [(_esc1 if depth == 1 else _esc2)(s) for s in ADVERSARIAL]
    assert got == want


@pytest.mark.parametrize("depth", [1, 2])
def test_duckdb_esc_len_matches_json_dumps(depth):
    con = duckdb.connect()
    for s in ADVERSARIAL:
        got = con.execute(
            f"SELECT {jc.esc_len_sql('x', depth)} FROM (SELECT ? AS x) t", [s]
        ).fetchone()[0]
        assert got == (_esc1 if depth == 1 else _esc2)(s), repr(s)


def _cost_rows():
    rows = []
    for i, text in enumerate(ADVERSARIAL):
        for turn in (0, 7, 1234567):
            for ts in (5, 1548935491000):
                rows.append((text, turn, ts, None, None))
                rows.append((text, turn, ts, "", None))
                rows.append((text, turn, ts, "trace-fixed-0001", "a" * 36))
                rows.append((text, turn, ts, 'tr "\\é', 'rid\t中'))
    return rows


_COST_SCHEMA = StructType(
    [
        StructField("text", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("ts_millis", LongType()),
        StructField("trace", StringType()),
        StructField("rid", StringType()),
    ]
)


def test_event_cost_logging_expr_matches_pure(spark):
    rows = _cost_rows()
    df = spark.createDataFrame(rows, _COST_SCHEMA)
    got = [
        r[0]
        for r in df.select(
            jc.event_cost_logging_expr(
                F.col("text"), F.col("ts_millis"), F.col("trace"), F.col("rid")
            )
        ).collect()
    ]
    want = [
        C.event_cost_logging(
            C.build_log_message(
                text, ts, trace_id=(trace or None), lambda_request_id=rid
            )
        )
        for text, _turn, ts, trace, rid in rows
    ]
    assert got == want


def test_event_cost_infra_expr_matches_pure(spark):
    rows = _cost_rows()
    df = spark.createDataFrame(rows, _COST_SCHEMA)
    got = [
        r[0]
        for r in df.select(
            jc.event_cost_infra_expr(F.col("text"), F.col("turn_idx"), F.col("ts_millis"))
        ).collect()
    ]
    want = [
        C.event_cost_infra(
            {"id": C.make_event_id(12, turn), "timestamp": ts, "message": text}
        )
        for text, turn, ts, _trace, _rid in rows
    ]
    assert got == want


def test_duckdb_event_cost_logging_matches_pure():
    con = duckdb.connect()
    con.execute("CREATE OR REPLACE TABLE r (text VARCHAR, ts BIGINT, tr VARCHAR, rid VARCHAR)")
    rows = _cost_rows()
    con.executemany("INSERT INTO r VALUES (?, ?, ?, ?)", [(t, ts, tr, ri) for t, _u, ts, tr, ri in rows])
    sql = jc.event_cost_logging_sql("text", "ts", "tr", "rid")
    got = [x[0] for x in con.execute(f"SELECT {sql} FROM r").fetchall()]
    want = [
        C.event_cost_logging(
            C.build_log_message(t, ts, trace_id=(tr or None), lambda_request_id=ri)
        )
        for t, _u, ts, tr, ri in rows
    ]
    assert got == want


META_VARIANTS = [
    {
        "conv_id": "c12",
        "log_group": "/aws/lambda/fn-c12",
        "log_stream_name": "2019/01/31/[$LATEST]x",
        "owner": "463657938898",
        "function_name": "fn-c12",
        "invoked_function_arn": "arn:aws:lambda:us-east-1:463657938898:function:fn-c12",
    },
    {
        "conv_id": 'c"9é',
        "log_group": "/grp\twith\\odd",
        "log_stream_name": "stream 中\U0001f600",
        "owner": 'own"er',
        "function_name": "fn\\name",
        "invoked_function_arn": "arn \x01",
    },
]


@pytest.mark.parametrize("meta", META_VARIANTS)
@pytest.mark.parametrize("path", ["infra", "logging"])
def test_empty_len_exprs_match_pure(spark, meta, path):
    cfg = PipelineConfig(tags={"env": "prod", "team": "a-b"})
    want = C.empty_payload_len(_envelope(meta, path, cfg))
    lit = {k: F.lit(v) for k, v in meta.items()}
    if path == "infra":
        expr = jc.empty_len_infra_expr(
            lit["conv_id"],
            lit["log_group"],
            lit["log_stream_name"],
            lit["owner"],
            lit["function_name"],
            lit["invoked_function_arn"],
        )
    else:
        expr = jc.empty_len_logging_expr(cfg, lit["log_group"], lit["log_stream_name"])
    got = spark.range(1).select(expr).collect()[0][0]
    assert got == want
    # DuckDB twin on the same literals
    con = duckdb.connect()
    cols = ", ".join(f"? AS {k}" for k in meta)
    if path == "infra":
        sql = jc.empty_len_infra_sql(
            "conv_id", "log_group", "log_stream_name", "owner",
            "function_name", "invoked_function_arn",
        )
    else:
        sql = jc.empty_len_logging_sql(cfg, "log_group", "log_stream_name")
    got_d = con.execute(
        f"SELECT {sql} FROM (SELECT {cols}) t", list(meta.values())
    ).fetchone()[0]
    assert got_d == want


def _expected_conv_payload_bytes(path: str, cfg: PipelineConfig) -> dict[str, int]:
    """Ground truth: REAL json.dumps byte length of each template
    conversation's full payload, via the same builders the replay uses."""
    out = {}
    names = sorted(datagen.TEMPLATES)
    for i, name in enumerate(names):
        conv_id = f"c{i}"
        rows = datagen.template_rows(name, conv_id)
        tool = rows[0]["tool"]
        log_group = datagen.log_group_for(tool, conv_id)
        log_stream = "2019/01/31/[$LATEST]" + conv_id.lstrip("c").zfill(32)
        entry = rows_to_entry(rows, log_group, log_stream, "463657938898")
        if path == "infra":
            ctx = {
                "function_name": f"fn-{conv_id}",
                "invoked_function_arn": f"arn:aws:lambda:us-east-1:463657938898:function:fn-{conv_id}",
                "log_group_name": log_group,
                "log_stream_name": log_stream,
            }
            obj = C.build_infra_data(ctx, entry)
        else:
            obj = C.build_melt_payload(entry, lambda_prefix=cfg.lambda_prefix, tags=dict(cfg.tags))
        out[conv_id] = len(json.dumps(obj).encode())
    return out


@pytest.mark.parametrize("path", ["infra", "logging"])
def test_chunk_raw_costs_equal_real_payload_bytes(
    spark, template_df, template_meta_df, path
):
    from aws_log_ingestion_spark.operators.enrich import enrich

    cfg = PipelineConfig(max_payload_size=1000)
    hub = enrich(classify(template_df, cfg), template_meta_df)
    got = {r["conv_id"]: r.asDict() for r in chunk_raw_costs(hub, path, cfg).collect()}
    want = _expected_conv_payload_bytes(path, cfg)
    for conv_id, raw in want.items():
        assert got[conv_id]["raw_bytes"] == raw, conv_id
        assert got[conv_id]["fits_single"] == int(C.gz_len_upper_bound(raw) < 1000)
    # big_split must exceed the 1000-byte cap; small convs must fit at 1 MB
    assert any(v["fits_single"] == 0 for v in got.values())


@pytest.mark.parametrize("cap", [1000, 1000 * 1024])
@pytest.mark.parametrize("path", ["infra", "logging"])
def test_chunk_counts_fast_matches_exact_replay(
    spark, template_df, template_meta_df, cap, path
):
    from aws_log_ingestion_spark.operators.enrich import enrich

    cfg = PipelineConfig(max_payload_size=cap)
    hub = enrich(classify(template_df, cfg), template_meta_df)
    exact = {
        r["conv_id"]: r.asDict() for r in chunk_replay(hub, path, cfg).collect()
    }
    fast = {
        r["conv_id"]: r.asDict() for r in chunk_counts_fast(hub, path, cfg).collect()
    }
    assert set(fast) == set(exact)
    for conv_id in exact:
        assert fast[conv_id]["n_chunks"] == exact[conv_id]["n_chunks"], (conv_id, cap)
        assert fast[conv_id]["n_events"] == exact[conv_id]["n_events"]
        assert fast[conv_id]["sink"] == exact[conv_id]["sink"]


@pytest.mark.parametrize("cap", [1000, 1000 * 1024])
def test_chunk_counts_fast_reuses_hub_fills(
    spark, template_df, template_meta_df, cap, tmp_path
):
    """When the hub carries the materialised MELT fills
    (melt.with_melt_fills), the chunk cost pass reuses them instead of
    re-running the trace-decode UDF + refill window — results must be
    IDENTICAL to the recompute path, and the plan must not contain a
    pandas trace-decode eval."""
    from aws_log_ingestion_spark.operators.enrich import enrich
    from aws_log_ingestion_spark.operators.melt import with_melt_fills

    cfg = PipelineConfig(max_payload_size=cap)
    base = enrich(classify(template_df, cfg), template_meta_df)
    # materialised like the job's hub (parquet write + read), so the
    # reuse plan holds no decode of its own
    with_melt_fills(base, cfg).write.parquet(str(tmp_path / "hub"))
    hub = spark.read.parquet(str(tmp_path / "hub"))
    recompute = {
        r["conv_id"]: r.asDict()
        for r in chunk_counts_fast(base, "logging", cfg).collect()
    }
    reuse_df = chunk_counts_fast(hub, "logging", cfg)
    reuse = {r["conv_id"]: r.asDict() for r in reuse_df.collect()}
    assert reuse == recompute
    # the reuse plan must not pay a second Arrow trace-decode pass; the
    # recompute plan does pay one, so the check is live
    plan = lambda df: df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan(reuse_df)
    assert "ArrowEvalPython" in plan(chunk_counts_fast(base, "logging", cfg))


@pytest.mark.parametrize("path", ["infra", "logging"])
def test_walk_preserialized_assembly_bitexact_on_hostile_text(spark, path):
    """The pre-serialized string-join payload assembly in
    chunk_counts_fast's walk must stay bit-identical to whole-object
    json.dumps under escape-heavy text: unicode (ensure_ascii \\uXXXX),
    quotes, backslashes, tabs/newlines and control chars, in the events
    and in the envelope's owner and log stream — at a tiny cap so the
    ambiguous gzip band (the only place gz_len runs) is hit."""
    hostile = [
        'quote " and \\ backslash \t tab',
        "unicode é中文\U0001f600 mixed",
        "control \x01\x02 chars\nnewline",
        '"logs": [] marker-lookalike text',
        '\\"logEvents\\": [] escaped-marker lookalike',
    ]
    # append deterministic varied CJK junk so gzip can't collapse the
    # repetition — the payload must genuinely exceed the cap compressed
    rows = [
        (
            "c0",
            i,
            "assistant",
            hostile[i % len(hostile)]
            + "".join(chr(0x4E00 + (i * 397 + j * 131) % 20000) for j in range(400)),
            "lambda",
            1548935491000 + i,
        )
        for i in range(40)
    ]
    # envelope values holding both marker texts, raw and escaped: the
    # template's real events list must still be the split point
    markers = '"logs": [] "logEvents": [] \\"logEvents\\": []'
    df = (
        spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, text string, tool string, ts_ms long"
        )
        .withColumn("ts", (F.col("ts_ms") / 1000).cast("timestamp"))
        .drop("ts_ms")
        .withColumn("owner", F.lit(f"owner {markers}"))
        .withColumn("log_stream_name", F.lit(f"stream {markers}"))
    )
    cfg = PipelineConfig(max_payload_size=2000)
    hub = classify(df, cfg)
    exact = {r["conv_id"]: r.asDict() for r in chunk_replay(hub, path, cfg).collect()}
    fast = {
        r["conv_id"]: r.asDict()
        for r in chunk_counts_fast(hub, path, cfg).collect()
    }
    assert fast["c0"]["n_chunks"] == exact["c0"]["n_chunks"]
    assert fast["c0"]["n_chunks"] > 1  # the cap actually forced splitting
    assert fast["c0"]["n_events"] == 40


@pytest.mark.parametrize("path", ["infra", "logging"])
def test_walk_payload_text_splits_at_events_list(path):
    """The walk's string-join payload equals json.dumps of the whole
    payload byte for byte when every envelope value holds the
    events-list marker texts, raw and escaped. (gzip absorbs a misplaced
    or repeated insertion, so chunk counts alone cannot pin this.)"""
    markers = '"logs": [] "logEvents": [] \\"logEvents\\": []'
    first = {
        "conv_id": "c0",
        **{m: f"{m} {markers}" for m in _META},
        "log_group": f"/aws/lambda/fn {markers}",
    }
    msgs = [
        {"id": str(i), "timestamp": i, "message": f"event {i} {markers} é\t\x01"}
        for i in range(5)
    ]
    obj0 = _envelope(first, path, PipelineConfig())
    payload = _payload_text(obj0, path, [json.dumps(m) for m in msgs])
    for lo, hi in [(0, 0), (0, 1), (1, 4), (0, 5)]:
        if path == "infra":
            entry = {**json.loads(obj0["entry"]), "logEvents": msgs[lo:hi]}
            want = {"context": obj0["context"], "entry": json.dumps(entry)}
        else:
            want = [{"common": obj0[0]["common"], "logs": msgs[lo:hi]}]
        assert payload(lo, hi) == json.dumps(want), (lo, hi)
