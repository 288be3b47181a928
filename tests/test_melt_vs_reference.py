"""Differential tests for the MELT (logging) projection vs
``_package_log_payload`` (/root/reference/src/function.py:511-566)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_log_ingestion_spark.operators.melt import melt_project, to_payload_struct
from aws_log_ingestion_spark.sources import datagen
from reference_oracle import oracle_melt, requires_reference, rows_to_entry


def _oracle_logs(name: str, conv_id: str) -> list[dict]:
    rows = datagen.template_rows(name, conv_id)
    tool = rows[0]["tool"]
    entry = rows_to_entry(
        rows, datagen.log_group_for(tool, conv_id), "stream-1", "463657938898"
    )
    return oracle_melt(entry)[0]["logs"]


@pytest.fixture(scope="module")
def melted(template_df):
    return melt_project(template_df).cache()


def _spark_logs(melted, conv_id: str) -> list[dict]:
    return [
        r.asDict()
        for r in melted.filter(F.col("conv_id") == conv_id).orderBy("turn_idx").collect()
    ]


@pytest.mark.parametrize("name", sorted(datagen.TEMPLATES))
@requires_reference
def test_melt_per_turn_parity(melted, name):
    """message, timestamp, trace.id and lambda_request_id match the
    reference per turn, in order — including the trace-clear semantics
    (failed NR decode resets the carry) and the unfiltered-tee property
    (every turn appears, even non-lambda sinks)."""
    idx = sorted(datagen.TEMPLATES).index(name)
    conv_id = f"c{idx}"
    expected = _oracle_logs(name, conv_id)
    got = _spark_logs(melted, conv_id)
    assert len(got) == len(expected), f"{name}: row count"
    for g, e in zip(got, expected):
        assert g["message"] == e["message"]
        assert g["timestamp"] == e["timestamp"]
        assert g["trace_id"] == e.get("trace.id"), f"{name} turn {g['turn_idx']}"
        assert g["lambda_request_id"] == e["attributes"]["aws"].get(
            "lambda_request_id"
        ), f"{name} turn {g['turn_idx']}"


def test_trace_decode_and_clear(melted):
    """trace_fill template: decodable marker attaches trace-abc-123 to its
    own and following turns; the later undecodable marker CLEARS it."""
    idx = sorted(datagen.TEMPLATES).index("trace_fill")
    got = [r["trace_id"] for r in melted.filter(F.col("conv_id") == f"c{idx}").orderBy("turn_idx").collect()]
    assert got == [None, "trace-abc-123", "trace-abc-123", None, None]


def test_trace_decode_span_fallback(spark):
    """_get_trace_id falls back to span_event_data (reference :611-615)."""
    from aws_log_ingestion_spark.functions.tracing import decode_trace_id_str

    line = datagen.nr_marker_with_trace("span-trace-9", key="span_event_data")
    assert decode_trace_id_str(line) == "span-trace-9"
    assert decode_trace_id_str(datagen.NR_SHORT) == ""
    assert decode_trace_id_str("not json at all") == ""


def test_payload_struct_shape(template_df):
    """Nested fold: one row per conversation, logs ordered by turn."""
    folded = to_payload_struct(melt_project(template_df)).collect()
    assert len(folded) == len(datagen.TEMPLATES)
    by_conv = {r["conv_id"]: r for r in folded}
    idx = sorted(datagen.TEMPLATES).index("plain_multi")
    logs = by_conv[f"c{idx}"]["logs"]
    assert [l["message"] for l in logs] == ["Test Message 1", "Test Message 2", "Test Message 3"]
    common = by_conv[f"c{idx}"]["common"]
    assert common["attributes"]["plugin"]["version"] == "2.11.2"


def test_melt_is_unfiltered_tee(melted, template_df):
    assert melted.count() == template_df.count()


def test_melt_project_on_hub_fills_is_pure_projection(spark, template_df, tmp_path):
    """Production shape (plans/job.py): the hub materialises trace_id /
    lambda_request_id via with_melt_fills, and melt_project over that hub
    must (a) produce byte-identical rows to the self-filling path and
    (b) compile to a plan with ZERO exchanges and zero window sorts —
    the logging sink is then a pure scan->project->write at 10^12 turns."""
    from aws_log_ingestion_spark.operators.melt import with_melt_fills

    # materialise the hub exactly as the job does (parquet write + read):
    # the logging plan must then be projection-only over the scan
    with_melt_fills(template_df).write.parquet(str(tmp_path / "hub"))
    hub = spark.read.parquet(str(tmp_path / "hub"))
    out = melt_project(hub)

    self_filling = melt_project(template_df)
    key = lambda d: (d["conv_id"], d["turn_idx"])
    got = sorted((r.asDict() for r in out.collect()), key=key)
    want = sorted((r.asDict() for r in self_filling.collect()), key=key)
    assert got == want

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan


def _expected_fills() -> dict[tuple[str, int], tuple[str | None, str | None]]:
    """(conv_id, turn_idx) -> (trace_id, lambda_request_id) of the
    template corpus from a plain per-conversation loop: a marker line's
    decode replaces the carried trace id ('' clears it), and a request
    id found under the lambda log-group prefix replaces the carried one
    (reference :519-532 and :538-545)."""
    import re

    from aws_log_ingestion_spark.config import PipelineConfig
    from aws_log_ingestion_spark.functions import patterns as P
    from aws_log_ingestion_spark.functions.tracing import decode_trace_id_str

    prefix = PipelineConfig().lambda_prefix
    by_conv: dict[str, list[dict]] = {}
    for r in datagen.all_template_rows():
        by_conv.setdefault(r["conv_id"], []).append(r)
    want = {}
    for conv_id, rows in by_conv.items():
        trace = rid = None
        is_lambda = datagen.log_group_for(rows[0]["tool"], conv_id).startswith(prefix)
        for r in sorted(rows, key=lambda r: r["turn_idx"]):
            text = r["text"]
            if re.match(P.NR_MONITORING, text):
                trace = decode_trace_id_str(text) or None
            m = re.search(P.REQUEST_ID, text) if is_lambda else None
            if m:
                rid = m.group(1)
            want[(conv_id, r["turn_idx"])] = (trace, rid)
    return want


def test_carry_decode_fills_equal_split_scan(spark, template_df):
    """Every fill shape — the union attach, ``carry_decode="marker_join"``
    and the salted scan over several blocks per conversation — yields
    per turn the trace_id and lambda_request_id of a plain Python loop
    over the template corpus, including the failed-decode '' clear."""
    from aws_log_ingestion_spark.operators.melt import (
        with_melt_fills,
        with_melt_fills_salted,
    )

    want = _expected_fills()
    assert any(t for t, _ in want.values()), "corpus must decode a trace id"
    assert any(r for _, r in want.values()), "corpus must carry a request id"
    for name, filled in [
        ("union", with_melt_fills(template_df)),
        ("marker_join", with_melt_fills(template_df, carry_decode="marker_join")),
        ("salted", with_melt_fills_salted(template_df, salt_range=2)),
    ]:
        got = {
            (r["conv_id"], r["turn_idx"]): (r["trace_id"], r["lambda_request_id"])
            for r in filled.collect()
        }
        assert got == want, name
    with pytest.raises(ValueError):
        with_melt_fills(template_df, carry_decode=True)


def test_bucketed_hub_is_exchange_free(spark, template_df, tmp_path):
    """Over a conv_id-BUCKETED table, the full hub (carry fills +
    classify + enrich) must plan with ZERO fact-side exchanges: the scan
    provides the clustering, all three windows stack on one sort, and
    the trace decode runs after them (bench.py bucketed-input mode — the
    explicit-partitioning 10^12-turn ingest design)."""
    import re

    from aws_log_ingestion_spark.config import PipelineConfig
    from aws_log_ingestion_spark.operators.classify import classify
    from aws_log_ingestion_spark.operators.enrich import enrich
    from aws_log_ingestion_spark.operators.melt import (
        decode_carried_traces,
        with_melt_fills,
    )
    from aws_log_ingestion_spark.sources import datagen as dg

    cfg = PipelineConfig(logging_enabled=True)
    spark.sql("DROP TABLE IF EXISTS bt_test")
    (
        template_df.repartition(4, F.col("conv_id"))
        .write.option("path", str(tmp_path / "bt"))
        .bucketBy(4, "conv_id")
        .sortBy("conv_id", "turn_idx")
        .saveAsTable("bt_test")
    )
    try:
        tb = spark.table("bt_test")
        rows = dg.all_template_rows()
        meta = dg.meta_to_spark_df(spark, dg.conv_meta_rows(rows))
        hub = enrich(
            classify(
                with_melt_fills(tb, cfg, carry_decode="marker_join"),
                cfg,
                fill_request_ids=False,
            ),
            meta,
        )
        plan = hub._jdf.queryExecution().executedPlan().toString()
        fact_side = plan.split("BroadcastExchange")[0]
        assert not re.search(r"\bExchange hashpartitioning", fact_side), fact_side
        # and it still computes the right thing
        std = enrich(
            classify(with_melt_fills(template_df, cfg), cfg, fill_request_ids=False),
            meta,
        )
        cols = ["conv_id", "turn_idx", "sink", "trace_id", "lambda_request_id"]
        assert sorted(map(tuple, hub.select(cols).collect())) == sorted(
            map(tuple, std.select(cols).collect())
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_test")
