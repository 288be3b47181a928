"""Config-surface parity: NR_TAGS parsing/merge, NEW_RELIC_FORMAT_LOGS
end-to-end, session-timeout arithmetic — each pinned against the
reference's own functions run under patched env."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_log_ingestion_spark.config import PipelineConfig, parse_tags
from aws_log_ingestion_spark.functions.timeouts import session_timeout_seconds
from aws_log_ingestion_spark.operators.classify import classify
from aws_log_ingestion_spark.operators.melt import melt_project
from aws_log_ingestion_spark.operators.route import infra_rows
from aws_log_ingestion_spark.sources import datagen
from reference_oracle import (
    load_reference,
    oracle_filtered_messages,
    requires_reference,
    rows_to_entry,
)


@requires_reference
def test_session_timeout_matches_reference():
    ref = load_reference()
    assert session_timeout_seconds() == ref._calculate_session_timeout() == 13


@pytest.mark.parametrize(
    "tags_str,delim",
    [
        ("env:prod;team:myTeam", ";"),
        ("env:prod", ";"),
        ("aws:foo;env:prod;plugin:bar;x:y", ";"),
        ("env:prod|team:a", "|"),
        ("", ";"),
    ],
)
@requires_reference
def test_parse_tags_matches_reference(monkeypatch, tags_str, delim):
    ref = load_reference()
    monkeypatch.setenv("NR_TAGS", tags_str)
    monkeypatch.setenv("NR_ENV_DELIMITER", delim)
    payload = [{"common": {"attributes": {}}}]
    ref._get_newrelic_tags(payload)
    assert parse_tags(tags_str, delim) == payload[0]["common"]["attributes"]


def test_tags_attached_as_columns(spark, template_df):
    cfg = PipelineConfig(tags=parse_tags("env:prod;team:myTeam"))
    melted = melt_project(template_df.limit(4), cfg, decode_traces=False)
    row = melted.collect()[0]
    assert row["tag_env"] == "prod" and row["tag_team"] == "myTeam"


@requires_reference
def test_format_logs_end_to_end_matches_reference(spark):
    """NEW_RELIC_FORMAT_LOGS=true: survivors of the lambda filter are
    reformatted exactly as the reference's filter loop does
    (/root/reference/src/function.py:199-202)."""
    ref = load_reference()
    rows = datagen.template_rows("dotnet", "c900")
    # make the 4-part tab line SURVIVE the filter so reformat applies:
    # prefix it with a REPORT marker (4 tab-separated parts incl. part 1)
    rows[2]["text"] = "REPORT RequestId: x\t2024\tMyLogger\tactual-payload"
    entry = rows_to_entry(rows, "/aws/lambda/fn-c900", "s", "o")

    # reference under flag
    old = ref.NEW_RELIC_FORMAT_LOGS
    ref.NEW_RELIC_FORMAT_LOGS = True
    try:
        expected = [e["message"] for e in ref._filter_log_lines(entry)["logEvents"]]
    finally:
        ref.NEW_RELIC_FORMAT_LOGS = old

    cfg = PipelineConfig(format_logs=True)
    df = datagen.to_spark_df(spark, rows)
    got = [
        r["text"]
        for r in infra_rows(classify(df, cfg), "lambda", cfg)
        .orderBy("turn_idx")
        .collect()
    ]
    assert got == expected
    assert "actual-payload" in got  # the reformat actually fired


@requires_reference
def test_region_endpoint_routing_matches_reference(monkeypatch):
    """License-key-prefix -> endpoint table parity, differential against
    the reference's own _get_infra_endpoint/_get_logging_endpoint
    (/root/reference/src/function.py:422-434,494-508; the behavior
    test/log_ingestion_test.py:86-126 pins)."""
    from aws_log_ingestion_spark.config import (
        resolve_infra_endpoint,
        resolve_logging_endpoint,
    )
    from aws_log_ingestion_spark.operators.route import INFRA_SINKS, infra_url

    ref = load_reference()
    for key in ("testlicensekey", "eutestlicensekey", "jptestlicensekey", ""):
        monkeypatch.setenv("LICENSE_KEY", key)
        monkeypatch.delenv("NR_INFRA_ENDPOINT", raising=False)
        monkeypatch.delenv("NR_LOGGING_ENDPOINT", raising=False)
        cfg = PipelineConfig(license_key=key)
        assert resolve_infra_endpoint(cfg) == ref._get_infra_endpoint(), key
        assert resolve_logging_endpoint(cfg) == ref._get_logging_endpoint(), key
        # full per-sink URL = endpoint + EntryType path + version
        for sink, entry_type in zip(
            INFRA_SINKS, (ref.EntryType.LAMBDA, ref.EntryType.VPC, ref.EntryType.OTHER)
        ):
            assert infra_url(sink, cfg) == ref._get_infra_url(entry_type), (key, sink)

    # env-style overrides win (NR_INFRA_ENDPOINT / NR_LOGGING_ENDPOINT / ingest_url)
    monkeypatch.setenv("NR_INFRA_ENDPOINT", "https://example.test/infra")
    monkeypatch.setenv("NR_LOGGING_ENDPOINT", "https://example.test/log")
    cfg = PipelineConfig(
        license_key="eutestlicensekey",
        infra_endpoint="https://example.test/infra",
        logging_endpoint="https://example.test/log",
    )
    assert resolve_infra_endpoint(cfg) == ref._get_infra_endpoint()
    assert resolve_logging_endpoint(cfg) == ref._get_logging_endpoint()
    assert resolve_logging_endpoint(cfg, "https://arg.test") == ref._get_logging_endpoint(
        "https://arg.test"
    )


@pytest.mark.parametrize(
    "env", ["true", "True", "TRUE", "false", "1", "yes", None]
)
@requires_reference
def test_debug_logging_flag_matches_reference(monkeypatch, env):
    from aws_log_ingestion_spark.config import debug_logging_enabled

    ref = load_reference()
    if env is None:
        monkeypatch.delenv("DEBUG_LOGGING_ENABLED", raising=False)
    else:
        monkeypatch.setenv("DEBUG_LOGGING_ENABLED", env)
    assert debug_logging_enabled(env) == ref._debug_logging_enabled()
