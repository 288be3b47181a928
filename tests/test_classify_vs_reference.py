"""Differential tests: Spark classification/filter vs the reference's own
pure functions on identical conversations (SURVEY.md §5 plan item b)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_log_ingestion_spark.config import PipelineConfig
from aws_log_ingestion_spark.operators.classify import classify, forward_fill_salted
from aws_log_ingestion_spark.operators.route import infra_rows
from aws_log_ingestion_spark.sources import datagen
from reference_oracle import (
    load_reference,
    oracle_entry_type,
    oracle_filtered_messages,
    requires_reference,
    rows_to_entry,
)


def _entry_for(name: str, conv_id: str) -> dict:
    rows = datagen.template_rows(name, conv_id)
    tool = rows[0]["tool"]
    return rows_to_entry(
        rows, datagen.log_group_for(tool, conv_id), "stream-1", "463657938898"
    )


@pytest.fixture(scope="module")
def classified(template_df):
    return classify(template_df).cache()


@requires_reference
def test_sink_matches_reference_entry_type(classified):
    spark_sinks = {
        r["conv_id"]: r["sink"]
        for r in classified.select("conv_id", "sink").distinct().collect()
    }
    names = sorted(datagen.TEMPLATES)
    for i, name in enumerate(names):
        conv_id = f"c{i}"
        expected = oracle_entry_type(_entry_for(name, conv_id))
        assert spark_sinks[conv_id] == expected, f"{name}: {spark_sinks[conv_id]} != {expected}"


def test_sink_is_conversation_constant(classified):
    multi = (
        classified.groupBy("conv_id")
        .agg(F.count_distinct("sink").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert multi == 0


@requires_reference
def test_lambda_filter_matches_reference(classified):
    """Per-turn text equality of infra-lambda survivors, in turn order."""
    survivors = (
        infra_rows(classified, "lambda")
        .select("conv_id", "turn_idx", "text")
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    by_conv: dict[str, list[str]] = {}
    for r in survivors:
        by_conv.setdefault(r["conv_id"], []).append(r["text"])

    names = sorted(datagen.TEMPLATES)
    for i, name in enumerate(names):
        conv_id = f"c{i}"
        entry = _entry_for(name, conv_id)
        if oracle_entry_type(entry) != "lambda":
            assert conv_id not in by_conv, f"{name} should not reach lambda sink"
            continue
        expected = oracle_filtered_messages(entry)
        assert by_conv.get(conv_id, []) == expected, f"{name} filter mismatch"


def test_vpc_and_other_pass_through_unfiltered(classified, template_df):
    n_by_conv = {
        r["conv_id"]: r["n"]
        for r in template_df.groupBy("conv_id").agg(F.count("*").alias("n")).collect()
    }
    for sink in ("vpc", "other"):
        for r in infra_rows(classified, sink).groupBy("conv_id").agg(
            F.count("*").alias("n")
        ).collect():
            assert r["n"] == n_by_conv[r["conv_id"]]


@requires_reference
def test_is_lambda_message_per_line_parity(spark):
    """Line-level predicate parity over the full archetype corpus,
    including adversarial variants (SURVEY.md §7 'bug-compatible regexes')."""
    ref = load_reference()
    corpus = [t for _, texts in datagen.TEMPLATES.values() for t in texts]
    corpus += [
        "REPORT RequestId:",          # bare report prefix
        " REPORT RequestId: x",       # leading space -> match fails (anchored)
        "xRequestId: " + "a" * 36 + " t",  # kill pattern not at pos 0
        "RequestId: " + "a" * 35 + " too-short",
        "RequestId: " + "a" * 36 + "no-trailing-space",
        "9999-12-31T23:59:59X999Z x Task timed out after 1 seconds",  # bug-compat `.`
        '{"NR_LAMBDA_MONITORING": true}',  # quote-prefixed marker mid-string
        "",
    ]
    # seeded fuzz: random strings + random mutations of the archetypes
    import random

    rng = random.Random(1234)
    alphabet = 'abcXYZ0129 \t\n"[]{}:.-TZ'
    base = [t for t in corpus if t]
    for _ in range(300):
        if rng.random() < 0.5:
            corpus.append("".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 80))))
        else:
            s = list(rng.choice(base))
            for _ in range(rng.randrange(1, 4)):
                pos = rng.randrange(0, len(s))
                s[pos] = rng.choice(alphabet)
            corpus.append("".join(s))
    corpus = list(dict.fromkeys(corpus))  # dedupe, keep order
    df = spark.createDataFrame([(t,) for t in corpus], ["text"])
    from aws_log_ingestion_spark.functions import patterns as P

    got = df.select(
        "text",
        P.is_lambda_message(F.col("text")).alias("lmsg"),
        P.is_report(F.col("text")).alias("rep"),
    ).collect()
    for r in got:
        assert r["lmsg"] == bool(ref._is_lambda_message(r["text"])), repr(r["text"])
        assert r["rep"] == bool(ref.REPORT_PATTERN.match(r["text"])), repr(r["text"])


@requires_reference
def test_format_agent_logs_parity(spark):
    ref = load_reference()
    corpus = [
        'info\t2024-01-01T00:00:00Z\tMyLogger\t{"actual":"payload"}',
        "a\tb\tc",            # 3 parts -> unchanged
        "a\tb\tc\td\te",      # 5 parts -> unchanged
        "a\tb\tc\t",          # 4 parts, last empty -> becomes ''
        "no tabs at all",
        "",
    ]
    from aws_log_ingestion_spark.functions import patterns as P

    df = spark.createDataFrame([(t,) for t in corpus], ["text"])
    got = {r["text"]: r["out"] for r in df.select(
        "text", P.format_agent_logs(F.col("text")).alias("out")
    ).collect()}
    for t in corpus:
        expected = ref.format_agent_logs({"id": "1", "timestamp": 0, "message": t})["message"]
        assert got[t] == expected, repr(t)


def test_forward_fill_salted_equals_naive(spark):
    """The two-pass salted scan is exactly the naive window (salt_range=3
    forces multiple blocks on tiny data)."""
    rows = datagen.template_rows("reqid_forward_fill", "c100") + datagen.template_rows(
        "lambda_timeout", "c101"
    )
    df = datagen.to_spark_df(spark, rows)
    from aws_log_ingestion_spark.functions import patterns as P
    from aws_log_ingestion_spark.operators.classify import forward_fill

    df = df.withColumn("rid", P.extract_request_id(F.col("text")))
    naive = forward_fill(df, "rid", "fill")
    salted = forward_fill_salted(df, "rid", "fill", salt_range=3)
    key = lambda rs: {(r["conv_id"], r["turn_idx"]): r["fill"] for r in rs}
    assert key(naive.collect()) == key(salted.collect())


def test_request_id_forward_fill_vector(classified):
    """The pinned vector: A,A,A,A,B (reference
    test/log_ingestion_test.py:570-600)."""
    idx = sorted(datagen.TEMPLATES).index("reqid_forward_fill")
    got = [
        r["lambda_request_id"]
        for r in classified.filter(F.col("conv_id") == f"c{idx}")
        .orderBy("turn_idx")
        .collect()
    ]
    assert got == [datagen.UUID_A] * 4 + [datagen.UUID_B]
