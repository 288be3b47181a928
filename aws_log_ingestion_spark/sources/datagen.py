"""Seeded synthetic transcript generator — the FIXTURES.md §4 templates.

Produces transcript rows (conv_id, turn_idx, role, text, tool, ts) plus
the matching conv_meta rows, covering every reference-test scenario:
classification truth table, filter survival sets, request-id forward-fill
vector (/root/reference/test/log_ingestion_test.py:570-600), decodable
NR_LAMBDA_MONITORING blobs (built the test/build-encoded-file.py:41-46
way), and the big-split chunking conversation (:384-415). Deterministic:
fixed base timestamp 1548935491174
(/root/reference/test/log_ingestion_test.py:23).
"""

from __future__ import annotations

import gzip
import json
import zlib
from base64 import b64encode

BASE_TS_MILLIS = 1548935491174

UUID_A = "b3c55437-3847-4230-a1ed-0e94425372e8"
UUID_B = "9c2aa8b0-1e42-4fd9-8c6e-10ee97d2c0d4"

START = f"START RequestId: {UUID_A} Version: $LATEST"
NR_SHORT = '[1,"NR_LAMBDA_MONITORING","H4sIAImox"]'
END = f"END RequestId: {UUID_A}"
REPORT = f"REPORT RequestId: {UUID_A}\tDuration: 245.44 ms\tBilled Duration: 300 ms"
TIMEOUT = f"2020-02-04T00:26:18.068Z {UUID_A} Task timed out after 3.00 seconds"
OOM = (
    f"RequestId: {UUID_A} Error: Runtime exited with error: signal: "
    "killed\nRuntime.ExitError\n"
)
GARBAGE = "some garbage"
PROBE_UUID_LINE = "2019-07-22T21:37:22.353Z 3e347ac8-2bcd-43b2-a0eb-9b3e0d261f07 Some Log Line with a random UUID"
PROBE_NO_ID = "2019-07-22T21:37:22.353Z Doesn't have a RequestId"
DOTNET = 'info\t2024-01-01T00:00:00Z\tMyLogger\t{"actual":"payload"}'


def nr_marker_with_trace(trace_id: str, key: str = "analytic_event_data") -> str:
    """Decodable NR marker line carrying ``trace_id`` at the path the
    reference reads: data.<key>[2][0][0].traceId
    (/root/reference/src/function.py:607-615; encoder recipe
    /root/reference/test/build-encoded-file.py:41-46)."""
    inner = {"data": {key: [None, None, [[{"traceId": trace_id}]]]}}
    blob = b64encode(gzip.compress(json.dumps(inner).encode())).decode()
    return json.dumps([1, "NR_LAMBDA_MONITORING", blob])


# template -> (tool, [texts]); expected sinks per FIXTURES.md §4
TEMPLATES: dict[str, tuple[str, list[str]]] = {
    "lambda_full": ("lambda", [START, NR_SHORT, END, REPORT]),
    "lambda_timeout": ("lambda", [START, NR_SHORT, END, REPORT, TIMEOUT]),
    "lambda_no_agent": ("lambda", [START, GARBAGE, END, REPORT, TIMEOUT]),
    "lambda_oom": ("lambda", [START, GARBAGE, END, REPORT, OOM]),
    "vpc": (
        "vpc",
        ["2 463657938898 eni-9f825df9 - - - - - - - 1548934870 1548934929 - NODATA"] * 3,
    ),
    "rds_other": ("rds", ['{"engine":"POSTGRES","instanceID":"instance-7"}'] * 3),
    "lambda_prefix_no_marker": ("lambda", [GARBAGE]),
    "reqid_forward_fill": (
        "lambda",
        [
            f"START RequestId: {UUID_A} Version: $LATEST",
            PROBE_UUID_LINE,
            PROBE_NO_ID,
            f"END RequestId: {UUID_A}",
            f"START RequestId: {UUID_B} Version: $LATEST",
        ],
    ),
    "trace_fill": (
        "lambda",
        [
            START,
            nr_marker_with_trace("trace-abc-123"),
            GARBAGE,
            NR_SHORT,  # fails decode -> clears trace id (reference :521-523)
            REPORT,
        ],
    ),
    "dotnet": ("lambda", [START, NR_SHORT, DOTNET, REPORT]),
    "plain_multi": ("lambda", ["Test Message 1", "Test Message 2", "Test Message 3"]),
    "big_split": ("lambda", [f"Test Message {i}" for i in range(500)]),
}

ROLES = ["user", "assistant", "tool", "system"]


def template_rows(name: str, conv_id: str | None = None) -> list[dict]:
    """Rows for one template conversation."""
    tool, texts = TEMPLATES[name]
    conv_id = conv_id or f"c{zlib.crc32(name.encode()) % 1000}"
    return [
        {
            "conv_id": conv_id,
            "turn_idx": i,
            "role": ROLES[i % 4],
            "text": t,
            "tool": tool,
            "ts_millis": BASE_TS_MILLIS + i,
        }
        for i, t in enumerate(texts)
    ]


def all_template_rows() -> list[dict]:
    rows = []
    for i, name in enumerate(sorted(TEMPLATES)):
        rows.extend(template_rows(name, conv_id=f"c{i}"))
    return rows


def log_group_for(tool: str, conv_id: str) -> str:
    return {
        "lambda": f"/aws/lambda/fn-{conv_id}",
        "vpc": "/aws/vpc/flow-logs",
        "rds": "RDSOSMetrics",
    }.get(tool, f"/custom/app-{conv_id}")


def conv_meta_rows(rows: list[dict]) -> list[dict]:
    seen = {}
    for r in rows:
        key = (r["conv_id"], r["tool"])
        if key not in seen:
            cid, tool = key
            seen[key] = {
                "conv_id": cid,
                "tool": tool,
                "owner": "463657938898",
                "function_name": f"fn-{cid}",
                "invoked_function_arn": f"arn:aws:lambda:us-east-1:463657938898:function:fn-{cid}",
                "log_group_name": log_group_for(tool, cid),
                "log_stream_name": "2019/01/31/[$LATEST]" + cid.lstrip("c").zfill(32),
            }
    return list(seen.values())


def to_spark_df(spark, rows: list[dict]):
    """Transcript rows -> DataFrame with the canonical schema."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("turn_idx", IntegerType()),
            StructField("role", StringType()),
            StructField("text", StringType()),
            StructField("tool", StringType()),
            StructField("ts_millis", LongType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    return df.withColumn("ts", F.timestamp_millis(F.col("ts_millis"))).drop("ts_millis")


def meta_to_spark_df(spark, rows: list[dict]):
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        [
            StructField(c, StringType())
            for c in [
                "conv_id",
                "tool",
                "owner",
                "function_name",
                "invoked_function_arn",
                "log_group_name",
                "log_stream_name",
            ]
        ]
    )
    return spark.createDataFrame(rows, schema)
