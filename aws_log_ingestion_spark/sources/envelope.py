"""CloudWatch envelope source: base64(gzip(json)) -> transcript rows.

Envelope-fidelity path for SURVEY.md §2 rows 1-2: the reference decodes
``event["awslogs"]["data"]`` with b64decode + gzip.decompress + json.loads
(/root/reference/src/function.py:636-638) and implicitly flattens
``logEvents`` via per-event loops (:197,521,534). Here: ``unbase64`` is
native; gzip-in-a-cell needs an Arrow-batched pandas UDF; ``from_json``
with an explicit schema + ``explode(logEvents)`` replace the dynamic
json.loads; ``FAILFAST`` makes a malformed entry raise, as json.loads does,
instead of parsing to NULL and vanishing in the explode. Production ingest
reads Iceberg directly — this source exists for envelope-format
compatibility and its tests.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

LOG_EVENT_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("timestamp", LongType()),
        StructField("message", StringType()),
    ]
)

# the log-entry struct, shape per /root/reference/test/aws_log_events.py:18-26
LOG_ENTRY_SCHEMA = StructType(
    [
        StructField("messageType", StringType()),
        StructField("owner", StringType()),
        StructField("logGroup", StringType()),
        StructField("logStream", StringType()),
        StructField("subscriptionFilters", ArrayType(StringType())),
        StructField("logEvents", ArrayType(LOG_EVENT_SCHEMA)),
    ]
)

_gunzip_udf = None

#: per-envelope inflation cap. CloudWatch delivers envelopes far below
#: 1 MiB compressed; 256 MiB inflated keeps every legitimate payload and
#: turns a crafted bomb into a clean per-task ValueError (the same
#: fail-loud outcome a corrupt envelope gets today) instead of an
#: executor OOM kill.
_ENVELOPE_INFLATE_CAP = 1 << 28


def gunzip_str(col: Column) -> Column:
    """Arrow-batched capped gunzip(binary) -> utf-8 string."""
    global _gunzip_udf
    if _gunzip_udf is None:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        from ..functions.gzguard import gunzip_capped

        def _raw(data):
            return data.map(
                lambda b: gunzip_capped(b, _ENVELOPE_INFLATE_CAP).decode("utf-8")
                if b is not None
                else None
            )

        _raw.__annotations__ = {"data": pd.Series, "return": pd.Series}
        _gunzip_udf = pandas_udf(_raw, "string")
    return _gunzip_udf(col)


def decode_envelopes(envelopes: DataFrame, data_col: str = "data") -> DataFrame:
    """``{"awslogs":{"data": b64(gzip(json))}}`` payload column -> one row
    per log ENTRY with the parsed struct."""
    raw = F.unbase64(F.col(data_col))
    return envelopes.withColumn(
        "entry",
        F.from_json(gunzip_str(raw), LOG_ENTRY_SCHEMA, {"mode": "FAILFAST"}),
    ).drop(data_col)


def entries_to_turns(entries: DataFrame) -> DataFrame:
    """Flatten decoded entries to the transcript shape: one row per turn.

    conv_id = logGroup/logStream identity; turn_idx = position in
    logEvents (the reference's event ids embed exactly this sequence,
    /root/reference/test/aws_log_events.py:34-35); tool derived from the
    logGroup family.
    """
    e = F.col("entry")
    ev = F.posexplode(e["logEvents"]).alias("turn_idx", "ev")
    flat = entries.select(
        F.sha2(F.concat_ws("|", e["logGroup"], e["logStream"]), 256).substr(1, 16).alias("conv_id"),
        e["logGroup"].alias("log_group"),
        e["logStream"].alias("log_stream"),
        e["owner"].alias("owner"),
        ev,
    )
    return flat.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("ev")["message"].alias("text"),
        F.when(F.col("log_group").startswith("/aws/lambda"), "lambda")
        .when(F.col("log_group").startswith("/aws/vpc/flow-logs"), "vpc")
        .when(F.col("log_group") == "RDSOSMetrics", "rds")
        .otherwise("custom")
        .alias("tool"),
        F.timestamp_millis(F.col("ev")["timestamp"]).alias("ts"),
        "log_group",
        "log_stream",
        "owner",
    )


def encode_envelope(entry_json: str) -> str:
    """Test helper: entry JSON -> the b64(gzip(...)) envelope payload
    (inverse of the decode path; recipe from the reference's own test
    builder /root/reference/test/aws_log_events.py:12-16)."""
    import gzip
    from base64 import b64encode

    return b64encode(gzip.compress(entry_json.encode())).decode()
