"""Trace-id extraction from NR_LAMBDA_MONITORING marker lines.

Reference ``_get_trace_id`` (/root/reference/src/function.py:588-618):
the marker line is a JSON array ``[1, "NR_LAMBDA_MONITORING", <b64>]``
whose third element is base64(gzip(json)); the trace id lives at
``data.analytic_event_data[2][0][0].traceId`` with a fallback to
``data.span_event_data[2][0][0].traceId``; every failure yields "".

gzip-inside-a-cell cannot be expressed in Catalyst, so this is one of the
pipeline's two Python touchpoints — ONE Arrow-vectorized pandas UDF,
``decode_trace_id``. Cost control comes from placement, not the UDF
itself: its one production call site, ``operators/melt.py::
_decode_markers``, filters to the NR-marker rows (a tiny minority)
first, so Arrow ships only those (SURVEY.md §4 item 4); every fill
shape carries that branch's output.

Per task, a Python UDF's fixed cost is worker set-up, not decoded rows.
PySpark's worker calls ``importlib.invalidate_caches()`` at every task
start (``pyspark.worker_util.setup_spark_files``). Before CPython 3.13
each zipimporter then re-reads its archive's whole directory, and a
worker holds 16: ``pyspark.zip`` x12, the py4j zip x2 and the Spark core
jar x2, ~0.14 CPU-s per task (a trivial UDF over 8 tasks: 1.1-1.2 Python
CPU-s; Python 3.11, pyspark 4.1, 4 cores). A worker imports this package
when it unpickles this UDF, and the import installs
``functions/zipcache.py``, which skips the re-read of an unchanged
archive: after a worker's first tasks the same 8 tasks cost ~0.3 Python
CPU-s, ~0.035 per task. The hub is still written in ONE job
(operators/checkpoint.py::observed_write_bucketed, one file per write
task): one job per conversation range would run the marker branch once
per range.
"""

from __future__ import annotations

import json
from base64 import b64decode

from pyspark.sql import Column

from .gzguard import gunzip_capped

#: agent trace blobs are a few KB; a crafted marker line inflating to GBs
#: must land on the ''-on-failure path, not OOM-kill the Arrow worker
_TRACE_INFLATE_CAP = 1 << 26  # 64 MiB


def decode_trace_id_str(message: str) -> str:
    """Pure-Python single-cell decode; '' on any failure (reference :616-618)."""
    if not message:  # masked (non-marker) rows short-circuit
        return ""
    try:
        arr = json.loads(message)
        raw = gunzip_capped(b64decode(arr[2]), _TRACE_INFLATE_CAP)
        payload = json.loads(raw.decode("utf-8"))
        data = payload["data"]
    except Exception:
        return ""
    for key in ("analytic_event_data", "span_event_data"):
        try:
            trace_id = data[key][2][0][0]["traceId"]
        except Exception:
            continue
        if trace_id:
            return trace_id
    return ""


_decode_udf = None


def decode_trace_id(col: Column) -> Column:
    """Vectorized (Arrow-batched) trace-id decode of marker lines: ''
    when a line does not decode, NULL for a NULL input.

    Memoized per Arrow batch: the decode is a pure function of the
    marker text, so identical blobs in one batch (ubiquitous in agent
    logs — the same monitoring payload repeats) gzip-decode once; a
    unique blob pays one dict probe (~100 ns) next to a ~10 us gzip+json
    decode (guide §4.5: amortize per-task work).

    The pandas UDF is built lazily — registering a pandas_udf requires an
    active SparkSession, which must not be an import-time dependency."""
    global _decode_udf
    if _decode_udf is None:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        def _memo(messages):
            cache: dict = {}

            def one(s):
                if s is None:
                    return None
                v = cache.get(s)
                if v is None:
                    v = cache[s] = decode_trace_id_str(s)
                return v

            return messages.map(one)

        # real (non-stringified) annotations: `from __future__ import
        # annotations` would stringify inline hints beyond Spark's resolver
        _memo.__annotations__ = {"messages": pd.Series, "return": pd.Series}
        _decode_udf = pandas_udf(_memo, "string")
    return _decode_udf(col)
