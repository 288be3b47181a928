"""Trace-id extraction from NR_LAMBDA_MONITORING marker lines.

Reference ``_get_trace_id`` (/root/reference/src/function.py:588-618):
the marker line is a JSON array ``[1, "NR_LAMBDA_MONITORING", <b64>]``
whose third element is base64(gzip(json)); the trace id lives at
``data.analytic_event_data[2][0][0].traceId`` with a fallback to
``data.span_event_data[2][0][0].traceId``; every failure yields "".

gzip-inside-a-cell cannot be expressed in Catalyst, so this is one of the
pipeline's two Python touchpoints — an Arrow-vectorized pandas UDF. Cost
control comes from placement, not the UDF itself: callers must pre-filter
to NR-marker rows (a tiny minority) so Arrow ships only surviving rows
(SURVEY.md §4 item 4).

Once the rows are filtered, TASK COUNT, not decoded rows, sets the
Python CPU: every task that evaluates a Python UDF pays a fixed ~0.28
CPU-s in its worker, decoded rows or not. cProfile of a reused worker
(Python 3.11, pyspark 4.1, 4 cores) puts all of it in
``pyspark.worker_util.setup_spark_files -> importlib.invalidate_caches()``,
which re-reads the 1,328-entry ``pyspark.zip`` directory once per
zipimporter; a worker holds 16 of them. A trivial UDF over 1/8/32/64
tasks cost 0.29/2.4/8.6/17.8 Python CPU-s. Hence the hub is written in
ONE job (operators/checkpoint.py::observed_write_bucketed): one job per
conversation range would run the marker branch in 4x8 tasks instead of
8, for ~6x the Python CPU.
"""

from __future__ import annotations

import json
from base64 import b64decode

from pyspark.sql import Column, functions as F

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
    """Vectorized (Arrow-batched) trace-id decode; '' when undecodable.

    The pandas UDF is built lazily — registering a pandas_udf requires an
    active SparkSession, which must not be an import-time dependency."""
    global _decode_udf
    if _decode_udf is None:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        def _raw(messages):
            return messages.map(decode_trace_id_str)

        # real (non-stringified) annotations: `from __future__ import
        # annotations` would stringify inline hints beyond Spark's resolver
        _raw.__annotations__ = {"messages": pd.Series, "return": pd.Series}
        _udf = pandas_udf(_raw, "string")

        _decode_udf = _udf
    return _decode_udf(col)


def trace_id_raw(text: Column, is_nr_marker: Column) -> Column:
    """Decode result on marker lines, NULL elsewhere.

    Critically, a FAILED decode on a marker line yields '' (not NULL): the
    reference RESETS the carried trace id on every marker line (:521-523),
    so '' must flow into the forward-fill and clobber any earlier value.
    Downstream attaches ``trace.id`` only when non-empty (:531-532) via
    ``nullif(fill, '')``.

    The UDF INPUT is masked (NULL for non-marker rows), not just the
    output: ``when(cond, udf(x))`` still ships every row through Arrow
    and runs the decode on it, while ``udf(when(cond, x))`` ships NULLs
    that short-circuit — the gzip+json work only touches marker rows.

    The decode goes through the per-batch MEMOIZED UDF: the decode is a
    pure function of the marker text, so identical blobs in one Arrow
    batch (ubiquitous in agent logs — the same monitoring payload
    repeats) gzip-decode once; unique blobs pay one dict probe (~100 ns)
    next to a ~10 us gzip+json decode. Values are identical to the
    unmemoized UDF by determinism (guide §4.5: amortize per-task work).
    """
    return F.when(is_nr_marker, decode_trace_id_memo(F.when(is_nr_marker, text)))


_decode_memo_udf = None


def decode_trace_id_memo(col: Column) -> Column:
    """Per-batch MEMOIZED decode for post-window carried marker text.

    The zero-exchange (bucketed-ingest) plan cannot place an Arrow UDF
    before the fill window — EvalPythonExec reports UnknownPartitioning,
    which would force back the very exchange bucketing removes. Instead
    the window carries the latest marker LINE (pure Catalyst last()) and
    this UDF decodes the carried text AFTER the windows. Consecutive
    rows of a conversation share the same carried blob, so a per-batch
    dict memo does ~one real gzip decode per marker while Arrow ships
    the (heavily repeated, dictionary-encodable) carried strings.
    NULL in -> NULL out; failed decode -> '' (the reference's clear
    semantics, same as decode_trace_id)."""
    global _decode_memo_udf
    if _decode_memo_udf is None:
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

        _memo.__annotations__ = {"messages": pd.Series, "return": pd.Series}
        _decode_memo_udf = pandas_udf(_memo, "string")
    return _decode_memo_udf(col)
