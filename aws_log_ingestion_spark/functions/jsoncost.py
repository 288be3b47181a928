"""EXACT JSON byte-cost arithmetic as Catalyst expressions (and DuckDB SQL).

The chunk replay's raw payload sizes are pure string arithmetic:
``json.dumps`` (ensure_ascii=True, default separators) escapes each
character independently, so the serialized byte length of any payload is
a LINEAR function of five per-character class counts of its string
fields. This module turns that observation into:

  * Spark ``Column`` builders (``esc_len``, ``event_cost_*_expr``,
    ``empty_len_*_expr``) — the zero-Python cost pre-pass used by
    ``operators/chunks.py`` (``_staged``, the one chunk-stage projection);
  * DuckDB SQL fragment builders (the ``*_sql`` twins) — the exact
    oracle for the ``chunk_raw_costs`` driver queries.

Both dialects read the SAME pattern/weight tables, and every constant is
computed by running the real ``json.dumps`` on an empty-field template at
import time, so there are no hand-counted literals to drift.

Character classes (for a string at escape depth d, the final byte cost is
``n_chars + sum(weight[d][cls] * count[cls])``):

  qb      ``"`` and ``\\``      -> ``\\"``/``\\\\``      d=1:+1  d=2:+3
  named   \\b \\t \\n \\f \\r   -> 2-char escape         d=1:+1  d=2:+2
  ctl     other C0 controls     -> ``\\u00XX`` (6 bytes)  d=1:+5  d=2:+6
  bmp     U+0080..U+FFFF        -> ``\\uXXXX`` (6 bytes)  d=1:+5  d=2:+6
  astral  U+10000..U+10FFFF     -> surrogate pair (12)    d=1:+11 d=2:+13

Depth 2 is a string embedded in a JSON string (the infra payload embeds
the entry as ``json.dumps(entry)`` — /root/reference/src/function.py:
255-261 — so its content is escaped twice). Parity with the runtime
``functions/chunking.py:event_cost_*`` is pinned by
tests/test_jsoncost.py over adversarial unicode.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, functions as F

from ..config import PipelineConfig
from . import chunking as C

# (class, regex pattern valid in BOTH Java regex and RE2, depth-1 weight,
#  depth-2 weight). Patterns use hex escapes only — no literal control
# characters in source, no dialect-divergent syntax.
_CLASSES: list[tuple[str, str, int, int]] = [
    ("qb", '["\\\\]', 1, 3),
    ("named", "[\\x08\\x09\\x0A\\x0C\\x0D]", 1, 2),
    ("ctl", "[\\x00-\\x07\\x0B\\x0E-\\x1F]", 5, 6),
    ("bmp", "[\\x{80}-\\x{FFFF}]", 5, 6),
    ("astral", "[\\x{10000}-\\x{10FFFF}]", 11, 13),
]


# ------------------------------------------------------------ Spark side


# Fused per-depth scan plans for esc_extra: same classes/weights as
# _CLASSES, but (a) classes sharing a weight at that depth merge into one
# set (one scan instead of two), (b) the ASCII classes are ENUMERABLE
# character sets, so their per-row counts are computed with
# length(s) - length(translate(s, set, '')) — a single code-point-map
# pass in whole-stage codegen, several times cheaper than a regex
# matcher over the same bytes (guide §1.2 "per-task work"; measured in
# OPTIMIZATION_r07.md) — and (c) the >=U+0080 classes (not translate-
# enumerable) stay regexp_count but are evaluated ONLY when
# octet_length != length (UTF-8 length mismatch == a non-ASCII char
# exists; CASE WHEN short-circuits in codegen, so pure-ASCII rows —
# virtually all log lines — never pay those scans). Bit-identical totals
# (pinned vs the Python json.dumps in tests/test_jsoncost.py).
_QB_CHARS = '"\\'
_NAMED_CHARS = "\x08\x09\x0a\x0c\x0d"
_CTL_CHARS = "".join(
    chr(c) for c in [*range(0x00, 0x08), 0x0B, *range(0x0E, 0x20)]
)
_ASCII_SETS: dict[int, list[tuple[str, int]]] = {
    1: [(_QB_CHARS + _NAMED_CHARS, 1), (_CTL_CHARS, 5)],
    2: [(_QB_CHARS, 3), (_NAMED_CHARS, 2), (_CTL_CHARS, 6)],
}
_WIDE_PLANS: dict[int, list[tuple[str, int]]] = {
    1: [("[\\x{80}-\\x{FFFF}]", 5), ("[\\x{10000}-\\x{10FFFF}]", 11)],
    2: [("[\\x{80}-\\x{FFFF}]", 6), ("[\\x{10000}-\\x{10FFFF}]", 13)],
}


def esc_extra(col: Column, depth: int = 1) -> Column:
    """Extra bytes json.dumps adds over the code-point count (NULL-safe:
    null input costs 0 — an absent optional field)."""
    s = F.coalesce(col, F.lit(""))
    total = F.lit(0).cast("long")
    for chars, w in _ASCII_SETS[depth]:
        n = (F.length(s) - F.length(F.translate(s, chars, ""))).cast("long")
        total = total + n * F.lit(w)
    wide = F.lit(0).cast("long")
    for pat, w in _WIDE_PLANS[depth]:
        wide = wide + F.regexp_count(s, F.lit(pat)).cast("long") * F.lit(w)
    return total + F.when(
        F.octet_length(s) == F.length(s), F.lit(0).cast("long")
    ).otherwise(wide)


def esc_len(col: Column, depth: int = 1) -> Column:
    """Byte length of json.dumps(s)'s CONTENT (no surrounding quotes)."""
    return F.length(F.coalesce(col, F.lit(""))).cast("long") + esc_extra(col, depth)


# ---------------------------------------------------- template constants
# All constants are produced by the REAL json.dumps on empty-field
# templates, then the placeholder digit/id bytes are subtracted.


def _blen(obj) -> int:
    return len(json.dumps(obj).encode())


def _infra_event_const() -> int:
    """Outer-JSON cost of an infra logEvent with 0-length id, 0-digit
    timestamp, empty message (cost = len + #quote + #backslash since the
    entry is embedded as an escaped string)."""
    ev = json.dumps({"id": "0" * 56, "timestamp": 0, "message": ""})
    return len(ev.encode()) + ev.count('"') + ev.count("\\") - 56 - 1


_INFRA_EVENT_CONST = _infra_event_const()

_LOG_MSG_TEMPLATE = {"message": "", "timestamp": 0, "attributes": {"aws": {}}}
_LOG_MSG_CONST = _blen(_LOG_MSG_TEMPLATE) - 1  # strip the 0 digit
_TRACE_CONST = (
    _blen({**_LOG_MSG_TEMPLATE, "trace.id": ""}) - _blen(_LOG_MSG_TEMPLATE)
)
_RID_CONST = (
    _blen({"message": "", "timestamp": 0, "attributes": {"aws": {"lambda_request_id": ""}}})
    - _blen(_LOG_MSG_TEMPLATE)
)


def event_cost_infra_expr(msg: Column, turn_idx: Column, ts_millis: Column) -> Column:
    """EXACT Catalyst twin of ``chunking.event_cost_infra`` for the events
    this pipeline replays (id = make_event_id, no extra keys). The event
    id is 50 base digits + max(6, digits(turn_idx)) sequence digits."""
    id_len = F.lit(50).cast("long") + F.greatest(
        F.lit(6).cast("long"), F.length(turn_idx.cast("string")).cast("long")
    )
    return (
        F.lit(_INFRA_EVENT_CONST).cast("long")
        + id_len
        + F.length(ts_millis.cast("string")).cast("long")
        + esc_len(msg, depth=2)
    )


def event_cost_logging_expr(
    msg: Column, ts_millis: Column, trace_id: Column, request_id: Column
) -> Column:
    """EXACT Catalyst twin of ``chunking.event_cost_logging`` over
    ``build_log_message`` output (no extra keys). ``trace_id`` follows the
    reference's truthiness (`if trace_id:` — '' is absent); pass the
    already-NULLIF'ed carry columns."""
    base = (
        F.lit(_LOG_MSG_CONST).cast("long")
        + F.length(ts_millis.cast("string")).cast("long")
        + esc_len(msg, depth=1)
    )
    trace = F.when(
        trace_id.isNotNull() & (trace_id != ""),
        F.lit(_TRACE_CONST).cast("long") + esc_len(trace_id, depth=1),
    ).otherwise(F.lit(0).cast("long"))
    rid = F.when(
        request_id.isNotNull(),
        F.lit(_RID_CONST).cast("long") + esc_len(request_id, depth=1),
    ).otherwise(F.lit(0).cast("long"))
    return base + trace + rid


def _empty_logging_const(cfg: PipelineConfig) -> int:
    payload = C.build_melt_payload(
        C.build_entry("", "", "", "", []),
        lambda_prefix=cfg.lambda_prefix,
        tags=dict(cfg.tags),
    )
    return _blen(payload)


def empty_len_logging_expr(cfg: PipelineConfig, log_group: Column, log_stream: Column) -> Column:
    """Byte length of the MELT payload with NO logs — envelope constant of
    raw(interval) = empty + sum(costs) + 2*(k-1). logGroup/logStream are
    the only data-dependent strings (depth 1)."""
    return (
        F.lit(_empty_logging_const(cfg)).cast("long")
        + esc_len(log_group, 1)
        + esc_len(log_stream, 1)
    )


_EMPTY_INFRA_CONST = _blen(
    C.build_infra_data(
        {
            "function_name": "",
            "invoked_function_arn": "",
            "log_group_name": "",
            "log_stream_name": "",
        },
        C.build_entry("", "", "", "", []),
    )
)


def empty_len_infra_expr(
    conv_id: Column,
    log_group: Column,
    log_stream: Column,
    owner: Column,
    function_name: Column,
    arn: Column,
) -> Column:
    """Byte length of the infra payload with NO logEvents. Context fields
    are depth 1; entry fields (owner, logGroup, logStream and the
    'sub-<conv_id>' subscription filter) ride inside the embedded entry
    string, hence depth 2."""
    return (
        F.lit(_EMPTY_INFRA_CONST).cast("long")
        + esc_len(function_name, 1)
        + esc_len(arn, 1)
        + esc_len(log_group, 1)
        + esc_len(log_stream, 1)
        + esc_len(owner, 2)
        + esc_len(log_group, 2)
        + esc_len(log_stream, 2)
        + esc_len(conv_id, 2)
    )


def gz_upper_fits_expr(raw: Column, max_size: int) -> Column:
    """True when the payload PROVABLY gzips under the cap: deflate's worst
    case adds < raw/1000 + gzip framing; raw + raw//1000 + 64 bounds it
    (chunking.gz_len_upper_bound)."""
    return (raw + F.floor(raw / F.lit(1000)).cast("long") + F.lit(64)) < F.lit(max_size)


# ----------------------------------------------------------- DuckDB side


def esc_len_sql(x: str, depth: int = 1) -> str:
    """DuckDB twin of ``esc_len`` — same classes, same weights."""
    parts = [f"length(coalesce({x}, ''))"]
    for _name, pat, w1, w2 in _CLASSES:
        w = w1 if depth == 1 else w2
        parts.append(f"len(regexp_extract_all(coalesce({x}, ''), '{pat}')) * {w}")
    return "(" + " + ".join(parts) + ")"


def event_cost_logging_sql(msg: str, ts_ms: str, trace: str, rid: str) -> str:
    """DuckDB twin of ``event_cost_logging_expr``."""
    return (
        f"({_LOG_MSG_CONST} + length(CAST({ts_ms} AS VARCHAR)) + "
        + esc_len_sql(msg, 1)
        + f" + CASE WHEN {trace} IS NOT NULL AND {trace} != '' THEN {_TRACE_CONST} + "
        + esc_len_sql(trace, 1)
        + " ELSE 0 END"
        + f" + CASE WHEN {rid} IS NOT NULL THEN {_RID_CONST} + "
        + esc_len_sql(rid, 1)
        + " ELSE 0 END)"
    )


def event_cost_infra_sql(msg: str, turn_idx: str, ts_ms: str) -> str:
    """DuckDB twin of ``event_cost_infra_expr``."""
    return (
        f"({_INFRA_EVENT_CONST} + 50 + GREATEST(6, length(CAST({turn_idx} AS VARCHAR)))"
        f" + length(CAST({ts_ms} AS VARCHAR)) + " + esc_len_sql(msg, 2) + ")"
    )


def empty_len_logging_sql(cfg: PipelineConfig, log_group: str, log_stream: str) -> str:
    return (
        f"({_empty_logging_const(cfg)} + "
        + esc_len_sql(log_group, 1)
        + " + "
        + esc_len_sql(log_stream, 1)
        + ")"
    )


def empty_len_infra_sql(
    conv_id: str, log_group: str, log_stream: str, owner: str, function_name: str, arn: str
) -> str:
    return (
        f"({_EMPTY_INFRA_CONST} + "
        + " + ".join(
            [
                esc_len_sql(function_name, 1),
                esc_len_sql(arn, 1),
                esc_len_sql(log_group, 1),
                esc_len_sql(log_stream, 1),
                esc_len_sql(owner, 2),
                esc_len_sql(log_group, 2),
                esc_len_sql(log_stream, 2),
                esc_len_sql(conv_id, 2),
            ]
        )
        + ")"
    )


def gz_upper_fits_sql(raw: str, max_size: int) -> str:
    return f"({raw} + {raw} // 1000 + 64 < {max_size})"
