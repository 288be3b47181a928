"""Pure-Python payload construction + size-bounded recursive halving.

Fresh implementation of the reference's payload formats and its
``_generate_payloads`` arithmetic (/root/reference/src/function.py:
309-323,437-455,569-585): gzip the JSON serialization; while a payload is
>= the cap, split the event list in half (order-preserving, loss-free)
and re-gzip each half. Chunk-count parity with the reference requires
byte-exact JSON (same key insertion order, default ``json.dumps``
separators) and real gzip lengths — pinned by
/root/reference/test/log_ingestion_test.py:384-415.

These are pure functions so they serve three callers: the grouped
``applyInPandas`` operator (operators/chunks.py), the pytest differential
oracle, and ad-hoc tooling. No Spark imports here.
"""

from __future__ import annotations

import gzip
import json
from collections.abc import Callable, Iterator

from ..config import MAX_PAYLOAD_SIZE, PLUGIN_TYPE, PLUGIN_VERSION

# 50-digit base + 6-digit sequence = 56-digit event id, the shape of the
# reference test builder (/root/reference/test/aws_log_events.py:28-40).
_ID_BASE_DIGITS = 50
_ID_SEQ_DIGITS = 6


def make_event_id(conv_ordinal: int, turn_idx: int) -> str:
    base = conv_ordinal % (10**_ID_BASE_DIGITS)
    return f"{base:0{_ID_BASE_DIGITS}d}{turn_idx:0{_ID_SEQ_DIGITS}d}"


def build_entry(
    conv_id: str,
    log_group: str,
    log_stream: str,
    owner: str,
    events: list[dict],
) -> dict:
    """CloudWatch log-entry dict, canonical key order
    (/root/reference/test/aws_log_events.py:18-26)."""
    return {
        "messageType": "DATA_MESSAGE",
        "owner": owner,
        "logGroup": log_group,
        "logStream": log_stream,
        "subscriptionFilters": [f"sub-{conv_id}"],
        "logEvents": events,
    }


def build_infra_data(context: dict, entry: dict) -> dict:
    """Infra payload ``{"context", "entry": json-string}``
    (/root/reference/src/function.py:255-261)."""
    return {"context": context, "entry": json.dumps(entry)}


def build_melt_payload(
    entry: dict,
    lambda_prefix: str = "/aws/lambda",
    tags: dict | None = None,
    trace_ids: list[str] | None = None,
) -> list[dict]:
    """MELT payload with the reference's exact key insertion order
    (/root/reference/src/function.py:511-566).

    ``trace_ids`` optionally supplies pre-decoded per-event trace ids
    (aligned with ``entry["logEvents"]``); when None, marker lines are
    decoded here via the same pure decode used by the Spark UDF.
    """
    from .tracing import decode_trace_id_str  # no Spark import at module load

    log_messages = []
    lambda_request_id = None
    trace_id = ""
    is_lambda_group = entry["logGroup"].startswith(lambda_prefix)

    import re

    nr_marker = re.compile(r'.*"NR_LAMBDA_MONITORING')
    rid_re = re.compile(
        r"RequestId:\s([0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
        r"-[0-9a-fA-F]{4}-[0-9a-fA-F]{12})"
    )

    for i, ev in enumerate(entry["logEvents"]):
        msg = ev["message"]
        if nr_marker.match(msg):
            trace_id = trace_ids[i] if trace_ids is not None else decode_trace_id_str(msg)
        if is_lambda_group:
            m = rid_re.search(msg)
            if m:
                lambda_request_id = m.group(1)
        extra = {k: v for k, v in ev.items() if k not in ("id", "message", "timestamp")}
        log_messages.append(
            build_log_message(
                msg,
                ev["timestamp"],
                trace_id=trace_id,
                lambda_request_id=lambda_request_id if is_lambda_group else None,
                extra=extra,
            )
        )

    payload = [
        {
            "common": {
                "attributes": {
                    "plugin": {"type": PLUGIN_TYPE, "version": PLUGIN_VERSION},
                    "aws": {
                        "logStream": entry["logStream"],
                        "logGroup": entry["logGroup"],
                    },
                }
            },
            "logs": log_messages,
        }
    ]
    if tags:
        payload[0]["common"]["attributes"].update(tags)
    return payload


def build_log_message(
    message: str,
    timestamp: int,
    trace_id: str | None = None,
    lambda_request_id: str | None = None,
    extra: dict | None = None,
) -> dict:
    """One MELT log message with the reference's exact key insertion
    order (message, timestamp, attributes{aws, extras}, trace.id last —
    /root/reference/src/function.py:525-545). Pure/stateless: the carried
    trace id and request id are INPUTS here, which is what lets the
    chunk count walk serialize any turn range without replaying earlier
    turns.
    """
    log_message = {
        "message": message,
        "timestamp": timestamp,
        "attributes": {"aws": {}},
    }
    if trace_id:
        log_message["trace.id"] = trace_id
    for k, v in (extra or {}).items():
        log_message["attributes"][k] = v
    if lambda_request_id:
        log_message["attributes"]["aws"]["lambda_request_id"] = lambda_request_id
    return log_message


def event_cost_infra(event: dict) -> int:
    """EXACT byte contribution of one logEvent to the OUTER infra JSON.

    The infra payload embeds the entry as a JSON *string*
    (build_infra_data), so the inner serialization is escaped once more:
    each '"' and '\\' gains a backslash. json escaping is per-character,
    hence escape(concat) == concat(escape) and per-event costs add."""
    e = json.dumps(event)
    return len(e.encode()) + e.count('"') + e.count("\\")


def event_cost_logging(log_message: dict) -> int:
    """EXACT byte contribution of one log message to the MELT JSON."""
    return len(json.dumps(log_message).encode())


def empty_payload_len(obj) -> int:
    """Serialized byte length of a payload with NO events — the envelope
    constant in raw_len(interval) = empty + sum(costs) + 2*(k-1)."""
    return len(json.dumps(obj).encode())


# DEFLATE's maximum compression ratio: one 258-byte match can encode in
# ~2 bits with a degenerate Huffman table => gz_len >= raw_len/1032 for
# ANY input. raw >= cap*1032 therefore PROVES gz >= cap (a guaranteed
# re-split) without running gzip — the exactness shortcut count_chunks_fast
# uses to skip compressing the top of the recursion tree.
GZIP_MAX_RATIO = 1032


def gz_len_upper_bound(raw_len: int) -> int:
    """Upper bound on ``len(gzip.compress(data))`` for ANY ``raw_len``-byte
    input: deflate's worst-case expansion is 5 bytes per (<=16 KiB) block
    plus zlib's bound slack, and gzip framing adds 18 bytes —
    ``raw//1000 + 64`` dominates both. ``gz_len_upper_bound(raw) < cap``
    therefore PROVES gz < cap (no split needed) without running gzip —
    the complement of the GZIP_MAX_RATIO lower bound. Most conversations
    sit far below the 1 MB cap, so the production count path never gzips
    them at all."""
    return raw_len + raw_len // 1000 + 64


def count_chunks_fast(
    costs: list[int],
    empty_len: int,
    max_size: int = MAX_PAYLOAD_SIZE,
    gz_len_fn: Callable[[int, int], int] | None = None,
    ratio: int = GZIP_MAX_RATIO,
) -> tuple[int, int]:
    """EXACT ``(n_chunks, total_raw_leaf_bytes)`` of the iter_chunks
    recursion, gzipping ONLY nodes in the ambiguous size band.

    Walks the same binary-halving tree on exact raw byte sums
    (raw(lo,hi) = empty + sum(costs[lo:hi]) + 2*(k-1)); a node is a leaf
    when k <= 1 (the reference emits oversized single events rather than
    looping) or when ``gz_len_upper_bound(raw) < max_size`` (provably
    fits), and a split when ``raw >= max_size*ratio`` (provably oversized,
    gz >= raw/1032). Only the band between the two proofs calls
    ``gz_len_fn(lo, hi)`` — the real gzip length of that node's payload.
    ``total_raw_leaf_bytes`` sums each emitted chunk's raw serialized
    size (envelope included), the uncompressed ship volume.
    """
    n = len(costs)
    prefix = [0]
    for c in costs:
        prefix.append(prefix[-1] + c)

    def raw(lo: int, hi: int) -> int:
        k = hi - lo
        return empty_len + (prefix[hi] - prefix[lo]) + 2 * max(0, k - 1)

    n_chunks = 0
    raw_total = 0
    stack = [(0, n)]
    while stack:
        lo, hi = stack.pop()
        k = hi - lo
        r = raw(lo, hi)
        if k <= 1 or gz_len_upper_bound(r) < max_size:
            n_chunks += 1
            raw_total += r
            continue
        if r < max_size * ratio:  # ambiguous band: must measure
            if gz_len_fn is None:
                raise ValueError("ambiguous-size node needs gz_len_fn")
            if gz_len_fn(lo, hi) < max_size:
                n_chunks += 1
                raw_total += r
                continue
        mid = lo + (hi - lo) // 2
        stack.append((mid, hi))
        stack.append((lo, mid))
    return n_chunks, raw_total


def split_infra(data: dict) -> tuple[dict, dict]:
    """Halve an infra payload's logEvents (/root/reference/src/function.py:
    437-455); entry key order is preserved through the re-dump."""
    entry = json.loads(data["entry"])
    events = entry["logEvents"]
    half = len(events) // 2

    def rebuild(sub: list) -> dict:
        e = dict(entry)
        e["logEvents"] = sub
        return {"context": data["context"], "entry": json.dumps(e)}

    return rebuild(events[:half]), rebuild(events[half:])


def split_logging(payload: list) -> tuple[list, list]:
    """Halve a MELT payload's logs (/root/reference/src/function.py:569-585)."""
    common = payload[0]["common"]
    logs = payload[0]["logs"]
    half = len(logs) // 2
    return (
        [{"common": common, "logs": logs[:half]}],
        [{"common": common, "logs": logs[half:]}],
    )


def _n_units(obj) -> int:
    if isinstance(obj, dict):  # infra
        return len(json.loads(obj["entry"])["logEvents"])
    return len(obj[0]["logs"])  # logging


def iter_chunks(
    obj,
    split_fn: Callable,
    max_size: int = MAX_PAYLOAD_SIZE,
) -> Iterator[bytes]:
    """Yield gzip chunks, each < max_size, recursive binary halving.

    gzip length is mtime-independent (the 4-byte MTIME header field is
    fixed width), so counts are deterministic. Guard: a single event that
    alone exceeds the cap is emitted oversized rather than looping — the
    reference would recurse forever on that input (:309-323)."""
    payload = gzip.compress(json.dumps(obj).encode())
    if len(payload) < max_size or _n_units(obj) <= 1:
        yield payload
        return
    left, right = split_fn(obj)
    yield from iter_chunks(left, split_fn, max_size)
    yield from iter_chunks(right, split_fn, max_size)


def chunk_stats(obj, split_fn, max_size: int = MAX_PAYLOAD_SIZE) -> dict:
    """n_chunks / byte totals for one conversation-path payload."""
    sizes = [len(c) for c in iter_chunks(obj, split_fn, max_size)]
    return {
        "n_chunks": len(sizes),
        "total_gz_bytes": sum(sizes),
        "max_chunk_bytes": max(sizes) if sizes else 0,
    }
