"""Property-style tests for the payload-split replay (pure Python, no
Spark): the reference's own pinned invariants
(/root/reference/test/log_ingestion_test.py:384-415) over randomized but
seeded inputs, which need no reference checkout, plus exact parity with
the reference recursion, which does."""

from __future__ import annotations

import gzip
import json
import math
import random

from hypothesis import example, given, settings, strategies as st

from aws_log_ingestion_spark.functions import chunking as C
from reference_oracle import oracle_infra_chunks, oracle_logging_chunks, requires_reference

CTX = {
    "function_name": "f",
    "invoked_function_arn": "a",
    "log_group_name": "/aws/lambda/g",
    "log_stream_name": "s",
}


def _entry(messages: list[str]) -> dict:
    events = [
        {"id": C.make_event_id(1, i), "timestamp": 1548935491174 + i, "message": m}
        for i, m in enumerate(messages)
    ]
    return C.build_entry("c1", "/aws/lambda/g", "s", "o", events)


msg = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
    min_size=0,
    max_size=200,
)


# every payload of two or more of these events is over a 400 B cap, so
# the halving recurses all the way down to single events
_rng = random.Random(0)
SPLIT_ALL = ["".join(chr(_rng.randrange(33, 0x2FF)) for _ in range(200)) for _ in range(16)]


def _chunks_and_depth(obj, split_fn, cap: int) -> tuple[list[bytes], int]:
    """``iter_chunks``' chunks and the deepest level its recursion
    reached (the top call is level 1). The recursive calls resolve the
    module attribute, so a counting wrapper installed there sees each."""
    real = C.iter_chunks
    level = deepest = 0

    def counted(o, fn, m):
        nonlocal level, deepest
        level += 1
        deepest = max(deepest, level)
        try:
            yield from real(o, fn, m)
        finally:
            level -= 1

    C.iter_chunks = counted
    try:
        chunks = list(counted(obj, split_fn, cap))
    finally:
        C.iter_chunks = real
    return chunks, deepest


def _depth_bound(n_events: int) -> int:
    """Binary halving to single events takes ceil(log2(n)) + 1 levels."""
    return math.ceil(math.log2(n_events)) + 1


def _count_chunks_fast(events: list[dict], build, cost, cap: int) -> int:
    """``count_chunks_fast``'s chunk count for the payload ``build``
    makes of ``events``: per-event costs, the empty envelope, and the
    real gzip length of an event interval's payload."""
    n, _raw = C.count_chunks_fast(
        [cost(e) for e in events],
        C.empty_payload_len(build([])),
        cap,
        lambda lo, hi: len(gzip.compress(json.dumps(build(events[lo:hi])).encode())),
    )
    return n


@settings(max_examples=25, deadline=None)
@given(st.lists(msg, min_size=1, max_size=60), st.integers(min_value=400, max_value=3000))
@example(SPLIT_ALL, 400)
def test_infra_split_invariants(messages, cap):
    """Reference-free: the chunks rebuild the input events in order,
    each is under the cap unless it holds a single event,
    ``count_chunks_fast`` counts exactly the chunks ``iter_chunks``
    emits, and the halving recurses at most ceil(log2(n)) + 1 levels."""
    entry = _entry(messages)
    data = C.build_infra_data(dict(CTX), entry)
    ours, depth = _chunks_and_depth(data, C.split_infra, cap)
    assert depth <= _depth_bound(len(messages))

    rebuilt = []
    for c in ours:
        payload = json.loads(gzip.decompress(c))
        assert list(payload.keys()) == ["context", "entry"]
        events = json.loads(payload["entry"])["logEvents"]
        rebuilt.extend(events)
        # every chunk under cap unless it holds a single unsplittable event
        assert len(c) < cap or len(events) == 1
    assert rebuilt == entry["logEvents"]  # loss-free, order-preserving

    def build(events):
        return C.build_infra_data(dict(CTX), {**entry, "logEvents": events})

    assert _count_chunks_fast(entry["logEvents"], build, C.event_cost_infra, cap) == len(ours)


@settings(max_examples=25, deadline=None)
@given(st.lists(msg, min_size=1, max_size=60), st.integers(min_value=400, max_value=3000))
@requires_reference
def test_infra_split_invariants_and_parity(messages, cap):
    entry = _entry(messages)
    data = C.build_infra_data(dict(CTX), entry)
    ours = list(C.iter_chunks(data, C.split_infra, cap))
    theirs = oracle_infra_chunks(entry, dict(CTX), cap)
    assert [len(c) for c in ours] == [len(c) for c in theirs]


@settings(max_examples=15, deadline=None)
@given(st.lists(msg, min_size=1, max_size=40), st.integers(min_value=500, max_value=2500))
@example(SPLIT_ALL, 500)
def test_logging_split_invariants(messages, cap):
    """Reference-free: the chunks' logs carry the input messages in
    order, each chunk is under the cap unless it holds a single log,
    ``count_chunks_fast`` counts exactly the chunks ``iter_chunks``
    emits, and the halving recurses at most ceil(log2(n)) + 1 levels."""
    entry = _entry(messages)
    payload = C.build_melt_payload(entry)
    ours, depth = _chunks_and_depth(payload, C.split_logging, cap)
    assert depth <= _depth_bound(len(messages))

    logs = []
    for c in ours:
        part = json.loads(gzip.decompress(c))
        assert set(part[0].keys()) == {"common", "logs"}
        logs.extend(part[0]["logs"])
        assert len(c) < cap or len(part[0]["logs"]) == 1
    assert [l["message"] for l in logs] == [e["message"] for e in entry["logEvents"]]

    def build(sub):
        return [{"common": payload[0]["common"], "logs": sub}]

    assert _count_chunks_fast(payload[0]["logs"], build, C.event_cost_logging, cap) == len(ours)


@settings(max_examples=15, deadline=None)
@given(st.lists(msg, min_size=1, max_size=40), st.integers(min_value=500, max_value=2500))
@requires_reference
def test_logging_split_invariants_and_parity(messages, cap):
    entry = _entry(messages)
    payload = C.build_melt_payload(entry)
    ours = list(C.iter_chunks(payload, C.split_logging, cap))
    theirs = oracle_logging_chunks(entry, dict(CTX), cap)
    assert [len(c) for c in ours] == [len(c) for c in theirs]


@settings(max_examples=30, deadline=None)
@given(msg)
@requires_reference
def test_melt_payload_single_event_parity(m):
    """Byte-exact MELT JSON for arbitrary single messages (key order,
    attribute placement) vs the reference."""
    entry = _entry([m])
    ours = json.dumps(C.build_melt_payload(entry))
    import json as j

    from reference_oracle import load_reference

    ref = load_reference()
    theirs = j.dumps(ref._package_log_payload({"entry": j.dumps(entry)}))
    assert ours == theirs
