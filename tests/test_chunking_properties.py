"""Property-style tests for the payload-split replay (pure Python, no
Spark): the reference's own pinned invariants
(/root/reference/test/log_ingestion_test.py:384-415) over randomized but
seeded inputs, plus exact parity with the reference recursion."""

from __future__ import annotations

import gzip
import json

from hypothesis import given, settings, strategies as st

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


@settings(max_examples=25, deadline=None)
@given(st.lists(msg, min_size=1, max_size=60), st.integers(min_value=400, max_value=3000))
@requires_reference
def test_infra_split_invariants_and_parity(messages, cap):
    entry = _entry(messages)
    data = C.build_infra_data(dict(CTX), entry)
    ours = list(C.iter_chunks(data, C.split_infra, cap))
    theirs = oracle_infra_chunks(entry, dict(CTX), cap)
    assert [len(c) for c in ours] == [len(c) for c in theirs]

    rebuilt = []
    for c in ours:
        payload = json.loads(gzip.decompress(c))
        assert list(payload.keys()) == ["context", "entry"]
        rebuilt.extend(json.loads(payload["entry"])["logEvents"])
    assert rebuilt == entry["logEvents"]  # loss-free, order-preserving

    for c in ours:
        # every chunk under cap unless it holds a single unsplittable event
        if len(c) >= cap:
            payload = json.loads(gzip.decompress(c))
            assert len(json.loads(payload["entry"])["logEvents"]) == 1


@settings(max_examples=15, deadline=None)
@given(st.lists(msg, min_size=1, max_size=40), st.integers(min_value=500, max_value=2500))
@requires_reference
def test_logging_split_invariants_and_parity(messages, cap):
    entry = _entry(messages)
    payload = C.build_melt_payload(entry)
    ours = list(C.iter_chunks(payload, C.split_logging, cap))
    theirs = oracle_logging_chunks(entry, dict(CTX), cap)
    assert [len(c) for c in ours] == [len(c) for c in theirs]

    logs = []
    for c in ours:
        part = json.loads(gzip.decompress(c))
        assert set(part[0].keys()) == {"common", "logs"}
        logs.extend(part[0]["logs"])
    assert [l["message"] for l in logs] == [e["message"] for e in entry["logEvents"]]


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
