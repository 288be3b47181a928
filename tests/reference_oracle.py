"""Differential oracle: import the reference's pure functions and run them
on the same synthetic conversations the Spark pipeline consumes.

The reference module imports aiohttp at load (network layer we never
invoke); a minimal stub satisfies the import so the pure dataflow
functions (_get_entry_type, _filter_log_lines, _package_log_payload,
_generate_payloads, format_agent_logs) are usable as golden oracles.
"""

from __future__ import annotations

import importlib.util
import os
import sys
import types

import pytest

REFERENCE_PATH = "/root/reference/src/function.py"

# For tests that load the reference checkout (its functions or its event
# fixtures): skip, with the path in the reason, when it is not present.
requires_reference = pytest.mark.skipif(
    not os.path.exists(REFERENCE_PATH),
    reason=f"reference checkout not found: {REFERENCE_PATH} is missing",
)


def _stub_aiohttp() -> None:
    if "aiohttp" in sys.modules:
        return
    stub = types.ModuleType("aiohttp")

    class _ClientTimeout:
        def __init__(self, total=None):
            self.total = total

    class _ClientResponseError(Exception):
        pass

    stub.ClientTimeout = _ClientTimeout
    stub.ClientResponseError = _ClientResponseError
    stub.ClientSession = object
    sys.modules["aiohttp"] = stub


def load_reference():
    """Import the reference checkout at ``REFERENCE_PATH`` as module
    ``ref_function``. A missing checkout raises FileNotFoundError naming
    the path, on every call."""
    _stub_aiohttp()
    if "ref_function" in sys.modules:
        return sys.modules["ref_function"]
    spec = importlib.util.spec_from_file_location("ref_function", REFERENCE_PATH)
    mod = importlib.util.module_from_spec(spec)
    # register only a module that loaded: a half-initialised entry would
    # turn every later call's FileNotFoundError into an AttributeError
    spec.loader.exec_module(mod)
    sys.modules["ref_function"] = mod
    return mod


def rows_to_entry(conv_rows: list[dict], log_group: str, log_stream: str, owner: str) -> dict:
    """Rebuild the reference-shaped log entry from transcript rows
    (FIXTURES.md §5 oracle recipe). conv_rows: dicts with turn_idx,
    text, ts_millis, sorted by turn_idx."""
    from aws_log_ingestion_spark.functions.chunking import build_entry, make_event_id

    conv_rows = sorted(conv_rows, key=lambda r: r["turn_idx"])
    conv_digits = "".join(ch for ch in str(conv_rows[0].get("conv_id", "0")) if ch.isdigit())
    ordinal = int(conv_digits or 0)
    events = [
        {
            "id": make_event_id(ordinal, r["turn_idx"]),
            "timestamp": r["ts_millis"],
            "message": r["text"],
        }
        for r in conv_rows
    ]
    return build_entry(
        str(conv_rows[0].get("conv_id", "c0")), log_group, log_stream, owner, events
    )


def oracle_entry_type(entry: dict) -> str:
    ref = load_reference()
    return ref._get_entry_type(entry).value


def oracle_filtered_messages(entry: dict) -> list[str]:
    ref = load_reference()
    return [e["message"] for e in ref._filter_log_lines(entry)["logEvents"]]


def oracle_melt(entry: dict, context: dict | None = None) -> list[dict]:
    """Reference MELT log messages for an entry."""
    import json

    ref = load_reference()
    data = {"context": context or {}, "entry": json.dumps(entry)}
    return ref._package_log_payload(data)


def oracle_infra_chunks(entry: dict, context: dict, max_size: int | None = None):
    import json

    ref = load_reference()
    if max_size is not None:
        ref.MAX_PAYLOAD_SIZE = max_size
    data = {"context": context, "entry": json.dumps(entry)}
    return ref._generate_payloads(data, ref._split_infra_payload)


def oracle_logging_chunks(entry: dict, context: dict, max_size: int | None = None):
    import json

    ref = load_reference()
    if max_size is not None:
        ref.MAX_PAYLOAD_SIZE = max_size
    data = {"context": context, "entry": json.dumps(entry)}
    payload = ref._package_log_payload(data)
    return ref._generate_payloads(payload, ref._split_log_payload)
