"""The reference loader fails the same, clear way on every call when the
checkout is missing (no half-initialised module left in sys.modules)."""

from __future__ import annotations

import sys

import pytest

import reference_oracle


def test_missing_reference_raises_file_not_found_every_call(monkeypatch, tmp_path):
    missing = str(tmp_path / "absent" / "function.py")
    monkeypatch.setattr(reference_oracle, "REFERENCE_PATH", missing)
    monkeypatch.delitem(sys.modules, "ref_function", raising=False)
    for _ in range(2):
        with pytest.raises(FileNotFoundError, match="absent"):
            reference_oracle.load_reference()
        assert "ref_function" not in sys.modules
