"""Session settings from the environment (session.py): the default heap
never exceeds a share of physical RAM, an explicit SPARK_DRIVER_MEMORY
larger than RAM is refused before any JVM starts, and a malformed
SPARK_GRAFT_EXTRA_CONF is refused by name. Physical RAM is faked, so no
Spark runs."""

from __future__ import annotations

import pytest

from aws_log_ingestion_spark import session

GIB = 1 << 30


@pytest.fixture
def ram(monkeypatch):
    def fake(gib):
        monkeypatch.setattr(session, "_physical_ram_bytes", lambda: gib * GIB)

    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    return fake


def test_default_heap_capped_by_ram(ram):
    ram(15)
    heap = session._mem_bytes(session._heap_for(4))
    assert heap <= 15 * GIB * session.RAM_SHARE
    assert session._driver_memory(4, "") == session._heap_for(4)


def test_default_heap_scales_with_cores_when_ram_allows(ram):
    ram(256)
    assert session._heap_for(None) == "16384m"
    assert session._heap_for(4) == "16384m"  # the 16g floor
    assert session._heap_for(32) == f"{48 << 10}m"  # 1.5 GB per core


def test_driver_memory_above_ram_refused(ram, monkeypatch):
    ram(15)
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "16g")
    with pytest.raises(ValueError, match="physical RAM"):
        session._driver_memory(4, "")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3072m")
    assert session._driver_memory(4, "") == "3072m"


def test_mem_bytes_units():
    assert session._mem_bytes("8g") == 8 * GIB
    assert session._mem_bytes("512MB") == 512 << 20
    assert session._mem_bytes("2048") == 2 * GIB  # no unit: MiB
    assert session._mem_bytes("100b") == 100
    with pytest.raises(ValueError):
        session._mem_bytes("8 gigs")


def test_extra_conf_parsed_and_malformed_entry_refused(monkeypatch):
    for bad in ("spark.ui.enabled", "=true"):
        monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", f"spark.sql.shuffle.partitions=8;{bad}")
        with pytest.raises(ValueError, match=f"SPARK_GRAFT_EXTRA_CONF entry '{bad}'"):
            session.get_spark(cores=1)
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", " a=1; b = x=y ;")
    assert session._extra_conf_env() == {"a": "1", "b": "x=y"}
