"""``functions/zipcache.py``: an unchanged archive is not re-read on
``importlib.invalidate_caches()``, a rewritten one is, and Python workers
that run a package UDF have the patch installed."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from aws_log_ingestion_spark.functions import zipcache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport invalidation is lazy on 3.13+"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zc_mod_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("zc_mod_a", "zc_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)
    zipcache._read_at.pop(path, None)


def _count_reads(monkeypatch) -> list[str]:
    reads: list[str] = []
    read = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    zipcache.install()
    assert importlib.import_module("zc_mod_a").VALUE == "a"
    importlib.invalidate_caches()  # the first call after install reads
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread_and_new_module_imports(archive, monkeypatch):
    zipcache.install()
    importlib.import_module("zc_mod_a")
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("zc_mod_b")
    _write_zip(archive, {"zc_mod_a": "VALUE = 'a'\n", "zc_mod_b": "VALUE = 'b'\n"})
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zc_mod_b").VALUE == "b"


def test_install_twice_is_a_noop():
    zipcache.install()
    patched = zipimport.zipimporter.invalidate_caches
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is patched


def test_python_worker_runs_patched_invalidation(spark):
    def probe(batches):
        for _ in batches:
            pass
        installed = getattr(zipimport.zipimporter.invalidate_caches, "_stat_keyed", False)
        importlib.invalidate_caches()
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        # `zipcache` is a package global, as the production UDFs reference
        # one: the worker imports the package to unpickle this function
        yield pd.DataFrame(
            {
                "installed": [installed],
                "reads": [len(reads)],
                "zips": [zips],
                "keyed": [len(zipcache._read_at)],
            }
        )

    schema = "installed boolean, reads long, zips long, keyed long"
    rows = spark.range(1, numPartitions=1).mapInPandas(probe, schema).collect()
    assert len(rows) == 1
    assert rows[0]["installed"]
    assert rows[0]["zips"] > 0, "the worker holds no zipimporter to check"
    assert rows[0]["reads"] == 0
    assert rows[0]["keyed"] > 0
