"""The stat-gated zipimport invalidation (namedis_spark._zipgate).

Spark-free except the last test, which checks that a Python worker
installs the gate when it imports the package and the driver does not.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from namedis_spark import _zipgate

old_python = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="the gate applies to CPython < 3.13 only"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding module m1 on sys.path, m1 imported, and a spy listing
    every archive whose directory zipimport reads. The original
    ``invalidate_caches`` is restored afterwards."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"m1": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    for m in ("m1", "m2"):
        monkeypatch.delitem(sys.modules, m, raising=False)
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    import m1

    assert m1.X == 1
    reads: list[str] = []
    real = zipimport._read_directory

    def spy(archive_path):
        reads.append(archive_path)
        return real(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    yield path, reads
    zipimport._zip_directory_cache.pop(path, None)


@old_python
def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()
    assert reads.count(path) == 1  # ungated: every invalidate re-reads
    assert _zipgate.install() and _zipgate.installed()
    importlib.invalidate_caches()  # first gated call reads and records
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert path not in reads


@old_python
def test_rewritten_archive_is_reread(archive):
    path, reads = archive
    _zipgate.install()
    importlib.invalidate_caches()
    reads.clear()
    _write_zip(path, {"m1": "X = 1\n", "m2": "Y = 2  # longer archive\n"})
    importlib.invalidate_caches()
    assert reads.count(path) == 1
    import m2

    assert m2.Y == 2
    reads.clear()
    importlib.invalidate_caches()
    assert path not in reads


@old_python
def test_install_is_idempotent(archive):
    assert _zipgate.install()
    gated = zipimport.zipimporter.invalidate_caches
    assert _zipgate.install()
    assert zipimport.zipimporter.invalidate_caches is gated


def test_not_installed_on_313(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert not _zipgate.install()
    assert zipimport.zipimporter.invalidate_caches is original
    assert not _zipgate.installed()


def test_worker_installs_gate_driver_does_not(spark):
    import pandas as pd

    def probe(batches):
        from namedis_spark import _zipgate as zg  # imports the package

        for _ in batches:
            yield pd.DataFrame({"gated": [zg.installed()]})

    rows = spark.range(0, 4, 1, 4).mapInPandas(probe, "gated boolean").collect()
    assert [r.gated for r in rows] == [sys.version_info < (3, 13)] * 4
    assert not _zipgate.installed()
