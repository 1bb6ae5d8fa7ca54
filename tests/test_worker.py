"""Python worker policy (worker.py): ``zipimporter.invalidate_caches``
re-reads an archive only when the archive changed, in the engine's
Spark Python workers and nowhere else."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from mapreduce_kmeans_clustering_spark.worker import install

STDLIB = zipimport.zipimporter.invalidate_caches


@pytest.fixture
def patched(monkeypatch):
    """``install()`` in this process, undone after the test."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", STDLIB)
    install()


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip with module ``zw_a`` on ``sys.path``, imported once."""
    path = tmp_path / "mods.zip"
    _write(path, zw_a="A = 1\n")
    monkeypatch.syspath_prepend(str(path))
    assert importlib.import_module("zw_a").A == 1
    yield path
    sys.path_importer_cache.pop(str(path), None)
    for name in ("zw_a", "zw_b"):
        sys.modules.pop(name, None)


def _write(path, **modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _reads(monkeypatch, path):
    """The list ``zipimport._read_directory`` appends to on each read
    of ``path``."""
    seen = []
    real = zipimport._read_directory

    def counting(archive):
        if archive == str(path):
            seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="CPython >= 3.13 reads lazily")
def test_stdlib_rereads_an_unchanged_archive(archive, monkeypatch):
    seen = _reads(monkeypatch, archive)
    importlib.invalidate_caches()
    assert seen  # the per-task cost install() removes


def test_unchanged_archive_is_not_reread(patched, archive, monkeypatch):
    importlib.invalidate_caches()  # the importer's first stat-checked call
    seen = _reads(monkeypatch, archive)
    for _ in range(3):
        importlib.invalidate_caches()
    assert seen == []


def test_rewritten_archive_is_reread(patched, archive):
    importlib.invalidate_caches()
    _write(archive, zw_a="A = 1\n", zw_b="B = 2\n")
    importlib.invalidate_caches()
    assert importlib.import_module("zw_b").B == 2


def test_deleted_archive_empties_the_importer(patched, archive):
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[str(archive)]
    archive.unlink()
    importlib.invalidate_caches()
    assert importer.find_spec("zw_a") is None


def test_install_is_idempotent(patched):
    once = zipimport.zipimporter.invalidate_caches
    install()
    assert zipimport.zipimporter.invalidate_caches is once


@pytest.mark.skipif(sys.version_info < (3, 13), reason="needs CPython >= 3.13")
def test_install_leaves_lazy_invalidation_alone(patched):
    assert zipimport.zipimporter.invalidate_caches is STDLIB


def test_engine_workers_are_patched_and_the_driver_is_not(spark):
    """Every engine UDF imports the package inside a task, and the
    package ``__init__`` installs the patch there: a probe that reads
    through ``functions.arrow`` sees it on every partition, and a
    second ``invalidate_caches`` re-reads no archive. The driver keeps
    the stdlib method."""
    from mapreduce_kmeans_clustering_spark.functions.arrow import _batch

    def probe(batches):
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or real(p)
        try:
            importlib.invalidate_caches()
            del reads[:]
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        patched = getattr(zipimport.zipimporter.invalidate_caches, "stat_checked", False)
        yield _batch(patched=[patched], rereads=[len(reads)])

    rows = (
        spark.range(0, 8, numPartitions=4)
        .mapInArrow(probe, "patched boolean, rereads long")
        .collect()
    )
    assert len(rows) == 4
    assert all(r["patched"] and r["rereads"] == 0 for r in rows), rows
    assert zipimport.zipimporter.invalidate_caches is STDLIB
