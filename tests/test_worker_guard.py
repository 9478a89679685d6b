"""The worker-side zip-invalidation guard (gdalcubes_cpp_spark/_worker.py).

In-process tests install the guard explicitly over a temporary zip on
sys.path and restore zipimport afterwards; the Spark tests check that the
package import installs it on the workers, that a warm worker re-reads no
archive, and that addPyFile still reaches the workers.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import types
import uuid
import zipfile
import zipimport

import pytest

from gdalcubes_cpp_spark import _worker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _guarded() -> bool:
    return hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def guard(monkeypatch):
    """The guard installed in this process; monkeypatch restores the
    original method afterwards."""
    assert not _guarded()
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    _worker.install_zip_guard()


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch, guard):
    """(archive path, module-name prefix, read counter): a temporary zip
    first on sys.path, with the guard installed; undone afterwards."""
    path = str(tmp_path / "mods.zip")
    prefix = f"gcs_guard_{uuid.uuid4().hex[:8]}"
    _write_zip(path, {f"{prefix}_a": "VALUE = 1\n"})
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        if archive == path:
            reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    sys.path.insert(0, path)
    try:
        yield path, prefix, reads
    finally:
        sys.path.remove(path)
        sys.path_importer_cache.pop(path, None)
        zipimport._zip_directory_cache.pop(path, None)
        for name in [m for m in sys.modules if m.startswith(prefix)]:
            del sys.modules[name]


def test_unchanged_archive_is_not_reread(zip_on_path):
    path, prefix, reads = zip_on_path
    assert importlib.import_module(f"{prefix}_a").VALUE == 1
    importlib.invalidate_caches()      # the importer's first guarded call
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(zip_on_path):
    path, prefix, reads = zip_on_path
    importlib.import_module(f"{prefix}_a")
    importlib.invalidate_caches()
    reads.clear()
    # rewritten in place (same inode): the size and mtime carry the change
    _write_zip(path, {f"{prefix}_a": "VALUE = 1\n", f"{prefix}_b": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert reads == [path]
    assert importlib.import_module(f"{prefix}_b").VALUE == 2


def test_deleted_archive_falls_back_to_original(zip_on_path):
    path, prefix, reads = zip_on_path
    importlib.import_module(f"{prefix}_a")
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[path]
    reads.clear()
    os.remove(path)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    # the stat fails, so the original method runs every time: its read
    # fails and it empties the importer, as it would unguarded
    assert reads == [path, path]
    assert importer._files == {}
    assert path not in zipimport._zip_directory_cache


def test_install_is_idempotent(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    _worker.install_zip_guard()
    wrapper = zipimport.zipimporter.invalidate_caches
    _worker.install_zip_guard()
    assert zipimport.zipimporter.invalidate_caches is wrapper
    assert wrapper.__wrapped__ is original


def test_guard_is_a_noop_outside_a_worker_task(monkeypatch):
    """Neither a process without pyspark's worker module (the driver, a
    stream_exec child) nor one that has it loaded but runs no task."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    _worker.guard_zip_invalidation()
    assert not _guarded()
    monkeypatch.setitem(sys.modules, "pyspark.worker",
                        types.ModuleType("pyspark.worker"))
    _worker.guard_zip_invalidation()
    assert not _guarded()


def test_package_import_leaves_pyspark_unloaded():
    """stream_exec children import the package per chunk; the guard must
    not make them pay the pyspark import."""
    code = ("import sys, gdalcubes_cpp_spark, zipimport; "
            "print('pyspark' in sys.modules, "
            "hasattr(zipimport.zipimporter.invalidate_caches, '__wrapped__'))")
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True,
                         capture_output=True, text=True, timeout=120)
    assert out.stdout.split() == ["False", "False"]


def _probe_worker(batches):
    import importlib
    import sys
    import zipimport

    import pandas as pd

    import gdalcubes_cpp_spark  # noqa: F401  (as every engine UDF unpickles)

    # the importers' first guarded call, as the next task's set-up on this
    # worker makes it; then count the reads of one more call
    importlib.invalidate_caches()
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real
    for _ in batches:
        pass
    yield pd.DataFrame({
        "reads": [len(reads)],
        "zips": [sum(isinstance(f, zipimport.zipimporter)
                     for f in sys.path_importer_cache.values())],
        "guarded": [hasattr(zipimport.zipimporter.invalidate_caches,
                            "__wrapped__")],
    })


def test_warm_workers_reread_no_archive(spark):
    df = spark.range(0, 4, 1, numPartitions=4)
    schema = "reads long, zips long, guarded boolean"
    df.mapInPandas(_probe_worker, schema=schema).collect()  # warm-up
    rows = df.mapInPandas(_probe_worker, schema=schema).collect()
    assert len(rows) == 4
    assert all(r.guarded for r in rows)
    assert all(r.reads == 0 for r in rows), rows
    # the workers do hold zip importers (pyspark.zip, py4j), so 0 reads
    # is the guard's doing, not an empty cache
    assert any(r.zips > 0 for r in rows), rows


def test_addpyfile_after_warmup_is_importable(spark, tmp_path):
    df = spark.range(0, 4, 1, numPartitions=4)
    df.mapInPandas(_probe_worker, schema="reads long, zips long, guarded boolean").collect()
    name = f"gcs_added_{uuid.uuid4().hex[:8]}"
    path = str(tmp_path / f"{name}.zip")
    _write_zip(path, {name: "VALUE = 42\n"})
    spark.sparkContext.addPyFile(path)

    def use(batches):
        import importlib

        import gdalcubes_cpp_spark  # noqa: F401

        value = importlib.import_module(name).VALUE
        for pdf in batches:
            yield pdf.assign(id=value)

    got = [r.id for r in df.mapInPandas(use, schema=df.schema).collect()]
    assert got == [42] * 4
