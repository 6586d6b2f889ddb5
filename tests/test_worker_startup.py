"""The package's zipimporter stat guard: ``importlib.invalidate_caches()``
re-reads a zip archive's central directory only when the archive changed.

Spark runs ``importlib.invalidate_caches()`` at the start of every Python
worker call, so without the guard each reused worker re-reads pyspark.zip
on every call.  The guard is installed by importing the package."""
from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa

import hadoop_fixedlengthinputformat_spark as pkg


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def _count_reads(monkeypatch, archive: str) -> list[str]:
    """Record every central-directory read of ``archive`` from here on."""
    reads: list[str] = []
    original = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return original(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def _on_path(monkeypatch, archive: str, *modules: str) -> None:
    monkeypatch.syspath_prepend(archive)
    for name in modules:
        monkeypatch.delitem(sys.modules, name, raising=False)


def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "startup_a.zip")
    _write_zip(archive, {"startup_mod_a": "VALUE = 1\n"})
    _on_path(monkeypatch, archive, "startup_mod_a")
    assert importlib.import_module("startup_mod_a").VALUE == 1
    importlib.invalidate_caches()  # first call per importer: a real read

    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_replaced_zip_is_reread_once_and_new_module_imports(tmp_path, monkeypatch):
    archive = str(tmp_path / "startup_b.zip")
    _write_zip(archive, {"startup_mod_b": "VALUE = 1\n"})
    _on_path(monkeypatch, archive, "startup_mod_b", "startup_mod_c")
    assert importlib.import_module("startup_mod_b").VALUE == 1
    importlib.invalidate_caches()

    # the way _ship_package refreshes the package zip: write aside, replace
    tmp = archive + ".tmp"
    _write_zip(tmp, {"startup_mod_b": "VALUE = 1\n", "startup_mod_c": "VALUE = 2\n"})
    os.replace(tmp, archive)

    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("startup_mod_c").VALUE == 2
    importlib.invalidate_caches()
    assert reads == [archive]


def test_installing_twice_does_not_wrap_twice():
    before = zipimport.zipimporter.invalidate_caches
    assert before._stat_guarded
    pkg._install_zip_stat_guard()
    importlib.reload(pkg)
    after = zipimport.zipimporter.invalidate_caches
    assert after is before
    assert not getattr(after.__wrapped__, "_stat_guarded", False)


def test_guard_is_installed_inside_spark_python_worker(spark):
    def probe(batches):
        import importlib
        import zipimport

        import hadoop_fixedlengthinputformat_spark  # noqa: F401

        for _ in batches:
            pass
        importlib.invalidate_caches()
        reads = []
        original = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return original(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        guarded = getattr(zipimport.zipimporter.invalidate_caches, "_stat_guarded", False)
        yield pa.RecordBatch.from_pydict(
            {"guarded": [bool(guarded)], "rereads": [len(reads)]}
        )

    rows = (
        spark.range(1, numPartitions=1)
        .mapInArrow(probe, "guarded boolean, rereads long")
        .collect()
    )
    assert [(r.guarded, r.rereads) for r in rows] == [(True, 0)]
