"""Stat-checked zip importers: ``importlib.invalidate_caches()`` re-reads a
zip archive's directory only when the archive changed.

Spark's Python worker calls ``importlib.invalidate_caches()`` once per task;
the stock zipimporter re-reads its whole archive directory on each call.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd

from quarrycore_spark.session import (
    StatCheckedZipImporter,
    install_stat_checked_zipimport,
)


def _write_zip(path: str, name: str, body: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{name}.py", body)


def _count_reads(monkeypatch) -> list:
    calls = []
    read = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _isolated_import_state(monkeypatch, cache: dict) -> None:
    """Point the import system at a private importer cache and path-hook
    list, so installing the swap leaves the test process's own untouched."""
    monkeypatch.setattr(sys, "path_importer_cache", cache)
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))


def test_install_swaps_cached_importers_and_path_hook(tmp_path, monkeypatch):
    first = str(tmp_path / "first.zip")
    later = str(tmp_path / "later.zip")
    _write_zip(first, "qc_zip_first", "X = 1\n")
    _write_zip(later, "qc_zip_later", "X = 2\n")
    stock = zipimport.zipimporter(first)
    _isolated_import_state(monkeypatch, {first: stock})

    install_stat_checked_zipimport()
    install_stat_checked_zipimport()  # idempotent

    assert type(sys.path_importer_cache[first]) is StatCheckedZipImporter
    assert sys.path_importer_cache[first] is stock  # swapped in place
    assert StatCheckedZipImporter in sys.path_hooks
    assert zipimport.zipimporter not in sys.path_hooks
    # an archive put on the path after the swap gets the subclass too
    monkeypatch.syspath_prepend(later)
    assert importlib.import_module("qc_zip_later").X == 2
    assert type(sys.path_importer_cache[later]) is StatCheckedZipImporter
    sys.modules.pop("qc_zip_later", None)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "qc_zip_a", "A = 1\n")
    _isolated_import_state(monkeypatch, {})
    install_stat_checked_zipimport()
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("qc_zip_a").A == 1
    finder = sys.path_importer_cache[archive]
    assert type(finder) is StatCheckedZipImporter

    reads = _count_reads(monkeypatch)
    # a new importer has no recorded stat yet: its first invalidate reads
    importlib.invalidate_caches()
    assert reads == [archive]
    del reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    # rewritten archive: re-read, so its new module imports and the old
    # one is gone
    _write_zip(archive, "qc_zip_b", "B = 22\n")
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("qc_zip_b").B == 22
    assert finder.find_spec("qc_zip_a") is None
    importlib.invalidate_caches()
    assert reads == [archive]

    # deleted archive: dropped, as the stock importer drops it
    os.remove(archive)
    importlib.invalidate_caches()
    assert finder._files == {}
    assert archive not in zipimport._zip_directory_cache
    for name in ("qc_zip_a", "qc_zip_b"):
        sys.modules.pop(name, None)


def test_spark_worker_zip_importers_are_stat_checked(spark):
    """A task that imports the package leaves every zip importer of its
    worker stat-checked, and the per-task invalidate reads no archive."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import quarrycore_spark  # noqa: F401

        for _ in batches:
            pass
        zips = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]
        stat_checked = sum(
            type(f).__name__ == "StatCheckedZipImporter" for f in zips
        )
        reads = []
        read = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        yield pd.DataFrame(
            {"zips": [len(zips)], "stat_checked": [stat_checked],
             "reads": [len(reads)]}
        )

    rows = (
        spark.range(4).repartition(4)
        .mapInPandas(probe, "zips long, stat_checked long, reads long")
        .collect()
    )
    assert rows
    for r in rows:
        assert r["zips"] > 0  # pyspark.zip is on every worker's path
        assert r["stat_checked"] == r["zips"]
        assert r["reads"] == 0


def test_ensure_py_files_ships_the_zip_once(spark):
    """ensure_py_files asks the context whether the package zip has
    shipped, so a second call adds it neither to the context's file list
    nor to the workers' import path again."""
    from quarrycore_spark.session import ensure_py_files

    sc = spark.sparkContext
    ensure_py_files(spark)
    ensure_py_files(spark)
    name = f"quarrycore_spark_{os.getpid()}.zip"
    assert [f for f in sc.listFiles if f.endswith(name)] == [f"file:/tmp/{name}"]
    assert sc._python_includes.count(name) == 1
