"""Stat-checked zip-import refresh (session.install_zip_refresh_check).

pyspark's worker calls importlib.invalidate_caches() before every task;
the stock zipimporter answers by re-reading its archive directory once
per cached importer. With the check installed an unchanged archive is
not re-read, and a rewritten one still is.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from local_search_engine_spark.session import install_zip_refresh_check

MODS = ("lse_zr_pkg", "lse_zr_pkg.sub", "lse_zr_pkg.new")


def _write_zip(path, with_new: bool):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("lse_zr_pkg/__init__.py", "")
        z.writestr("lse_zr_pkg/sub.py", "VALUE = 1\n")
        if with_new:
            z.writestr("lse_zr_pkg/new.py", "VALUE = 2\n")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding a package, imported from sys.path, plus a counter
    of directory reads of that archive."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, with_new=False)
    sys.path.insert(0, path)
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        if archive == path:
            reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    try:
        install_zip_refresh_check()
        importlib.import_module("lse_zr_pkg.sub")
        yield path, reads
    finally:
        sys.path.remove(path)
        for name in MODS:
            sys.modules.pop(name, None)
        for key in [k for k in sys.path_importer_cache if k and k.startswith(path)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(zip_on_path):
    path, reads = zip_on_path
    # the package and its sub-package each hold an importer on the zip
    importers = [
        f for k, f in sys.path_importer_cache.items()
        if k and k.startswith(path) and isinstance(f, zipimport.zipimporter)
    ]
    assert len(importers) == 2, importers
    del reads[:]
    importlib.invalidate_caches()  # at most one read records the stat
    assert len(reads) <= 1
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(zip_on_path):
    path, reads = zip_on_path
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("lse_zr_pkg.new")
    _write_zip(path, with_new=True)
    del reads[:]
    importlib.invalidate_caches()
    assert reads, "a rewritten archive must be re-read"
    assert importlib.import_module("lse_zr_pkg.new").VALUE == 2
    assert importlib.import_module("lse_zr_pkg.sub").VALUE == 1


def test_install_is_idempotent():
    install_zip_refresh_check()
    method = zipimport.zipimporter.invalidate_caches
    install_zip_refresh_check()
    assert zipimport.zipimporter.invalidate_caches is method
    assert method.__module__ == "local_search_engine_spark.session"


def test_worker_running_an_engine_kernel_has_the_check(spark):
    """Inside an engine kernel (group_in_partitions' mapInPandas), the
    worker's zipimporter is the stat-checked one and a repeated
    importlib.invalidate_caches() re-reads no archive."""
    from pyspark.sql import functions as F

    from local_search_engine_spark.plans.layout import group_in_partitions

    def report(group):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        importlib.invalidate_caches()  # records stats of this worker's zips
        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda a: (reads.append(a), read_directory(a))[1]
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        n_zip = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        method = zipimport.zipimporter.invalidate_caches
        return pd.DataFrame({
            "installed": [method.__module__ == "local_search_engine_spark.session"],
            "rereads": [len(reads)],
            "n_zip": [n_zip],
        })

    df = spark.range(8).withColumn("part_id", (F.col("id") % 4).cast("int"))
    rows = group_in_partitions(
        df, ["part_id"], report, "installed boolean, rereads int, n_zip int"
    ).collect()
    assert len(rows) == 4
    assert all(r["installed"] for r in rows), rows
    assert all(r["rereads"] == 0 for r in rows), rows
    assert all(r["n_zip"] >= 1 for r in rows), rows
