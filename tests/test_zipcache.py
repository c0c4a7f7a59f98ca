"""The stat-checked ``zipimporter.invalidate_caches`` (package ``zipcache``):
an unchanged archive is never re-read, a rewritten one is, and Spark's
Python workers run the wrapper once they have unpickled package code."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import dataworks_audit_data_ingest_spark.zipcache as zipcache


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def test_invalidation_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zc_probe_a": "VALUE = 1\n"})
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    # a private importer cache: only this test's importers see invalidation
    monkeypatch.setattr(sys, "path_importer_cache", {})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zc_probe_a", "zc_probe_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)

    assert importlib.import_module("zc_probe_a").VALUE == 1
    assert isinstance(sys.path_importer_cache[str(archive)], zipimport.zipimporter)
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, {"zc_probe_a": "VALUE = 1\n", "zc_probe_b": "VALUE = 22\n"})
    importlib.invalidate_caches()
    assert reads == [str(archive)]
    assert importlib.import_module("zc_probe_b").VALUE == 22
    importlib.invalidate_caches()
    assert reads == [str(archive)]


def test_python_workers_run_the_stat_checked_wrapper(spark):
    from dataworks_audit_data_ingest_spark.functions.hashing import spark_hash32

    def report(rows):
        import zipimport

        list(rows)
        inv = zipimport.zipimporter.invalidate_caches
        yield f"{inv.__module__}.{inv.__qualname__}"

    n = 8
    installed = (
        spark.sparkContext.parallelize(range(n), n)
        .map(lambda i: spark_hash32(str(i)))  # package code: imports the package
        .mapPartitions(report)
        .collect()
    )
    want = f"{zipcache.__name__}.{zipcache.invalidate_caches.__qualname__}"
    assert installed == [want] * n
