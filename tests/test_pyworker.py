"""The per-task zip re-read that pyworker.install() removes.

A reused Python worker calls ``importlib.invalidate_caches()`` before
every task; on Python < 3.13 each zipimporter then re-read its archive's
whole directory (16 times per task for pyspark.zip). The package installs
a version that re-reads an archive only when its stat stamp changed."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

import language_diversity_common_crawler_spark  # noqa: F401  (installs)
from language_diversity_common_crawler_spark import pyworker

eager = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches is lazy from Python 3.13 on")


@eager
def test_worker_reads_no_zip_directory_on_second_invalidate(spark):
    """Inside a task: after the package is imported, a second
    invalidate_caches() reads no zip directory (16 without the fix)."""

    # defined here so cloudpickle sends it by value: the worker imports
    # the package only through the import below
    def reads_on_second_invalidate(x: pd.Series) -> pd.Series:
        import importlib
        import sys
        import zipimport

        import language_diversity_common_crawler_spark  # noqa: F401

        importlib.invalidate_caches()
        n_zip = sum(isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values())
        reads = []
        original = zipimport._read_directory

        def counted(path):
            reads.append(path)
            return original(path)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        return pd.Series([f"{n_zip}:{len(reads)}"] * len(x))

    udf = F.pandas_udf(reads_on_second_invalidate, "string")
    rows = spark.range(4).repartition(2).select(
        udf(F.col("id")).alias("r")).distinct().collect()
    pairs = [tuple(int(v) for v in r.r.split(":")) for r in rows]
    if not any(n_zip for n_zip, _ in pairs):
        pytest.skip("the workers import nothing from a zip archive")
    assert [reads for _, reads in pairs] == [0] * len(pairs), pairs


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)
    os.replace(tmp, path)


@eager
def test_zip_directory_reread_only_when_archive_changes(
        tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pw_m1.py": "X = 1\n",
                         "pw_pkg/__init__.py": "",
                         "pw_pkg/a.py": "A = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for m in ("pw_m1", "pw_m2", "pw_pkg", "pw_pkg.a"):
        monkeypatch.delitem(sys.modules, m, raising=False)
    importlib.import_module("pw_m1")
    importlib.import_module("pw_pkg.a")
    importers = [f for f in sys.path_importer_cache.values()
                 if isinstance(f, zipimport.zipimporter)
                 and f.archive == archive]
    try:
        assert len(importers) == 2  # the archive root and pw_pkg/
        # changed archive (another size): one read shared by both
        # importers, and the new module imports
        _write_zip(archive, {"pw_m1.py": "X = 1\n",
                             "pw_m2.py": "Y = 2\n",
                             "pw_pkg/__init__.py": "",
                             "pw_pkg/a.py": "A = 1\n"})
        reads = []
        original_read = zipimport._read_directory

        def counted(path):
            if path == archive:
                reads.append(path)
            return original_read(path)

        monkeypatch.setattr(zipimport, "_read_directory", counted)
        importlib.invalidate_caches()
        assert len(reads) == 1
        assert importlib.import_module("pw_m2").Y == 2

        # unchanged archive: no directory read
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []

        # deleted archive: no crash, and the state the original leaves
        os.remove(archive)
        importlib.invalidate_caches()
        patched = [(f._files, archive in zipimport._zip_directory_cache)
                   for f in importers]
        for f in importers:
            pyworker._ORIGINAL(f)
        original = [(f._files, archive in zipimport._zip_directory_cache)
                    for f in importers]
        assert patched == original == [({}, False)] * 2
    finally:
        for key in [k for k, f in sys.path_importer_cache.items()
                    if any(f is i for i in importers)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)
        pyworker._STAMPS.pop(archive, None)
