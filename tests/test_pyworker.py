"""The zip-importer guard (``ddspark._pyworker``): ``importlib.invalidate_caches()``
must not re-read an unchanged archive's directory, must still pick up an
archive rewritten in place, and must make no read at all in a reused Spark
Python worker after the first task there."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from ddspark.agg import quantile_sketch  # importing ddspark installs the guard

before_313 = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="Python 3.13+ invalidates zip directories lazily; no guard",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zgpkg/__init__.py", "")
        zf.writestr("zgpkg/sub/__init__.py", "")
        for name, src in modules.items():
            zf.writestr(f"zgpkg/sub/{name}.py", src)


@pytest.fixture
def zip_pkg(tmp_path, monkeypatch):
    """A zip package ``zgpkg.sub`` on ``sys.path``, imported, and a counter of
    ``zipimport._read_directory`` calls on that archive."""
    archive = str(tmp_path / "zg.zip")
    _write_zip(archive, {"a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    importlib.import_module("zgpkg.sub.a")

    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, reads
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    for name in [m for m in sys.modules if m.split(".")[0] == "zgpkg"]:
        del sys.modules[name]


@before_313
def test_unchanged_archive_is_not_reread(zip_pkg):
    archive, reads = zip_pkg
    importers = [v for k, v in sys.path_importer_cache.items()
                 if k.startswith(archive) and v is not None]
    assert len(importers) >= 2  # the archive root and zgpkg/sub
    importlib.invalidate_caches()
    assert len(reads) == 1  # one read per archive, shared by its importers
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module("zgpkg.sub.a").X == 1


@before_313
def test_rewritten_archive_is_reread_and_deleted_is_harmless(zip_pkg):
    archive, reads = zip_pkg
    importlib.invalidate_caches()
    _write_zip(archive, {"a": "X = 1\n", "b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zgpkg.sub.b").Y == 2
    n = len(reads)
    importlib.invalidate_caches()
    assert len(reads) == n

    os.remove(archive)
    importlib.invalidate_caches()  # raises nothing
    importlib.invalidate_caches()
    assert all(v._files == {} for k, v in sys.path_importer_cache.items()
               if k.startswith(archive) and v is not None)


def test_reused_worker_task_makes_no_zip_reads(spark):
    """After a worker has run a ddspark UDF, the next task's
    ``importlib.invalidate_caches()`` reads no zip directory.  Which idle
    worker a task lands on is up to Spark, so the probe records whether
    ddspark was already loaded there and rounds repeat until one was."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        had_ddspark = "ddspark" in sys.modules
        reads = []
        real = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        yield pd.DataFrame({"had_ddspark": [had_ddspark], "reads": [len(reads)]})

    values = spark.range(0, 4000, numPartitions=4).selectExpr(
        "id % 3 AS g", "CAST(id + 1 AS DOUBLE) AS v")
    seen = []
    for _ in range(8):
        quantile_sketch(values, "v", by=["g"], qs=[0.5], engine="kernel").collect()
        out = spark.range(4, numPartitions=4).mapInPandas(
            probe, "had_ddspark boolean, reads long").toPandas()
        seen += list(out.itertuples(index=False))
        if any(r.had_ddspark for r in seen):
            break
    warm = [r for r in seen if r.had_ddspark]
    assert warm, seen
    assert all(r.reads == 0 for r in warm), seen
