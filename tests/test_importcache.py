"""Pins for `_importcache`: a zip importer re-reads its archive's directory
only when the archive changed, and every Python worker task of a package
UDF already runs with the install."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd

from pdf_parse_bench_spark import _importcache


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def test_zip_directory_reread_only_when_archive_changes(tmp_path, monkeypatch,
                                                      request):
    _importcache.install()
    patched = zipimport.zipimporter.invalidate_caches
    _importcache.install()
    assert zipimport.zipimporter.invalidate_caches is patched

    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"a": "X = 1\n"})
    request.addfinalizer(lambda: [sys.modules.pop(n, None) for n in "ab"])
    monkeypatch.syspath_prepend(str(archive))
    import a
    assert a.X == 1

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()  # the importer's first call takes its stamp
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 0

    _write_zip(archive, {"a": "X = 1\n", "b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1
    import b
    assert b.Y == 2


def test_every_worker_task_runs_with_the_install(spark):
    n = 3 * spark.sparkContext.defaultParallelism

    def report(batches):
        # Unpickling this UDF imports `_importcache`, hence the package.
        for _ in batches:
            pass
        yield pd.DataFrame({
            "impl": [zipimport.zipimporter.invalidate_caches.__module__],
            "want": [_importcache.__name__],
        })

    rows = (spark.range(n, numPartitions=n)
            .mapInPandas(report, "impl string, want string").collect())
    assert len(rows) == n
    assert {(r.impl, r.want) for r in rows} == {
        ("pdf_parse_bench_spark._importcache",) * 2}
