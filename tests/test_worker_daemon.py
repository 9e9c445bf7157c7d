"""The Python worker daemon: ``zipimporter.invalidate_caches`` re-reads
an archive only when it changed on disk, and ``get_spark``'s workers run
with that patch."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

from etl_project_spark import worker_daemon


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zd_first": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    import zd_first  # noqa: F401  (caches a zipimporter for the archive)

    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    # restored on teardown, so the patch stays inside this test
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    worker_daemon.install()
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in reads

    _write_zip(archive, {"zd_first": "X = 1\n", "zd_second": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zd_second").Y == 2
    monkeypatch.delitem(sys.modules, "zd_first")
    monkeypatch.delitem(sys.modules, "zd_second")


def test_python_workers_run_the_patched_daemon(spark):
    import pandas as pd

    def probe(batches):
        import zipimport

        for _ in batches:
            name = zipimport.zipimporter.invalidate_caches.__name__
            yield pd.DataFrame({"name": [name]})

    rows = spark.range(1).mapInPandas(probe, "name string").collect()
    assert [r["name"] for r in rows] == ["_invalidate_if_changed"]
