"""The Python worker daemon (pdfspark/worker_daemon.py): per-task
``importlib.invalidate_caches()`` re-reads a zip archive's directory only
when the archive changed, and sessions from ``build_session`` run their
workers under it."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from pdfspark import worker_daemon

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches is already cheap; nothing is patched")


def _write_archive(path: str, modules: list) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_invalidate_caches_rereads_only_changed_archives(tmp_path, monkeypatch):
    mod_a, mod_b = "pdfspark_zipdaemon_a", "pdfspark_zipdaemon_b"
    archive = str(tmp_path / "mods.zip")
    _write_archive(archive, [mod_a])
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    for name in (mod_a, mod_b):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module(mod_a).NAME == mod_a
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)

    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)

    # a rewritten archive is re-read, so its new module imports
    _write_archive(archive, [mod_a, mod_b])
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module(mod_b).NAME == mod_b

    # an unchanged archive keeps the directory it already holds
    files = importer._files
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importer._files is files


def test_workers_run_under_the_daemon(spark):
    """Guards the build_session wiring: inside a mapInPandas body the
    zipimporter carries the daemon's patch."""

    def body(batches):
        import zipimport

        import pandas as pd

        from pdfspark import worker_daemon

        patched = (zipimport.zipimporter.invalidate_caches
                   is worker_daemon.invalidate_caches)
        for b in batches:
            yield pd.DataFrame({"patched": [patched] * len(b)})

    rows = spark.range(8).repartition(2).mapInPandas(
        body, "patched boolean").collect()
    assert len(rows) == 8 and all(r.patched for r in rows), rows
