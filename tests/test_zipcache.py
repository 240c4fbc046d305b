"""The stat-checked zip importer invalidation (pii_detection_service_spark.zipcache)."""

import importlib
import sys
import zipfile
import zipimport

from pii_detection_service_spark import zipcache

_MODULES = {
    "zcpkg/__init__.py": "",
    "zcpkg/a/__init__.py": "",
    "zcpkg/a/m.py": "A = 1\n",
    "zcpkg/b/__init__.py": "",
    "zcpkg/b/m.py": "B = 2\n",
}


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


def test_invalidate_rereads_a_zip_only_when_it_changed(tmp_path, monkeypatch):
    # the stdlib method and the imported modules are restored afterwards
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    if sys.version_info >= (3, 12):
        assert not zipcache.install()
        assert not getattr(zipimport.zipimporter.invalidate_caches, "stat_checked", False)
        return
    for name in ("zcpkg", "zcpkg.a", "zcpkg.a.m", "zcpkg.a.new", "zcpkg.b", "zcpkg.b.m"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    archive = str(tmp_path / "pkgs.zip")
    _write_zip(archive, _MODULES)
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("zcpkg.a.m").A == 1
    assert importlib.import_module("zcpkg.b.m").B == 2
    importers = [
        f for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == archive
    ]
    assert len(importers) == 4  # the archive root, zcpkg, zcpkg.a, zcpkg.b

    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or real(path)
    )
    importlib.invalidate_caches()
    assert reads.count(archive) == 4  # stdlib: one re-read per importer

    assert not zipcache.install_in_task()  # not a Spark task
    assert zipcache.install() and zipcache.install()  # idempotent
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0

    _write_zip(archive, {**_MODULES, "zcpkg/a/new.py": "NEW = 3\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1  # one re-read, shared by every importer
    assert importlib.import_module("zcpkg.a.new").NEW == 3
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0
