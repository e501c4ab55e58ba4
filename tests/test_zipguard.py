"""The stat-guarded zipimporter re-read (crawl4ai_spark.zipguard)."""

import importlib
import os
import sys
import zipfile
import zipimport

from crawl4ai_spark import zipguard


def _write_module(zpath, version):
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("m.py", f"V = {version!r}\n")


def test_guard_rereads_only_a_changed_archive(tmp_path):
    zpath = str(tmp_path / "m.zip")
    _write_module(zpath, 1)
    sys.path.insert(0, zpath)
    try:
        assert importlib.import_module("m").V == 1
        imp = sys.path_importer_cache[zpath]
        assert isinstance(imp, zipimport.zipimporter)
        guarded = zipguard._stat_guarded(zipimport.zipimporter.invalidate_caches)

        cache = zipimport._zip_directory_cache  # archive -> directory
        guarded(imp)  # no stamp yet: re-reads and stamps
        files = cache[zpath]
        guarded(imp)
        guarded(imp)
        assert cache[zpath] is files  # unchanged archive: no re-read

        _write_module(zpath, 22)  # one byte longer: the stamp moves
        guarded(imp)
        assert cache.get(zpath) is not files
        del sys.modules["m"]
        assert importlib.import_module("m").V == 22

        os.remove(zpath)
        guarded(imp)  # stat fails: the stdlib path runs and drops the entry
        assert zpath not in cache
    finally:
        sys.path.remove(zpath)
        sys.path_importer_cache.pop(zpath, None)
        sys.modules.pop("m", None)


def test_driver_keeps_stdlib_invalidate_caches():
    import crawl4ai_spark  # noqa: F401

    zipguard.install()  # no TaskContext in this process
    assert not zipguard.installed()
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_guard_installed_in_workers(spark):
    rows = (
        spark.range(0, 8, 1, 2)
        .mapInPandas(zipguard.report, "guarded boolean")
        .collect()
    )
    assert len(rows) == 2
    assert all(r.guarded for r in rows)
