"""The Python worker daemon keeps each zip archive's import index across
``importlib.invalidate_caches()`` while the archive is unchanged."""

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from grower_spark import worker_daemon

PATCHED = sys.version_info < (3, 12)


def _write_zip(path, modules: dict) -> None:
    """Write ``path`` as a new file (a new inode), as a rebuilt archive is."""
    tmp = str(path) + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, source in modules.items():
            zf.writestr(name, source)
    os.replace(tmp, path)


@pytest.mark.skipif(not PATCHED, reason="CPython 3.12+ keeps zipimport as is")
def test_unchanged_archive_keeps_its_index(tmp_path, monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches)
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"wd_mod_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("wd_mod_a").X == 1
        importer = sys.path_importer_cache[str(archive)]
        assert isinstance(importer, zipimport.zipimporter)
        importlib.invalidate_caches()  # the first call reads and stamps
        files = importer._files
        importlib.invalidate_caches()
        assert importer._files is files

        _write_zip(archive, {"wd_mod_a.py": "X = 1\n", "wd_mod_b.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert importer._files is not files
        assert importlib.import_module("wd_mod_b").Y == 2
    finally:
        for name in ("wd_mod_a", "wd_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)


def test_python_workers_run_the_patched_daemon(spark):
    """A task's worker is forked from ``grower_spark.worker_daemon`` (set
    by ``get_spark``) and carries its ``invalidate_caches``."""

    def report(batches):
        import zipimport

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"module": [zipimport.zipimporter.invalidate_caches.__module__]})

    rows = spark.range(1, numPartitions=1).mapInArrow(report, "module string").collect()
    assert [r.module for r in rows] == [
        "grower_spark.worker_daemon" if PATCHED else "zipimport"]
