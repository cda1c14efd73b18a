"""The session's Python worker daemon (``ape_dts_spark._worker_daemon``).

PySpark invalidates the import caches on every task; the daemon's patch
keeps a zip archive's index across those calls unless the archive changed.
The first test exercises the patch in this process, without Spark; the
second checks that real workers run under it.
"""

from __future__ import annotations

import importlib
import importlib.util
import os
import sys
import zipfile
import zipimport

import pandas as pd

from ape_dts_spark import _worker_daemon

_LAZY = hasattr(zipimport.zipimporter, "_get_files")


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    # setting each patched attribute to its own value makes monkeypatch
    # restore upstream zipimport after the test
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    _worker_daemon._install()
    if _LAZY:
        assert zipimport.zipimporter.invalidate_caches is not _worker_daemon._invalidate_caches
        return
    assert zipimport.zipimporter.invalidate_caches is _worker_daemon._invalidate_caches

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"wd_probe_a.py": "X = 1\n"})
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: (reads.append(path), read(path))[1]
    )
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("wd_probe_a").X == 1
        assert reads.count(archive) == 1  # the importer's first read

        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 1

        size = os.path.getsize(archive)
        _write_zip(archive, {"wd_probe_a.py": "X = 1\n", "wd_probe_b.py": "Y = 2\n"})
        assert os.path.getsize(archive) != size
        importlib.invalidate_caches()
        assert reads.count(archive) == 2
        assert importlib.import_module("wd_probe_b").Y == 2
    finally:
        for name in ("wd_probe_a", "wd_probe_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        _worker_daemon._stamps.pop(archive, None)


def test_workers_run_under_the_daemon_module(spark):
    def patch_owner(batches):  # a closure: workers cannot import tests/
        for _ in batches:
            yield pd.DataFrame({"owner": [zipimport.zipimporter.invalidate_caches.__module__]})

    module = spark.conf.get("spark.python.daemon.module")
    # a renamed module would fail every Python UDF with "No module named ..."
    spec = importlib.util.find_spec(module)
    assert spec is not None, f"no module {module}"
    assert os.path.dirname(spec.origin) == os.path.dirname(_worker_daemon.__file__)

    expected = "zipimport" if _LAZY else module
    df = spark.range(2).repartition(2)
    for _ in range(2):  # fresh workers, then reused ones
        owners = {r.owner for r in df.mapInPandas(patch_owner, "owner string").collect()}
        assert owners == {expected}
