"""Python daemon of the session's PySpark workers (``spark.python.daemon.module``).

PySpark calls ``importlib.invalidate_caches()`` at the start of every task.
On interpreters whose ``zipimporter`` reads its archive's index eagerly
(CPython 3.11, 3.12.1) that makes every cached importer re-parse its whole
archive, although the archive (``pyspark.zip``) does not change while a
worker lives. The patch installed here re-reads an archive only when its
``(st_mtime_ns, st_size)`` stamp differs from the one taken at the last read,
or when it cannot be stat'ed; otherwise the importer keeps the cached index.

Run as ``python -m`` by the JVM, the module installs the patch, reads each
archive once, and hands over to ``pyspark.daemon.manager()``: every worker
the daemon forks inherits the patch and the stamped indexes.
"""

import os
import zipimport

# archive path -> stamp taken just before its last directory read; per
# process, like zipimport's own _zip_directory_cache it describes
_stamps: dict = {}
_upstream_read = zipimport._read_directory
_upstream_invalidate = zipimport.zipimporter.invalidate_caches


def _stamp(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _read_directory(archive):
    # stat before reading: a rewrite during the read leaves a stale stamp,
    # so the next invalidation reads the archive again
    stamp = _stamp(archive)
    files = _upstream_read(archive)
    _stamps[archive] = stamp
    return files


def _invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that keeps the cached index of an
    archive whose stamp is unchanged since it was last read."""
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or cached is None or _stamps.get(self.archive) != stamp:
        _upstream_invalidate(self)
    else:
        self._files = cached


def _install():
    # a lazy zipimporter (3.13+, which has _get_files) re-reads nothing here
    if hasattr(zipimport.zipimporter, "_get_files"):
        return
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    import importlib

    # install from the module under its own name, not from this __main__
    # copy, so the patched methods and tracebacks name the daemon module
    importlib.import_module(__spec__.name)._install()
    importlib.invalidate_caches()

    from pyspark import daemon

    daemon.manager()
