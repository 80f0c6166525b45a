"""The engine's Python daemon: ``pyspark.daemon`` behind a zipimport fix.

Set as ``spark.python.daemon.module`` by :func:`mare_spark.session.get_spark`.
The JVM starts this module once per Python executable and environment, and
every Python worker is forked from it, so what it installs holds in every
task of every Python stage: MaRe ``map``/``reduce``, the operators' pandas
UDFs and user UDFs.

The fix: PySpark's worker calls ``importlib.invalidate_caches()`` once per
task (``pyspark.worker_util.setup_spark_files``). Before CPython 3.13 that
makes every ``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read
its archive's whole central directory, in pure Python. A worker holds about
16 of them over three archives on its ``PYTHONPATH`` (``pyspark.zip``, the
py4j zip and the ``spark-core`` jar, with 1,328, 9 and 5,359 entries), so
each task made 16 directory reads before reading a row. :func:`install`
replaces ``zipimporter.invalidate_caches`` with one that re-reads an archive
only when its ``(st_mtime_ns, st_size)`` differs from the stat taken just
before the last read; otherwise the importer is pointed at the directory
already in ``zipimport._zip_directory_cache``, the dict a re-read would
rebuild. An archive that changes is still re-read. CPython 3.13 invalidates
lazily itself, so there :func:`install` changes nothing.

Worker-module selection is ``pyspark.daemon``'s own: it reads ``sys.argv``,
which ``python -m`` leaves as the JVM passed it. Importing this module (and
so the ``mare_spark`` package) must write nothing to stdout: the JVM reads
the daemon's port from it.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive -> (st_mtime_ns, st_size) taken just before its directory was
# read; process-wide, like zipimport's own directory cache
_read_at: dict[str, tuple[int, int]] = {}
_read_unstamped = zipimport._read_directory


def _stat(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _read_directory(archive: str) -> dict:
    """``zipimport._read_directory`` that records the archive's stat taken
    before the read: a change during the read shows at the next check."""
    stamp = _stat(archive)
    files = _read_unstamped(archive)
    if stamp is not None:
        _read_at[archive] = stamp
    return files


def _invalidate_caches(self) -> None:
    """Re-read ``self.archive``'s directory only if the archive changed
    since the last read (``zipimporter.invalidate_caches`` re-reads it
    always)."""
    archive = self.archive
    files = zipimport._zip_directory_cache.get(archive)
    if files is not None and _read_at.get(archive, False) == _stat(archive):
        self._files = files
        return
    try:
        self._files = zipimport._read_directory(archive)
    except zipimport.ZipImportError:
        zipimport._zip_directory_cache.pop(archive, None)
        _read_at.pop(archive, None)
        self._files = {}
    else:
        zipimport._zip_directory_cache[archive] = self._files


def eager_zipimport() -> bool:
    """Whether this Python's ``zipimporter.invalidate_caches`` re-reads the
    archive on every call (3.10-3.12; 3.13 drops the cached directory and
    reads it on next use)."""
    return (3, 10) <= sys.version_info < (3, 13)


def install() -> bool:
    """On an eager Python, stamp every directory read and replace
    ``zipimporter.invalidate_caches``; return whether it did."""
    if not eager_zipimport():
        return False
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    # Directories read before now carry no stamp: re-read each archive once
    # here, so that forked workers inherit stamped directories.
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()
    return True


if __name__ == "__main__":
    # Importing the daemon imports the worker module and opens every archive
    # on the workers' path; stamp them in the process workers fork from.
    from pyspark import daemon

    install()
    daemon.manager()
