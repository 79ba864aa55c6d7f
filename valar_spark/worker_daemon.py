"""Spark's Python worker daemon (``pyspark.daemon``), started warm.

``session.get_spark`` names this module as ``spark.python.daemon.module``
where the workers can import the package (see
``session.python_daemon_module``). Before it hands over to
``pyspark.daemon.manager()``, which forks a worker per Python task slot:

- it imports numpy, pandas, pyarrow and ``valar_spark.textops``, so every
  forked worker inherits them instead of importing them after the fork;
- it installs :func:`guard_zip_directories`.

The daemon then forks with the threads those imports start (OpenBLAS's
pool, Arrow's jemalloc background thread); both libraries register
``pthread_atfork`` handlers for exactly that.
"""

from __future__ import annotations

import importlib
import os
import zipimport

#: archive path -> (stamp before its directory was read, that directory)
_READ_AT: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stamp(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size, st.st_ino


def guard_zip_directories() -> None:
    """Make a zipimporter re-read its archive's directory on
    ``invalidate_caches()`` only if the archive's
    ``(st_mtime_ns, st_size, st_ino)`` changed since that directory was
    read.

    ``setup_spark_files`` (``pyspark/worker_util.py``) calls
    ``importlib.invalidate_caches()`` at the start of every task, and on
    CPython 3.11 each cached zipimporter answers by re-parsing its whole
    central directory: 16 importers in a worker (the ``pyspark.zip``
    root, each imported subpackage, py4j) over 1328 entries, 0.15-0.22 s
    of CPU per call unguarded and 0.2 ms guarded.
    FileFinder invalidation, which picks up new ``--py-files`` in the
    SparkFiles directory, is untouched."""
    read = zipimport._read_directory
    invalidate = zipimport.zipimporter.invalidate_caches

    def recorded_read(archive):
        try:
            stamp = _stamp(archive)
        except OSError:
            return read(archive)  # raises the ZipImportError callers expect
        files = read(archive)
        _READ_AT[archive] = (stamp, files)
        return files

    def guarded_invalidate(self):
        seen = _READ_AT.get(self.archive)
        try:
            unchanged = seen is not None and seen[0] == _stamp(self.archive)
        except OSError:
            unchanged = False
        if not unchanged:
            invalidate(self)
            return
        self._files = zipimport._zip_directory_cache[self.archive] = seen[1]

    zipimport._read_directory = recorded_read
    zipimport.zipimporter.invalidate_caches = guarded_invalidate


if __name__ == "__main__":
    guard_zip_directories()
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    import valar_spark.textops  # noqa: F401

    # read each archive's directory once here, so the forked workers
    # inherit a directory whose stamp is recorded
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()
