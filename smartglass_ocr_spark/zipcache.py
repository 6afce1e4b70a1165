"""Read each zip on a Python worker's path once per worker, not once per task.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). On Python 3.11
that makes every ``zipimport.zipimporter`` in ``sys.path_importer_cache``
re-read its archive's central directory: with ``pyspark.zip`` and the
py4j zip first on the worker's path, 16 importers parse ~27k entries,
0.16-0.40 s of fixed cost per task.

:func:`install` guards that re-read with the archive's
``(st_mtime_ns, st_size, st_ino)``. An archive unchanged since its
directory was last read keeps that directory; a changed or missing one
takes the stock path, so a rewritten py-files zip is still picked up.
A writer that replaces the file (a new inode) is always seen; an
in-place rewrite to the same size within one filesystem timestamp tick
is not.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> its stamp taken just before its directory was last read
_read_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stock_invalidate(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _read_stamps[self.archive] = stamp
    else:
        _read_stamps.pop(self.archive, None)


def install() -> None:
    """Guard ``zipimporter.invalidate_caches`` in this process.

    Call it only while the cached zip directories are current: inside a
    worker, this task's set-up has just re-read every archive, and Spark
    fetches a task's files before the task starts.
    """
    for archive in zipimport._zip_directory_cache:
        stamp = _stamp(archive)
        if stamp is not None:
            _read_stamps[archive] = stamp
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


def install_in_worker() -> None:
    """:func:`install` if this process is running a Spark task; the
    driver (no task context) and pure-Python use are left alone."""
    pyspark = sys.modules.get("pyspark")
    if pyspark is not None and pyspark.TaskContext.get() is not None:
        install()
