"""Spark Python-worker daemon for ``get_spark`` sessions.

Before every task, Spark's Python worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
Before Python 3.12 that makes every ``zipimporter`` re-read its archive's
central directory: the ~16 importers over ``$SPARK_HOME/python/lib/pyspark.zip``
(one per imported sub-package directory) each re-parse its 1,300-entry
directory, ~0.18 s of CPU per task whatever the task's size. Python 3.12
made that re-read lazy (gh-103200).

``session.get_spark`` names this module as ``spark.python.daemon.module``.
Run as ``__main__`` on Python < 3.12, it replaces
``zipimporter.invalidate_caches`` with :func:`invalidate_caches_if_changed`,
which re-reads an archive only when its ``(st_mtime_ns, st_size)`` changed,
imports ``pyspark.daemon``, stamps every importer once so that the forked
workers inherit the directories already read, and runs the stock
``pyspark.daemon.manager``. A zip shipped with ``addPyFile`` is a new archive
and is read on its first task, as before. On Python >= 3.12 it only runs the
stock manager.

Importing this module changes nothing: the driver's interpreter and
``pyspark``'s code stay as they are. The workers already import this package
to unpickle its UDFs, so running the daemon from it adds no import
requirement.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches

# archive path -> ((st_mtime_ns, st_size), the directory read at that stamp)
_directories: dict[str, tuple[tuple[int, int], dict]] = {}


def invalidate_caches_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the archive's stamp differs from the last read's.

    The stamp is taken before the read, so an archive rewritten during the
    read is read again on the next call."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _directories.pop(self.archive, None)
        _stdlib_invalidate_caches(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    seen = _directories.get(self.archive)
    if seen is not None and seen[0] == stamp:
        self._files = seen[1]
        return
    _stdlib_invalidate_caches(self)
    _directories[self.archive] = (stamp, self._files)


if __name__ == "__main__":
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_caches_if_changed
        from pyspark import daemon

        importlib.invalidate_caches()
    else:
        from pyspark import daemon
    daemon.manager()
