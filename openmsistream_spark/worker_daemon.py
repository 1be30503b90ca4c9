"""PySpark worker daemon that stops each task from re-reading every zip
on ``sys.path``.

Every time a Python worker takes a task, ``pyspark.worker`` calls
``importlib.invalidate_caches()``. Before Python 3.13 that makes every
``zipimporter`` re-parse its archive's whole central directory: about
27,000 entries (``pyspark.zip``, py4j, the ``spark-core`` jar) and
~250 ms per task. Python 3.13 makes the re-read lazy. :func:`install`
backports that for older interpreters: an importer re-reads its archive
only when the archive's ``(inode, size, mtime)`` has changed.

Spark starts this module as ``python -m openmsistream_spark.worker_daemon``
(``spark.python.daemon.module``, set by ``session.get_spark`` on local
masters), so the patch is in place before the daemon forks any worker.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stat_key(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read only a changed
    archive. No-op on Python >= 3.13, where it is lazy already."""
    if sys.version_info >= (3, 13):
        return
    cls = zipimport.zipimporter
    init, reread = cls.__init__, cls.invalidate_caches

    def __init__(self, path):
        init(self, path)
        self._stat_key = _stat_key(self.archive)

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        if key is None or key != getattr(self, "_stat_key", None):
            reread(self)
            self._stat_key = key

    cls.__init__, cls.invalidate_caches = __init__, invalidate_caches
    # importers made while this interpreter started up read their
    # archives moments ago
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls) and not hasattr(finder, "_stat_key"):
            finder._stat_key = _stat_key(finder.archive)


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
