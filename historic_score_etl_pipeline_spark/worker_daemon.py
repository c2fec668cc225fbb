"""Python worker daemon that re-reads a zip archive only when it changed.

``session.get_spark`` names this module in ``spark.python.daemon.module``,
so Spark starts its Python workers as ``python -m <this module> <worker
module>``.  Before every task pyspark's ``setup_spark_files`` calls
``importlib.invalidate_caches()``, and on CPython 3.11 that makes every
``zipimport.zipimporter`` re-read its archive's central directory.  In a
warm worker those are the importers of pyspark.zip and of the spark-core
jar on the worker ``PYTHONPATH`` (16 of them, ~0.2 s per task), although
neither archive changes while the session lives.

The daemon wraps ``zipimporter.invalidate_caches`` so that an importer
re-reads its archive only when the archive's ``(st_mtime_ns, st_size)``
differs from the stamp the importer stored at its last read.  An importer
with no stamp re-reads, and so does one whose archive cannot be stat'ed.
Everything else the per-task call does still happens on every task:
directory ``FileFinder`` invalidation, new ``sys.path`` entries from
``addPyFile``, the metadata finders.  The daemon then reads and stamps its
own importers once, before any worker is forked, and hands over to
``pyspark.daemon.manager()``.

Library code never depends on this module: sessions the engine does not
build keep the stock ``pyspark.daemon``.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_STOCK_INVALIDATE = zipimport.zipimporter.invalidate_caches


def _stamp_of(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive.

    The stamp is taken before the read, so an archive rewritten during the
    read carries a newer stamp than the one stored and is read again on
    the next call.
    """
    stamp = _stamp_of(self.archive)
    if stamp is None or stamp != getattr(self, "_archive_stamp", None):
        _STOCK_INVALIDATE(self)
        self._archive_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    # pyspark.daemon imports the worker module named in sys.argv[1]; the
    # importers that import creates are read and stamped here, once,
    # before the daemon forks its first worker.
    from pyspark.daemon import manager

    importlib.invalidate_caches()
    manager()
