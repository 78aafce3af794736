"""Python worker daemon: PySpark's daemon, with zip archives re-read
only when they changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``), so that a file
added with ``addPyFile`` is importable in the next task. On CPython
3.11 every ``zipimport.zipimporter`` answers that call by re-parsing
its archive's whole central directory: a worker holds one importer per
package directory it imported from ``pyspark.zip`` (1,328 entries), the
py4j zip and the spark-core jar (5,359 entries), which cost 0.14-0.20
s per task at local[2] on a 4-core host before any UDF ran, with zero
rows too; with the stamp below that setup takes about 0.1 ms.

Here an importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size, st_ino)`` differs from the stamp stored on
that importer at its last read; an archive that cannot be stat'ed gets
the stock behaviour. The stamp lives on the importer, not in module
state: a worker's first task reads and stamps its importers, and later
tasks skip the archives that did not change.

``session.PYTHON_DAEMON`` names this module as Spark's
``spark.python.daemon.module``, which Spark starts with ``python -m``
in the daemon process. That process forks every worker, so this module
imports only ``os``, ``zipimport`` and ``pyspark.daemon``; the engine
package must be importable where the daemon starts (the cwd,
``PYTHONPATH`` or pyFiles), as it already must be for the engine's UDFs.
"""

from __future__ import annotations

import os
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def invalidate_caches_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that keeps the directory read
    last time while the archive's stat stamp is unchanged."""
    try:
        st = os.stat(self.archive)
    except OSError:
        self._archive_stamp = None
        _stock_invalidate_caches(self)
        return
    # stat before the read: a write racing the read leaves a stamp
    # older than the archive, so the next call reads again
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    if getattr(self, "_archive_stamp", None) != stamp:
        _stock_invalidate_caches(self)
        self._archive_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches_if_changed

    from pyspark.daemon import manager

    manager()
