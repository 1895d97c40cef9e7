"""Python worker daemon that skips re-reading unchanged zip archives.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task, after adding the task's files to ``sys.path``. Workers import
``pyspark`` from ``$SPARK_HOME/python/lib/pyspark.zip``, and on Python
3.10-3.12 each cached ``zipimport.zipimporter`` (one per imported
subpackage, about 20 in a worker) answers that call by re-reading the whole
archive directory: 100-125 ms per task before the user function starts.

:func:`install` replaces ``zipimporter.invalidate_caches`` with a version
that re-reads an archive only when its ``(st_mtime_ns, st_size)`` differs
from the stamp stored on that importer at its last re-read. The first call
on each importer always re-reads, as before, and an archive that is
rewritten in place is re-read by every importer of it. Task files that
arrive as new archives get new importers, which the stock code handles.

``session.get_spark`` names this module as ``spark.python.daemon.module``;
run as a module it installs the patch and then runs PySpark's own daemon,
whose forked workers inherit it.
"""

from __future__ import annotations

import os
import zipimport

_reread_directory = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    # stat before reading: a rewrite during the read leaves an old stamp,
    # so the next call reads again
    stamp = _stamp(self.archive)
    if stamp is not None and stamp == getattr(self, "_stamp", None):
        return
    _reread_directory(self)
    self._stamp = stamp


def install() -> None:
    """Patch ``zipimport.zipimporter.invalidate_caches`` (idempotent)."""
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
