"""Python worker start-up: a reused worker re-reads a zip archive only
when it has changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). Before CPython 3.13 each
``zipimporter`` on the path then re-reads its archive's central
directory, and ``pyspark.zip`` (3.5 MB) has one importer per imported
package directory, 14-16 of them: 0.2-0.4 s per task with four tasks
on 4 vCPUs, before the task's first batch. :func:`install` makes an
archive's directory be read again only when its ``(st_mtime_ns,
st_size)`` changed, once for all its importers; importers of an
unchanged archive take the directory read last. A rewritten
``--py-files`` archive is still picked up.

The package ``__init__`` calls :func:`install`, so every worker runs it
when it unpickles one of the library's UDFs. That is inside the first
task, after its ``setup_spark_files``: the first task on a fresh worker
still pays the full re-read, and its second task reads each archive
once more.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def stamped(invalidate):
    """``zipimporter.invalidate_caches`` that calls ``invalidate`` only
    for an archive whose stamp changed since its last read, or that
    cannot be stat'ed."""
    read = {}  # archive path -> (directory dict of its last read, stamp then)

    @functools.wraps(invalidate)
    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        files, seen = read.get(self.archive, (None, None))
        if stamp is not None and stamp == seen:
            self._files = files
            return
        invalidate(self)
        read[self.archive] = (self._files, stamp)

    return invalidate_caches


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` with :func:`stamped`, once,
    in a PySpark task on CPython < 3.13; do nothing anywhere else."""
    inv = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or hasattr(inv, "__wrapped__"):
        return
    from pyspark import TaskContext

    if TaskContext.get() is not None:
        zipimport.zipimporter.invalidate_caches = stamped(inv)
