"""Lazy ``zipimporter`` cache invalidation for the Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start
of every task (``worker_util.setup_spark_files``). Before CPython 3.13
``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory, once per importer: a worker holds one importer per package
directory inside ``pyspark.zip`` (1,328 entries), so every Python
invocation spends 0.2-0.45 s re-reading an archive that has not
changed. CPython 3.13 made the call lazy.

:func:`install` replaces the method with one that re-reads an archive
only when its ``(st_mtime_ns, st_size)`` differs from the signature
taken before its last read; importers of the same archive share that
read. It runs when the package is imported, which every worker does
when it unpickles an engine UDF, so later tasks in a reused worker
skip the re-read. On Python 3.13 and later it does nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (signature before the read, the directory it read)
_read: dict[str, tuple[tuple[int, int], dict]] = {}


def _signature(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    sig = _signature(self.archive)
    seen = _read.get(self.archive)
    if sig is not None and seen is not None and seen[0] == sig:
        self._files = seen[1]
        return
    # the signature is taken before the read: a rewrite racing the
    # read leaves a stale signature, so the next call reads again
    _stdlib_invalidate(self)
    if sig is not None and self._files:
        _read[self.archive] = (sig, self._files)
    else:
        _read.pop(self.archive, None)


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` (idempotent; Python < 3.13)."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
