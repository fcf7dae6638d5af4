"""Stat-guarded ``zipimporter.invalidate_caches`` for Python < 3.13.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task
(``pyspark/worker_util.py``, ``setup_spark_files``). On Python 3.11/3.12
that makes every ``zipimporter`` on ``sys.path`` re-read its archive's
whole central directory — pyspark.zip, py4j and the spark-core jar, about
17 importers — which costs ~0.27 CPU-s per task even for an identity
Arrow stage. Python 3.13 made the invalidation lazy, so there this module
does nothing.

The wrapper keeps the contract: an importer re-reads its archive whenever
the archive's ``(st_mtime_ns, st_size, st_ino)`` differs from what it saw
at its last re-read, so a rewritten zip is still picked up. The key lives
on the importer, not per archive path, because several importers share
one archive and each must refresh its own ``_files``.

Imported by the package ``__init__``, so it is installed in every Python
worker that unpickles an ``xhs_ocr_spark`` function.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _archive_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def installed() -> bool:
    """True once the stat guard wraps ``zipimporter.invalidate_caches``."""
    return getattr(zipimport.zipimporter.invalidate_caches, "_stat_guarded", False)


def install() -> None:
    if sys.version_info >= (3, 13) or installed():
        return
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        # stat BEFORE the re-read: a rewrite racing the read changes the
        # key again, so the next invalidation re-reads once more
        key = _archive_key(self.archive)
        if key is None or key != getattr(self, "_archive_key", None):
            reread(self)
            self._archive_key = key

    invalidate_caches.__doc__ = reread.__doc__
    invalidate_caches._stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


install()
