"""Skip re-reading unchanged zip archives when a PySpark worker starts a task.

A reused PySpark worker calls ``importlib.invalidate_caches()`` before
every task (``pyspark.worker_util.setup_spark_files``).  On CPython < 3.13
that makes every cached ``zipimport.zipimporter`` re-read the whole
central directory of its archive at once.  Spark puts ``pyspark.zip``
(about 1,300 entries) on every worker's path, and each package directory
imported from it keeps its own importer, so each task re-reads the same
archive a dozen or more times (~0.3 s) before running any UDF code.
CPython 3.13 made the re-read lazy.

``install`` wraps ``zipimporter.invalidate_caches`` so that an archive is
re-read only when its ``(st_mtime_ns, st_size, st_ino)`` differ from those
at its last read in this process.  An archive that was rewritten, replaced
or removed since then is handled exactly as before, and so is the first
call for each archive.  Other finders' caches are not affected.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport


def cached_invalidate(original):
    """Wrap ``zipimporter.invalidate_caches`` (``original``) so it re-reads
    an archive only when its stat stamp changed since its last read."""
    stamps: dict[str, tuple[int, int, int]] = {}

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            stamps.pop(self.archive, None)
            return original(self)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        original(self)
        if self.archive in zipimport._zip_directory_cache:
            stamps[self.archive] = stamp
        else:
            stamps.pop(self.archive, None)

    return invalidate_caches


def installed() -> bool:
    """Whether this process runs the wrapped ``invalidate_caches``."""
    return hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")


def install() -> bool:
    """Wrap ``zipimporter.invalidate_caches`` in this process (once).

    Returns whether the wrapper is in place; always False on CPython 3.13
    and later, whose zip importers already re-read lazily.
    """
    if sys.version_info >= (3, 13):
        return False
    if not installed():
        zipimport.zipimporter.invalidate_caches = cached_invalidate(
            zipimport.zipimporter.invalidate_caches
        )
    return True


__all__ = ["cached_invalidate", "install", "installed"]
