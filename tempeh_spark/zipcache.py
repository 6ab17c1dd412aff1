"""Re-read a zip archive's index only when the archive changed on disk.

A Spark Python worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark.worker_util.setup_spark_files``). That reaches
every ``zipimport.zipimporter`` in ``sys.path_importer_cache``, and each
one re-reads the whole central directory of its archive, changed or not.
A warm worker holds one importer for ``pyspark.zip`` plus one per
imported subpackage, one for the py4j zip and two for the 14 MB
spark-core jar, so every task paid ~175 ms of archive re-reads before
touching a row (4-core box, CPython 3.11, Spark 4.1.2).

``install()`` wraps ``zipimporter.invalidate_caches`` so that each
importer remembers an ``(st_mtime_ns, st_size, st_ino)`` stamp of its
archive and re-reads only when the stamp differs, is missing, or the
archive cannot be stat'ed. A rewritten or replaced archive is still
re-read. The check is stricter than CPython's own pyc freshness test,
which compares only whole-second mtime and size.
"""

from __future__ import annotations

import functools
import os
import zipimport


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` once per process (idempotent)."""
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "_tempeh_stamped", False):
        return
    reread = cls.invalidate_caches

    @functools.wraps(reread)
    def invalidate_caches(self) -> None:
        # stamp BEFORE the read: a rewrite racing the read leaves a stamp
        # that differs from the file, so the next call reads again
        stamp = _stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_tempeh_stamp", None):
            reread(self)
            self._tempeh_stamp = stamp

    invalidate_caches._tempeh_stamped = True
    cls.invalidate_caches = invalidate_caches
