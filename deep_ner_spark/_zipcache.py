"""Skip zip central-directory re-reads when the archive has not changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task, after putting the task's py-files on ``sys.path``.  On CPython
< 3.12 that makes every ``zipimporter`` on the path re-read its archive's
whole central directory, and a worker holds one importer per zip package
directory it has imported from (a dozen on ``pyspark.zip`` alone, plus
py4j and the spark-core jar): ~0.2 s of CPU per task before the UDF body
runs.  CPython 3.12 made the re-read lazy (gh-103200), so there this
module does nothing.

On older interpreters :func:`install` replaces
``zipimporter.invalidate_caches`` with a version that re-reads an archive
only when its ``(st_mtime_ns, st_size, st_ino)`` differs from the stamp
taken at that importer's last read.  A rewritten or replaced zip is
therefore still picked up; an unchanged one is not read again.  The first
call on each importer always reads (its stamp is unknown).
"""

from __future__ import annotations

import os
import sys
import zipimport

_STAMP_ATTR = "_deep_ner_spark_stamp"


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` (idempotent; no-op on 3.12+)."""
    if sys.version_info >= (3, 12):
        return
    cls = zipimport.zipimporter
    reread = cls.invalidate_caches
    if getattr(reread, "_skips_unchanged", False):
        return

    def invalidate_caches(self):
        # stamp BEFORE the read: a write racing the read leaves a stamp
        # that no longer matches, so the next call reads again
        stamp = _stamp(self.archive)
        if stamp is not None and stamp == getattr(self, _STAMP_ATTR, None):
            return
        reread(self)
        setattr(self, _STAMP_ATTR, stamp)

    invalidate_caches._skips_unchanged = True
    cls.invalidate_caches = invalidate_caches
