"""Zip archives re-read on import-cache invalidation only when they change.

pyspark's Python worker calls ``importlib.invalidate_caches()`` before every
task (``worker_util.setup_spark_files``). On CPython 3.10-3.12 that makes
every ``zipimporter`` re-read its archive's central directory at once, and
a worker that imported pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``
holds 14 of them (18 with the engine shipped as ``--py-files engine.zip``):
75-140 ms per task on a 4-core x86 host, nearly the whole fixed cost of a
small pandas-UDF task. CPython 3.13 made the re-read lazy.

:func:`install` keeps the invalidation but makes the re-read conditional:
an archive is read again only when its ``(st_ino, st_mtime_ns, st_size)``
stamp differs from the one taken before its last read, so a rewritten or
replaced archive is still picked up on the next invalidation. The package
``__init__`` installs it, so a worker has it from the first task that
unpickles engine code on. Any other process that imports the engine (the
driver) gets it too; there it changes only what an invalidation costs.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_mtime_ns, st.st_size


def install() -> bool:
    """Replaces ``zipimporter.invalidate_caches`` with the stamp-checked
    re-read on CPython < 3.13; returns whether it did."""
    if sys.version_info >= (3, 13) or not hasattr(zipimport.zipimporter,
                                                  "invalidate_caches"):
        return False
    reread = zipimport.zipimporter.invalidate_caches
    # archive -> (stamp taken before the read, the directory it read); one
    # entry serves every importer of the archive (one per package inside it)
    last_read: dict[str, tuple[tuple[int, int, int], dict]] = {}

    def invalidate_caches(self) -> None:
        stamp = _stamp(self.archive)
        hit = last_read.get(self.archive)
        if stamp is not None and hit is not None and hit[0] == stamp:
            self._files = hit[1]
            zipimport._zip_directory_cache[self.archive] = hit[1]
            return
        reread(self)
        if stamp is not None and self._files:
            last_read[self.archive] = (stamp, self._files)
        else:
            last_read.pop(self.archive, None)

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
