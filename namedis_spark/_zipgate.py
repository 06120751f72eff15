"""Stat-gated ``zipimport`` cache invalidation for PySpark Python workers.

Before every task, PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython < 3.13 that makes
every ``zipimporter`` on ``sys.path`` re-read its archive's whole central
directory; a worker holds ~17 of them, mostly over ``pyspark.zip``
(~1,300 entries), which costs 0.16-0.31 s of CPU per task even in a reused
worker. CPython 3.13 made the re-read lazy.

``install()`` replaces ``zipimporter.invalidate_caches`` with one that
re-reads an archive only when its ``(st_mtime_ns, st_size)`` changed since
it was last read, so a zip rewritten in place is still seen and an
unchanged one costs one ``stat``. The package installs it on import inside
a worker only (see ``namedis_spark/__init__.py``). Delete this module once
the runtime is CPython >= 3.13.
"""

from __future__ import annotations

import os
import sys
import zipimport


def install() -> bool:
    """Install the gate (idempotent); False where it does not apply."""
    if sys.version_info >= (3, 13):
        return False
    cls = zipimport.zipimporter
    reread = cls.invalidate_caches
    if getattr(reread, "stat_gated", False):
        return True
    read_at: dict[str, tuple[int, int] | None] = {}  # archive -> stat when read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            ident = (st.st_mtime_ns, st.st_size)
        except OSError:
            ident = None
        cached = zipimport._zip_directory_cache.get(self.archive)
        unchanged = ident is not None and read_at.get(self.archive) == ident
        if unchanged and cached is not None:
            self._files = cached  # another importer of this archive may have re-read it
            return
        reread(self)  # stat taken first: a rewrite during the read shows next time
        read_at[self.archive] = ident

    invalidate_caches.stat_gated = True
    cls.invalidate_caches = invalidate_caches
    return True


def installed() -> bool:
    return getattr(zipimport.zipimporter.invalidate_caches, "stat_gated", False)
