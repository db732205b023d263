"""Python worker daemon: ``pyspark.daemon`` with lazy zip-archive invalidation.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython < 3.13 that
call makes every ``zipimport.zipimporter`` on the worker's ``sys.path``
re-read its archive's whole directory. With Spark 4.1.2 on CPython
3.11.7 a worker carries 16 of them: the spark-core jar and its ``org/``
prefix (20-45 ms each), 12 for ``pyspark.zip`` (5-11 ms each) and 2
for the py4j zip, so 100-200 ms of every task went to re-reading
archives that never change. CPython 3.13 dropped that cost, so there
this module only runs the daemon.

``session.get_spark`` names this module as ``spark.python.daemon.module``.
The daemon installs :func:`lazy_invalidation` before it forks, so every
worker inherits it: an archive's directory is re-read only when the
archive's ``(st_mtime_ns, st_size)`` changed since it was last read,
once per archive, and every importer of that archive then shares the
new directory.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def lazy_invalidation(stock):
    """A ``zipimporter.invalidate_caches`` that re-reads only changed archives.

    ``stock`` is the method it replaces; it still does every read, and
    it handles an archive that cannot be stat'ed. The stamps taken
    before each read live in this closure.
    """
    stamps: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            stock(self)
            return
        stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is None or stamps.get(self.archive) != stamp:
            # stat before the read: a rewrite racing the read leaves a
            # stale stamp behind, so the next call reads again
            stock(self)
            stamps[self.archive] = stamp
        else:
            # the archive is unchanged since its last read; a prefix
            # importer left behind by another importer's re-read picks
            # up the shared directory here
            self._files = files

    return invalidate_caches


def main() -> None:
    import pyspark.daemon  # reads the worker module from argv on import

    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = lazy_invalidation(
            zipimport.zipimporter.invalidate_caches
        )
        # stamp every archive read so far (one read each), before the
        # workers fork, so no worker re-reads an unchanged archive
        importlib.invalidate_caches()
    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
