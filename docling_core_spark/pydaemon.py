"""Python worker daemon for the sessions ``get_spark`` builds.

Spark starts ``python -m <spark.python.daemon.module>`` once per executor, and
the daemon forks the Python workers that run every task.  Before each task a
worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  On CPython < 3.13 every cached
``zipimporter`` then re-reads the whole central directory of its archive:
there is one importer per package path inside ``pyspark.zip`` (1,328 entries)
and more for each ``addPyFile`` zip.  That is ~0.17 s of CPU per task however
few rows the task has, and extraction runs many small tasks.

The guard re-reads an archive only when its mtime, size or inode changed since
that importer last read it, so a changed or newly shipped archive is still
picked up.  CPython 3.13 made the re-read lazy, so there the daemon is plain
``pyspark.daemon``.
"""

from __future__ import annotations

import os
import sys
import zipimport


def stat_guarded(invalidate):
    """Wrap ``zipimporter.invalidate_caches`` to skip unchanged archives."""

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            self._archive_stat = None
            return invalidate(self)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
        if key != getattr(self, "_archive_stat", None):
            invalidate(self)
            self._archive_stat = key

    return invalidate_caches


def main() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = stat_guarded(
            zipimport.zipimporter.invalidate_caches
        )
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
