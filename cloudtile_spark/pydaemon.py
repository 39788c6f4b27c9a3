"""Spark's Python worker daemon, with zip archives re-read only when they change.

Before every task a worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11 that makes
each ``zipimport.zipimporter`` re-parse its whole archive directory in pure
Python; a warm worker holds one importer per package imported from
``pyspark.zip``, the py4j zip and the Spark jars, about 27k entries in all,
and spends about 0.12 s of CPU per task on them. Here an importer re-reads
its archive only when the archive's ``(st_mtime_ns, st_size)`` differs from
the stamp of its last read, or the stat fails, so a changed archive is
still re-read. ``session.get_spark`` names this module in
``spark.python.daemon.module``; importing it patches nothing.
"""

import os
import zipimport

_read_archive = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_stamp", None):
        _read_archive(self)
        self._stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    daemon.manager()
