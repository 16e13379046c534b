"""PySpark port of the Wikisource Latin text cleaner.

Importing the package installs a stat guard on
``zipimport.zipimporter.invalidate_caches``. PySpark's worker calls
``importlib.invalidate_caches()`` at the start of every task, and on
CPython 3.11/3.12 each zipimporter then re-reads its archive's whole
central directory. A worker importing pyspark from ``pyspark.zip`` holds
16 of them (on ``pyspark.zip``, the py4j zip and a Spark jar), which cost
about 0.2 CPU-s per task on 4 CPUs. Every worker imports this module
first when it unpickles an engine UDF, so from its next task on, an
unchanged archive is not re-read.
"""

import os
import zipimport


def _install_zip_stat_guard():
    """Wrap ``zipimporter.invalidate_caches`` so it re-reads an archive's
    directory only when the archive's ``(st_ino, st_size, st_mtime_ns)``
    differs from the stamp that importer saw at its last refresh, or when
    there is no stamp or ``stat`` fails. An archive rewritten in place is
    still re-read. Installing twice is a no-op."""
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "stat_guarded", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        # The stamp is taken before the read, so a rewrite that races the
        # read leaves a stale stamp and the next call re-reads.
        if stamp is None or stamp != getattr(self, "_stat_stamp", None):
            original(self)
        self._stat_stamp = stamp

    invalidate_caches.stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install_zip_stat_guard()
