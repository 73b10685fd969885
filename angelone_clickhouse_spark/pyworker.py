"""Python worker daemon for the engine's UDFs: ``pyspark.daemon`` with an
``importlib.invalidate_caches()`` that skips unchanged zip archives.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). Before Python 3.12 each
cached ``zipimporter`` then re-reads its archive's whole directory
(CPython gh-103200), and a reused worker holds one importer per pyspark
sub-package imported from ``pyspark.zip``. Here an importer re-reads its
archive only when the file's ``(st_mtime_ns, st_size)`` differ from what
that importer last read, so a rewritten zip is still picked up. The
workers this daemon forks inherit the patch. ``session.get_spark``
selects the module through ``spark.python.daemon.module``.
"""

import os
import sys
import zipimport

if sys.version_info < (3, 12):
    _reread = zipimport.zipimporter.invalidate_caches

    def _reread_if_changed(self):
        try:
            st = os.stat(self.archive)
            seen = (st.st_mtime_ns, st.st_size)
        except OSError:
            seen = None
        if seen is None or getattr(self, "_read_stat", None) != seen:
            _reread(self)
            self._read_stat = seen

    zipimport.zipimporter.invalidate_caches = _reread_if_changed

if __name__ == "__main__":
    from pyspark import daemon

    daemon.manager()
