"""Spark's Python worker daemon (``spark.python.daemon.module``).

Every Python task calls ``importlib.invalidate_caches()``, which on
Python 3.11 re-reads each zip importer's central directory.  Workers
forked from this daemon re-read an archive only when its inode, size
or mtime changed since that importer's last read.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        key = None
    if key is None or key != getattr(self, "_read_key", None):
        _reread(self)
        self._read_key = key


if __name__ == "__main__":
    from pyspark.daemon import manager

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    manager()
