"""PySpark worker daemon whose tasks do not re-read pyspark.zip.

Before CPython 3.13, each task's `importlib.invalidate_caches()` makes
every zipimporter re-read its archive's central directory. This daemon
re-reads only archives whose (mtime, size) changed; its workers inherit it.
"""

import os
import sys
import zipimport


def install() -> None:
    """Make `zipimporter.invalidate_caches` stat-checked (CPython < 3.13)."""
    reread = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or hasattr(reread, "stat_checked"):
        return
    stamps = {}  # archive -> (mtime, size) when last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return reread(self)
        stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        stamps[self.archive] = stamp

    invalidate_caches.stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager
    manager()
