"""Spark's Python worker daemon with a stamp-checked zip import cache.

``get_spark`` starts Python workers through this module
(``spark.python.daemon.module``); it runs ``pyspark.daemon.manager()``
after one change. Spark calls ``importlib.invalidate_caches()`` once per
task, and before Python 3.13 each ``zipimporter`` then re-reads its
archive's whole directory, even when the archive never changed.
``stamped_invalidate_caches`` re-reads an archive only when its
``(st_mtime_ns, st_size)`` stamp moved since the last read, and shares
that one read among every importer of the archive.
"""

import os
import sys
import zipimport

_read = zipimport.zipimporter.invalidate_caches
_directories = {}  # archive -> (stamp, directory read at that stamp)


def stamped_invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    seen, files = _directories.get(self.archive, (None, None))
    if stamp is not None and stamp == seen:
        self._files = zipimport._zip_directory_cache[self.archive] = files
        return
    _read(self)
    _directories[self.archive] = (stamp, self._files)


if __name__ == "__main__":
    if sys.version_info < (3, 13):  # 3.13 re-reads lazily on its own
        zipimport.zipimporter.invalidate_caches = stamped_invalidate_caches
    from pyspark import daemon
    daemon.manager()
