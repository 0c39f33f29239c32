"""Cheap ``importlib.invalidate_caches()`` for unchanged zip archives.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python-worker task. On CPython < 3.13 that makes every ``zipimporter`` in
``sys.path_importer_cache`` re-read its archive's whole central directory
(a bare worker holds 16 over the ~1,300-file pyspark.zip: ~0.2 s of CPU
per task on a 4-core x86 VM). CPython 3.13 made the re-read lazy
(gh-103200). Installed on package import, so every worker that unpickles
one of our UDFs gets it: an archive is re-read only when its
``(st_mtime_ns, st_size)`` changed since its last read; otherwise the
importer is re-pointed at that read.
"""

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_seen = {}  # archive path -> ((st_mtime_ns, st_size), directory) of its last read


def invalidate_caches(self):
    try:
        st = os.stat(self.archive)
    except OSError:
        return _reread(self)
    stamp = (st.st_mtime_ns, st.st_size)
    seen = _seen.get(self.archive)
    if seen is not None and seen[0] == stamp:
        self._files = zipimport._zip_directory_cache[self.archive] = seen[1]
        return
    _reread(self)
    if self.archive in zipimport._zip_directory_cache:
        _seen[self.archive] = (stamp, self._files)


def install() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
