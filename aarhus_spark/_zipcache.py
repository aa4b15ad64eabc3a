"""Keep zip-archive directories across ``importlib.invalidate_caches()``.

PySpark's Python worker calls ``importlib.invalidate_caches()`` before
every task (``pyspark.worker.main`` → ``setup_spark_files``). On
CPython < 3.13, ``zipimport.zipimporter.invalidate_caches`` answers by
re-reading its archive's central directory on the spot, once per
importer: a worker holds about 16 importers over ``pyspark.zip`` (3.5 MB,
one per package directory), which costs 200–290 ms of CPU per task — a
fixed cost larger than most search kernels. CPython 3.13 only drops the
cache entry and re-reads lazily, so there the wrapper is not installed.

The wrapper re-reads an archive only when its ``(st_mtime_ns, st_size,
st_ino)`` differs from the last read this process made; otherwise the
importer is pointed back at the directory already in
``zipimport._zip_directory_cache``. A rewritten archive is still
re-read on the next invalidation, so import semantics do not change.

Installed by importing :mod:`aarhus_spark`, which every worker does when
it unpickles its first engine function; later tasks in that reused
worker skip the re-reads.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stat key of the file as it was when last read here
_read_at: dict[str, tuple[int, int, int]] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` (CPython < 3.13, once)."""
    if sys.version_info >= (3, 13):
        return
    cls = zipimport.zipimporter
    original = cls.invalidate_caches
    if getattr(original, "_aarhus_keeps_unchanged", False):
        return

    def invalidate_caches(self):
        archive = self.archive
        key = _stat_key(archive)
        files = zipimport._zip_directory_cache.get(archive)
        if key is not None and files is not None and _read_at.get(archive) == key:
            self._files = files
            return
        # stat BEFORE the read: an archive replaced in between is read
        # in its new form under the old key, and re-read next time
        original(self)
        if key is not None and archive in zipimport._zip_directory_cache:
            _read_at[archive] = key
        else:
            _read_at.pop(archive, None)

    invalidate_caches.__doc__ = original.__doc__
    invalidate_caches._aarhus_keeps_unchanged = True
    cls.invalidate_caches = invalidate_caches
