"""Stat-checked ``zipimporter.invalidate_caches`` for Python < 3.12.

pyspark's worker calls ``importlib.invalidate_caches()`` before every
task (``worker_util.setup_spark_files``). On Python 3.11,
``zipimporter.invalidate_caches`` re-reads the whole central directory
of its archive at once, and a worker holds one importer per package
path inside ``pyspark.zip``, the ``py4j`` zip and the ``spark-core``
jar: about 27k directory entries parsed in pure Python per task,
150-600 ms in a ``local[3]`` worker on a 4-vCPU host. Python 3.12
defers that read to the next lookup, so there :func:`install` does
nothing.

Installed, the method re-reads an archive only when ``os.stat`` says it
changed (``st_mtime_ns``, ``st_size``, ``st_ino``) since its directory
was last read, or when ``zipimport``'s directory cache no longer holds
that read. An unchanged archive costs one ``stat`` per importer.
"""

from __future__ import annotations

import os
import sys
import zipimport

_eager = None  # the stdlib method, once installed
# archive path -> (stat key, the directory dict read under that key).
# One entry per archive an importer has invalidated; the dict is the
# one zipimport caches, so this adds no copy, and at worst keeps one
# superseded directory per archive alive.
_stamps: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _invalidate_caches(self) -> None:
    archive = self.archive
    # stat BEFORE reading: a write racing the read leaves an old key on
    # new data, which the next call re-reads, never the reverse
    key = _stat_key(archive)
    stamp = _stamps.get(archive)
    if key is not None and stamp is not None and stamp[0] == key:
        files = zipimport._zip_directory_cache.get(archive)
        if files is stamp[1]:
            self._files = files
            return
    _eager(self)
    files = zipimport._zip_directory_cache.get(archive)
    if key is not None and files is not None:
        _stamps[archive] = (key, files)
    else:
        _stamps.pop(archive, None)


def install() -> None:
    """Replace the eager method in this process; a second call is a no-op."""
    global _eager
    if sys.version_info >= (3, 12) or _eager is not None:
        return
    _eager = zipimport.zipimporter.invalidate_caches
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
