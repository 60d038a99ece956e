"""Python worker daemon: ``pyspark.daemon`` minus a per-task archive re-read.

Every Python task starts in ``pyspark.worker_util.setup_spark_files``, which
calls ``importlib.invalidate_caches()``.  Before CPython 3.12 (gh-103200)
each ``zipimporter`` answers that by re-reading its archive's whole
directory, and a reused worker holds ~16 of them over pyspark.zip, the py4j
zip and the spark-core jar: 0.2-0.34 s of every task on a 4-vCPU host, where
the rest of an empty ``mapInArrow`` task takes ~1 ms.  Here an archive is
re-read only when its ``(st_mtime_ns, st_size)`` changed since its last
read, so a rewritten archive is still picked up.

``session.get_spark`` selects this module through
``spark.python.daemon.module``; the forked workers inherit the patch.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_read_keys: dict[str, tuple[int, int] | None] = {}


def _archive_key(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    key = _archive_key(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and key == _read_keys.get(self.archive) and files is not None:
        self._files = files
        return
    # stat before the read: a write racing the read changes the key again
    _read_keys[self.archive] = key
    _reread(self)


if __name__ == "__main__":
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    from pyspark.daemon import manager

    # read each archive once here, so no forked worker's first task does
    importlib.invalidate_caches()
    manager()
