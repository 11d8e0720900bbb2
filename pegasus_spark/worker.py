"""Python-worker guard: re-read a zip archive's directory only when it changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). On CPython 3.11 that makes
every ``zipimporter`` in ``sys.path_importer_cache`` re-parse its archive's
central directory in pure Python: ``pyspark.zip`` once per imported pyspark
package path, the py4j zip, the spark-core jar and a ``--py-files`` zip.
On a 4-vCPU VM that cost 0.15-0.34 s of CPU per task before the task
touched a row.

``install()`` wraps ``zipimporter.invalidate_caches`` so that an archive is
re-read only when its ``os.stat`` key (inode, size, mtime) differs from the
key at its last read, or when it is missing from zipimport's directory
cache; otherwise the importer is re-pointed at the cached directory. An
archive that changes on disk is still re-read, and an unchanged one costs
one ``stat``. It acts only inside a Spark Python worker's task, where the
package is imported when an engine UDF is unpickled; the driver's
``zipimport`` is left alone.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock = None  # zipimporter.invalidate_caches as found before guard_zipimport
_keys: dict[str, tuple[int, int, int] | None] = {}  # archive -> key at last read


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _read(importer, key) -> None:
    # key is taken before the read: a rewrite in between leaves a stale key
    # with fresh contents, which costs one more read, never a stale directory
    _stock(importer)
    if importer.archive in zipimport._zip_directory_cache:
        _keys[importer.archive] = key
    else:
        _keys.pop(importer.archive, None)


def _invalidate_caches(self) -> None:
    key = _stat_key(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is None or files is None or _keys.get(self.archive) != key:
        _read(self, key)
    else:
        self._files = files


def guard_zipimport() -> None:
    """Wrap ``zipimporter.invalidate_caches`` in this process (idempotent).

    Each archive already imported from is read once here, so that every
    later call finds its key; an archive first imported after this is
    re-read once, at the first call that finds it without a key.
    """
    global _stock
    if zipimport.zipimporter.invalidate_caches is _invalidate_caches:
        return
    _stock = zipimport.zipimporter.invalidate_caches
    archives = set()
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter) and importer.archive not in archives:
            archives.add(importer.archive)
            _read(importer, _stat_key(importer.archive))
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


def install() -> bool:
    """``guard_zipimport()`` inside a Spark Python worker's task; else a no-op."""
    taskcontext = sys.modules.get("pyspark.taskcontext")
    if taskcontext is None or taskcontext.TaskContext.get() is None:
        return False
    guard_zipimport()
    return True
