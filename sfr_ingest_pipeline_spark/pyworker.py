"""Per-task import overhead in Spark Python workers.

pyspark's worker calls ``importlib.invalidate_caches()`` before every task
(``pyspark/worker_util.py`` ``setup_spark_files``). Before CPython 3.13,
``zipimporter.invalidate_caches`` eagerly re-reads the archive's whole zip
directory. A local-mode worker holds 16 zipimporters over ``pyspark.zip``,
the py4j zip and the spark-core jar: about 27k directory entries re-read
per task, measured at 75-120 ms of every Python UDF task (Spark 4.1.2,
CPython 3.11.7, 4-core host).

:func:`install_zip_cache_fix` makes each zipimporter re-read its archive
only when the archive's ``(st_mtime_ns, st_size)`` changed since that
importer last read it — the staleness rule ``FileFinder`` applies to
directories — so invalidation stays exact. The package ``__init__`` calls
:func:`install_in_spark_worker`, so the first engine UDF a worker unpickles
installs the fix and a reused worker pays the re-read once.
"""

from __future__ import annotations

import os
import sys
import zipimport

_KEY_ATTR = "_archive_stat_key"


def _archive_key(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def install_zip_cache_fix() -> None:
    """Replace ``zipimporter.invalidate_caches`` with a version that calls
    the original only when the archive changed. Importers already in
    ``sys.path_importer_cache`` are keyed to their archive as it is now."""
    cls = zipimport.zipimporter
    original = cls.invalidate_caches
    if getattr(original, "keyed_on_archive_stat", False):
        return

    def invalidate_caches(self):
        # stat before the read: a change during the read shows next time
        key = _archive_key(self.archive)
        if key is not None and key == getattr(self, _KEY_ATTR, None):
            return
        original(self)
        setattr(self, _KEY_ATTR, key)

    invalidate_caches.__doc__ = original.__doc__
    invalidate_caches.keyed_on_archive_stat = True
    cls.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            setattr(finder, _KEY_ATTR, _archive_key(finder.archive))


def install_in_spark_worker() -> None:
    """Install the fix inside a Spark Python worker task on CPython < 3.13;
    anywhere else do nothing. A process that never loaded
    ``pyspark.taskcontext`` is not running a task."""
    if sys.version_info >= (3, 13):
        return
    taskcontext = sys.modules.get("pyspark.taskcontext")
    if taskcontext is not None and taskcontext.TaskContext.get() is not None:
        install_zip_cache_fix()
