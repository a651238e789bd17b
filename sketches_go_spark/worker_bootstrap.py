"""One-time set-up of a reused PySpark Python worker.

A reused worker pays a fixed CPU cost on every task before any sketch code
runs, and this module removes the two parts of it that do no useful work:

- ``pyspark.worker_util.setup_spark_files`` calls
  ``importlib.invalidate_caches()`` on every task.  On CPython 3.10-3.12
  every cached ``zipimporter`` then re-reads its archive's whole central
  directory, and a worker holds one importer per imported package of
  ``pyspark.zip`` (~16 importers over a 1,328-entry directory, ~0.25 s of
  CPU per task).  :func:`patch_zipimport` makes an importer re-read only
  when its archive's ``(st_mtime_ns, st_size)`` stamp changed, so a
  rewritten or newly added ``--py-files`` archive is still read afresh.
- The PySpark daemon runs ``gc.collect()`` after every task, which walks
  the ~73k objects pandas, pyarrow and numpy create at import.
  ``gc.freeze()`` moves the objects alive at bootstrap into the permanent
  generation, where the collector no longer scans them.

:func:`bootstrap` runs both, once per worker process, when the package is
first imported inside a task.  It does nothing in the driver, and nothing
on CPython 3.13 and later, whose ``zipimporter.invalidate_caches`` only
marks the directory for a lazy re-read.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

# The (st_mtime_ns, st_size) of the archive when an importer last read it.
_STAMP = "_sketches_go_spark_stamp"

_read_unconditionally = zipimport.zipimporter.invalidate_caches


def _archive_stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the directory only
    when the archive's stamp differs from the one taken at the last read
    (or the archive cannot be stat'ed).  The stamp is taken before the
    read, so a write racing the read shows up at the next call."""
    stamp = _archive_stamp(self.archive)
    if stamp is None or stamp != getattr(self, _STAMP, None):
        _read_unconditionally(self)
        setattr(self, _STAMP, stamp)


def patch_zipimport() -> None:
    """Install :func:`_invalidate_if_changed` and stamp every importer now
    in ``sys.path_importer_cache``.  Inside a task those importers read
    their directories in this task's ``setup_spark_files`` or after it, so
    the stamp taken now describes what they hold.  An importer created
    later re-reads once at its first invalidation and is stamped then."""
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            setattr(finder, _STAMP, _archive_stamp(finder.archive))


def _applies() -> bool:
    """True inside a PySpark task on a CPython whose zip importers re-read
    their directories eagerly (3.10-3.12)."""
    if sys.implementation.name != "cpython" or not (3, 10) <= sys.version_info < (3, 13):
        return False
    taskcontext = sys.modules.get("pyspark.taskcontext")
    return taskcontext is not None and taskcontext.TaskContext.get() is not None


def bootstrap() -> bool:
    """Patch the zip importers and freeze the import-time heap, once per
    Python worker process; a no-op elsewhere.  Returns whether it acted."""
    if not _applies() or zipimport.zipimporter.invalidate_caches is _invalidate_if_changed:
        return False
    patch_zipimport()
    gc.freeze()
    return True
