"""Skip a PySpark worker's per-task re-read of unchanged zip archives.

Before every task a PySpark worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  On CPython 3.10 and 3.11
that makes every ``zipimporter`` in ``sys.path_importer_cache`` re-read
its archive's whole central directory (CPython gh-103200; 3.12 made the
re-read lazy).  A worker holds about 16 of them over
``$SPARK_HOME/python/lib/pyspark.zip`` (1,328 entries): 0.13-0.23 s of
CPU per task, 4 vCPUs, before the UDF body runs.

:func:`install` makes ``zipimporter.invalidate_caches`` re-read an
archive only when its ``(mtime_ns, size)`` changed since the last read,
so a rewritten archive is still picked up.  It is a no-op outside a
PySpark worker and on other CPython versions.  The package ``__init__``
installs it when imported inside a worker; UDF bodies that reference no
package symbol (so unpickling them never imports the package) call it
on entry.
"""

from __future__ import annotations

import os
import sys
import zipimport

_AFFECTED = {(3, 10), (3, 11)}
_stamps: dict[str, tuple[int, int]] = {}
_original = getattr(zipimport.zipimporter, "invalidate_caches", None)
installed = False


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self) -> None:
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    # stamp taken before the read: a write racing the read shows up as
    # a changed stamp on the next call
    _original(self)
    if stamp is not None:
        _stamps[self.archive] = stamp


def _in_worker() -> bool:
    files = sys.modules.get("pyspark.core.files")
    return bool(files and getattr(files.SparkFiles, "_is_running_on_worker", False))


def install() -> None:
    """Install the guard once per worker process (see module docstring)."""
    global installed
    if installed or sys.version_info[:2] not in _AFFECTED or not _in_worker():
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    installed = True
