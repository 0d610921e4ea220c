"""The Python worker daemon ``get_spark`` starts on a local master:
``pyspark.daemon`` with a zip importer that re-reads an archive only
when the archive changed.

Spark starts every task with ``importlib.invalidate_caches()``. On
CPython 3.10-3.12 that re-reads the whole directory of a zip on
``sys.path`` once for each importer of it: 14-16 importers of
``pyspark.zip`` (1,328 entries), 75-190 ms per task on a 4-CPU box.
Here an archive is re-read only when its ``(st_mtime_ns, st_size)``
differs from when it was last read; otherwise the importer takes the
directory already read. CPython 3.13 reads zip directories lazily.
"""

from __future__ import annotations

import os
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive -> its stamp when its directory was last read; a per-process
# companion of zipimport's own module-level _zip_directory_cache.
_read_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    # Stat before reading, so a change during the read shows next time.
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or files is None or _read_stamps.get(self.archive) != stamp:
        _stock_invalidate_caches(self)
        _read_stamps[self.archive] = stamp
    else:
        self._files = files


if __name__ == "__main__":
    import importlib

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark.daemon import manager

    importlib.invalidate_caches()  # read each zip once here, so forked workers start stamped
    manager()
