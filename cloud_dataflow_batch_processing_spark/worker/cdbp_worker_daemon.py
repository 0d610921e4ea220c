"""The Python worker daemon ``get_spark`` starts on a local master:
``pyspark.daemon``, importing the installed, compiled pyspark and py4j
when they hold the same sources as Spark's zips, with a zip importer
that re-reads an archive only when the archive changed.

It runs as a top-level module (``python -m cdbp_worker_daemon``) from
a directory of its own on the workers' ``PYTHONPATH``, because it must
order ``sys.path`` before anything imports pyspark, and the package's
``__init__`` does.

Compiled pyspark. Spark puts ``pyspark.zip`` and the py4j zip first on
the workers' path. The zips hold no ``.pyc``, so a daemon importing
from them compiles pyspark from source: 1.2-1.5 s of every session's
start on a 4-CPU box. When every ``.py`` member of both zips has an
installed twin with the same CRC-32, the zips move behind the rest of
``sys.path`` and the installed packages load from their ``.pyc``. A
member whose directory the installed package lacks is skipped: wheels
leave out the test and benchmark packages, which no worker imports.
Otherwise the zips stay first. The check reads ~9 MB of source: 25-40
ms on a 4-CPU box, on each daemon start.

Zip caches. Spark starts every task with
``importlib.invalidate_caches()``. On CPython 3.10-3.12 that re-reads
the whole directory of a zip on ``sys.path`` once for each importer of
it: 14-16 importers of ``pyspark.zip`` (1,328 entries), 75-190 ms per
task on a 4-CPU box. Here an archive is re-read only when its
``(st_mtime_ns, st_size)`` differs from when it was last read;
otherwise the importer takes the directory already read. CPython 3.13
reads zip directories lazily.
"""

from __future__ import annotations

import os
import zipimport
import zlib
from importlib.machinery import PathFinder

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


def _spark_zip(entry: str) -> bool:
    name = os.path.basename(entry)
    return name == "pyspark.zip" or (name.startswith("py4j-") and name.endswith(".zip"))


def worker_path(path: list[str]) -> tuple[str, list[str]]:
    """Where a worker whose ``sys.path`` is ``path`` imports pyspark and
    py4j from, and the path it imports them with: ``compiled`` and the
    path with Spark's zips moved to its end, or ``zip:<reason>`` and
    ``path`` as it is."""
    zips = [p for p in path if _spark_zip(p)]
    rest = [p for p in path if p not in zips]
    for archive in zips:
        reason = _zip_differs(archive, rest)
        if reason is not None:
            return f"zip:{reason}", path
    return "compiled", rest + zips


def _zip_differs(archive: str, path: list[str]) -> str | None:
    """Why the packages installed on ``path`` do not hold the ``.py``
    sources of ``archive``, or None when they do."""
    try:
        files = zipimport.zipimporter(archive)._files  # the read primes zipimport's cache
    except zipimport.ZipImportError:
        return "unreadable"
    roots: dict[str, str | None] = {}  # top-level package -> the directory it is installed in
    for name, toc in files.items():
        if not name.endswith(".py"):
            continue
        package = name.split(os.sep, 1)[0]
        if package not in roots:
            spec = PathFinder.find_spec(package, path)
            locations = spec and spec.submodule_search_locations
            roots[package] = os.path.dirname(locations[0]) if locations else None
        if roots[package] is None:
            return f"{package}-not-installed"
        installed = os.path.join(roots[package], name)
        try:
            with open(installed, "rb") as fh:
                same = zlib.crc32(fh.read()) == toc[7]  # toc: (path, compress, sizes, offset, time, date, crc)
        except OSError:
            same = not os.path.isdir(os.path.dirname(installed))  # a package the wheel left out
        if not same:
            return f"{package}-differs"
    return None


if __name__ == "__main__":
    import importlib
    import sys

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    _, sys.path[:] = worker_path(sys.path)
    from pyspark.daemon import manager

    importlib.invalidate_caches()  # read each zip once here, so forked workers start stamped
    manager()
