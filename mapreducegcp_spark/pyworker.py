"""The engine's PySpark worker daemon (``spark.python.daemon.module``).

Every Python task calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py::setup_spark_files``). Under Python 3.11 that
makes every cached ``zipimporter`` re-read its archive's directory:
about 14 importers over the 1,328 entries of ``pyspark.zip``, 0.1 s of
CPU per task. Before forking any worker, this daemon replaces
``importlib.invalidate_caches`` with a version that skips the re-read
of an archive whose size and mtime have not changed since it was last
read, then runs PySpark's own daemon. Path finders, the namespace-path
epoch and any new or rewritten zip are invalidated as before, so
``addPyFile`` and SparkFiles imports behave as under ``pyspark.daemon``.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_invalidate_all = importlib.invalidate_caches
# archive path -> (st_size, st_mtime_ns) when its directory was last read
_stamps: dict[str, tuple[int, int]] = {}


def _zip_stamps() -> dict[str, tuple[int, int]]:
    out = {}
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter) and finder.archive not in out:
            try:
                st = os.stat(finder.archive)
            except OSError:
                continue
            out[finder.archive] = (st.st_size, st.st_mtime_ns)
    return out


def invalidate_caches() -> None:
    """``importlib.invalidate_caches()`` without re-reading unchanged zips."""
    now = _zip_stamps()
    kept = {
        path: finder
        for path, finder in sys.path_importer_cache.items()
        if isinstance(finder, zipimport.zipimporter)
        and os.path.isabs(path)
        and finder.archive in now
        and now[finder.archive] == _stamps.get(finder.archive)
    }
    for path in kept:
        del sys.path_importer_cache[path]
    try:
        _invalidate_all()
    finally:
        sys.path_importer_cache.update(kept)
    _stamps.update(now)


def main() -> None:
    from pyspark import daemon

    _stamps.update(_zip_stamps())
    importlib.invalidate_caches = invalidate_caches
    daemon.manager()


if __name__ == "__main__":
    main()
