"""PySpark worker daemon that re-indexes an import-path zip only when it changes.

Every Python task calls ``importlib.invalidate_caches()``, and CPython's
``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory. Workers import pyspark from ``pyspark.zip`` (~1,300 entries)
through one zipimporter per subpackage, so each task re-indexed the
same unchanged archive 16 times. This daemon stamps every directory
read with the archive's ``(st_mtime_ns, st_size)`` and re-reads on
invalidation only when the stamp differs; forked workers inherit the
patch. Selected by ``spark.python.daemon.module`` in
``ironspark.session.get_spark``.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_read_uncached = zipimport._read_directory
_reindex = zipimport.zipimporter.invalidate_caches
_last_read: dict[str, tuple] = {}  # archive -> (stamp before the read, directory)


def _stamp(archive: str) -> tuple | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def read_directory(archive: str) -> dict:
    # stat before reading: a rewrite during the read is caught by the next check
    stamp = _stamp(archive)
    files = _read_uncached(archive)
    _last_read[archive] = (stamp, files)
    return files


def invalidate_caches(self) -> None:
    stamp, files = _last_read.get(self.archive, (None, None))
    if stamp is None or stamp != _stamp(self.archive):
        _reindex(self)
    else:
        self._files = zipimport._zip_directory_cache[self.archive] = files


def main() -> None:
    zipimport._read_directory = read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    # record the archives indexed before the patch once here, not in every fork
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    # re-import under the package name so the patch is not owned by __main__
    from ironspark.worker_daemon import main

    main()
