"""PySpark worker daemon for :func:`session.get_session` sessions.

On every task PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and on CPython 3.11 that makes each
``zipimporter`` on the import path re-read its whole archive directory:
``pyspark.zip`` (1,328 entries) once per importer that serves one of
its packages, the spark-core jar (5,359 entries) twice, 142–292 ms per
task on a 4-CPU host. This daemon makes an importer re-read its archive
only when the archive's ``(st_ino, st_size, st_mtime_ns)`` differs from
the stamp taken when the cached directory was last read, so a new or
rewritten archive is still seen. It then runs PySpark's own daemon.

Run with ``spark.python.daemon.module`` set to this module's name.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> stamp taken just before its cached directory was read;
# per archive, like zipimport's own _zip_directory_cache, so importers a
# forked worker creates for new packages share the daemon's stamps
_read_stamps: dict[str, tuple] = {}


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read while
    the archive is unchanged since its cached directory was read."""
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    unchanged = stamp is not None and _read_stamps.get(self.archive) == stamp
    if unchanged and cached is not None:
        self._files = cached
        return
    _stock_invalidate(self)
    _read_stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimport.zipimporter.invalidate_caches`` in this process."""
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


if __name__ == "__main__":
    from pyspark import daemon

    install()
    # stamp every archive already imported from, so the forked workers
    # inherit the stamps and skip their first re-read too
    importlib.invalidate_caches()
    daemon.manager()
