"""Python worker daemon: ``pyspark.daemon`` with zip directories cached
until their archive changes.

Before every task, ``pyspark.worker`` calls ``importlib.invalidate_caches()``
(``worker_util.setup_spark_files``), and CPython 3.11's
``zipimporter.invalidate_caches`` re-reads the whole central directory of
its archive — once per cached zipimporter, i.e. once per package of
``$SPARK_HOME/python/lib/pyspark.zip`` a worker has imported from. A
reused worker re-read it 16 times (26,672 entries) per task, about 0.2 s.

This module replaces ``zipimporter.invalidate_caches`` with a version
that re-reads an archive's directory only when the archive's
``os.stat`` (mtime_ns, size, inode) differs from the one taken when that
directory was read; a changed (or new) archive is re-read exactly as
before, and nothing else about imports changes. The daemon primes the
stamps before it forks, so a reused worker reads no zip directory per
task and a freshly forked one reads a changed archive at most once.
Then it runs ``pyspark.daemon``'s manager unchanged.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module.
Importing it has no effect; ``install()`` patches, ``main()`` serves.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path → stat stamp taken just before the directory now in
# ``zipimport._zip_directory_cache[archive]`` was read
_STAMPS: dict[str, tuple[int, int, int]] = {}
_read_archive = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive.

    The stamp is taken before the read, so an archive rewritten during
    the read is stamped stale and read again next time."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _STAMPS.get(self.archive) == stamp:
        self._files = files
        return
    _read_archive(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _STAMPS[self.archive] = stamp
    else:
        _STAMPS.pop(self.archive, None)


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` and stamp every archive a
    cached zipimporter reads (one directory read per archive)."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


def main() -> None:
    from pyspark.daemon import manager

    install()
    manager()


if __name__ == "__main__":
    main()
