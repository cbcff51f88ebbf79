"""Stat-checked ``zipimporter.invalidate_caches`` for Python < 3.12.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``) so that files shipped with
``addPyFile`` become importable. Spark workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip``, and on Python 3.11 every
``zipimporter`` answers that call by re-reading its archive's central
directory: one ``invalidate_caches()`` re-parses the 1,300-entry pyspark.zip
directory once per cached importer (14-16 of them), 0.1 s and more of every
Python task. CPython 3.12 made the re-read lazy, so this module patches
nothing there.

On 3.11 the method is replaced in place: an archive is re-read only when its
``(st_mtime_ns, st_size, st_ino)`` stamp differs from the one recorded at its
last read, or when it is not cached yet. A zip rewritten or replaced on disk
is therefore still picked up on the next ``invalidate_caches()``.

Imported only from the package root: every Python worker imports the root
when it unpickles an engine UDF, and worker reuse carries the patch to the
later tasks. The oracle-law fingerprints leave the root package out of every
closure, so this module moves no law.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive path -> stat stamp at the time its cached directory was read
_stamps: dict[str, tuple[int, int, int]] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_caches(self) -> None:
    """Reload the archive's file data only if the archive changed on disk."""
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _stamps.get(self.archive) == stamp:
        self._files = cached
        return
    _reread(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp
    else:
        _stamps.pop(self.archive, None)


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` (idempotent); return whether
    the patch is in place. The archives already cached were read by the
    importers that loaded this process, so their current stamps are
    recorded instead of reading them a second time."""
    if sys.version_info >= (3, 12):
        return False
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter) and \
                finder.archive in zipimport._zip_directory_cache:
            stamp = _stamp(finder.archive)
            if stamp is not None:
                _stamps.setdefault(finder.archive, stamp)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True
