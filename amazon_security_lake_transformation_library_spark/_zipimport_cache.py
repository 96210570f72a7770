"""Re-read a zip archive's directory only when the archive changed.

Before Python 3.12, ``zipimporter.invalidate_caches`` eagerly re-reads the
central directory of its archive. A pyspark Python worker calls
``importlib.invalidate_caches()`` at the start of every task, which re-reads
``pyspark.zip`` once for each of its 14 zipimporters: 150-200 ms of CPU per
task, a 37-row stateful micro-batch task included.
CPython 3.12 made the call lazy (gh-103200). This wrapper keys the re-read on
the archive's ``(st_mtime_ns, st_size)``, so a rewritten archive is still
seen, and an unchanged one costs one ``stat``.
"""

import os
import zipimport

_eager = zipimport.zipimporter.invalidate_caches
_read_at: dict = {}  # archive path -> (st_mtime_ns, st_size) of the last read


def _signature(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    sig = _signature(self.archive)
    if sig is None or _read_at.get(self.archive) != sig:
        _eager(self)
        _read_at[self.archive] = sig
    else:  # another importer of this archive already re-read it
        self._files = zipimport._zip_directory_cache.get(self.archive, self._files)


zipimport.zipimporter.invalidate_caches = invalidate_caches
