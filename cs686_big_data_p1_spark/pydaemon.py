"""PySpark daemon whose workers keep zip directories across tasks.

Every Python worker task calls ``importlib.invalidate_caches()``, and on
CPython < 3.13 each ``zipimporter`` then re-reads its archive's whole
directory (pyspark.zip: ~1,300 entries, ~16 importers). Here an archive
is re-read only when its ``(st_ino, st_size, st_mtime_ns)`` changed
since the last read, so a rewritten or newly added zip (``addPyFile``)
is still seen. CPython >= 3.13 re-reads lazily; there this module only
runs the stock daemon. ``session.get_spark`` names it in
``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import sys
import zipimport

_SEEN: dict[str, tuple[int, int, int] | None] = {}
_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive's directory only if the file changed."""
    try:
        st = os.stat(self.archive)
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        key = None
    cached = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and cached is not None and _SEEN.get(self.archive) == key:
        self._files = cached
        return
    _reread(self)  # stat first: a rewrite racing the read re-reads next time
    _SEEN[self.archive] = key


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` where it re-reads eagerly."""
    if sys.version_info >= (3, 13):
        return False
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


if __name__ == "__main__":
    import importlib

    from pyspark import daemon

    # Patch through the package module, so the workers' method reports
    # the importable name, not ``__main__``.
    from cs686_big_data_p1_spark import pydaemon

    if pydaemon.install():
        importlib.invalidate_caches()  # read each archive once, before fork
    daemon.manager()
