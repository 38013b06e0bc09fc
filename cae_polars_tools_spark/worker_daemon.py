"""Spark Python worker daemon that skips re-reading unchanged zip archives.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
task so that files shipped with ``addFile``/``addPyFile`` become
importable. On CPython 3.11 that makes every cached
``zipimport.zipimporter`` re-read its archive's whole central directory,
and a worker holds one per package imported from ``pyspark.zip``. This
module wraps ``zipimporter.invalidate_caches`` so an importer re-reads
its archive only when the file's ``(st_mtime_ns, st_size, st_ino)``
differs from what it last read, then hands off to ``pyspark.daemon``.
Workers are forked from the daemon and inherit the wrapper.
"""

from __future__ import annotations

import os
import zipimport

_original_invalidate_caches = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        key = None
    if key is None or key != getattr(self, "_archive_key", None):
        self._archive_key = key  # taken before the read: a racing rewrite re-reads next time
        _original_invalidate_caches(self)


def main() -> None:
    """Install the wrapper, then run ``pyspark.daemon``'s manager."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon  # reads the worker module from sys.argv[1]

    daemon.manager()


if __name__ == "__main__":
    main()
