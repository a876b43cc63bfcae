"""Python-worker daemon: ``pyspark.daemon`` with zip archives re-read
only when they change on disk.

Every task a Python worker runs starts with
``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``. On Python 3.11 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
whole central directory: a worker holds about 16 of them on
``pyspark.zip``, the py4j zip and the spark-core jar, so each task paid
~0.2 s of CPU to re-read files that never change. :func:`install`
keeps each archive's directory with the ``(st_mtime_ns, st_size,
st_ino)`` it was read at and re-reads only when that differs, so an
archive ``addPyFile`` ships or one rewritten on disk is still picked
up. ``FileFinder`` caches are still invalidated on every task.

``session.get_spark`` names this module as ``spark.python.daemon.module``;
the JVM starts it with ``python -m``.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (stat signature, central directory) of its last read;
# process-wide, like zipimport's own _zip_directory_cache
_directories: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
        sig = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        sig = None
    seen = _directories.get(self.archive)
    if seen is not None and seen[0] == sig:
        self._files = zipimport._zip_directory_cache[self.archive] = seen[1]
        return
    _reread(self)
    # a missing or unreadable archive is not recorded: the next call re-reads
    if sig is not None and self.archive in zipimport._zip_directory_cache:
        _directories[self.archive] = (sig, self._files)


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when its stat signature changed since the last read."""
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
