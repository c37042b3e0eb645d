"""pyspark's Python daemon, with zip directories cached until the
archive changes.

Before each task, a Python worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``) so that a zip added by
``addPyFile`` becomes importable. Before Python 3.13 that call makes
every ``zipimporter`` re-read its archive's central directory at once:
pyspark.zip once per subpackage importer, plus the 5k-entry spark-core
jar. In a reused worker that is about 0.25 s of CPU per task, most of a
trivial task's cost. Python 3.13 no longer re-reads eagerly.

Here an archive is re-read only when its ``(st_mtime_ns, st_size)``
changed since it was last read, or when the stat fails. A zip that
``addPyFile`` adds or rewrites is still read afresh, so what imports is
unchanged. The daemon installs the patch and reads each archive once
before ``pyspark.daemon`` forks its workers, so every worker inherits
both.

``session.get_spark`` names this module in ``spark.python.daemon.module``
for local masters. Other sessions keep pyspark's stock daemon.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_STOCK_INVALIDATE = zipimport.zipimporter.invalidate_caches

# archive path -> ((st_mtime_ns, st_size), directory read at that stat)
_read: dict[str, tuple[tuple[int, int], dict]] = {}


def invalidate_if_changed(importer: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read while
    the archive's mtime and size match those of the last read."""
    archive = importer.archive
    try:
        st = os.stat(archive)
    except OSError:
        _read.pop(archive, None)
        _STOCK_INVALIDATE(importer)
        return
    key = (st.st_mtime_ns, st.st_size)
    seen = _read.get(archive)
    if seen is not None and seen[0] == key:
        importer._files = seen[1]
        return
    # The stat precedes the read: a rewrite racing the read leaves a
    # stale key, so the next call re-reads instead of trusting it.
    _STOCK_INVALIDATE(importer)
    _read[archive] = (key, importer._files)


def install() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_if_changed


if __name__ == "__main__":
    install()
    from pyspark import daemon

    # Read each archive once here, so a freshly forked worker's first
    # task finds every directory current too.
    importlib.invalidate_caches()
    daemon.manager()
