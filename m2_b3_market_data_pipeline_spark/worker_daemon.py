"""Spark's Python worker daemon, re-reading a zip archive only when it changed.

Run as ``python -m m2_b3_market_data_pipeline_spark.worker_daemon``: Spark
starts it through ``spark.python.daemon.module`` (``session.get_spark``) with
the arguments it gives ``pyspark.daemon``. It makes one change before
``pyspark`` is imported and then runs ``pyspark.daemon.manager()`` as shipped.

The change: before each task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` so that files shipped with ``addPyFile``
become importable. On Python 3.11 that call makes every cached
``zipimport.zipimporter`` re-read its archive's whole zip directory, once per
importer: ``pyspark.zip`` once for each imported subpackage, and the
spark-core jar twice. ``StampedZipImporter`` re-reads an archive only when its
``(st_ino, st_size, st_mtime_ns)`` differs from the stamp taken before the
last read, or when it cannot be stat'ed. ``importlib``'s ``FileFinder``
applies the same rule to directories, through their mtime.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


class StampedZipImporter(zipimport.zipimporter):
    """A zipimporter whose ``invalidate_caches()`` skips an unchanged archive.

    The stamp is taken before the read, so a change racing the read is
    picked up by the next call. A new importer has no stamp: its first call
    re-reads, as the stock importer's does.
    """

    _stamp = None

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or stamp != self._stamp:
            super().invalidate_caches()
            self._stamp = stamp


def install() -> None:
    """Make ``StampedZipImporter`` the zip path hook of this process.

    Stock zipimporters already cached for ``sys.path`` entries are dropped;
    the next import through those entries builds stamped ones. The path
    order is unchanged.
    """
    sys.path_hooks[:] = [
        StampedZipImporter if hook is zipimport.zipimporter else hook
        for hook in sys.path_hooks
    ]
    for path, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            del sys.path_importer_cache[path]


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
