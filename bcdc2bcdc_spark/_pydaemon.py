"""The engine's Python daemon: ``pyspark.daemon`` whose forked workers re-read
a zip archive's directory only when the archive changed on disk.

Every Python task runs ``importlib.invalidate_caches()``, which makes each
zipimporter re-read its whole archive directory (pyspark.zip, the py4j zip,
the spark-core jar) although none of them changed. Here the re-read happens
only when the archive's ``(st_mtime_ns, st_size)`` differs from the last
read's; the stat is taken before the read, so a rewrite racing it is caught
on the next call, and a failed stat always re-reads."""

import os
import zipimport

_stock = getattr(zipimport.zipimporter, "invalidate_caches", None)


def invalidate_caches(self):
    """``zipimporter.invalidate_caches``, skipped while the archive's stat
    matches the one taken before its last read."""
    try:
        st = os.stat(self.archive)
        stat = (st.st_mtime_ns, st.st_size)
    except OSError:
        stat = None
    if stat is None or getattr(self, "_read_stat", None) != stat:
        _stock(self)
        self._read_stat = stat


if __name__ == "__main__":
    if _stock is not None:
        from bcdc2bcdc_spark import _pydaemon  # the importable name, not __main__

        zipimport.zipimporter.invalidate_caches = _pydaemon.invalidate_caches
    from pyspark.daemon import manager

    manager()
