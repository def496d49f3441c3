"""Python worker daemon for the sessions ``session.get_spark`` builds.

Every Python task begins with ``importlib.invalidate_caches()`` (PySpark's
``worker_util.setup_spark_files``). On Python 3.10-3.12 that makes every
``zipimporter`` re-read its archive's whole central directory, and a worker
holds 16 of them over ``pyspark.zip``, the Spark core jar and py4j: 0.144 s
of CPU per task on a 4-core x86 VM before the task reads a row. Run as
``python -m``, this module makes an importer re-read its archive only when
the archive's ``(st_mtime_ns, st_size)`` moved since that importer last
read it, reads each archive once here, then starts PySpark's own daemon,
whose forked workers inherit both.
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
    except OSError:
        return _reread(self)
    stamp = (st.st_mtime_ns, st.st_size)
    if getattr(self, "_read_stamp", None) != stamp:
        _reread(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    # by its import name, so a worker can see whose method it runs
    from udacitydatawarehouseprj_spark import pyworker

    zipimport.zipimporter.invalidate_caches = pyworker.invalidate_caches
    from pyspark import daemon  # imports the worker module named in argv

    importlib.invalidate_caches()
    daemon.manager()
