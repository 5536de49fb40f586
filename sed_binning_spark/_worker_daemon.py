"""Spark Python-worker daemon whose workers keep their parsed zip directories.

Every task's ``setup_spark_files`` (pyspark.worker_util) calls
``importlib.invalidate_caches()``. Through CPython 3.12 (checked against the
3.11.7 and 3.12.1 stdlib), ``zipimport.zipimporter.invalidate_caches``
re-reads the archive's whole central directory at once. A local worker
imports pyspark from ``pyspark.zip``, behind which sit the py4j zip and the
spark-core jar: 15-16 importers, 0.12-0.27 s on every task (measured on a
4-core host; 0.2 ms with the guard). The daemon installs
``_invalidate_if_changed``: an importer re-reads only when its archive's
(mtime, size, inode) stamp changed or the file is gone. CPython 3.13 only
drops the shared cache entry and re-reads at the next lookup; the guard is
correct there too, it just saves less.
Workers fork from this daemon and inherit the guard; ``get_spark`` names
this module ``spark.python.daemon.module``.
"""

import os
import zipimport

import pyspark.daemon

_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_stamp", None):
        _reread(self)
    self._stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    pyspark.daemon.manager()
