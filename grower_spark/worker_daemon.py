"""PySpark's worker daemon, with each zip archive's import index kept
across tasks while the archive is unchanged.

Before every task a PySpark worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  Before CPython 3.12 that
makes every ``zipimporter`` re-read its archive's whole directory; a
worker holds 16 of them, over ``pyspark.zip``, the py4j zip and the
``spark-core`` jar, and the re-reads cost about 0.2 s of CPU per task.
Here an importer re-reads its archive only when the archive's
``(st_ino, st_size, st_mtime_ns)`` differ from the stamp it took at its
last read.  CPython 3.12 made the method cheap itself (gh-103200), so
there the daemon runs as is.

``get_spark`` starts it with ``spark.python.daemon.module``; workers are
forked from the daemon and inherit the patch.
"""

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    if stamp is None or getattr(self, "_stamp", None) != stamp:
        _reread(self)
        self._stamp = stamp


if __name__ == "__main__":
    # ``python -m`` runs this file as ``__main__``; patch with the function
    # of the importable module so that workers report where it comes from.
    from grower_spark import worker_daemon
    from pyspark.daemon import manager

    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = worker_daemon.invalidate_caches
    manager()
