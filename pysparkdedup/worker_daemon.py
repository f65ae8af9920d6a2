"""Custom PySpark worker daemon: preload heavy libraries before forking, and
stop each task from re-reading the PySpark zip archives.

Python workers are forked from the daemon per task (reuse is best-effort;
early-terminated Arrow streams and stage turnover churn workers). Every fresh
worker that has to import numpy + pyarrow + this package pays ~1s of CPU and a
storm of page faults — at thousands of tasks that becomes the dominant kernel
time. Preloading in the daemon makes each fork inherit the imports as
copy-on-write pages.

Every package kernel runs on Arrow batches, but pandas stays preloaded: the
seeded test-data generator (``corpus.pages_and_truth``, the benchmark's
setup) and the driver entry's synthetic image generator still run
``mapInPandas``, and without the preload each of their workers would import
pandas itself.

The second fixed cost is per task, not per worker: PySpark's worker calls
``importlib.invalidate_caches()`` at the start of every task
(``worker_util.setup_spark_files``). Before CPython 3.12 that makes every
``zipimporter`` — one per package directory imported from ``pyspark.zip`` —
re-read its whole archive directory eagerly: ~250 ms of executor CPU per task
before the kernel starts (CPython 3.11.7, 16 importers, a 4-core host).
CPython 3.12 stopped the eager re-read (gh-103200). On older interpreters this module back-ports the effect: an
importer re-reads its archive only when the archive's ``(st_mtime_ns,
st_size)`` differs from the stamp of its last read, so an archive that really
changes (an ``addPyFile`` overwriting a file) is still re-read. Importers the
daemon already holds are stamped here, so forked workers inherit the stamps
and skip the re-read from their first task on.

Enable with: spark.python.daemon.module=pysparkdedup.worker_daemon
(session.py sets this automatically).
"""

import os
import sys
import zipimport

import numpy  # noqa: F401
import pandas  # noqa: F401

try:  # our own kernels (pulls in hashlib/difflib etc.)
    import pysparkdedup.minhash  # noqa: F401
    import pysparkdedup.simhash  # noqa: F401
    import pysparkdedup.tokenhash  # noqa: F401
    import pysparkdedup.guards  # noqa: F401
except Exception:  # pragma: no cover - package not shipped to this worker
    pass

from pyspark.daemon import manager


def _stamp(importer):
    st = os.stat(importer.archive)
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self,
                           _reread=zipimport.zipimporter.invalidate_caches):
    """zipimporter.invalidate_caches that re-reads only a changed archive."""
    try:
        stamp = _stamp(self)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_archive_stamp", None):
        _reread(self)
        self._archive_stamp = stamp


if sys.version_info < (3, 12):
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    for _importer in list(sys.path_importer_cache.values()):
        if isinstance(_importer, zipimport.zipimporter):
            try:
                _importer._archive_stamp = _stamp(_importer)
            except OSError:
                pass

if __name__ == "__main__":
    manager()
