"""The Python worker daemon of every :func:`cid_etl_spark.get_spark`
session: Spark's own ``pyspark.daemon`` with two per-task fixed costs
taken out.

Spark starts it as ``python -m cid_etl_spark.pydaemon pyspark.worker``
(``spark.python.daemon.module`` in ``session.DEFAULT_CONF``) and forks
one worker from it per task slot.  Before it hands over to the
unchanged :func:`pyspark.daemon.manager` it:

1. **Guards the zip re-read.**  For every task, ``pyspark.worker.main``
   calls ``importlib.invalidate_caches()`` so that archives added with
   ``addPyFile`` become importable.  Up to Python 3.12 that makes every
   ``zipimporter`` re-read its archive's whole central directory: one
   importer per package directory imported from ``pyspark.zip``, 16
   reads of 1,328 entries per task.  The guard re-reads an archive only
   when it has never been read or its ``(st_ino, st_size, st_mtime_ns)``
   changed, so a new or rewritten ``addPyFile`` archive is still read.
2. **Pre-imports and freezes.**  ``pandas``, ``pyarrow`` and Spark's
   Arrow serializers are imported once here, then ``gc.freeze()`` moves
   that heap out of the collector's reach.  Forked workers inherit it,
   and the ``gc.collect()`` the daemon runs after every task scans only
   that task's objects.

The workers must be able to import this package, as the by-reference
UDF closures (for example ``operators.dedup._gram_hashes_exploded``)
already require.  The daemon needs it sooner, when it starts and before
any task: from the working directory the session was started in, or
from the workers' ``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH`` on a
cluster).  An archive shipped with ``addPyFile`` reaches ``sys.path``
only inside a task, too late for the daemon.  A session built without
``get_spark``, or with ``spark.python.daemon.module=pyspark.daemon``,
keeps Spark's stock daemon.
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipimport

#: The stdlib re-read: ``zipimporter.invalidate_caches`` as Python ships it.
_reread = zipimport.zipimporter.invalidate_caches

#: archive path -> (stat signature, directory read through the guard)
_directories: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that keeps the directory of an
    archive unchanged on disk since the guard last read it."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _reread(self)
        return
    sig = (st.st_ino, st.st_size, st.st_mtime_ns)
    seen = _directories.get(self.archive)
    if seen is not None and seen[0] == sig:
        self._files = seen[1]
        return
    _reread(self)
    _directories[self.archive] = (sig, self._files)


def main() -> None:
    # Python 3.13 already re-reads lazily, on the next lookup only
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    # imports pyspark.worker too: the module named by argv[1]
    from pyspark import daemon

    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401

    # every zip importer reads its directory here once, not in each worker
    importlib.invalidate_caches()
    gc.collect()  # garbage frozen now would stay for the daemon's life
    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()
