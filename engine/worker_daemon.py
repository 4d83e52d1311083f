"""Python worker daemon for local-mode engine sessions.

Spark forks every Python worker of an executor from one daemon process.
:func:`engine.session.get_spark` names this module as that daemon
(``spark.python.daemon.module``), and Spark starts it as
``python -m engine.worker_daemon pyspark.worker``.  Before it hands over to
``pyspark.daemon.manager()`` it prepares the state every worker inherits:

1. On CPython < 3.12, ``zipimport.zipimporter.invalidate_caches`` re-reads
   the archive's whole directory on every call, and pyspark's
   ``setup_spark_files`` calls ``importlib.invalidate_caches()`` at the start
   of every task.  The worker path holds pyspark.zip, the py4j zip and the
   spark-core jar, so each task re-read about 7k zip entries through 16
   importers.  :func:`install` swaps in a method that re-reads an archive
   only when its ``(st_mtime_ns, st_size, st_ino)`` changed since the last
   read.  Importers of one archive share that read through
   ``zipimport._zip_directory_cache``.  CPython 3.12 made the re-read lazy
   (gh-103200), so there ``zipimport`` is left alone.
2. It imports what every Arrow task imports (numpy, pandas, pyarrow and
   pyspark's Arrow serializers), so a new worker starts with them loaded.
   pyspark's own daemon already forks after numpy (and its OpenBLAS
   threads) is loaded; pandas adds pyarrow's jemalloc background thread,
   whose fork handlers keep the child's allocator consistent.
3. It freezes the preloaded heap (``gc.freeze()``), so the ``gc.collect()``
   the daemon runs after each task walks only that task's objects.

Nothing here may write to stdout: the daemon sends its port on it.
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size, st_ino) taken just before its last read
_read_stamps: dict = {}
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_caches(self) -> None:
    """Reload the archive directory only when the archive file changed."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_stamps.get(self.archive) == stamp:
        self._files = files
        return
    # stat before the read: a change during the read shows as a new stamp next time
    _reread(self)
    _read_stamps[self.archive] = stamp


def install() -> None:
    """Install the stamp-checked ``invalidate_caches`` on CPython < 3.12."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches


def main() -> None:
    install()
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401
    from pyspark import daemon

    # one directory read per archive here, stamped, so forked workers inherit it
    importlib.invalidate_caches()
    gc.collect()
    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()
