"""Python worker daemon for local sessions (``spark.python.daemon.module``).

Spark starts one daemon per executor and worker environment, and forks
the Python workers that run UDF and RDD tasks from it; ``get_spark``
turns simplified UDF tracebacks off so SQL and RDD tasks share one
environment, hence one daemon and its warm workers.  It points local
masters at this module, which prepares the process once and then hands
off to ``pyspark.daemon.manager()``:

* **Preload.**  numpy, pandas, pyarrow, the Arrow serializers and every
  engine module a UDF body references are imported before the first
  fork, so workers share those pages copy-on-write instead of importing
  the stack privately.
* **Freeze.**  ``gc.collect(); gc.freeze()`` moves the preloaded objects
  into the collector's permanent generation.  pyspark's daemon runs
  ``gc.collect()`` in a worker after every task; without the freeze that
  collection would walk, and so write to, every shared page.
* **Stat-checked zip invalidation.**  pyspark calls
  ``importlib.invalidate_caches()`` at the start of every task.  Before
  CPython 3.13 that re-reads the whole directory of a zip archive once
  per cached ``zipimporter`` -- one per imported package of
  ``pyspark.zip``, so tens of thousands of entries per task.
  :func:`install_zip_invalidation` makes the re-read happen only when
  the archive's mtime or size changed, as 3.13 does.

Cluster masters keep Spark's default daemon: ``--py-files`` reaches the
workers per task, not the daemon, so the engine may not be importable
there.
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipimport

PRELOAD = (
    "numpy",
    "pandas",
    "pyarrow",
    "pyspark.sql.pandas.serializers",
    "pyspark.sql.pandas.types",
    "osm2ch_spark.geom",
    "osm2ch_spark.gomath",
    "osm2ch_spark.udftrace",
    "osm2ch_spark.pipeline",
    "osm2ch_spark.sinks",
)


def install_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when it changed since the last read.  A rewritten archive is still
    re-read; a newly shipped one gets a fresh importer as before.  No-op
    from CPython 3.13, where invalidation is already lazy."""
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches
    stamps = {}  # archive path -> (st_mtime_ns, st_size) at its last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and stamps.get(self.archive) == stamp and files is not None:
            self._files = files
            return
        # stat before the read: a rewrite racing the read changes the
        # stamp again, so the next call re-reads
        reread(self)
        if stamp is None:
            stamps.pop(self.archive, None)
        else:
            stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    install_zip_invalidation()
    for name in PRELOAD:
        importlib.import_module(name)
    # imports the worker module named in argv as well
    from pyspark import daemon

    gc.collect()
    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()
