"""Python-worker memory settings and the pipeline's one barrier.

``get_spark`` exports :data:`MALLOC_ENV` before the JVM starts (and as
executorEnv), so every worker serves Arrow-batch numpy and Arrow buffers
from a retained glibc heap: the first batch warms it and later batches
run without page faults, which on a lazily provisioned host cost ~100 µs
each and contend across cores (BENCH/perf_notes_r03.md §2,
BENCH/perf_notes_r04.md §2).  :func:`materialize_df` is the pipeline's
materialization barrier (BENCH/ab_pipe_ckpt_level.json).  Worker
start-up -- preload, freeze, zip invalidation, one daemon per session --
is ``pydaemon.py`` (BENCH/ab_pydaemon_perfbench.json,
BENCH/ab_one_pool.json).
"""

from __future__ import annotations

# glibc tunables exported to every worker (set before the JVM starts so
# the Python worker daemon inherits them; executorEnv carries them to
# real clusters).  256 MB: larger than any single UDF-batch allocation,
# so numpy/Arrow buffers stay on the retained heap.
MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": str(256 * 1024 * 1024),
    "MALLOC_TRIM_THRESHOLD_": str(256 * 1024 * 1024),
    # Route CPython object allocation through glibc malloc as well:
    # pymalloc's 1 MB arenas are mmap'd/munmap'd directly (the MALLOC_*
    # tunables can't retain them), and object-heavy Arrow batches cycle
    # arenas every batch.  Interleaved A/B on the flagship: split-UDF
    # batch body 96 s -> 14.6 s, sys_cpu 69.9 s -> 0.0 s.
    "PYTHONMALLOC": "malloc",
}

def materialize_df(df):
    """Eager local checkpoint — the engine's one materialization
    primitive for the pipeline's fan-out tables.  DISK_ONLY: each barrier
    table is scanned by 2–3 downstream stages, and deserialized blocks
    pin per-row object graphs that dominate full-GC tracing for the rest
    of the run (BENCH/ab_pipe_ckpt_level.json).  Eager so the fan-out
    consumers scan a finished RDD instead of racing to build cache
    blocks."""
    from pyspark import StorageLevel

    return df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
