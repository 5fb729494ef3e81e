"""Python-worker memory settings and the engine's one lineage cut.

``get_spark`` exports :data:`MALLOC_ENV` before the JVM starts (and as
executorEnv), so every worker serves Arrow-batch numpy and Arrow buffers
from a retained glibc heap: the first batch warms it and later batches
run without page faults, which on a lazily provisioned host cost ~100 µs
each and contend across cores (BENCH/perf_notes_r03.md §2,
BENCH/perf_notes_r04.md §2).  :func:`materialize_df` is the engine's
one lineage cut, at one storage level, for pipeline barriers and graph
loops alike (BENCH/ab_one_ckpt_level.json).  Worker
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

def materialize_df(df, eager=True):
    """Local checkpoint at DISK_ONLY -- the engine's one lineage cut, for
    the pipeline's fan-out tables and every graph-loop iteration alike.

    One level: in-memory blocks share the heap with execution and
    broadcasts, and deserialized ones pin per-row object graphs that full
    GCs trace for the rest of the run.  With CC's cuts deserialized, sf0.1
    connected components failed to build a broadcast in every session on
    a 7.7 GB heap; at DISK_ONLY it completes, and PageRank is flat
    (BENCH/ab_one_ckpt_level.json).  Eager (the default) for
    pipeline fan-outs, whose consumers share one first action and would
    otherwise race to build the blocks; ``eager=False`` for loop cuts,
    which the loop's next sync aggregate materializes in its own job."""
    from pyspark import StorageLevel

    return df.localCheckpoint(eager=eager, storageLevel=StorageLevel.DISK_ONLY)
