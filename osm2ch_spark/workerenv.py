"""Python-worker memory hygiene for fault-expensive hosts.

On hosts that provision pages lazily through a hypervisor a minor page
fault can cost ~100 µs (measured via udftrace rusage deltas — 18k
faults/batch ≈ 3 s of SYSTEM time per split-UDF batch).  The JVM side
faults its heap lazily without pretouch: ``session.py`` starts it with
transparent huge pages, which make first touch cheap
(BENCH/perf_notes_r04.md §7).  Python workers have no such cover:
every Arrow batch allocates tens of MB of numpy temporaries and Arrow
buffers, and if the allocator returns those pages to the kernel
between batches, every batch re-faults them — a cost that
does NOT shrink with more cores (fault handling contends), i.e. a direct
scaling killer.

The fix: ``get_spark`` exports MALLOC_MMAP_THRESHOLD_/
MALLOC_TRIM_THRESHOLD_ so glibc serves large allocations from the
retained brk heap instead of transient mmaps and never trims it back;
the first real batch then warms the heap and later batches run
fault-free.

Worker start-up (preload, gc.freeze, zip invalidation) is ``pydaemon.py``.
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
