"""Python-worker memory hygiene for fault-expensive hosts.

This sandbox VM provisions pages lazily through the hypervisor: a minor
page fault costs ~100 µs (measured via udftrace rusage deltas — 18k
faults/batch ≈ 3 s of SYSTEM time per split-UDF batch), which is why
``-XX:+AlwaysPreTouch`` is load-bearing on the JVM side.  Python workers
have the same problem: every Arrow batch allocates tens of MB of numpy
temporaries and Arrow buffers, and if the allocator returns those pages
to the kernel between batches, every batch re-faults them — a cost that
does NOT shrink with more cores (fault handling contends), i.e. a direct
scaling killer.

The fix: ``get_spark`` exports MALLOC_MMAP_THRESHOLD_/
MALLOC_TRIM_THRESHOLD_ so glibc serves large allocations from the
retained brk heap instead of transient mmaps and never trims it back;
the first real batch then warms the heap and later batches run
fault-free.

Worker start-up itself belongs to the worker daemon (``pydaemon.py``,
set by ``get_spark`` for local masters).  Before the first fork it
imports numpy, pandas, pyarrow, pyspark's Arrow serializers and the
engine modules UDF bodies use (geom, gomath, udftrace, pipeline,
sinks), then ``gc.freeze()``s them: workers share those pages
copy-on-write, and the ``gc.collect()`` pyspark runs in a worker after
each task no longer writes to them (Python-worker PSS on ``etl_grid``
~650 → ~410 MB).  It also stops a per-task cost: pyspark's
``importlib.invalidate_caches()`` re-read the whole directory of
``pyspark.zip`` once per cached zipimporter (17 of them, ~27k entries)
at the start of every task on CPython < 3.13, 0.2–0.5 s before the
first batch; the daemon re-reads an archive only when its mtime or size
changed.
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
