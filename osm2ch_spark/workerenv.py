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

def ckpt_storage_level(default: str = "deser"):
    """Storage level for a materialization barrier, selected by
    ``OSM2CH_CKPT_LEVEL`` (falls back to the call site's ``default``):

      * ``ser`` — serialized heap blocks: one byte[] per partition instead
        of one object graph per row, so full-GC tracing cost is independent
        of row count (each 30M-row deserialized table is ~60M live objects;
        profiled 812 s of GC in a single window stage at local[32] with
        deserialized blocks).
      * ``disk`` — off the heap entirely (spark.local.dir, i.e. the page
        cache): zero GC footprint, scans pay a (parallel) re-read.
      * ``deser`` — deserialized InternalRows (Spark's localCheckpoint
        default): fastest re-scan, but heap object count scales with rows.

    Per-site defaults are measured, not uniform (interleaved protocol
    runs): the PIPELINE barriers default to ``disk`` — the dedicated
    interleaved A/B (BENCH/ab_pipe_ckpt_level.json, bracketing
    calibrations 2.4–3.5×) has deser losing ALL THREE rounds to both
    alternatives (min 222.8 s vs disk 165.9 s / ser 168.1 s on
    edge_pipeline_big @32) — each barrier table is 10^7–10^8 rows scanned
    by 2–3 downstream stages, and the per-row object graphs deser pins
    dominate full-GC tracing for the rest of the run.  An earlier
    best-of-rounds comparison from scaling-run history (deser 54.7 s vs
    ser 59.2 s) predates the flat-split rewrite and was not a controlled
    A/B; the dedicated A/B supersedes it.  The GRAPH-loop per-iteration
    tables keep per-algorithm levels: ``ser`` for PageRank/LPA
    (pagerank3_big 8→32 speedup 1.86× deser → 2.56× ser), ``deser`` for
    CC since the r6 restructuring (BENCH/ab_cc_ckpt_level_r6.json —
    deser min 54.0 s vs ser 69.8 s vs disk 74.7 s on the narrowed loop;
    the r5 disk pick measured the old 3-scans-per-round shape).
    """
    import os

    from pyspark import StorageLevel

    levels = {
        "ser": StorageLevel.MEMORY_AND_DISK,
        "disk": StorageLevel.DISK_ONLY,
        "deser": StorageLevel.MEMORY_AND_DISK_DESER,
    }
    name = os.environ.get("OSM2CH_CKPT_LEVEL", default)
    if name not in levels:
        raise ValueError(
            f"OSM2CH_CKPT_LEVEL={name!r} is not a known storage level; "
            f"expected one of {sorted(levels)}"
        )
    return levels[name]


def materialize_df(df):
    """Eager local checkpoint — the engine's one materialization
    primitive for the pipeline's fan-out tables.  Storage level per
    :func:`ckpt_storage_level` (disk default — see there; A/B'd in
    BENCH/ab_pipe_ckpt_level.json); eager so the fan-out consumers scan
    a finished RDD instead of racing to build cache blocks (the round-3
    lock-wait floor)."""
    return df.localCheckpoint(eager=True, storageLevel=ckpt_storage_level("disk"))

