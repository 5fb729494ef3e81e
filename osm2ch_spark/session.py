"""SparkSession factory with scale-oriented defaults.

All knobs that matter at 100 TB are set here once: AQE (runtime join
re-planning + skew-join splitting), a broadcast threshold sized for
dimension tables, Arrow for every pandas-UDF boundary, and cores, heap
and shuffle partitions sized from the host (or the environment), so the
same code runs on a ``local[N]`` session of any size and on a
1000-executor cluster via ``spark-submit --py-files``.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

# the directory holding the ``osm2ch_spark`` package
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def make_pyfiles_zip(out_dir: str | None = None) -> str:
    """Zip this package for ``spark-submit --py-files`` / addPyFile.

    Returns the zip path.  Deterministic content (the package source).
    Without ``out_dir`` the zip is built once per process in a temp dir
    that is removed at interpreter exit.
    """
    if out_dir is None:
        return _process_pyfiles_zip()
    base = os.path.join(out_dir, "osm2ch_spark")
    # zip root must contain the package directory itself
    return shutil.make_archive(base, "zip", _ROOT, "osm2ch_spark")


@functools.cache
def _process_pyfiles_zip() -> str:
    tmp = tempfile.mkdtemp(prefix="osm2ch_spark_pyfiles_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    return make_pyfiles_zip(tmp)


def shuffle_partitions(spark) -> int:
    """``spark.sql.shuffle.partitions`` as an int; the default
    parallelism when the value is not numeric (e.g. ``"auto"``)."""
    value = spark.conf.get("spark.sql.shuffle.partitions")
    return int(value) if value.isdigit() else spark.sparkContext.defaultParallelism


# /dev/shm takes the scratch space only with this much free on it, and
# only when that is at most half of the memory this process may use:
# tmpfs pages are RAM, charged to the cgroup of the process that writes
# them, so a shuffle that fills them competes with the heap and the
# workers.
_SHM_MIN_FREE = 32 * 1024**3
_SHM = "/dev/shm"


def _meminfo_bytes(field: str) -> int | None:
    """One ``/proc/meminfo`` field (e.g. ``"MemTotal"``) in bytes, or
    None when it cannot be read."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


def _cgroup_limit_bytes() -> int | None:
    """This process's cgroup memory limit in bytes, or None when it has
    none or it cannot be read."""
    limits = []
    for path in ("/sys/fs/cgroup/memory.max",  # cgroup v2; "max" = no limit
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):  # cgroup v1
        try:
            with open(path) as f:
                v = f.read().strip()
        except OSError:
            continue
        if v.isdigit():
            limits.append(int(v))
    return min(limits, default=None)


def _memory_bytes(field: str) -> int | None:
    """A ``/proc/meminfo`` field or the cgroup limit, whichever is lower;
    None when neither can be read."""
    known = [b for b in (_meminfo_bytes(field), _cgroup_limit_bytes()) if b is not None]
    return min(known, default=None)


def _default_local_dir() -> str:
    """Scratch-space placement for shuffle files and DISK_ONLY blocks.

    Priority: $OSM2CH_LOCAL_DIR (cluster operators point this at their
    NVMe scratch array) > a RAM-backed dir when /dev/shm is writable,
    has ≥32 GB free and those 32 GB are at most half of MemTotal or of
    the cgroup limit, whichever is lower (a virtual disk is the I/O
    floor otherwise) > Spark's own default (java.io.tmpdir).  The guard
    is checked once, at session start; nothing bounds what a run then
    writes there.  A run whose shuffle and checkpoint blocks outgrow the
    tmpfs fails mid-run with ENOSPC ("No space left on device"); point
    $OSM2CH_LOCAL_DIR at a disk with room to get past it."""
    override = os.environ.get("OSM2CH_LOCAL_DIR")
    if override:
        return override
    try:
        st = os.statvfs(_SHM)
        if (st.f_bavail * st.f_frsize >= _SHM_MIN_FREE
                and 2 * _SHM_MIN_FREE <= (_memory_bytes("MemTotal") or 0)
                and os.access(_SHM, os.W_OK)):
            path = os.path.join(_SHM, "osm2ch-spark-local")
            os.makedirs(path, exist_ok=True)
            return path
    except OSError:
        pass
    return tempfile.gettempdir()


def _default_driver_memory() -> str:
    """Default heap: half of what this host can hand out — MemAvailable
    or the cgroup memory limit, whichever is lower — capped at 48 GB and
    at least 1 GB, so a default session starts on whatever host it gets
    (the heap is pre-sized with -Xms below)."""
    half_mb = (_memory_bytes("MemAvailable") or 96 * 1024**3) // 2 // 1024**2
    return f"{max(1024, min(48 * 1024, half_mb))}m"


def get_spark(
    app_name: str = "osm2ch_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    # Python workers use the plain system allocator, not pyarrow's
    # jemalloc pool, whose aggressive madvise purges cost kernel time per
    # Arrow batch (BENCH/perf_notes_r03.md).  Set before the JVM starts so
    # the worker daemon inherits it; executorEnv carries it to clusters.
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    # Retain worker heap between Arrow batches (workerenv.py).
    from osm2ch_spark.workerenv import MALLOC_ENV

    for k, v in MALLOC_ENV.items():
        os.environ.setdefault(k, v)
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", str(max(cpus, 8)))
    )
    extra_conf = dict(extra_conf or {})
    mem = (
        extra_conf.pop("spark.driver.memory", None)
        or os.environ.get("SPARK_DRIVER_MEMORY")
        or _default_driver_memory()
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing, skew-join splitting, join re-planning
        # (always on: BENCH/ab_aqe_perfbench.json).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow on every JVM<->Python boundary (grouped-map UDFs W1/J3).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # One Python worker pool per session.  Spark keys its worker
        # daemons by the worker environment, and with simplified
        # tracebacks on (the default) only SQL UDF runners add
        # SPARK_SIMPLIFIED_TRACEBACK to it, so once a session has run any
        # RDD Python job its first mapInPandas starts a second pydaemon
        # and cold workers of its own (BENCH/ab_one_pool.json; the CLI
        # runs no RDD job, so it starts one pool either way).  Off, both
        # fork from one warm daemon; worker errors then carry the full
        # traceback, which the CLI still reduces to one ERROR: line.
        .config("spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled", "false")
        # No per-call call-site capture: with it on, every DataFrame and
        # Column call walks the Python stack, tries `import ipykernel`
        # and makes two extra py4j round trips: ~2 ms of driver time per
        # call, and a pass makes hundreds of calls.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Dimension tables (restrictions, tag whitelists) broadcast freely.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Prefer shuffled-hash over sort-merge: every join in this engine
        # is an equi-join with bounded per-partition build sides (the
        # reference itself is pure hash joins — SURVEY §2.5), and SMJ was
        # measured re-SORTING the cached adjacency and the 14M-row rank
        # update join EVERY PageRank iteration.  AQE skew-join still
        # applies; partition counts bound build-side memory at scale.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # …and let AQE convert residual SMJs to shuffled-hash at runtime
        # when the per-partition build side is small (0 = off by default).
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", str(128 * 1024 * 1024))
        .config("spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL",
                os.environ["ARROW_DEFAULT_MEMORY_POOL"])
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_",
                os.environ["MALLOC_MMAP_THRESHOLD_"])
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_",
                os.environ["MALLOC_TRIM_THRESHOLD_"])
        .config("spark.executorEnv.PYTHONMALLOC", os.environ["PYTHONMALLOC"])
        # Shuffle files are deleted synchronously by the ContextCleaner:
        # an async delete racing a still-draining stage produced mid-run
        # FileNotFoundException on shuffle data files
        # (BENCH/perf_notes_r05.md).
        .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
        # Shuffle files AND DISK_ONLY checkpoint blocks live in
        # spark.local.dir, placed on the fastest local storage
        # (_default_local_dir; A/B in BENCH/ab_localdir_r6.json).
        .config("spark.local.dir", _default_local_dir())
        # Timestamps in parquet testdata are µs; keep them stable.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # local mode: the driver JVM hosts all executor threads; the heap
        # is pre-sized (-Xms == -Xmx) with ParallelGC to avoid GC/heap-
        # growth stalls (BENCH/ab_gc_collector.json).  Must be set before
        # the JVM starts.
        .config("spark.driver.memory", mem)
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_DRIVER_JAVA_OPTS",
                # Transparent huge pages make first-touch page faults
                # cheap enough to fault the heap lazily (no pretouch;
                # BENCH/perf_notes_r04.md).
                f"-Xms{mem} -XX:+UseParallelGC -XX:+UseTransparentHugePages",
            ),
        )
    )
    if master.startswith("local"):
        # fork Python workers from a daemon that has preloaded the UDF
        # stack (pydaemon.py).  It imports the engine before any task
        # ships it, so the package must be importable from the JVM's cwd;
        # exported before the JVM starts, like MALLOC_ENV.
        paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        if _ROOT not in paths:
            os.environ["PYTHONPATH"] = os.pathsep.join(paths + [_ROOT])
        b = b.config("spark.python.daemon.module", "osm2ch_spark.pydaemon")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # Executor Python workers unpickle UDF closures that reference this
    # package; ship it so imports resolve regardless of the caller's cwd
    # (same mechanism as spark-submit --py-files).
    spark.sparkContext.addPyFile(make_pyfiles_zip())
    return spark
