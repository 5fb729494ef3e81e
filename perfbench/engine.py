"""Start the engine sized to the host, from the benchmark side.

``session.get_spark`` defaults are tuned for a 32-core, 80 GB box (a 48 GB
pre-sized heap and ``/dev/shm`` scratch behind a 32 GB guard).  The
benchmark never edits them; it passes its own values through
``get_spark(extra_conf=...)`` and the environment instead:

* cores   -- the CPUs this process may run on (what ``nproc`` prints);
* heap    -- a fixed 2 GB, so figures from hosts with different free
             memory compare; a warning is printed when MemAvailable (or
             the cgroup limit) leaves less than ``MIN_FREE_GB`` for it;
* scratch -- ``spark.local.dir``, ``java.io.tmpdir`` and ``TMPDIR`` all
             point into the benchmark's work directory inside the checkout;
* GC log  -- ``-Xlog:gc`` into that directory, read back for the heap
             in use after each collection.
"""

from __future__ import annotations

import os
import sys
import time

HEAP_GB = 2
MIN_FREE_GB = 4


def _mem_available_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                avail = int(line.split()[1]) * 1024
                break
        else:
            raise RuntimeError("no MemAvailable in /proc/meminfo")
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            avail = min(avail, int(raw))
    return avail


def host_plan(work_dir: str) -> dict:
    """The engine settings this host gets; printed by the benchmark."""
    cores = len(os.sched_getaffinity(0))
    free_gb = _mem_available_bytes() / 1024**3
    if free_gb < MIN_FREE_GB:
        print(f"warning: {free_gb:.1f} GB available, under the {MIN_FREE_GB} GB the fixed "
              f"{HEAP_GB} GB heap needs; timings will not compare with other runs",
              file=sys.stderr)
    return {
        "cores": cores,
        "master": f"local[{cores}]",
        "heap": f"{HEAP_GB}g",
        "shuffle_partitions": 2 * cores,
        "local_dir": os.path.join(work_dir, "spark-local"),
        "tmp_dir": os.path.join(work_dir, "tmp"),
    }


def gc_log(plan: dict, pid) -> str:
    return os.path.join(plan["tmp_dir"], f"gc-{pid}.log")


def export_env(plan: dict) -> None:
    """Environment the JVM and its Python workers inherit; must run before
    the first ``get_spark`` call."""
    os.makedirs(plan["local_dir"], exist_ok=True)
    os.makedirs(plan["tmp_dir"], exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(plan["cores"])
    os.environ["OSM2CH_LOCAL_DIR"] = plan["local_dir"]
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir when it is set
    os.environ["SPARK_LOCAL_DIRS"] = plan["local_dir"]
    os.environ["TMPDIR"] = plan["tmp_dir"]
    # -XX:-UsePerfData keeps the JVM from writing hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join([
        f"-Djava.io.tmpdir={plan['tmp_dir']}",
        "-XX:-UsePerfData",
        f"-Xlog:gc:file={gc_log(plan, '%p')}",  # %p: the JVM's pid
    ])
    os.environ["PYSPARK_PYTHON"] = os.environ.get("PYSPARK_PYTHON", "python3")


def _extra_conf(plan: dict) -> dict:
    return {
        "spark.driver.memory": plan["heap"],
        "spark.local.dir": plan["local_dir"],
        # the traced run reads per-job stage metrics back from the status
        # store after a pass; keep every job of a run, not the last 1000
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.ui.showConsoleProgress": "false",
    }


def start(plan: dict):
    """``get_spark`` with the host plan, then one trivial job that runs
    through the Python workers.  Returns (spark, seconds)."""
    from osm2ch_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=plan["master"],
        shuffle_partitions=plan["shuffle_partitions"],
        extra_conf=_extra_conf(plan),
    )
    cores = plan["cores"]
    spark.sparkContext.parallelize(range(cores), cores).map(abs).sum()
    return spark, time.perf_counter() - t0


def stop(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)

