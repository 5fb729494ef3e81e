"""Per-stage scaling profiler: run one headline query at a given core
count with event logging, then print the top stages by wall duration with
their task counts and total executor run time.

Usage: python tools/profile_scaling.py <cpus> <query> [shuffle_partitions]
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

LOGDIR = "/tmp/spark-events-profile"


def main():
    cpus = int(sys.argv[1])
    qname = sys.argv[2]
    shuffle = int(sys.argv[3]) if len(sys.argv) > 3 else 64

    import shutil

    shutil.rmtree(LOGDIR, ignore_errors=True)
    os.makedirs(LOGDIR, exist_ok=True)

    from osm2ch_spark import get_spark
    import bench

    spark = get_spark(
        app_name=f"profile-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=shuffle,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": LOGDIR,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": "/dev/shm/spark-local",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    fn = bench.headline_queries()[qname]
    warm = bench.headline_queries(bench.WARMUP_SF_DIR)[qname]
    warm(spark)
    spark.catalog.clearCache()
    if os.environ.get("PROFILE_WARM_BIG", "1") == "1":
        # untimed pass of the actual workload: the timed+profiled run
        # below then measures steady state, not one-time page provisioning
        fn(spark)
        from osm2ch_spark import tpch_world as W

        W.reset_world()
        spark.catalog.clearCache()
        # drop the warm pass's checkpoint blocks and collect its garbage
        # NOW: otherwise the timed region's first full GC inherits the
        # entire warm-pass heap (measured: 5000+ task-seconds of GC inside
        # the first window stages of the timed run)
        import gc as _gc

        _gc.collect()
        # two cycles: the first GC enqueues the checkpoint RDDs' weak
        # references (ContextCleaner unpersists asynchronously), the
        # second reclaims the freed block memory
        spark.sparkContext._jvm.System.gc()
        time.sleep(3)
        spark.sparkContext._jvm.System.gc()
        time.sleep(2)
    t0_epoch_ms = time.time() * 1000.0
    t0 = time.perf_counter()
    rows = fn(spark)
    wall = time.perf_counter() - t0
    spark.stop()

    stages = {}
    paths = [p for p in glob.glob(LOGDIR + "/**/*", recursive=True) if os.path.isfile(p)]
    for path in paths:
        with open(path, errors="ignore") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if not isinstance(ev, dict):
                    continue
                if ev.get("Event") == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    sid = (si["Stage ID"], si["Stage Attempt ID"])
                    sub = si.get("Submission Time")
                    comp = si.get("Completion Time")
                    scopes = []
                    for r in si.get("RDD Info", []):
                        sc = r.get("Scope")
                        if sc:
                            try:
                                nm = json.loads(sc).get("name", "")
                            except json.JSONDecodeError:
                                nm = ""
                            if nm and nm not in scopes:
                                scopes.append(nm)
                    st = stages.setdefault(sid, {})
                    st.update(
                        {
                            "stage": si["Stage ID"],
                            "name": ",".join(scopes)[:70] or si["Stage Name"].split(" at ")[0][:40],
                            "tasks": si["Number of Tasks"],
                            "wall_s": round((comp - sub) / 1000.0, 2) if sub and comp else None,
                            "sub": sub,
                            "comp": comp,
                        }
                    )
                elif ev.get("Event") == "SparkListenerTaskEnd":
                    sid = (ev["Stage ID"], ev["Stage Attempt ID"])
                    acc = {
                        a["Name"]: a.get("Update", 0)
                        for a in (ev.get("Task Info") or {}).get("Accumulables", [])
                        if str(a.get("Name", "")).startswith("internal.metrics.")
                    }
                    st = stages.setdefault(sid, {})
                    st["run_ms"] = st.get("run_ms", 0) + acc.get("internal.metrics.executorRunTime", 0)
                    st["cpu_ms"] = st.get("cpu_ms", 0) + acc.get("internal.metrics.executorCpuTime", 0) / 1e6
                    st["gc_ms"] = st.get("gc_ms", 0) + acc.get("internal.metrics.jvmGCTime", 0)
                    st["spill_mb"] = st.get("spill_mb", 0) + acc.get("internal.metrics.diskBytesSpilled", 0) / 1e6
                    st["shuf_w_mb"] = st.get("shuf_w_mb", 0) + acc.get(
                        "internal.metrics.shuffle.write.bytesWritten", 0) / 1e6

    # keep only stages submitted inside the timed region (drops the
    # warm-big pass's stages from the report)
    stages = {
        k: v for k, v in stages.items()
        if v.get("sub") is None or v["sub"] >= t0_epoch_ms - 500
    }
    out = [s for s in stages.values() if s.get("wall_s")]
    out.sort(key=lambda s: -(s["wall_s"] or 0))
    print(json.dumps({"cpus": cpus, "query": qname, "rows": rows,
                      "wall_s": round(wall, 2), "shuffle": shuffle,
                      "timed_t0_epoch_ms": round(t0_epoch_ms)}))
    total_wall = sum(s["wall_s"] for s in out)
    print(f"sum of stage walls: {total_wall:.1f}s over {len(out)} stages")
    for s in out[:18]:
        print(
            f"  stage {s['stage']:>4} {s['name']:<70} tasks={s['tasks']:>4} "
            f"wall={s['wall_s']:>7.2f}s run={s.get('run_ms', 0)/1000:>8.1f}s "
            f"cpu={s.get('cpu_ms', 0)/1000:>8.1f}s gc={s.get('gc_ms', 0)/1000:>6.1f}s "
            f"spill={s.get('spill_mb', 0):>7.0f}MB shufW={s.get('shuf_w_mb', 0):>7.0f}MB"
        )
    tot_run = sum(s.get("run_ms", 0) for s in stages.values()) / 1000
    tot_cpu = sum(s.get("cpu_ms", 0) for s in stages.values()) / 1000
    tot_spill = sum(s.get("spill_mb", 0) for s in stages.values())
    tot_shufw = sum(s.get("shuf_w_mb", 0) for s in stages.values())
    print(f"TOTALS run={tot_run:.0f}s cpu={tot_cpu:.0f}s spill={tot_spill:.0f}MB shufW={tot_shufw:.0f}MB")

    # Driver dead time: wall-clock inside the timed region during which NO
    # stage was running — AQE replanning, job submission, py4j round
    # trips, checkpoint bookkeeping.  This is the Amdahl serial term: it
    # does not shrink with cores, so comparing it at 8 vs 32 separates
    # "the plan stops scaling" from "the driver serializes between
    # stages".  Computed as timed wall minus the union of [submit,
    # complete] intervals of timed stages.
    ivals = sorted(
        (s["sub"], s["comp"]) for s in stages.values()
        if s.get("sub") and s.get("comp")
    )
    covered = 0.0
    cur_s = cur_e = None
    for a, b in ivals:
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    dead = max(0.0, wall - covered / 1000.0)
    # s.get: a TaskEnd-only entry (stage in flight at shutdown) has no
    # "stage" key and must not crash the summary after a good profile
    n_stages = len({s.get("stage") for s in stages.values() if s.get("stage") is not None})
    print(
        f"DRIVER dead time (no stage running): {dead:.1f}s of {wall:.1f}s wall "
        f"({100 * dead / wall:.0f}%) across {n_stages} timed stages"
    )


if __name__ == "__main__":
    main()
