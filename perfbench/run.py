"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl_grid --seed 1 --seconds 15 --trace 0

Run from the repository root.  A run generates (or reuses) the seeded
inputs, starts the engine sized to the host, then times one pass of the
workload on the fresh engine.  The pass's outputs are checked against the
reference implementation and the graph oracles, outside the timed region;
a pass that raises, times out or fails its check counts as failed.

``--trace 0`` reports the end-to-end metrics of that pass and the run's
set-up time, JVM launch included.  ``--trace 1``
traces the pass instead and reports its per-layer metrics.  ``--seconds``
is accepted for the benchmark interface and otherwise unused: a run is
one cold pass, however long it takes.  The last line of standard output
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
RUN_DEADLINE_S = 160  # no pass runs past this, so a run ends within 180 s
PASS_TIMEOUT_S = 110  # a pass still running after this is cancelled

END_TO_END = [
    ("wall_s", "s"),
    ("edges_per_s", "edges/s"),
    ("setup_s", "s"),
    ("task_s", "s"),
    ("peak_mem_mb", "MB"),
]


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class WorkerMemSampler:
    """Peak summed PSS of the Python workers (every process under the
    Spark JVM), sampled from /proc on a background thread.  PSS rather
    than RSS: the workers are forked from one daemon and share its pages."""

    PERIOD_S = 0.2

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak = 0
        self._stop = threading.Event()
        self._thread = None

    def _workers(self) -> list[int]:
        children = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    with open(f"/proc/{name}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                children.setdefault(ppid, []).append(int(name))
        out, todo = [], list(children.get(self.jvm_pid, []))
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, []))
        return out

    @staticmethod
    def _pss(pids: list[int]) -> int:
        total = 0
        for p in pids:
            try:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _loop(self):
        pids, n = self._workers(), 0
        while not self._stop.is_set():
            n += 1
            if n % 5 == 0:  # workers come and go; re-list them
                pids = self._workers()
            self.peak = max(self.peak, self._pss(pids))
            self._stop.wait(self.PERIOD_S)

    def __enter__(self):
        self.peak = 0
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._pss(self._workers()))


_GC_LINE = re.compile(r"^\[(\d+\.\d+)s\].*\bPause .*?(\d+)([KMG])->(\d+)([KMG])\(\d+[KMG]\)")
_UNIT = {"K": 1 / 1024, "M": 1.0, "G": 1024.0}


def heap_after_gc_mb(log_path: str, t0_s: float, t1_s: float) -> float:
    """Largest heap in use right after a collection, over the collections
    the JVM logged between uptimes ``t0_s`` and ``t1_s``."""
    peak = 0.0
    with open(log_path) as f:
        for line in f:
            m = _GC_LINE.match(line)
            if m and t0_s <= float(m.group(1)) <= t1_s:
                peak = max(peak, int(m.group(4)) * _UNIT[m.group(5)])
    return peak


class Runner:
    """The timed pass of one workload in one Spark session."""

    def __init__(self, spark, jvm_pid: int, gc_log: str, wl, inp, cores: int, scratch: str,
                 deadline: float):
        self.spark, self.sc, self.jvm_pid, self.gc_log = spark, spark.sparkContext, jvm_pid, gc_log
        self.wl, self.inp, self.cores, self.scratch = wl, inp, cores, scratch
        self.deadline = deadline
        self.attempted = self.failed = 0

    def _uptime_s(self) -> float:
        return self.sc._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getUptime() / 1e3

    def one_pass(self, traced: bool) -> dict | None:
        """Run, time and check the pass.  Returns its measurements, or None
        if it raised, timed out or failed its check (counted as failed)."""
        import spans
        import workloads as W

        sc = self.sc
        out_dir = os.path.join(self.scratch, "pass")
        # the collection before the pass is in the window, so the window
        # always holds one: the live heap the pass starts from
        up0 = self._uptime_s()
        sc._jvm.System.gc()
        tracer = restore = None
        group = "perfbench-pass"
        if traced:
            tracer = spans.Tracer(sc, 1)
            restore = spans.install(tracer)
        else:
            sc.setLocalProperty("spark.jobGroup.id", group)
        timeout = min(PASS_TIMEOUT_S, self.deadline - time.perf_counter())
        timer = threading.Timer(max(1.0, timeout), sc.cancelAllJobs)
        timer.start()
        t0 = time.perf_counter()
        try:
            with WorkerMemSampler(self.jvm_pid) as workers:
                out = W.run_pass(self.spark, self.wl, self.inp, out_dir, tracer)
            wall = time.perf_counter() - t0
            heap = heap_after_gc_mb(self.gc_log, up0, self._uptime_s())
            problems = W.check_pass(self.wl, self.inp, out)
        except Exception as e:  # noqa: BLE001 -- a failed pass is counted, not fatal
            wall, problems = time.perf_counter() - t0, [f"pass raised: {e!r}"[:500]]
            traceback.print_exc()
        finally:
            timer.cancel()
            if traced:
                restore()
                tracer.finish()
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
        kind = "traced" if traced else "untraced"
        print(f"  {kind} pass: {wall:.3f} s" + ("" if problems else " (outputs correct)"),
              flush=True)
        for p in problems:
            print(f"  CHECK FAILED ({kind} pass): {p}")
        self.attempted += 1
        self.failed += bool(problems)
        row = None
        if not problems:
            row = {"wall_s": wall, "edges": out["edges"], "heap_mb": heap,
                   "workers_mb": workers.peak / 2**20}
            if traced:
                row["layers"] = spans.report(tracer, self.cores,
                                             self._trace_extras(tracer, out, out_dir))
            else:
                jobs = spans.group_jobs(sc).get(group, [])
                row["task_s"] = spans.counters(jobs, spans.stage_table(sc))["task_s"]
        shutil.rmtree(out_dir, ignore_errors=True)
        return row

    @staticmethod
    def _trace_extras(tracer, out: dict, out_dir: str) -> dict:
        """Row counts behind fanout / kept_ratio and the sink bytes, read
        after the traced pass (the counts re-read checkpointed tables)."""
        import spans

        extra = {"kept": out.get("kept", 0), "triangles": out.get("triangles", 0),
                 "sink_mb": spans.path_mb(out_dir, skip="checkpoints")}
        if "pipeline.split" in tracer.outputs:
            extra["edges"] = tracer.outputs["pipeline.split"].count()
            extra["expanded"] = tracer.outputs["pipeline.expand"].count()
        return extra


def measure(run: Runner, trace: bool, setup_s: float | None) -> dict:
    """The timed pass of one run; returns the metrics to report.

    The timed pass is the first pass of the fresh engine: a CLI job pays
    codegen, JIT and Python-worker start-up on every invocation, and that
    cold pass was also steadier run to run than a pass made after one or
    two warm-ups (README.md, "End-to-end metrics").
    """
    import spans

    row = run.one_pass(traced=trace)
    if row is None:
        return {}
    if trace:
        print_layer_table(row["layers"], run.cores)
        return {name: {"value": row["layers"][name], "unit": unit}
                for name, unit, _ in spans.per_layer_metrics()}
    values = dict(row, edges_per_s=row["edges"] / row["wall_s"], setup_s=setup_s,
                  peak_mem_mb=row["heap_mb"] + row["workers_mb"])
    for name, unit in END_TO_END:
        print(f"  {name:<12} {values[name]:>14.4f} {unit}")
    print(f"  (peak_mem_mb = JVM heap after GC {row['heap_mb']:.0f} MB "
          f"+ Python workers' PSS {row['workers_mb']:.1f} MB)")
    return {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END}


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "osm2ch_spark", "__init__.py"))
            and os.path.isfile(os.path.join(root, "tests", "reference_impl.py"))):
        print("perfbench: run from the repository root (osm2ch_spark/ and "
              "tests/reference_impl.py not found)", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    import engine
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = W.WORKLOADS[args.workload]
    t_start = time.perf_counter()
    work = os.path.join(root, ".bench_build", "perfbench")
    scratch = os.path.join(work, f"run-{os.getpid()}")
    plan = engine.host_plan(scratch)
    engine.export_env(plan)
    print("host plan:", json.dumps(plan, sort_keys=True))
    try:
        t0 = time.perf_counter()
        inp = W.prepare(wl, args.seed, os.path.join(work, "inputs"), plan["cores"])
        print(f"inputs: {wl.world} size={wl.size} seed={args.seed} "
              f"digest={inp.meta['digest'][:16]} records={inp.meta['records']} "
              f"road_edges={inp.meta['road_edges']} expanded_edges={inp.meta['expanded_edges']} "
              f"(generation and expected outputs {time.perf_counter() - t0:.2f} s, "
              "not part of setup_s)", flush=True)

        spark, setup_s = engine.start(plan)
        spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        run = Runner(spark, jvm_pid, engine.gc_log(plan, jvm_pid), wl, inp, plan["cores"],
                     os.path.join(scratch, "out"), t_start + RUN_DEADLINE_S)
        try:
            metrics = measure(run, bool(args.trace), setup_s)
        finally:
            engine.stop(spark)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    print(f"  fail_ratio   {run.failed / max(1, run.attempted):>14.4f}"
          f"  ({run.failed} of {run.attempted} passes)")
    print(f"  run took {time.perf_counter() - t_start:.1f} s in all")
    print(json.dumps({"correct": run.failed == 0 and bool(metrics),
                      "attempted": run.attempted, "failed": run.failed, "metrics": metrics}))
    return 0


def print_layer_table(layers: dict, cores: int) -> None:
    import spans

    cols = [m for m, _, _ in spans.COUNTER_METRICS]
    print(f"per-layer, traced cold pass, local[{cores}]:")
    print("  " + f"{'layer':<25}" + "".join(f"{c:>17}" for c in cols) + "   should move")
    for layer in spans.LAYERS:
        print("  " + f"{layer:<25}" + "".join(f"{layers[f'{layer}.{c}']:>17.3f}" for c in cols)
              + f"   {spans.SHOULD_MOVE[layer]}")
    for name, unit, _ in spans.EXTRA_METRICS:
        print(f"  {name:<40} {layers[name]:>12.4f} {unit}")
    wall, rest = layers["traced_wall_s"], layers["unattributed.wall_s"]
    print(f"  traced wall_s {wall:.3f}; unattributed {rest:.3f} s ({100 * rest / wall:.1f} % of it, "
          f"{layers['unattributed_jobs']:.0f} jobs); "
          f"trace.overhead_s {layers['trace.overhead_s']:.4f}")


if __name__ == "__main__":
    sys.exit(main())
