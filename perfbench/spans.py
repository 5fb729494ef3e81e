"""Per-layer spans recorded from outside the engine.

The traced run wraps the public functions of each engine layer (module
attributes; no engine file is edited) in spans.  A span records its name,
start, end, parent and run id, and lives in memory until the run ends.

Spark counters are attributed through job groups: entering a span sets the
driver thread's job group to the span's id, leaving it restores the
parent's.  Every job therefore carries the innermost span that submitted
it, and after a pass the in-process status store
(``sc._jsc.sc().statusStore()``, which works with ``spark.ui.enabled=false``)
gives each job's stages: task time, GC, shuffle, spill, failures and the
task-time quantiles behind ``task_skew``.  A layer's self time is its span
time minus the time of its child spans, so self times and the root's
``unattributed`` remainder add up to the traced pass wall.

One barrier serves two layers.  ``split_ways_to_edges`` only plans the
W1 split UDF; the UDF, its node joins and its re-group shuffle run in the
ranking barrier of ``with_sequential_id`` (ID1), nested in it.  There,
every job before the barrier's last one computes the split's lazy input
and is charged to ``pipeline.split``; the last job (the ranking window and
the checkpoint write, minus the stages the earlier jobs already ran) and
its duration stay with ``operators.ids``.

``trace.overhead_s`` is the time the tracer itself spends inside the
traced pass: opening and closing spans (each sets a job group through
py4j) and sizing checkpoint directories.
"""

from __future__ import annotations

import functools
import importlib
import os
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = [
    "sources.parse",
    "pipeline.split",
    "operators.ids",
    "pipeline.expand",
    "pipeline.restrict_splice",
    "sinks",
    "graph.pagerank",
    "graph.components",
    "graph.label_propagation",
    "graph.triangles",
    "graph.checkpoint",
]
COUNTER_METRICS = [
    ("wall_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("task_s", "s", "lower"),
    ("util", "ratio", "higher"),
    ("gc_s", "s", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("shuffle_wait_s", "s", "lower"),
    ("spill_mb", "MB", "lower"),
    ("failed_tasks", "count", "lower"),
    ("task_skew", "ratio", "lower"),
]
EXTRA_METRICS = [
    ("pipeline.split.barriers", "count", "lower"),
    ("pipeline.expand.fanout", "pairs/edge", "lower"),
    ("pipeline.restrict_splice.kept_ratio", "ratio", "higher"),
    ("sinks.bytes_mb", "MB", "lower"),
    ("graph.adjacency.builds", "count", "lower"),
    ("graph.pagerank.iter_s", "s", "lower"),
    ("graph.components.rounds", "count", "lower"),
    ("graph.components.round_s", "s", "lower"),
    ("graph.label_propagation.rounds", "count", "lower"),
    ("graph.label_propagation.round_s", "s", "lower"),
    ("graph.triangles.found", "count", "higher"),
    ("graph.checkpoint.bytes_mb", "MB", "lower"),
    ("unattributed.wall_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
]
# the end-to-end metric, and workload, a change in each layer should move
SHOULD_MOVE = {
    "sources.parse": "wall_s, task_s on etl_grid; little on hub_e2e",
    "pipeline.split": "wall_s, peak_mem_mb on etl_grid",
    "operators.ids": "wall_s on etl_grid",
    "pipeline.expand": "wall_s, task_s on hub_e2e; small on etl_grid",
    "pipeline.restrict_splice": "wall_s on etl_grid and hub_e2e",
    "sinks": "wall_s, peak_mem_mb on etl_grid and hub_e2e",
    "graph.adjacency": "task_s on hub_e2e",
    "graph.pagerank": "wall_s on hub_e2e; none on etl_grid",
    "graph.components": "wall_s on hub_e2e (more on graph_grid); none on etl_grid",
    "graph.label_propagation": "wall_s on hub_e2e; none on etl_grid",
    "graph.triangles": "wall_s, task_s on hub_e2e; none on etl_grid",
    "graph.checkpoint": "wall_s on hub_e2e only",
}


def per_layer_metrics() -> list[tuple[str, str, str]]:
    """Every per-layer metric as (name, unit, better)."""
    out = [(f"{layer}.{m}", unit, better) for layer in LAYERS for m, unit, better in COUNTER_METRICS]
    return out + EXTRA_METRICS


def _mod(name: str):
    return importlib.import_module(f"osm2ch_spark.{name}")


class Tracer:
    """Spans of one traced pass plus the per-layer counters the wrappers
    collect (barriers, adjacency builds, local checkpoints, bytes)."""

    def __init__(self, sc, run_id: int):
        self.sc = sc
        self.run_id = run_id
        root = {"id": 0, "name": "unattributed", "parent": None, "run": run_id,
                "start": time.perf_counter(), "end": None}
        self.spans = [root]
        self.stack = [root]
        self.counts = defaultdict(int)
        self.outputs = {}
        self.overhead = 0.0
        self._set_group(root)

    def group(self, span: dict) -> str:
        return f"perfbench-trace-{self.run_id}-{span['id']}"

    def _set_group(self, span: dict) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", self.group(span))

    @property
    def current(self) -> str:
        return self.stack[-1]["name"]

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        sp = {"id": len(self.spans), "name": name, "parent": self.stack[-1]["id"],
              "run": self.run_id, "start": t0, "end": None}
        self.spans.append(sp)
        self.stack.append(sp)
        self._set_group(sp)
        self.overhead += time.perf_counter() - t0
        try:
            yield sp
        finally:
            t1 = sp["end"] = time.perf_counter()
            self.stack.pop()
            self._set_group(self.stack[-1])
            self.overhead += time.perf_counter() - t1

    def finish(self) -> None:
        self.spans[0]["end"] = time.perf_counter()
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def self_times(self) -> list[float]:
        """Each span's time minus its children's, by span id."""
        child = defaultdict(float)
        for sp in self.spans[1:]:
            child[sp["parent"]] += sp["end"] - sp["start"]
        return [sp["end"] - sp["start"] - child[sp["id"]] for sp in self.spans]


def _span_wrapper(tracer: Tracer, layer: str, fn, keep_output: bool = False):
    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        with tracer.span(layer):
            out = fn(*args, **kwargs)
        if keep_output:
            tracer.outputs[layer] = out
        return out
    return wrapped


def _count_wrapper(tracer: Tracer, key: str, fn, outermost_only: bool = False):
    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        if outermost_only and tracer.counts[f"_in:{key}"]:
            return fn(*args, **kwargs)
        tracer.counts[key] += 1
        tracer.counts[f"_in:{key}"] += 1
        try:
            return fn(*args, **kwargs)
        finally:
            tracer.counts[f"_in:{key}"] -= 1
    return wrapped


def path_mb(path: str, skip: str | None = None) -> float:
    """Size of a file, or of a directory tree without its ``skip`` subtrees."""
    if os.path.isfile(path):
        return os.path.getsize(path) / 1e6
    total = 0
    for dirpath, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if d != skip]
        total += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
    return total / 1e6


def install(tracer: Tracer):
    """Wrap the engine's layer entry points; returns a function that puts
    the originals back."""
    pipeline, parse, workerenv = _mod("pipeline"), _mod("sources.parse"), _mod("workerenv")
    adjacency, pagerank, components, lpa, triangles, checkpoint = (
        _mod(f"graph.{m}") for m in
        ("adjacency", "pagerank", "components", "label_propagation", "triangles", "checkpoint"))
    saved = []

    def patch(owner, attr, make):
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    for attr in ("slim_records", "scan_ways_slim", "scan_nodes_slim", "scan_restrictions_slim"):
        patch(parse, attr, lambda f: _span_wrapper(tracer, "sources.parse", f))
    patch(pipeline, "parse_source", lambda f: _span_wrapper(tracer, "sources.parse", f))
    patch(pipeline, "split_ways_to_edges",
          lambda f: _span_wrapper(tracer, "pipeline.split", f, keep_output=True))
    patch(pipeline, "with_sequential_id", lambda f: _span_wrapper(tracer, "operators.ids", f))
    patch(pipeline, "expand_edges",
          lambda f: _span_wrapper(tracer, "pipeline.expand", f, keep_output=True))
    for attr in ("apply_no_restrictions", "apply_only_restrictions", "splice_geometry"):
        patch(pipeline, attr, lambda f: _span_wrapper(tracer, "pipeline.restrict_splice", f))
    def barrier(fn):
        # the pipeline's one materialization primitive; the slim barrier
        # is the only call build_expanded makes outside another layer
        @functools.wraps(fn)
        def wrapped(df):
            if any(sp["name"] == "pipeline.split" for sp in tracer.stack):
                tracer.counts["pipeline.split.barriers"] += 1
            if tracer.current == "unattributed":
                with tracer.span("sources.parse"):
                    return fn(df)
            return fn(df)
        return wrapped

    patch(workerenv, "materialize_df", barrier)

    for owner, attr in ((pagerank, "build_adjacency"), (pagerank, "vertices_table"),
                        (components, "canonical_edges"), (triangles, "canonical_edges"),
                        (lpa, "undirected_edges"), (adjacency, "canonical_edges")):
        patch(owner, attr, lambda f: _count_wrapper(tracer, "graph.adjacency.builds", f, True))
    for owner, layer in ((pagerank, "graph.pagerank"), (components, "graph.components"),
                         (lpa, "graph.label_propagation")):
        patch(owner, "localcheckpoint", lambda f, key=f"{layer}.localcheckpoints":
              _count_wrapper(tracer, key, f))

    def commit(fn):
        @functools.wraps(fn)
        def wrapped(mgr, df, iteration, *args, **kwargs):
            with tracer.span("graph.checkpoint"):
                out = fn(mgr, df, iteration, *args, **kwargs)
            t0 = time.perf_counter()
            tracer.counts["graph.checkpoint.bytes"] += path_mb(mgr._state_path(iteration))
            tracer.overhead += time.perf_counter() - t0
            return out
        return wrapped

    patch(checkpoint.CheckpointManager, "commit", commit)

    def restore():
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)
    return restore


# ---------------------------------------------------------------------------
# Status-store reads
# ---------------------------------------------------------------------------

def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def wait_listeners(sc) -> None:
    """Block until the status store has seen every finished job."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def group_jobs(sc) -> dict[str, list[dict]]:
    """job group -> its jobs: id, stage ids and run time in seconds."""
    wait_listeners(sc)
    out = defaultdict(list)
    for job in _seq(sc._jsc.sc().statusStore().jobsList(None)):
        g = job.jobGroup()
        t0, t1 = job.submissionTime(), job.completionTime()
        secs = (t1.get().getTime() - t0.get().getTime()) / 1e3 if t1.isDefined() else 0.0
        out[g.get() if g.isDefined() else None].append(
            {"id": job.jobId(), "stages": _seq(job.stageIds()), "secs": secs})
    return out


def stage_table(sc) -> dict[int, dict]:
    """stage id -> counters of its latest attempt (times in seconds)."""
    gw = sc._gateway
    qs = gw.new_array(gw.jvm.double, 2)
    qs[0], qs[1] = 0.5, 1.0
    out = {}
    for st in _seq(sc._jsc.sc().statusStore().stageList(None, False, True, qs, None)):
        sid = st.stageId()
        if sid in out and out[sid]["attempt"] > st.attemptId():
            continue
        dist = st.taskMetricsDistributions()
        p50 = pmax = 0.0
        if dist.isDefined():
            p50, pmax = _seq(dist.get().executorRunTime())
        out[sid] = {
            "attempt": st.attemptId(),
            "task_s": st.executorRunTime() / 1e3,
            "gc_s": st.jvmGcTime() / 1e3,
            "shuffle_write_mb": st.shuffleWriteBytes() / 1e6,
            "shuffle_wait_s": st.shuffleFetchWaitTime() / 1e3,
            "spill_mb": (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6,
            "failed_tasks": st.numFailedTasks(),
            "p50_s": p50 / 1e3,
            "max_s": pmax / 1e3,
        }
    return out


def counters(jobs: list[dict], stages: dict[int, dict]) -> dict:
    """Sum the stage counters of ``jobs``; a stage shared by two jobs
    (a reused exchange) is counted once."""
    seen = sorted({sid for job in jobs for sid in job["stages"] if sid in stages})
    tot = {k: sum(stages[s][k] for s in seen) for k in
           ("task_s", "gc_s", "shuffle_write_mb", "shuffle_wait_s", "spill_mb",
            "failed_tasks", "p50_s", "max_s")}
    tot["jobs"] = len(jobs)
    return tot


def report(tracer: Tracer, cores: int, extra_rows: dict) -> dict:
    """Per-layer metrics of one finished traced pass."""
    sc = tracer.sc
    by_group = group_jobs(sc)
    stages = stage_table(sc)
    span_self = tracer.self_times()
    selft, layer_jobs = defaultdict(float), defaultdict(list)
    for sp in tracer.spans:
        name, own = sp["name"], span_self[sp["id"]]
        jobs = sorted(by_group.get(tracer.group(sp), []), key=lambda j: j["id"])
        if (name == "operators.ids" and len(jobs) > 1
                and tracer.spans[sp["parent"]]["name"] == "pipeline.split"):
            # the barrier's earlier jobs run the split's lazy input
            *inputs, last = jobs
            ran = {sid for job in inputs for sid in job["stages"]}
            jobs = [dict(last, stages=[sid for sid in last["stages"] if sid not in ran])]
            layer_jobs["pipeline.split"].extend(inputs)
            selft["pipeline.split"] += max(0.0, own - last["secs"])
            own = min(own, last["secs"])
        selft[name] += own
        layer_jobs[name].extend(jobs)
    out = {}
    for layer in LAYERS:
        c = counters(layer_jobs[layer], stages)
        wall = selft[layer]
        out.update({
            f"{layer}.wall_s": wall,
            f"{layer}.jobs": c["jobs"],
            f"{layer}.task_s": c["task_s"],
            f"{layer}.util": c["task_s"] / (wall * cores) if wall > 0 else 0.0,
            f"{layer}.gc_s": c["gc_s"],
            f"{layer}.shuffle_write_mb": c["shuffle_write_mb"],
            f"{layer}.shuffle_wait_s": c["shuffle_wait_s"],
            f"{layer}.spill_mb": c["spill_mb"],
            f"{layer}.failed_tasks": c["failed_tasks"],
            f"{layer}.task_skew": c["max_s"] / c["p50_s"] if c["p50_s"] > 0 else 0.0,
        })
    n = tracer.counts

    def per(total: float, k: float) -> float:
        return total / k if k > 0 else 0.0

    pr_iters = max(0, n["graph.pagerank.localcheckpoints"] - 1)
    cc_rounds = max(0, n["graph.components.localcheckpoints"] - 1)
    lpa_rounds = max(0, n["graph.label_propagation.localcheckpoints"] - 2)
    traced_wall = tracer.spans[0]["end"] - tracer.spans[0]["start"]
    out.update({
        "pipeline.split.barriers": n["pipeline.split.barriers"],
        "pipeline.expand.fanout": per(extra_rows.get("expanded", 0), extra_rows.get("edges", 0)),
        "pipeline.restrict_splice.kept_ratio":
            per(extra_rows.get("kept", 0), extra_rows.get("expanded", 0)),
        "sinks.bytes_mb": extra_rows.get("sink_mb", 0.0),
        "graph.adjacency.builds": n["graph.adjacency.builds"],
        "graph.pagerank.iter_s": per(selft["graph.pagerank"], pr_iters),
        "graph.components.rounds": cc_rounds,
        "graph.components.round_s": per(selft["graph.components"], cc_rounds),
        "graph.label_propagation.rounds": lpa_rounds,
        "graph.label_propagation.round_s": per(selft["graph.label_propagation"], lpa_rounds),
        "graph.triangles.found": extra_rows.get("triangles", 0),
        "graph.checkpoint.bytes_mb": n["graph.checkpoint.bytes"],
        "unattributed.wall_s": selft["unattributed"],
        "trace.overhead_s": tracer.overhead,
        "traced_wall_s": traced_wall,
        "unattributed_jobs": len(by_group.get(tracer.group(tracer.spans[0]), [])),
    })
    return out

