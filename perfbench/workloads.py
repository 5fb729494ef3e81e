"""The three workloads: their inputs, one pass each, and its output check.

* ``etl_grid``   -- the CLI's calls on a seeded grid world: read the source
  parquet, ``build_expanded``, persist/count, the edges and vertices CSV
  rows, and the sink ``cli.pick_distributed`` picks with CLI defaults.
* ``graph_grid`` -- PageRank (fixed iterations), connected components,
  label propagation (fixed round cap) and triangle counting on the grid
  world's line-graph edge table, read from parquet.
* ``hub_e2e``    -- the ``etl_grid`` calls on a seeded junction world, then
  the four algorithms on the resulting ``edge_table`` with a durable
  ``checkpoint_dir``.
"""

from __future__ import annotations

import contextlib
import importlib
import os
from dataclasses import dataclass

import check
import gen

PR_ITERS = 5
LPA_ROUNDS = 3


@dataclass(frozen=True)
class Workload:
    name: str
    world: str
    size: dict
    etl: bool
    graph: bool
    checkpoint: bool = False


WORKLOADS = {
    w.name: w for w in (
        Workload("etl_grid", "grid", {"files": 16, "grid": 10, "shape": 48}, etl=True, graph=False),
        Workload("graph_grid", "grid", {"files": 16, "grid": 10, "shape": 0}, etl=False, graph=True),
        Workload("hub_e2e", "hub", {"files": 4, "junctions": 4, "dmax": 256},
                 etl=True, graph=True, checkpoint=True),
    )
}


@dataclass
class Inputs:
    source: str
    edges: str | None
    meta: dict
    expected_csv: bytes | None
    expected_graph: dict | None


def prepare(wl: Workload, seed: int, cache_root: str, procs: int) -> Inputs:
    """Generate (or reuse) the workload's inputs and expected outputs.
    Everything lands under a directory keyed by generator version, world,
    size and seed; the expected outputs are keyed by the check version.
    The reference runs on ``procs`` processes."""
    d = gen.input_dir(cache_root, wl.world, seed, wl.size)
    os.makedirs(d, exist_ok=True)
    source = os.path.join(d, "source.parquet")
    edges = None if wl.etl else os.path.join(d, "edges.parquet")
    state = {}

    def reference():
        # the reference run backs every expected output of this input
        if not state:
            rows, per_file = gen.generate(wl.world, seed, wl.size)
            if not os.path.exists(source):
                gen.write_source(rows, source)
            state.update(rows=rows, per_file=per_file, ref=check.reference(per_file, procs))
        return state["ref"]

    def meta():
        ref = reference()
        return {
            "digest": gen.digest(state["rows"]),
            "records": gen.counts(state["per_file"]),
            "road_edges": ref["road_edges"],
            "expanded_edges": len(ref["expanded"]),
        }

    info = check.cached_json(os.path.join(d, f"meta-c{check.CHECK_VERSION}.json"), meta)
    if edges and not os.path.exists(edges):
        _write_edge_table(reference()["expanded"], edges)
    expected_csv = expected_graph = None
    if wl.etl:
        expected_csv = check.cached_bytes(
            os.path.join(d, f"edges-csv-c{check.CHECK_VERSION}.sha256"),
            lambda: check.row_digests(reference()["rows"]))
    if wl.graph:
        expected_graph = check.cached_json(
            os.path.join(d, f"graph-c{check.CHECK_VERSION}-pr{PR_ITERS}-lpa{LPA_ROUNDS}.json"),
            lambda: check.graph_expected([x[:2] for x in reference()["expanded"]],
                                         PR_ITERS, LPA_ROUNDS))
    return Inputs(source, edges, info, expected_csv, expected_graph)


def _write_edge_table(expanded: list[tuple], path: str) -> None:
    """The engine's edge table (``pipeline.edge_table``) of the reference
    expansion, which the CSV parity check pins to the engine's own."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*expanded))
    table = pa.table({
        "source_vertex": pa.array(cols[0], pa.int64()),
        "target_vertex": pa.array(cols[1], pa.int64()),
        "weight": pa.array(cols[2], pa.float64()),
        "one_way": pa.array(cols[3], pa.bool_()),
    })
    pq.write_table(table, path + ".tmp")
    os.replace(path + ".tmp", path)


def _engine(name: str):
    return importlib.import_module(f"osm2ch_spark.{name}")


def run_pass(spark, wl: Workload, inp: Inputs, out_dir: str, tracer=None) -> dict:
    """One pass of the workload; returns what the check and the trace
    report need.  With a tracer, the calls this function makes into the
    engine get spans; the calls the engine makes internally are wrapped
    by ``spans.install``."""
    span = tracer.span if tracer else (lambda name: contextlib.nullcontext())
    cli, pipeline, sinks = _engine("cli"), _engine("pipeline"), _engine("sinks")
    out = {}
    os.makedirs(out_dir, exist_ok=True)
    if wl.etl:
        args = cli.build_parser().parse_args(["--source", inp.source,
                                              "--out", os.path.join(out_dir, "graph.csv")])
        with span("sources.parse"):  # the read lists files and reads footers
            src = spark.read.parquet(args.source)
        tags = [t for t in args.tags.split(",") if t]
        expanded = pipeline.build_expanded(src, tag_whitelist=tags, strict=not args.permissive)
        # the restriction anti-joins and the splice join are lazy; they run
        # in the CLI's persist/count barrier
        with span("pipeline.restrict_splice"):
            expanded = expanded.persist()
            n_edges = expanded.count()
        stem = args.out.split(".csv")[0]
        out["edges_csv"] = stem + ".csv"
        vertices_csv = stem + "_vertices.csv"
        with span("sinks"):
            edge_rows = sinks.edges_csv_rows(expanded, units=args.units, geom_format=args.geomf)
            vertex_rows = sinks.vertices_csv_rows(expanded, geom_format=args.geomf)
            out["distributed"] = cli.pick_distributed(
                n_edges, args.single_file, args.distributed_sink, args.sink_threshold)
            if out["distributed"]:
                sinks.write_csv_dist(edge_rows, "expanded_id", out["edges_csv"])
                sinks.write_csv_dist(vertex_rows, "first_seen", vertices_csv)
            else:
                sinks.write_csv(edge_rows, "expanded_id", out["edges_csv"], sinks.EDGES_HEADER)
                sinks.write_csv(vertex_rows, "first_seen", vertices_csv, sinks.VERTICES_HEADER)
        out["kept"] = n_edges
        out["edges"] = n_edges
        edges = pipeline.edge_table(expanded)
    else:
        edges = spark.read.parquet(inp.edges)
    if wl.graph:
        pr, cc, lpa, tri = (_engine(f"graph.{m}") for m in
                            ("pagerank", "components", "label_propagation", "triangles"))
        ckpt = os.path.join(out_dir, "checkpoints") if wl.checkpoint else None
        with span("graph.pagerank"):
            out["pagerank"] = [(r[0], r[1]) for r in pr.pagerank(
                edges, max_iter=PR_ITERS, tol=0.0, checkpoint_dir=ckpt).collect()]
        with span("graph.components"):
            out["components"] = [(r[0], r[1]) for r in cc.connected_components(
                edges, checkpoint_dir=ckpt).collect()]
        with span("graph.label_propagation"):
            out["labels"] = [(r[0], r[1]) for r in lpa.label_propagation(
                edges, max_iter=LPA_ROUNDS, checkpoint_dir=ckpt).collect()]
        with span("graph.triangles"):
            out["triangles"] = tri.triangle_count(edges)
        if not wl.etl:
            out["edges"] = inp.meta["expanded_edges"]
    if wl.etl:
        expanded.unpersist()
    return out


def check_pass(wl: Workload, inp: Inputs, out: dict) -> list[str]:
    problems = []
    if wl.etl:
        if out["distributed"]:
            problems.append("the sink went distributed; the check reads the single-file CSV")
        else:
            from osm2ch_spark import sinks

            problems += check.check_edges_csv(out["edges_csv"], sinks.EDGES_HEADER,
                                              inp.expected_csv)
    if wl.graph:
        problems += check.check_graph(out, inp.expected_graph)
    return problems

