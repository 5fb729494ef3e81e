"""CLI entry point — flag-for-flag parity with the reference CLI
(`/root/reference/cmd/osm2ch/main.go:16-23`), re-targeted at the engine's
source table:

  -tags     → --tags      comma-separated highway whitelist (same default)
  -file     → --source    parquet dir/file of (repo,path,commit,lang,content)
  -out      → --out       edges CSV name; `<stem>_vertices.csv` derived the
                          same way (main.go:42-45); `<stem>_shortcuts.csv`
                          is NOT produced (CH contraction is scope-excluded
                          per the north rule — sinks.SHORTCUTS_HEADER
                          documents the shape)
  -geomf    → --geomf     wkt | geojson (main.go:20)
  -units    → --units     km | m (main.go:21)
  -contract → (absent)    replaced by the graph algorithms (SURVEY §2.9)

Run: ``python -m osm2ch_spark --source ... --out graph.csv``
Stage counters print like the reference's per-stage timers
(osm_loader.go:73,103,200,273,341,434).
"""

from __future__ import annotations

import argparse
import sys
import time

from osm2ch_spark.sources import parse as P

DEFAULT_TAGS = ",".join(P.DEFAULT_TAGS)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="osm2ch_spark",
        description="osm2ch as a PySpark pipeline: source table -> expanded-edge / vertices CSV",
    )
    p.add_argument("--source", required=True, help="parquet source table (repo,path,commit,lang,content)")
    p.add_argument("--out", default="my_graph.csv", help="edges CSV filename; <stem>_vertices.csv derived")
    p.add_argument("--tags", default=DEFAULT_TAGS, help="comma-separated tag whitelist")
    p.add_argument("--geomf", default="wkt", choices=("wkt", "geojson"), help="geometry format")
    p.add_argument("--units", default="km", choices=("km", "m"), help="weight units")
    p.add_argument("--master", default=None, help="spark master (default: local[$SPARK_GRAFT_CPUS])")
    p.add_argument("--distributed-sink", action="store_true",
                   help="force partitioned CSV dirs (range-ordered parts) instead of single driver-side files")
    p.add_argument("--single-file", action="store_true",
                   help="force single driver-side CSV files regardless of size (reference parity mode)")
    p.add_argument("--sink-threshold", type=int, default=5_000_000,
                   help="auto-switch to the distributed sink above this many expanded edges "
                        "(driver-side collect of a 100-TB result is a driver OOM; default 5M)")
    p.add_argument("--permissive", action="store_true",
                   help="skip the fail-fast missing-node check (reference hard-errors; osm_loader.go:216-218)")
    return p


def pick_distributed(n_rows: int, single_file: bool, distributed_sink: bool,
                     threshold: int) -> bool:
    """Sink auto-selection: the single-file sink collects every ordered
    row to the driver (reference parity; driver OOM at scale), so above
    ``threshold`` rows the distributed range-partitioned sink is chosen
    unless --single-file forces parity mode."""
    if single_file:
        return False
    if distributed_sink:
        return True
    return n_rows > threshold


def error_line(exc: BaseException) -> str | None:
    """The one-line message for a failure the CLI reports cleanly, or
    None to let it raise.  Both causes surface wrapped in a Py4J/worker
    traceback at materialization time:

    - strict mode's missing way node, unwrapped back to the reference's
      fail-fast message (osm_loader.go:216-218);
    - a full scratch disk: shuffle files and checkpoint blocks live in
      ``spark.local.dir``, which ``OSM2CH_LOCAL_DIR`` moves."""
    msg = str(exc)
    core = [l.strip() for l in msg.splitlines() if "missing from the node scan" in l]
    if core:
        return core[0] + " (pass --permissive to proceed on clipped extracts)"
    if "No space left on device" in msg:
        return ("no space left on device (spark.local.dir holds the shuffle files and "
                "checkpoints: set OSM2CH_LOCAL_DIR to a directory on a disk with room)")
    return None


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    from osm2ch_spark import get_spark

    t0 = time.time()
    spark = get_spark(app_name="osm2ch_spark_cli", master=args.master)
    try:
        n_edges = _run(spark, args)
    except Exception as e:  # noqa: BLE001 — surface known failures cleanly
        line = error_line(e)
        if line is None:
            raise
        print("ERROR: " + line, file=sys.stderr)
        return 1
    else:
        print(f"Total expanded edges: {n_edges}")  # osm_loader.go:434
        print(f"Elapsed: {time.time() - t0:.3f}s")
        return 0
    finally:
        spark.stop()


def _run(spark, args) -> int:
    """Build the expanded-edge table and write both CSVs; returns the
    number of expanded edges."""
    from osm2ch_spark import pipeline, sinks

    src = spark.read.parquet(args.source)
    tags = [t for t in args.tags.split(",") if t]
    expanded = pipeline.build_expanded(src, tag_whitelist=tags, strict=not args.permissive)
    expanded = expanded.persist()
    n_edges = expanded.count()

    stem = args.out.split(".csv")[0]  # main.go:42-45 derives names the same way
    fname_edges = stem + ".csv"
    fname_vertices = stem + "_vertices.csv"

    edge_rows = sinks.edges_csv_rows(expanded, units=args.units, geom_format=args.geomf)
    vertex_rows = sinks.vertices_csv_rows(expanded, geom_format=args.geomf)
    # sink selection: the driver-side single-file sink collects every row
    # to the driver — fine for reference-parity outputs, a driver OOM at
    # scale.  Default AUTO-selects the distributed sink above the row
    # threshold; --single-file / --distributed-sink force either side.
    if pick_distributed(n_edges, args.single_file, args.distributed_sink,
                        args.sink_threshold):
        # the output SHAPE changes here (a directory of ordered CSV parts,
        # not one file) — say so, and how to force parity
        print(
            f"sink: distributed ({n_edges} rows > threshold "
            f"{args.sink_threshold}) — writing DIRECTORIES of range-ordered "
            "CSV parts; pass --single-file to force single-file reference "
            "parity output",
        )
        sinks.write_csv_dist(edge_rows, "expanded_id", fname_edges)
        sinks.write_csv_dist(vertex_rows, "first_seen", fname_vertices)
    else:
        print("sink: single-file (reference parity)")
        sinks.write_csv(edge_rows, "expanded_id", fname_edges, sinks.EDGES_HEADER)
        sinks.write_csv(vertex_rows, "first_seen", fname_vertices, sinks.VERTICES_HEADER)
    expanded.unpersist()
    return n_edges


if __name__ == "__main__":
    sys.exit(main())
