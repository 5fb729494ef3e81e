"""Sinks S4/S5 — the reference's `;`-separated CSV outputs.

Layouts copied from /root/reference/cmd/osm2ch/main.go:
  edges   header main.go:67, rows main.go:139-150
  vertices header main.go:87, rows main.go:177-182

Integer columns via format_string('%d') (JVM-side); the float weight and
the WKT are formatted with Go-parity %.6f.  Weight formatting happens in
the JVM via format_string — Java rounds HALF_UP where Go rounds
half-to-even, which can differ only when the double sits EXACTLY on a
half boundary at the 6th decimal; weights are sums of haversines (never
exact halves), so the JVM path is byte-safe for weight.  WKT points ARE
raw input coordinates (could be exact halves), so every WKT point string
(LINESTRING and vertex POINT) is formatted Python-side by the W1 split
(pipeline.split_ways_to_edges); the sinks only cut and join them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _geojson_linestring_col(lons, lats):
    """converter_geojson.go:10-21 rendered JVM-side; numbers use Java's
    exact-round-trip double repr, so parity is parsed-value equality
    (SURVEY.md §2.7), not byte equality."""
    pair = F.zip_with(
        lons, lats,
        lambda x, y: F.concat(
            F.lit("["), x.cast("string"), F.lit(","), y.cast("string"), F.lit("]")
        ),
    )
    return F.concat(
        F.lit('{"type":"LineString","coordinates":['),
        F.array_join(pair, ","),
        F.lit("]}"),
    )


def _geojson_point_col(lon, lat):
    """converter_geojson.go:24-31 — same parsed-value parity contract."""
    return F.concat(
        F.lit('{"type":"Point","coordinates":['),
        lon.cast("string"), F.lit(","), lat.cast("string"),
        F.lit("]}"),
    )

EDGES_HEADER = (
    "from_vertex_id;to_vertex_id;weight;geom;was_one_way;edge_id;osm_way_from;"
    "osm_way_to;osm_way_from_source_node;osm_way_from_target_node;"
    "osm_way_to_source_node;osm_way_to_target_node"
)
VERTICES_HEADER = "vertex_id;order_pos;importance;geom"
SHORTCUTS_HEADER = "from_vertex_id;to_vertex_id;weight;via_vertex_id"


def project_units(weight_col, units: str = "km"):
    """P4 — cmd/osm2ch/main.go:111-113: storage is km; -units m → ×1000."""
    return weight_col * F.lit(1000.0) if units.lower() == "m" else weight_col


def edges_csv_rows(expanded: DataFrame, units: str = "km",
                   geom_format: str = "wkt") -> DataFrame:
    """Expanded edges → (expanded_id, csv_row) in the reference layout.

    Applies F7 (skip geoms with <2 points — main.go:119-123) at the sink
    only, matching the reference (such rows still exist upstream).
    ``geom_format``: "wkt" (default) or "geojson" — the reference CLI's
    -geomf flag (cmd/osm2ch/main.go:20, geometry emit at main.go:126-130).
    """
    if geom_format not in ("wkt", "geojson"):
        raise ValueError(f"geom_format must be wkt|geojson, got {geom_format!r}")
    geom_col = (
        F.col("geom_wkt")
        if geom_format == "wkt"
        else _geojson_linestring_col(F.col("geom_lons"), F.col("geom_lats"))
    )
    cost = project_units(F.col("weight"), units)
    row = F.concat_ws(
        ";",
        F.format_string("%d", "source_vertex"),
        F.format_string("%d", "target_vertex"),
        F.format_string("%.6f", cost),
        geom_col,
        F.when(F.col("one_way"), F.lit("true")).otherwise(F.lit("false")),
        F.format_string("%d", "expanded_id"),
        F.format_string("%d", "source_way"),
        F.format_string("%d", "target_way"),
        F.format_string("%d", "src_source_node"),
        F.format_string("%d", "src_target_node"),
        F.format_string("%d", "dst_source_node"),
        F.format_string("%d", "dst_target_node"),
    )
    return expanded.filter(F.size("geom_lons") >= 2).select(
        F.col("expanded_id"), row.alias("csv_row")
    )


def vertices_rows(expanded: DataFrame) -> DataFrame:
    """S5/A2 — cmd/osm2ch/main.go:132-137,165-187.

    Vertex set = every source/target of every expanded edge, ordered by
    first occurrence (CSV write order: ascending expanded id, source
    before target).  Vertex geometry = first-wins from rows passing F7:
    geom[0] for a source, geom[last] for a target; a vertex never seen
    with valid geometry gets the Go zero value (0, 0).
    order_pos / importance come from the external CH library in the
    reference (out of scope per the north rule) → constant 0.

    ``pt`` is that point's ``"%.6f %.6f"`` text, cut out of ``geom_wkt``.

    Output: (vertex_id, order_pos, importance, lon, lat, pt, first_seen).
    """
    src_ev = expanded.select(
        F.col("source_vertex").alias("vertex_id"),
        F.col("expanded_id"),
        F.lit(0).alias("side"),
        F.element_at("geom_lons", 1).alias("lon"),
        F.element_at("geom_lats", 1).alias("lat"),
        F.substring_index(F.substring_index("geom_wkt", ",", 1), "(", -1).alias("pt"),
        F.size("geom_lons").alias("npts"),
    )
    dst_ev = expanded.select(
        F.col("target_vertex").alias("vertex_id"),
        F.col("expanded_id"),
        F.lit(1).alias("side"),
        F.element_at("geom_lons", -1).alias("lon"),
        F.element_at("geom_lats", -1).alias("lat"),
        F.substring_index(F.substring_index("geom_wkt", ",", -1), ")", 1).alias("pt"),
        F.size("geom_lons").alias("npts"),
    )
    ev = src_ev.unionAll(dst_ev)
    order = F.struct("expanded_id", "side")
    # min_by skips null orderings: a row failing F7 never supplies the
    # geometry, and a vertex with no passing row gets null → (0, 0)
    v = ev.groupBy("vertex_id").agg(
        F.min(order).alias("first_seen"),
        F.min_by(F.struct("lon", "lat", "pt"), F.when(F.col("npts") >= 2, order)).alias("p"),
    )
    return v.select(
        "vertex_id",
        F.lit(0).alias("order_pos"),
        F.lit(0).alias("importance"),
        F.coalesce(F.col("p.lon"), F.lit(0.0)).alias("lon"),
        F.coalesce(F.col("p.lat"), F.lit(0.0)).alias("lat"),
        F.coalesce(F.col("p.pt"), F.lit("0.000000 0.000000")).alias("pt"),
        "first_seen",
    )


def vertices_csv_rows(expanded: DataFrame, geom_format: str = "wkt") -> DataFrame:
    """(first_seen, csv_row) — the POINT WKT wraps the ``pt`` string the
    W1 split formatted with Go-parity %.6f (vertex coords are RAW input
    values that can sit on a %.6f half boundary where Java's shortest-
    repr HALF_UP diverges from Go's correctly-rounded conversion), so no
    Python runs here.  ``geom_format="geojson"`` mirrors -geomf."""
    if geom_format not in ("wkt", "geojson"):
        raise ValueError(f"geom_format must be wkt|geojson, got {geom_format!r}")
    v = vertices_rows(expanded)
    geom_col = (
        F.concat(F.lit("POINT("), F.col("pt"), F.lit(")"))
        if geom_format == "wkt"
        else _geojson_point_col(F.col("lon"), F.col("lat"))
    )
    row = F.concat_ws(
        ";",
        F.format_string("%d", "vertex_id"),
        F.format_string("%d", "order_pos"),
        F.format_string("%d", "importance"),
        geom_col,
    )
    return v.select(F.col("first_seen"), row.alias("csv_row"))


def write_csv(rows: DataFrame, order_col: str, path: str, header: str) -> None:
    """Write a single ordered CSV file (driver-side small outputs only;
    at scale use write_csv_dist — partitioned files, ordered within and
    across files by the range partitioner)."""
    data = [r["csv_row"] for r in rows.orderBy(order_col).collect()]
    with open(path, "w") as f:
        f.write(header + "\n")
        for line in data:
            f.write(line + "\n")


def write_csv_dist(rows: DataFrame, order_col: str, path: str, num_files: int | None = None) -> None:
    """Distributed sink: range-partition by the order column so file
    part-00000 < part-00001 < … and rows are sorted within each file —
    a global order without a single-reducer bottleneck.  (The reference
    writes one file from one process; at 100 TB the order contract is
    'concatenation of parts in name order'.)  Header excluded (text sink);
    readers prepend EDGES_HEADER/VERTICES_HEADER."""
    d = rows
    if num_files:
        d = d.repartitionByRange(num_files, order_col)
    else:
        d = d.repartitionByRange(order_col)
    d.sortWithinPartitions(order_col).select("csv_row").write.mode("overwrite").text(path)
