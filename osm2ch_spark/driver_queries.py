"""Driver correctness surface: one named query per SURVEY.md §2 operator.

Each entry pairs a Spark builder ``(spark, sf_dir) -> DataFrame`` with an
equivalent DuckDB SQL string over the pre-registered testdata views
(TESTDATA.md).  The Spark side goes through the REAL pipeline operators
wherever the operator exists there (tpch_world.py projects an OSM world
out of TPC-H); the SQL side reconstructs the same semantics relationally.

Conventions (driver hash-compare constraints):
 - every computed column aliased identically on both sides;
 - ints → BIGINT/long on both sides (DuckDB SUM yields HUGEINT — cast!);
 - doubles that passed through trig → round(x, 6) on both sides;
 - exact-arithmetic doubles left unrounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from osm2ch_spark import pipeline
from osm2ch_spark import tpch_world as W
from osm2ch_spark.graph import (
    connected_components,
    label_propagation,
    pagerank,
    triangles_per_vertex,
)
from osm2ch_spark.graph.triangles import triangles_df
from osm2ch_spark.tpch_world import OSM_WORLD_CTE, T

QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def register(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


# ---------------------------------------------------------------------------
# Sources / scans (S1-S3, S7)
# ---------------------------------------------------------------------------

@register(
    "source_table",
    "SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n_chars AS BIGINT) AS n_chars "
    "FROM documents WHERE lang = 'en'",
)
def q_source_table(spark, sf):
    """S7 — partition-pruned/filter-pushed source scan (osm_loader.go:27)."""
    return (
        T(spark, sf, "documents")
        .filter(F.col("lang") == "en")
        .select(F.col("doc_id").cast("long"), F.col("n_chars").cast("long"))
    )


@register(
    "scan_ways",
    OSM_WORLD_CTE
    + "SELECT wm.way_id, wm.oneway, CAST(c.n AS BIGINT) AS n_nodes "
    "FROM way_meta wm JOIN (SELECT way_id, COUNT(*) AS n FROM way_nodes GROUP BY way_id) c "
    "USING (way_id)",
)
def q_scan_ways(spark, sf):
    """S1 — osm_loader.go:27-73 projected onto the TPC-H world."""
    return W.tpch_ways(spark, sf).select(
        "way_id", "oneway", F.size("nodes").cast("long").alias("n_nodes")
    )


@register(
    "scan_nodes",
    OSM_WORLD_CTE
    + "SELECT n.node_id, n.lon, n.lat FROM nodes_w n "
    "WHERE EXISTS (SELECT 1 FROM way_nodes w WHERE w.node_id = n.node_id)",
)
def q_scan_nodes(spark, sf):
    """S2 + J1 — keep only nodes referenced by ways (osm_loader.go:80-103)."""
    nodes = W.tpch_nodes(spark, sf)
    seen = W.tpch_way_nodes(spark, sf).select("node_id").distinct()
    return nodes.join(seen, "node_id", "left_semi")


@register(
    "scan_restrictions",
    OSM_WORLD_CTE
    + """SELECT CASE kind WHEN 0 THEN 'no_left_turn' WHEN 1 THEN 'no_right_turn'
         WHEN 2 THEN 'no_straight_on' WHEN 3 THEN 'only_left_turn'
         WHEN 4 THEN 'only_right_turn' ELSE 'only_straight_on' END AS rtype,
         r_from AS from_id, r_to AS to_id, r_via AS via_id
       FROM rules_w""",
)
def q_scan_restrictions(spark, sf):
    """S3 + P2 — osm_loader.go:110-202 (rules projected from expansion)."""
    return W.tpch_rules(W.tpch_expanded(spark, sf)).select(
        "rtype", "from_id", "to_id", "via_id"
    )


# ---------------------------------------------------------------------------
# Filters (F1-F7)
# ---------------------------------------------------------------------------

@register(
    "filter_entity_tag",
    "SELECT CAST(event_id AS BIGINT) AS event_id, "
    "json_extract_string(props, '$.k') AS k_val "
    "FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL",
)
def q_filter_entity_tag(spark, sf):
    """F1 — keep records having the configured tag (osm_loader.go:42-46);
    JSON-attribute presence test, vectorized JVM-side."""
    e = T(spark, sf, "events")
    k = F.get_json_object("props", "$.k")
    return e.filter(k.isNotNull()).select(
        F.col("event_id").cast("long"), k.alias("k_val")
    )


@register(
    "filter_tag_whitelist",
    "SELECT l_returnflag AS tag, CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem "
    "WHERE l_returnflag IN ('A','N') GROUP BY l_returnflag",
)
def q_filter_tag_whitelist(spark, sf):
    """F2 — whitelist membership (osm_configuration.go:10-17)."""
    return (
        T(spark, sf, "lineitem")
        .filter(F.col("l_returnflag").isin("A", "N"))
        .groupBy(F.col("l_returnflag").alias("tag"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "filter_restriction_arity",
    "SELECT CAST(l_orderkey AS BIGINT) AS rel_id, CAST(COUNT(*) AS BIGINT) AS members "
    "FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) = 3",
)
def q_filter_restriction_arity(spark, sf):
    """F3 — exactly-3-members arity gate (osm_loader.go:128-131)."""
    return (
        T(spark, sf, "lineitem")
        .groupBy(F.col("l_orderkey").cast("long").alias("rel_id"))
        .agg(F.count(F.lit(1)).alias("members"))
        .filter(F.col("members") == 3)
    )


@register(
    "filter_vertices_used",
    OSM_WORLD_CTE + "SELECT node_id, use_count FROM use_counts WHERE use_count > 1",
)
def q_filter_vertices_used(spark, sf):
    """F4 — osm_loader.go:275-283."""
    return pipeline.node_use_count(W.tpch_ways(spark, sf)).filter(
        F.col("use_count") > 1
    )


@register(
    "filter_no_selfjoin",
    OSM_WORLD_CTE
    + "SELECT edge_id, way_id, source_node FROM edges_w WHERE source_node = target_node",
)
def q_filter_no_selfjoin(spark, sf):
    """F5 — the self-pair skip (osm_loader.go:302-304); surfaced as the
    self-loop edges that make it fire."""
    return W.tpch_edges(spark, sf).filter(
        F.col("source_node") == F.col("target_node")
    ).select("edge_id", "way_id", "source_node")


@register(
    "filter_cycles_uturns",
    OSM_WORLD_CTE
    + """SELECT e1.edge_id AS src_edge_id, e2.edge_id AS dst_edge_id
       FROM edges_w e1 JOIN edges_w e2 ON e1.target_node = e2.source_node
       WHERE e1.edge_id <> e2.edge_id
         AND e1.source_node = e2.target_node AND e1.target_node = e2.source_node""",
)
def q_filter_cycles_uturns(spark, sf):
    """F6 — exact-float U-turn pairs (osm_loader.go:306-312).  The Spark
    side compares raw geometry doubles exactly as the pipeline does; the
    SQL side may use node identity because the projected coordinates are
    injective."""
    e = W.tpch_edges(spark, sf)
    e1 = e.select(
        F.col("edge_id").alias("src_edge_id"),
        F.col("target_node").alias("tn"),
        F.col("geom_lons").alias("l1"),
        F.col("geom_lats").alias("a1"),
    )
    e2 = e.select(
        F.col("edge_id").alias("dst_edge_id"),
        F.col("source_node").alias("sn"),
        F.col("geom_lons").alias("l2"),
        F.col("geom_lats").alias("a2"),
    )
    j = e1.join(e2, F.col("tn") == F.col("sn")).filter(
        F.col("src_edge_id") != F.col("dst_edge_id")
    )
    cyc = (
        (F.element_at("l1", 1) == F.element_at("l2", -1))
        & (F.element_at("a1", 1) == F.element_at("a2", -1))
        & (F.element_at("l1", -1) == F.element_at("l2", 1))
        & (F.element_at("a1", -1) == F.element_at("a2", 1))
    )
    return j.filter(cyc).select("src_edge_id", "dst_edge_id")


# ---------------------------------------------------------------------------
# Projections (P1-P4)
# ---------------------------------------------------------------------------

@register(
    "project_oneway",
    "SELECT CAST(event_id AS BIGINT) AS event_id, "
    "COALESCE(json_extract_string(props, '$.k') IN ('1','7','42','69'), FALSE) AS oneway "
    "FROM events",
)
def q_project_oneway(spark, sf):
    """P1 — tags["oneway"] ∈ {"yes","1"} with null→false (osm_loader.go:50-55)."""
    e = T(spark, sf, "events")
    k = F.get_json_object("props", "$.k")
    return e.select(
        F.col("event_id").cast("long"),
        F.coalesce(k.isin("1", "7", "42", "69"), F.lit(False)).alias("oneway"),
    )


@register(
    "pivot_restriction_roles",
    """SELECT CAST(l_orderkey AS BIGINT) AS rel_id,
         CAST(MAX(CASE WHEN l_linenumber = 1 THEN l_partkey END) AS BIGINT) AS from_ref,
         CAST(MAX(CASE WHEN l_linenumber = 2 THEN l_partkey END) AS BIGINT) AS via_ref,
         CAST(MAX(CASE WHEN l_linenumber = 3 THEN l_partkey END) AS BIGINT) AS to_ref
       FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) = 3""",
)
def q_pivot_restriction_roles(spark, sf):
    """P2 — role pivot by member position (osm_loader.go:133-183)."""
    li = T(spark, sf, "lineitem")
    g = li.groupBy(F.col("l_orderkey").cast("long").alias("rel_id")).agg(
        F.max(F.when(F.col("l_linenumber") == 1, F.col("l_partkey"))).cast("long").alias("from_ref"),
        F.max(F.when(F.col("l_linenumber") == 2, F.col("l_partkey"))).cast("long").alias("via_ref"),
        F.max(F.when(F.col("l_linenumber") == 3, F.col("l_partkey"))).cast("long").alias("to_ref"),
        F.count(F.lit(1)).alias("n"),
    )
    return g.filter(F.col("n") == 3).drop("n")


@register(
    "dedup_restrictions_first_wins",
    """SELECT c_custkey, first_order FROM (
         SELECT CAST(o_custkey AS BIGINT) AS c_custkey, CAST(o_orderkey AS BIGINT) AS first_order,
                ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
         FROM orders) WHERE rn = 1""",
)
def q_dedup_first_wins(spark, sf):
    """P3 — first-wins dedup in scan order (osm_loader.go:195-197)."""
    o = T(spark, sf, "orders")
    return (
        o.groupBy(F.col("o_custkey").cast("long").alias("c_custkey"))
        .agg(
            F.min_by(
                F.col("o_orderkey").cast("long"), F.struct("o_orderdate", "o_orderkey")
            ).alias("first_order")
        )
    )


@register(
    "project_units",
    OSM_WORLD_CTE
    + "SELECT edge_id, ROUND(cost, 6) * 1000.0 AS cost_m FROM edges_w",
)
def q_project_units(spark, sf):
    """P4 — cmd/osm2ch/main.go:111-113: km → m at the sink."""
    from osm2ch_spark.sinks import project_units

    return W.tpch_edges(spark, sf).select(
        "edge_id",
        # round the km value BEFORE the unit scale: rounding after x1000
        # amplifies cross-engine trig ulps onto the 6th-decimal boundary
        project_units(F.round(F.col("cost_km"), 6), "m").alias("cost_m"),
    )


# ---------------------------------------------------------------------------
# Aggregations (A1-A3)
# ---------------------------------------------------------------------------

@register(
    "agg_node_use_count",
    OSM_WORLD_CTE + "SELECT node_id, use_count FROM use_counts",
)
def q_agg_node_use_count(spark, sf):
    """A1 — endpoints +2, interior +1 (osm_loader.go:204-221)."""
    return pipeline.node_use_count(W.tpch_ways(spark, sf))


@register(
    "agg_vertex_first_geom",
    OSM_WORLD_CTE
    + """SELECT src_edge_id AS vertex, CAST(MIN(expanded_id) AS BIGINT) AS first_seen
       FROM final_expanded GROUP BY src_edge_id""",
)
def q_agg_vertex_first_geom(spark, sf):
    """A2 — first-wins vertex assignment order (cmd/osm2ch/main.go:132-137)."""
    return (
        W.tpch_final_expanded(spark, sf)
        .groupBy(F.col("src_edge_id").alias("vertex"))
        .agg(F.min("expanded_id").alias("first_seen"))
    )


@register(
    "agg_stage_counters",
    OSM_WORLD_CTE
    + """SELECT 'ways' AS stage, CAST(COUNT(*) AS BIGINT) AS cnt FROM way_span
       UNION ALL SELECT 'edges', CAST(COUNT(*) AS BIGINT) FROM edges_w
       UNION ALL SELECT 'edges_oneway', CAST(COUNT(*) AS BIGINT) FROM edges_w WHERE was_oneway
       UNION ALL SELECT 'expanded', CAST(COUNT(*) AS BIGINT) FROM expanded_w
       UNION ALL SELECT 'expanded_final', CAST(COUNT(*) AS BIGINT) FROM final_expanded""",
)
def q_agg_stage_counters(spark, sf):
    """A3 — per-stage row counters (osm_loader.go:73,103,273,341-343,434-435)."""
    ways = W.tpch_ways(spark, sf)
    edges = W.tpch_edges(spark, sf)
    expanded = W.tpch_expanded(spark, sf)
    final = W.tpch_final_expanded(spark, sf)

    def c(df, name):
        return df.agg(F.count(F.lit(1)).alias("cnt")).select(
            F.lit(name).alias("stage"), "cnt"
        )

    return (
        c(ways, "ways")
        .unionAll(c(edges, "edges"))
        .unionAll(c(edges.filter("was_oneway"), "edges_oneway"))
        .unionAll(c(expanded, "expanded"))
        .unionAll(c(final, "expanded_final"))
    )


# ---------------------------------------------------------------------------
# Joins (J1-J5)
# ---------------------------------------------------------------------------

@register(
    "semi_join_nodes_seen",
    "SELECT CAST(p_partkey AS BIGINT) AS node_id FROM part "
    "WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)",
)
def q_semi_join_nodes_seen(spark, sf):
    """J1 — the 10^12-scale row-pruning semi-join (osm_loader.go:91-98)."""
    p = T(spark, sf, "part").select(F.col("p_partkey").cast("long").alias("node_id"))
    refs = T(spark, sf, "lineitem").select(F.col("l_partkey").cast("long").alias("node_id"))
    return p.join(refs, "node_id", "left_semi")


@register(
    "lookup_way_nodes",
    OSM_WORLD_CTE
    + "SELECT way_id, pos, node_id, lon, lat FROM way_nodes JOIN nodes_w USING (node_id)",
)
def q_lookup_way_nodes(spark, sf):
    """J2 — resolve way node refs to coordinates (osm_loader.go:235,241)."""
    return W.tpch_way_nodes(spark, sf).join(W.tpch_nodes(spark, sf), "node_id").select(
        "way_id", "pos", "node_id", "lon", "lat"
    )


@register(
    "self_join_edge_expansion",
    OSM_WORLD_CTE
    + """SELECT expanded_id, src_edge_id, dst_edge_id, source_way, target_way,
         src_target_node, ROUND(weight, 6) AS weight_r, one_way
       FROM expanded_w""",
)
def q_self_join_edge_expansion(spark, sf):
    """J3 — THE core operator (osm_loader.go:285-343), via the real
    pipeline (hash equi-join + F5/F6 + deterministic ID2)."""
    return W.tpch_expanded(spark, sf).select(
        "expanded_id",
        "src_edge_id",
        "dst_edge_id",
        "source_way",
        "target_way",
        "src_target_node",
        F.round("weight", 6).alias("weight_r"),
        "one_way",
    )


@register(
    "anti_join_no_restrictions",
    OSM_WORLD_CTE + "SELECT expanded_id, source_way, target_way FROM after_no",
)
def q_anti_join_no(spark, sf):
    """J4 — delete (from,to) matches of no_* rules (osm_loader.go:348-389)."""
    expanded = W.tpch_expanded(spark, sf)
    rules = W.tpch_rules(expanded)
    return pipeline.apply_no_restrictions(expanded, rules, W.tpch_ways(spark, sf)).select(
        "expanded_id", "source_way", "target_way"
    )


@register(
    "anti_join_only_restrictions",
    OSM_WORLD_CTE + "SELECT expanded_id, source_way, target_way FROM final_expanded",
)
def q_anti_join_only(spark, sf):
    """J5 — keep only the mandated continuation (osm_loader.go:390-432)."""
    return W.tpch_final_expanded(spark, sf).select(
        "expanded_id", "source_way", "target_way"
    )


# ---------------------------------------------------------------------------
# ID assignment (ID1-ID2)
# ---------------------------------------------------------------------------

@register(
    "edge_ids_sequential",
    OSM_WORLD_CTE
    + "SELECT edge_id, way_id, seg_index, direction FROM edges_w",
)
def q_edge_ids(spark, sf):
    """ID1 — gapless 1-based scan-order edge ids (osm_loader.go:228-271)."""
    return W.tpch_edges(spark, sf).select(
        "edge_id", "way_id", "seg_index", "direction"
    )


@register(
    "expanded_ids_sequential",
    OSM_WORLD_CTE + "SELECT expanded_id FROM final_expanded",
)
def q_expanded_ids(spark, sf):
    """ID2 — ids assigned BEFORE restriction deletion → final ids keep
    gaps (osm_loader.go:313-314 vs :348-432)."""
    return W.tpch_final_expanded(spark, sf).select("expanded_id")


# ---------------------------------------------------------------------------
# Way splitting (W1)
# ---------------------------------------------------------------------------

@register(
    "split_ways_to_edges",
    OSM_WORLD_CTE
    + """SELECT edge_id, way_id, seg_index, direction, source_node, target_node,
         was_oneway, ROUND(cost, 6) AS cost_km_r
       FROM edges_w""",
)
def q_split_ways(spark, sf):
    """W1 — grouped Arrow-UDF way splitting (osm_loader.go:223-273)."""
    return W.tpch_edges(spark, sf).select(
        "edge_id",
        "way_id",
        "seg_index",
        "direction",
        "source_node",
        "target_node",
        "was_oneway",
        F.round("cost_km", 6).alias("cost_km_r"),
    )


# ---------------------------------------------------------------------------
# Geometry scalar functions (G1-G12) — column-native (no UDF), rounded 6
# ---------------------------------------------------------------------------

def _way_points(spark, sf):
    """Ordered (way_id, pos, lon, lat) with lag columns."""
    wn = W.tpch_way_nodes(spark, sf).join(W.tpch_nodes(spark, sf), "node_id")
    w = Window.partitionBy("way_id").orderBy("pos")
    return wn.select(
        "way_id",
        "pos",
        "lon",
        "lat",
        F.lag("lon").over(w).alias("plon"),
        F.lag("lat").over(w).alias("plat"),
        F.row_number().over(w).alias("rn"),
    )


def _hav_col(plon, plat, lon, lat):
    """Reference haversine as native columns (geomath.go:52-63)."""
    a = (
        F.pow(F.sin(F.radians(lat - plat) / 2), 2)
        + F.cos(F.radians(plat)) * F.cos(F.radians(lat)) * F.pow(F.sin(F.radians(lon - plon) / 2), 2)
    )
    return F.lit(2.0) * F.atan2(F.sqrt(a), F.sqrt(1 - a)) * F.lit(6370.986884258304)


_G_PAIRS_SQL = (
    OSM_WORLD_CTE
    + """, wpt AS (
      SELECT way_id, pos, lon, lat,
             LAG(lon) OVER (PARTITION BY way_id ORDER BY pos) AS plon,
             LAG(lat) OVER (PARTITION BY way_id ORDER BY pos) AS plat,
             ROW_NUMBER() OVER (PARTITION BY way_id ORDER BY pos) AS rn
      FROM way_nodes JOIN nodes_w USING (node_id)),
    hav AS (
      SELECT way_id, pos, plon, plat, lon, lat, rn,
             2*atan2(sqrt(a), sqrt(1-a))*6370.986884258304 AS d FROM (
        SELECT *, pow(sin(radians(lat-plat)/2),2)
                  + cos(radians(plat))*cos(radians(lat))*pow(sin(radians(lon-plon)/2),2) AS a
        FROM wpt WHERE plon IS NOT NULL) )
    """
)


@register(
    "great_circle_distance",
    _G_PAIRS_SQL + "SELECT way_id, pos, ROUND(d, 6) AS dist_km_r FROM hav",
)
def q_great_circle(spark, sf):
    """G1 — haversine, nonstandard Earth radius (geomath.go:52-63)."""
    p = _way_points(spark, sf).filter(F.col("plon").isNotNull())
    return p.select(
        "way_id",
        "pos",
        F.round(_hav_col(F.col("plon"), F.col("plat"), F.col("lon"), F.col("lat")), 6).alias("dist_km_r"),
    )


def _seg_mid_cols(spark, sf):
    """G3 — geodesic midpoint of each way's first segment (geomath.go:78-90):
    (way_id, seg_mid_lon_r, seg_mid_lat_r)."""
    p = _way_points(spark, sf).filter(F.col("rn") == 2)
    lat1, lon1 = F.radians("plat"), F.radians("plon")
    lat2, lon2 = F.radians("lat"), F.radians("lon")
    bx = F.cos(lat2) * F.cos(lon2 - lon1)
    by = F.cos(lat2) * F.sin(lon2 - lon1)
    mid_lat = F.atan2(F.sin(lat1) + F.sin(lat2), F.sqrt((F.cos(lat1) + bx) * (F.cos(lat1) + bx) + by * by))
    mid_lon = lon1 + F.atan2(by, F.cos(lat1) + bx)
    return p.select(
        "way_id",
        F.round(F.degrees(mid_lon), 6).alias("seg_mid_lon_r"),
        F.round(F.degrees(mid_lat), 6).alias("seg_mid_lat_r"),
    )


def _find_middle_hit(spark, sf):
    """G6 hit rows (way_id, cut_idx, mlon, mlat) — half-Euclidean-length
    walk (geomath.go:143-161)."""
    p = _way_points(spark, sf)
    segs = p.filter(F.col("plon").isNotNull()).withColumn(
        "d",
        F.sqrt(
            (F.col("lon") - F.col("plon")) * (F.col("lon") - F.col("plon"))
            + (F.col("lat") - F.col("plat")) * (F.col("lat") - F.col("plat"))
        ),
    )
    w = Window.partitionBy("way_id").orderBy("rn")
    wall = Window.partitionBy("way_id")
    cums = segs.select(
        "way_id", "rn", "plon", "plat", "lon", "lat", "d",
        F.sum("d").over(w).alias("cl"),
        (F.sum("d").over(w) - F.col("d")).alias("ol"),
        (F.sum("d").over(wall) / 2.0).alias("half"),
    )
    frac = (F.col("half") - F.col("ol")) / F.col("d")
    return cums.filter((F.col("half") <= F.col("cl")) & (F.col("half") > F.col("ol"))).select(
        "way_id",
        (F.col("rn") - 2).cast("long").alias("cut_idx"),
        ((1 - frac) * F.col("plon") + frac * F.col("lon")).alias("mlon"),
        ((1 - frac) * F.col("plat") + frac * F.col("lat")).alias("mlat"),
    )


@register(
    "geom_way_scalars",
    _G_PAIRS_SQL
    + """, lens AS (SELECT way_id, ROUND(SUM(d), 6) AS slen_r FROM hav GROUP BY way_id),
    eseg AS (
      SELECT way_id, rn, plon, plat, lon, lat,
             sqrt((lon-plon)*(lon-plon) + (lat-plat)*(lat-plat)) AS d
      FROM wpt WHERE plon IS NOT NULL),
    elens AS (SELECT way_id, ROUND(SUM(d), 6) AS elen_r FROM eseg GROUP BY way_id),
    segmid AS (
      SELECT way_id,
             ROUND(degrees(radians(plon) + atan2(by, cos(radians(plat)) + bx)), 6) AS seg_mid_lon_r,
             ROUND(degrees(atan2(sin(radians(plat)) + sin(radians(lat)),
                   sqrt((cos(radians(plat)) + bx)*(cos(radians(plat)) + bx) + by*by))), 6) AS seg_mid_lat_r
      FROM (
        SELECT way_id, plon, plat, lon, lat,
               cos(radians(lat))*cos(radians(lon)-radians(plon)) AS bx,
               cos(radians(lat))*sin(radians(lon)-radians(plon)) AS by
        FROM wpt WHERE rn = 2 AND plon IS NOT NULL)),
    cent AS (
      SELECT way_id, ROUND(degrees(atan2(y, x)), 6) AS c_lon_r,
             ROUND(degrees(atan2(z, sqrt(x*x + y*y))), 6) AS c_lat_r FROM (
        SELECT way_id, AVG(cos(radians(lat))*cos(radians(lon))) AS x,
               AVG(cos(radians(lat))*sin(radians(lon))) AS y,
               AVG(sin(radians(lat))) AS z
        FROM way_nodes JOIN nodes_w USING (node_id) GROUP BY way_id)),
    cums AS (
      SELECT *, SUM(d) OVER (PARTITION BY way_id ORDER BY rn) AS cl,
             SUM(d) OVER (PARTITION BY way_id ORDER BY rn) - d AS ol,
             SUM(d) OVER (PARTITION BY way_id) / 2.0 AS half
      FROM eseg),
    hit AS (
      SELECT way_id, CAST(rn - 2 AS BIGINT) AS cut_idx,
             (1 - (half-ol)/d)*plon + ((half-ol)/d)*lon AS mlon,
             (1 - (half-ol)/d)*plat + ((half-ol)/d)*lat AS mlat
      FROM cums WHERE half <= cl AND half > ol),
    wkts AS (
      SELECT way_id,
             'LINESTRING(' || string_agg(printf('%.6f %.6f', lon, lat), ',' ORDER BY pos) || ')' AS wkt
      FROM way_nodes JOIN nodes_w USING (node_id) GROUP BY way_id)
    SELECT w.way_id,
           COALESCE(l.slen_r, 0.0) AS slen_r,
           COALESCE(e.elen_r, 0.0) AS elen_r,
           COALESCE(s.seg_mid_lon_r, 0.0) AS seg_mid_lon_r,
           COALESCE(s.seg_mid_lat_r, 0.0) AS seg_mid_lat_r,
           c.c_lon_r, c.c_lat_r,
           COALESCE(h.cut_idx, 0) AS cut_idx,
           ROUND(COALESCE(h.mlon, 0.0), 6) AS mid_lon_r,
           ROUND(COALESCE(h.mlat, 0.0), 6) AS mid_lat_r,
           k.wkt
    FROM way_span w
    LEFT JOIN lens l USING (way_id)
    LEFT JOIN elens e USING (way_id)
    LEFT JOIN segmid s USING (way_id)
    JOIN cent c USING (way_id)
    LEFT JOIN hit h USING (way_id)
    JOIN wkts k USING (way_id)""",
)
def q_geom_way_scalars(spark, sf):
    """G2+G3+G4+G5+G6+G12 in one per-way query (one driver-gate slot each
    would starve the gate's 50-entry budget):
      slen_r            spherical length   (geomath.go:66-75)
      elen_r            Euclidean length   (geomath.go:130-139)
      seg_mid_*         geodesic midpoint of the first segment (:78-90)
      c_lon_r/c_lat_r   spherical centroid (:93-120)
      cut_idx/mid_*     half-length walk   (:143-161, Go zero defaults)
      wkt               LINESTRING %f      (converter_wkt.go:9-15)
    """
    ways = W.tpch_ways(spark, sf).select("way_id")
    p = _way_points(spark, sf)
    pairs = p.filter(F.col("plon").isNotNull())
    hav = _hav_col(F.col("plon"), F.col("plat"), F.col("lon"), F.col("lat"))
    eucl = F.sqrt(
        (F.col("lon") - F.col("plon")) * (F.col("lon") - F.col("plon"))
        + (F.col("lat") - F.col("plat")) * (F.col("lat") - F.col("plat"))
    )
    lens = pairs.groupBy("way_id").agg(
        F.round(F.sum(hav), 6).alias("slen_r"),
        F.round(F.sum(eucl), 6).alias("elen_r"),
    )
    segmid = _seg_mid_cols(spark, sf)
    wn = W.tpch_way_nodes(spark, sf).join(W.tpch_nodes(spark, sf), "node_id")
    cent = wn.groupBy("way_id").agg(
        F.avg(F.cos(F.radians("lat")) * F.cos(F.radians("lon"))).alias("x"),
        F.avg(F.cos(F.radians("lat")) * F.sin(F.radians("lon"))).alias("y"),
        F.avg(F.sin(F.radians("lat"))).alias("z"),
    ).select(
        "way_id",
        F.round(F.degrees(F.atan2("y", "x")), 6).alias("c_lon_r"),
        F.round(F.degrees(F.atan2(F.col("z"), F.sqrt(F.col("x") * F.col("x") + F.col("y") * F.col("y")))), 6).alias("c_lat_r"),
    )
    hit = _find_middle_hit(spark, sf)
    wkts = wn.groupBy("way_id").agg(
        F.array_sort(F.collect_list(F.struct("pos", "lon", "lat"))).alias("pl")
    ).select(
        "way_id",
        F.concat(
            F.lit("LINESTRING("),
            F.array_join(
                F.transform("pl", lambda s: F.format_string("%.6f %.6f", s.lon, s.lat)), ","
            ),
            F.lit(")"),
        ).alias("wkt"),
    )
    return (
        ways.join(lens, "way_id", "left")
        .join(segmid, "way_id", "left")
        .join(cent, "way_id", "inner")
        .join(hit, "way_id", "left")
        .join(wkts, "way_id", "inner")
        .select(
            "way_id",
            F.coalesce("slen_r", F.lit(0.0)).alias("slen_r"),
            F.coalesce("elen_r", F.lit(0.0)).alias("elen_r"),
            F.coalesce("seg_mid_lon_r", F.lit(0.0)).alias("seg_mid_lon_r"),
            F.coalesce("seg_mid_lat_r", F.lit(0.0)).alias("seg_mid_lat_r"),
            "c_lon_r",
            "c_lat_r",
            F.coalesce("cut_idx", F.lit(0)).alias("cut_idx"),
            F.round(F.coalesce("mlon", F.lit(0.0)), 6).alias("mid_lon_r"),
            F.round(F.coalesce("mlat", F.lit(0.0)), 6).alias("mid_lat_r"),
            "wkt",
        )
    )


# ---------------------------------------------------------------------------
# Geometry splice (G6+G7) + Sinks (S4-S5) — CSV row formatting path
# ---------------------------------------------------------------------------

# The expanded-edge geometry splice, reconstructed relationally: per-edge
# point lists (direction 1 reversed), the Euclidean midpoint walk with
# LAST-satisfying-segment semantics (geomath.go:143-161 — QUALIFY picks
# the last hit), and the [from-mid] ++ from[bi+1:] ++ to[:bj+1] ++ [to-mid]
# string assembly (osm_loader.go:315-320).  `ol` uses LAG(cl) (not cl-d)
# and `half` uses MAX(cl) (cl is nondecreasing) so the float accumulation
# matches the Spark side's sequential left-to-right sums.  The walk is
# pure +,*,/,sqrt — no trig — so values are bit-identical across engines
# and the %.6f strings compare exactly.
_SPLICE_CTE = """
, edge_pts AS (
  SELECT e.edge_id, m.lon, m.lat,
         ROW_NUMBER() OVER (PARTITION BY e.edge_id
           ORDER BY CASE WHEN e.direction = 0 THEN m.pos ELSE -m.pos END) AS k
  FROM edges_w e JOIN members m ON m.way_id = e.way_id AND m.seg = e.seg_index),
edge_ids_all AS (SELECT DISTINCT edge_id FROM edge_pts),
esegd AS (
  SELECT edge_id, k, plon, plat, lon, lat,
         sqrt((lon-plon)*(lon-plon) + (lat-plat)*(lat-plat)) AS d
  FROM (
    SELECT edge_id, k, lon, lat,
           LAG(lon) OVER (PARTITION BY edge_id ORDER BY k) AS plon,
           LAG(lat) OVER (PARTITION BY edge_id ORDER BY k) AS plat
    FROM edge_pts)
  WHERE plon IS NOT NULL),
ecums AS (
  SELECT *, COALESCE(LAG(cl) OVER (PARTITION BY edge_id ORDER BY k), 0.0) AS ol,
         MAX(cl) OVER (PARTITION BY edge_id) / 2.0 AS half
  FROM (SELECT *, SUM(d) OVER (PARTITION BY edge_id ORDER BY k) AS cl FROM esegd)),
ehit AS (
  SELECT edge_id, CAST(k - 2 AS BIGINT) AS bi,
         (1 - (half-ol)/d)*plon + ((half-ol)/d)*lon AS mlon,
         (1 - (half-ol)/d)*plat + ((half-ol)/d)*lat AS mlat
  FROM ecums WHERE half <= cl AND half > ol
  QUALIFY ROW_NUMBER() OVER (PARTITION BY edge_id ORDER BY k DESC) = 1),
ecut AS (
  SELECT a.edge_id, COALESCE(h.bi, 0) AS bi,
         COALESCE(h.mlon, 0.0) AS mlon, COALESCE(h.mlat, 0.0) AS mlat
  FROM edge_ids_all a LEFT JOIN ehit h USING (edge_id)),
eparts AS (
  SELECT p.edge_id,
         string_agg(printf('%.6f %.6f', p.lon, p.lat), ',' ORDER BY p.k)
           FILTER (WHERE p.k >= c.bi + 2) AS tail_str,
         string_agg(printf('%.6f %.6f', p.lon, p.lat), ',' ORDER BY p.k)
           FILTER (WHERE p.k <= c.bi + 1) AS head_str,
         MIN(printf('%.6f %.6f', c.mlon, c.mlat)) AS mid_str
  FROM edge_pts p JOIN ecut c USING (edge_id)
  GROUP BY p.edge_id),
epstr AS (
  SELECT edge_id,
         concat_ws(',', mid_str, tail_str) AS src_str,
         concat_ws(',', head_str, mid_str) AS dst_str
  FROM eparts),
spliced AS (
  SELECT f.*, 'LINESTRING(' || s.src_str || ',' || t.dst_str || ')' AS geom_wkt
  FROM final_expanded f
  JOIN epstr s ON s.edge_id = f.src_edge_id
  JOIN epstr t ON t.edge_id = f.dst_edge_id)
"""


@register(
    "splice_geometry",
    OSM_WORLD_CTE + _SPLICE_CTE
    + "SELECT expanded_id, geom_wkt FROM spliced",
)
def q_splice_geometry(spark, sf):
    """G6+G7 — the spliced expanded-edge WKT through the REAL pipeline
    (per-edge midpoint hoist + JVM splice), value-exact vs the relational
    reconstruction (the midpoint walk is trig-free)."""
    return W.tpch_spliced(spark, sf).select("expanded_id", "geom_wkt")


@register(
    "sink_edges_csv",
    OSM_WORLD_CTE + _SPLICE_CTE
    + """SELECT expanded_id,
         printf('%d;%d;%.6f;%s;%s;%d;%d;%d;%d;%d;%d;%d', src_edge_id, dst_edge_id,
                ROUND(weight, 1), geom_wkt,
                CASE WHEN one_way THEN 'true' ELSE 'false' END,
                expanded_id, source_way, target_way, src_source_node, src_target_node,
                dst_source_node, dst_target_node) AS csv_row
       FROM spliced""",
)
def q_sink_edges_csv(spark, sf):
    """S4 — the full 12-column `;`-CSV row INCLUDING the spliced geometry
    (cmd/osm2ch/main.go:139-150); weight pre-rounded to 1 decimal so
    cross-engine trig ulps can't flip the printf output (byte parity of
    the unrounded weight is proven in pytest instead)."""
    e = W.tpch_spliced(spark, sf)
    row = F.format_string(
        "%d;%d;%.6f;%s;%s;%d;%d;%d;%d;%d;%d;%d",
        "src_edge_id",
        "dst_edge_id",
        F.round("weight", 1),
        "geom_wkt",
        F.when(F.col("one_way"), F.lit("true")).otherwise(F.lit("false")),
        "expanded_id",
        "source_way",
        "target_way",
        "src_source_node",
        "src_target_node",
        "dst_source_node",
        "dst_target_node",
    )
    return e.filter(F.size("geom_lons") >= 2).select("expanded_id", row.alias("csv_row"))


@register(
    "sink_vertices_csv",
    OSM_WORLD_CTE
    + """SELECT vertex_id, printf('%d;0;0', vertex_id) AS csv_row,
         CAST(MIN(ord) AS BIGINT) AS first_seen
       FROM (
         SELECT src_edge_id AS vertex_id, expanded_id * 2 AS ord FROM final_expanded
         UNION ALL
         SELECT dst_edge_id, expanded_id * 2 + 1 FROM final_expanded)
       GROUP BY vertex_id""",
)
def q_sink_vertices_csv(spark, sf):
    """S5 — vertex rows in first-occurrence order (cmd/osm2ch/main.go:165-187)."""
    e = W.tpch_final_expanded(spark, sf)
    ev = e.select(
        F.col("src_edge_id").alias("vertex_id"), (F.col("expanded_id") * 2).alias("ord")
    ).unionAll(
        e.select(F.col("dst_edge_id"), F.col("expanded_id") * 2 + 1)
    )
    return ev.groupBy("vertex_id").agg(F.min("ord").alias("first_seen")).select(
        "vertex_id", F.format_string("%d;0;0", "vertex_id").alias("csv_row"), "first_seen"
    )


# ---------------------------------------------------------------------------
# Graph algorithms (GA1-GA4) on the part-derived graph
# ---------------------------------------------------------------------------

_GRAPH_SQL_BASE = """
graph_edges AS (
  SELECT DISTINCT CAST(l_partkey % 500 AS BIGINT) AS u,
         CAST((CAST(floor(l_partkey / 7) AS BIGINT) + l_suppkey) % 500 AS BIGINT) AS v
  FROM lineitem
  WHERE CAST(l_partkey % 500 AS BIGINT)
        <> CAST((CAST(floor(l_partkey / 7) AS BIGINT) + l_suppkey) % 500 AS BIGINT)),
sym_g AS (SELECT u, v FROM graph_edges UNION SELECT v, u FROM graph_edges),
verts_g AS (SELECT DISTINCT u AS vertex FROM sym_g),
canon_g AS (SELECT u, v FROM sym_g WHERE u < v)
"""


@register(
    "degree_distribution",
    "WITH " + _GRAPH_SQL_BASE
    + """, deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS degree FROM sym_g GROUP BY u)
      SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_vertices FROM deg GROUP BY degree""",
)
def q_degree_distribution(spark, sf):
    """Degree histogram over the undirected graph (skew diagnostics)."""
    from osm2ch_spark.graph.adjacency import undirected_edges

    und = undirected_edges(W.tpch_edge_graph(spark, sf))
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_vertices"))


@register(
    "triangle_count",
    "WITH " + _GRAPH_SQL_BASE
    + """SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM canon_g e1 JOIN canon_g e2 ON e1.v = e2.u
        WHERE EXISTS (SELECT 1 FROM canon_g e3 WHERE e3.u = e1.u AND e3.v = e2.v))""",
)
def q_triangle_count(spark, sf):
    """GA4 — edge-iterator triangle count."""
    t = triangles_df(W.tpch_edge_graph(spark, sf))
    return t.agg(F.count(F.lit(1)).alias("n_triangles"))


@register(
    "triangles_per_vertex",
    "WITH " + _GRAPH_SQL_BASE
    + """, tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM canon_g e1 JOIN canon_g e2 ON e1.v = e2.u
        WHERE EXISTS (SELECT 1 FROM canon_g e3 WHERE e3.u = e1.u AND e3.v = e2.v)),
      hits AS (SELECT a AS vertex FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
      SELECT v.vertex, CAST(COALESCE(h.n, 0) AS BIGINT) AS triangles
      FROM verts_g v LEFT JOIN (SELECT vertex, COUNT(*) AS n FROM hits GROUP BY vertex) h
      ON h.vertex = v.vertex""",
)
def q_triangles_per_vertex(spark, sf):
    """GA4 — per-vertex triangle counts."""
    return triangles_per_vertex(W.tpch_edge_graph(spark, sf))


def _pagerank_unrolled_sql(iters: int = 5, d: float = 0.85) -> str:
    """Fixed-iteration PageRank as unrolled CTEs (oracle for GA1)."""
    parts = [
        "WITH " + _GRAPH_SQL_BASE,
        ", outdeg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM graph_edges GROUP BY u)",
        ", nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts_g)",
        ", r0 AS (SELECT vertex, 1.0 / nn.n AS rank FROM verts_g, nn)",
    ]
    for k in range(1, iters + 1):
        parts.append(
            f""", c{k} AS (
  SELECT g.v AS vertex, SUM(p.rank / od.deg) AS contrib
  FROM graph_edges g JOIN r{k-1} p ON g.u = p.vertex JOIN outdeg od ON od.u = g.u
  GROUP BY g.v),
 d{k} AS (
  SELECT COALESCE(SUM(p.rank), 0.0) AS dm FROM r{k-1} p
  WHERE NOT EXISTS (SELECT 1 FROM outdeg od WHERE od.u = p.vertex)),
 r{k} AS (
  SELECT v.vertex,
         (1.0 - {d}) / nn.n + {d} * (COALESCE(c.contrib, 0.0) + dd.dm / nn.n) AS rank
  FROM verts_g v CROSS JOIN nn CROSS JOIN d{k} dd
  LEFT JOIN c{k} c ON c.vertex = v.vertex)"""
        )
    parts.append(f"\nSELECT vertex, ROUND(rank, 6) AS rank_r FROM r{iters}")
    return "".join(parts)


@register("pagerank", _pagerank_unrolled_sql(5))
def q_pagerank(spark, sf):
    """GA1 — 5 fixed power iterations (tol=0), damping 0.85, dangling
    redistribution; oracle = the same recurrence unrolled in SQL."""
    r = pagerank(W.tpch_edge_graph(spark, sf), max_iter=5, tol=0.0)
    return r.select("vertex", F.round("rank", 6).alias("rank_r"))


@register(
    "connected_components",
    "WITH RECURSIVE " + _GRAPH_SQL_BASE
    + """, reach(a, b) AS (
        SELECT u, v FROM sym_g
        UNION
        SELECT r.a, s.v FROM reach r JOIN sym_g s ON r.b = s.u)
      SELECT a AS vertex, CAST(LEAST(a, MIN(b)) AS BIGINT) AS component
      FROM reach GROUP BY a""",
)
def q_connected_components(spark, sf):
    """GA2 — small-star/large-star; oracle = transitive closure (graph is
    only ~500 vertices in the projected world)."""
    return connected_components(W.tpch_edge_graph(spark, sf))


def _lpa_unrolled_sql(iters: int = 4) -> str:
    parts = [
        "WITH " + _GRAPH_SQL_BASE,
        ", l0 AS (SELECT vertex, vertex AS label FROM verts_g)",
    ]
    for k in range(1, iters + 1):
        parts.append(
            f""", b{k} AS (
  SELECT vertex, label AS new_label FROM (
    SELECT s.u AS vertex, p.label,
           ROW_NUMBER() OVER (PARTITION BY s.u ORDER BY COUNT(*) DESC, p.label ASC) AS rn
    FROM sym_g s JOIN l{k-1} p ON s.v = p.vertex
    GROUP BY s.u, p.label) WHERE rn = 1),
 l{k} AS (
  SELECT v.vertex, COALESCE(b.new_label, v.label) AS label
  FROM l{k-1} v LEFT JOIN b{k} b ON b.vertex = v.vertex)"""
        )
    parts.append(f"\nSELECT vertex, CAST(label AS BIGINT) AS label FROM l{iters}")
    return "".join(parts)


@register("label_propagation", _lpa_unrolled_sql(4))
def q_label_propagation(spark, sf):
    """GA3 — 4 synchronous rounds, tie→min; oracle = unrolled SQL (early
    convergence is a fixpoint, so fewer actual rounds give the same state)."""
    return label_propagation(W.tpch_edge_graph(spark, sf), max_iter=4)
