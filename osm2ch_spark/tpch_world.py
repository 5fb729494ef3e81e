"""The TPC-H-projected OSM world — shared by the driver's queries()/oracle_sql().

The driver's correctness gate runs each query on the TPC-H-ish parquet
tables and compares against DuckDB (TESTDATA.md).  The OSM pipeline's own
input is an OSM-record source table, which the testdata doesn't contain —
so we PROJECT one deterministically out of TPC-H:

  ways   := orders     (way_id = o_orderkey, oneway = o_orderkey%3==0)
  way-node list        := lineitems of the order, ordered by l_linenumber
  nodes  := part       (node_id = p_partkey; lon/lat by exact integer
                        arithmetic — injective, so coordinate equality ⇔
                        node equality, which makes the F6 U-turn filter
                        SQL-expressible)
  restriction rules    := sampled from the expanded pairs themselves
                        (expanded_id % 101 == 0) so the anti-joins always
                        have real hits

Every downstream operator (use counts, way splitting W1, expansion J3,
restrictions J4/J5, sequential IDs) then runs BOTH through the real
pipeline operators (Spark side) and through a plain-SQL reconstruction
(DuckDB side).  Floats that pass through trig are rounded to 6 decimals
on both sides; everything else is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm2ch_spark import pipeline, workerenv
from osm2ch_spark.sources import parse as P

EARTH_R = "6370.986884258304"


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Memoized EAGERLY MATERIALIZED DataFrames, keyed by (applicationId,
# sf_dir, builder).  The ~50-query oracle gate runs in ONE session and
# most queries re-derive the same projected world; without memoization
# every call stacked a FRESH materialization of the same plan
# (ways/edges/expanded), ballooning storage memory across the gate.
#
# Eager localCheckpoint, not persist(): a lazily-persisted table consumed
# by several branches of the SAME first action makes concurrent AQE stage
# jobs race to build its cache blocks — the losers sit on cache-block
# locks while occupying task slots (measured as a non-scaling wall floor
# on the flagship pipeline).  Checkpointing computes the table once, up
# front; consumer stages scan the materialized RDD lock-free, and the
# blocks are freed by the context cleaner once the entry is dropped
# (reset_world / app eviction) — no cache-manager lifetime leak.
#
# Each builder returns an already-materialized table: the ways builder
# checkpoints with materialize_df, while edges and expanded are cheap
# layers over the ranked-table barrier inside with_sequential_id
# (checkpointing them again would re-write the same table only to save
# each consumer the broadcast offsets probe).
_MEMO: dict = {}


def _memo(spark: SparkSession, sf_dir: str, key: str, build) -> DataFrame:
    app = spark.sparkContext.applicationId
    # evict entries of stopped sessions: a process that cycles get_spark()
    # (tests/tools) would otherwise pin dead sessions' DataFrames forever
    for k in [k for k in _MEMO if k[0] != app]:
        del _MEMO[k]
    k = (app, sf_dir, key)
    if k not in _MEMO:
        _MEMO[k] = build()
    return _MEMO[k]


def reset_world() -> None:
    """Drop every memoized world table (all sessions).  Benchmarks call
    this between reps so each rep honestly rebuilds the projected world;
    the dropped DataFrames' checkpoint blocks are reclaimed by Spark's
    context cleaner once the references are gone."""
    _MEMO.clear()
    import gc

    gc.collect()


# ---------------------------------------------------------------------------
# Spark-side constructors
# ---------------------------------------------------------------------------

def tpch_nodes(spark, sf_dir) -> DataFrame:
    """(node_id, lon, lat) from part — exact integer arithmetic, injective.

    Injectivity bound: (lon, lat) determines (p_partkey % 2520, p_partkey
    % 1870) (2520 = lcm(360,7)·…, 1870 = lcm(170,11)), so coordinates are
    injective only while the p_partkey span stays below lcm(2520, 1870) =
    471,240 — i.e. part tables up to ~sf2.3.  The F6 U-turn oracle relies
    on this (SQL compares node identity, Spark compares raw floats); all
    driver testdata scales (sf ≤ 0.1) are far inside the bound."""
    p = T(spark, sf_dir, "part")
    lon = (F.col("p_partkey") % 360).cast("double") * 0.5 - 90.0 + (
        F.col("p_partkey") % 7
    ).cast("double") * 0.01
    lat = (F.col("p_partkey") % 170).cast("double") * 0.5 - 42.0 + (
        F.col("p_partkey") % 11
    ).cast("double") * 0.01
    return p.select(
        F.col("p_partkey").cast("long").alias("node_id"),
        lon.alias("lon"),
        lat.alias("lat"),
    )


def tpch_way_nodes(spark, sf_dir) -> DataFrame:
    """(way_id, pos, node_id) — one row per way-node reference.

    pos is a ROW_NUMBER over (l_linenumber, l_partkey): the testdata has
    duplicate (orderkey, linenumber) pairs, and both engines must agree
    on a unique, deterministic position for every reference."""
    from pyspark.sql import Window

    li = T(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    return li.select(
        F.col("l_orderkey").cast("long").alias("way_id"),
        F.row_number().over(w).cast("long").alias("pos"),
        F.col("l_partkey").cast("long").alias("node_id"),
    )


def tpch_ways(spark, sf_dir) -> DataFrame:
    """ways DF in the pipeline's schema: (way_id, oneway, nodes, tags,
    repo, path, seq) with scan order = way_id."""
    o = T(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("way_id"),
        (F.col("o_orderkey") % 3 == 0).alias("oneway"),
    )
    # Sort the collected references by (l_linenumber, l_partkey) directly
    # instead of ranking with a ROW_NUMBER window first: pos is a dense
    # rank over exactly that ordering, so sorting by the ordering itself
    # yields the identical node sequence (ties are full duplicates —
    # equal node_id — so their relative order cannot matter).  This
    # removes one full Window (exchange + sort over every lineitem row)
    # from every world build (guide §2.4).
    #
    # The sort key is PACKED into one long (ln<<60 | pk) instead of a
    # two-field struct: numeric order of the packed value equals (ln, pk)
    # order because both fields are non-negative, TPC-H caps
    # l_linenumber at 7 (3 bits) and l_partkey < 2^60, so the
    # collect_list buffers and the array_sort run over primitive longs
    # instead of one struct object per way-node reference — the
    # aggregate was the world build's worst GC stage (guide §5).
    li = T(spark, sf_dir, "lineitem")
    packed = F.shiftleft(F.col("l_linenumber").cast("long"), 60) + F.col(
        "l_partkey"
    ).cast("long")
    nodes_arr = (
        li.groupBy(F.col("l_orderkey").cast("long").alias("way_id"))
        .agg(F.array_sort(F.collect_list(packed)).alias("pn"))
        .select(
            "way_id",
            F.transform(
                "pn", lambda s: s.bitwiseAND(F.lit((1 << 60) - 1))
            ).alias("nodes"),
        )
    )
    return (
        o.join(nodes_arr, "way_id", "inner")
        .select(
            "way_id",
            "oneway",
            "nodes",
            F.create_map(F.lit("highway"), F.lit("residential")).alias("tags"),
            F.lit("tpch").alias("repo"),
            F.lit("tpch").alias("path"),
            F.col("way_id").alias("seq"),
        )
    )


def _ways(spark, sf_dir) -> DataFrame:
    """tpch_ways, checkpointed and memoized per session+sf: it feeds
    two subtrees (the split, the restrictions' to-way gate) and rebuilding
    it repeats the lineitem ROW_NUMBER window + collect_list aggregation."""
    return _memo(spark, sf_dir, "ways",
                 lambda: workerenv.materialize_df(tpch_ways(spark, sf_dir)))


def _edges(spark, sf_dir) -> DataFrame:
    """tpch_edges, memoized per session+sf."""
    return _memo(spark, sf_dir, "edges", lambda: tpch_edges(spark, sf_dir))


def tpch_edges(spark, sf_dir) -> DataFrame:
    """Real pipeline W1+ID1 over the projected world.  Part keys are
    unique, so the node id serves as the first-wins scan key."""
    nodes = tpch_nodes(spark, sf_dir).withColumn("scan_key", F.col("node_id"))
    return pipeline.split_ways_to_edges(_ways(spark, sf_dir), nodes)


def tpch_expanded(spark, sf_dir) -> DataFrame:
    """Real pipeline J3+ID2 (pre-restriction, pre-splice), memoized per
    session+sf over the memoized edges."""
    edges = _edges(spark, sf_dir)
    return _memo(spark, sf_dir, "expanded", lambda: pipeline.expand_edges(edges))


def tpch_rules(expanded: DataFrame) -> DataFrame:
    """Deterministic restriction rules sampled from the expanded pairs,
    in the parse stage's restrictions schema."""
    r = expanded.filter(F.col("expanded_id") % 101 == 0).select(
        (F.col("expanded_id") % 6).alias("kind"),
        F.col("source_way").alias("from_id"),
        F.col("target_way").alias("to_id"),
        F.col("src_target_node").alias("via_id"),
    )
    rtype = (
        F.when(F.col("kind") == 0, "no_left_turn")
        .when(F.col("kind") == 1, "no_right_turn")
        .when(F.col("kind") == 2, "no_straight_on")
        .when(F.col("kind") == 3, "only_left_turn")
        .when(F.col("kind") == 4, "only_right_turn")
        .otherwise("only_straight_on")
    )
    return r.select(
        rtype.alias("rtype"),
        "from_id",
        F.lit("way").alias("from_type"),
        "to_id",
        F.lit("way").alias("to_type"),
        "via_id",
        F.lit("node").alias("via_type"),
    ).distinct()


def tpch_final_expanded(spark, sf_dir) -> DataFrame:
    """Expansion + the one restriction anti-join (J4 + J5)."""
    # expanded feeds three subtrees (base + rule derivation + anti-joins)
    expanded = tpch_expanded(spark, sf_dir)
    rules = tpch_rules(expanded)
    return pipeline.apply_restrictions(expanded, rules, _ways(spark, sf_dir))


def tpch_spliced(spark, sf_dir) -> DataFrame:
    """Full pipeline INCLUDING the geometry splice (G6+G7) — the complete
    reference output row (cmd/osm2ch/main.go:139-150) over the projected
    world."""
    return pipeline.splice_geometry(tpch_final_expanded(spark, sf_dir),
                                    _edges(spark, sf_dir))


def tpch_edge_graph(spark, sf_dir) -> DataFrame:
    """A small dense graph for GA oracles: deterministic part-derived
    edges with triangles (the supplier→part bipartite graph has none)."""
    li = T(spark, sf_dir, "lineitem")
    u = (F.col("l_partkey") % 500).cast("long")
    # floor() on both sides: DuckDB's int/int division yields DOUBLE and
    # CAST rounds half-even, while Spark's cast truncates — floor agrees.
    v = (F.floor(F.col("l_partkey") / F.lit(7)) + F.col("l_suppkey")) % 500
    return (
        li.select(u.alias("source_vertex"), v.cast("long").alias("target_vertex"))
        .filter(F.col("source_vertex") != F.col("target_vertex"))
        .distinct()
        .withColumn("weight", F.lit(1.0))
        .withColumn("one_way", F.lit(False))
    )


# ---------------------------------------------------------------------------
# DuckDB-side shared CTE (ANSI SQL, DuckDB 1.0)
# ---------------------------------------------------------------------------

OSM_WORLD_CTE = f"""
WITH nodes_w AS (
  SELECT CAST(p_partkey AS BIGINT) AS node_id,
         CAST(p_partkey % 360 AS DOUBLE)*0.5 - 90.0 + CAST(p_partkey % 7 AS DOUBLE)*0.01 AS lon,
         CAST(p_partkey % 170 AS DOUBLE)*0.5 - 42.0 + CAST(p_partkey % 11 AS DOUBLE)*0.01 AS lat
  FROM part),
way_nodes AS (
  SELECT CAST(l_orderkey AS BIGINT) AS way_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS BIGINT) AS pos,
         CAST(l_partkey AS BIGINT) AS node_id
  FROM lineitem),
way_meta AS (
  SELECT CAST(o_orderkey AS BIGINT) AS way_id, (o_orderkey % 3 = 0) AS oneway FROM orders),
way_span AS (
  SELECT way_id, MIN(pos) AS mnp, MAX(pos) AS mxp FROM way_nodes GROUP BY way_id),
use_counts AS (
  SELECT node_id, CAST(SUM(w) AS BIGINT) AS use_count FROM (
    SELECT wn.node_id,
           CASE WHEN wn.pos = ws.mnp OR wn.pos = ws.mxp THEN 2 ELSE 1 END AS w
    FROM way_nodes wn JOIN way_span ws USING (way_id)
  ) GROUP BY node_id),
base AS (
  SELECT wn.way_id, wn.pos, wn.node_id, n.lon, n.lat, uc.use_count, wm.oneway,
         (wn.pos = ws.mnp) AS is_first, (wn.pos = ws.mxp) AS is_last
  FROM way_nodes wn
  JOIN nodes_w n USING (node_id)
  JOIN use_counts uc USING (node_id)
  JOIN way_meta wm USING (way_id)
  JOIN way_span ws USING (way_id)),
flags AS (
  SELECT *,
         CASE WHEN (NOT is_first) AND use_count > 1 THEN 1 ELSE 0 END AS split_flag,
         CAST(SUM(CASE WHEN (NOT is_first) AND use_count > 1 THEN 1 ELSE 0 END)
              OVER (PARTITION BY way_id ORDER BY pos) AS BIGINT) AS cum
  FROM base),
members AS (
  SELECT way_id, pos, node_id, lon, lat, oneway, cum AS seg FROM flags
  WHERE NOT (split_flag = 1 AND is_last)
  UNION ALL
  SELECT way_id, pos, node_id, lon, lat, oneway, cum - 1 AS seg FROM flags
  WHERE split_flag = 1),
seg_pts AS (
  SELECT way_id, seg, MIN(pos) AS spos, MAX(pos) AS tpos, COUNT(*) AS npts
  FROM members GROUP BY way_id, seg),
pairs AS (
  SELECT way_id, seg, pos, lon, lat,
         LAG(lon) OVER (PARTITION BY way_id, seg ORDER BY pos) AS plon,
         LAG(lat) OVER (PARTITION BY way_id, seg ORDER BY pos) AS plat
  FROM members),
seg_cost AS (
  SELECT way_id, seg, COALESCE(SUM(hav), 0.0) AS cost FROM (
    SELECT way_id, seg, 2*atan2(sqrt(a), sqrt(1-a))*{EARTH_R} AS hav FROM (
      SELECT way_id, seg,
             pow(sin(radians(lat-plat)/2),2)
               + cos(radians(plat))*cos(radians(lat))*pow(sin(radians(lon-plon)/2),2) AS a
      FROM pairs WHERE plon IS NOT NULL)
  ) GROUP BY way_id, seg),
seg_edges AS (
  SELECT sp.way_id, sp.seg, wm.oneway,
         ms.node_id AS source_node, mt.node_id AS target_node, sc.cost
  FROM seg_pts sp
  JOIN way_meta wm ON wm.way_id = sp.way_id
  JOIN members ms ON ms.way_id = sp.way_id AND ms.seg = sp.seg AND ms.pos = sp.spos
  JOIN members mt ON mt.way_id = sp.way_id AND mt.seg = sp.seg AND mt.pos = sp.tpos
  JOIN seg_cost sc ON sc.way_id = sp.way_id AND sc.seg = sp.seg
  WHERE sp.npts >= 2),
dir_edges AS (
  SELECT way_id, seg, CAST(0 AS BIGINT) AS direction, source_node, target_node,
         oneway AS was_oneway, cost FROM seg_edges
  UNION ALL
  SELECT way_id, seg, CAST(1 AS BIGINT), target_node, source_node, FALSE, cost
  FROM seg_edges WHERE NOT oneway),
edges_w AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY way_id, seg, direction) AS BIGINT) AS edge_id,
         way_id, seg AS seg_index, direction, source_node, target_node, was_oneway, cost
  FROM dir_edges),
expanded_all AS (
  SELECT e1.edge_id AS src_edge_id, e2.edge_id AS dst_edge_id,
         e1.way_id AS source_way, e2.way_id AS target_way,
         e1.source_node AS src_source_node, e1.target_node AS src_target_node,
         e2.source_node AS dst_source_node, e2.target_node AS dst_target_node,
         (e1.cost + e2.cost)/2 AS weight, e1.was_oneway AS one_way
  FROM edges_w e1 JOIN edges_w e2 ON e1.target_node = e2.source_node
  WHERE e1.edge_id <> e2.edge_id
    AND NOT (e1.source_node = e2.target_node AND e1.target_node = e2.source_node)),
expanded_w AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY src_edge_id, dst_edge_id) AS BIGINT) AS expanded_id, *
  FROM expanded_all),
rules_w AS (
  SELECT DISTINCT expanded_id % 6 AS kind, source_way AS r_from, target_way AS r_to,
         src_target_node AS r_via
  FROM expanded_w WHERE expanded_id % 101 = 0),
after_no AS (
  SELECT e.* FROM expanded_w e WHERE NOT EXISTS (
    SELECT 1 FROM rules_w r WHERE r.kind < 3
      AND e.source_way = r.r_from AND e.target_way = r.r_to)),
final_expanded AS (
  SELECT e.* FROM after_no e WHERE NOT EXISTS (
    SELECT 1 FROM rules_w r WHERE r.kind >= 3
      AND e.source_way = r.r_from AND e.target_way <> r.r_to AND e.src_target_node = r.r_via)),
graph_edges AS (
  SELECT DISTINCT CAST(l_partkey % 500 AS BIGINT) AS u,
         CAST((CAST(floor(l_partkey / 7) AS BIGINT) + l_suppkey) % 500 AS BIGINT) AS v
  FROM lineitem
  WHERE CAST(l_partkey % 500 AS BIGINT)
        <> CAST((CAST(floor(l_partkey / 7) AS BIGINT) + l_suppkey) % 500 AS BIGINT))
"""
