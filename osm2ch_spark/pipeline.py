"""The osm2ch pipeline as one DataFrame DAG with eager barriers.

Stage map (reference file:line → here):
  node scan       osm_loader.go:80-103   → the node window of
                                           split_ways_to_edges (J1 + the
                                           first-wins node lookup)
  use counts      osm_loader.go:204-221  → the same window (A1; the
                                           standalone node_use_count
                                           shares its endpoint weight)
  way splitting   osm_loader.go:223-273  → split_ways_to_edges (W1, Arrow UDF;
                                           also G6 + the WKT fragments)
  vertex filter   osm_loader.go:275-283  → the use_count > 1 test in
                                           split_ways_to_edges (F4)
  edge expansion  osm_loader.go:285-343  → expand_edges (J3 + F5/F6 + ID2)
  "no" pass       osm_loader.go:348-389  → apply_restrictions (J4)
  "only" pass     osm_loader.go:390-432  → apply_restrictions (J5)
  geometry splice osm_loader.go:315-320  → splice_geometry (G7, JVM-side)

Geometry is carried as two parallel ARRAY<DOUBLE> columns (geom_lons,
geom_lats) — Arrow-friendly, zero-copy into numpy inside the one
Arrow pass (W1); the WKT fragments it also emits are joined into
LINESTRINGs by the splice.

Expanded-edge IDs are assigned BEFORE restriction deletion
(osm_loader.go:313-314 vs :348-432) so final IDs keep gaps — parity
requires numbering first, filtering second.  The geometry splice runs
AFTER the anti-joins (deleted rows never pay it); this reordering is
observation-equivalent because the splice affects neither IDs nor the
deletion predicates.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from osm2ch_spark import geom, workerenv
from osm2ch_spark.operators.ids import with_sequential_id
from osm2ch_spark.session import shuffle_partitions
from osm2ch_spark.sources import parse as P

# "no" / "only" restriction families — osm_loader.go:351, :393
NO_TYPES = ("no_left_turn", "no_right_turn", "no_straight_on")
ONLY_TYPES = ("only_left_turn", "only_right_turn", "only_straight_on")


def _way_node_rows(ways: DataFrame, *cols: str) -> DataFrame:
    """One row per way-node reference: the way's ``cols``, ``pos``,
    ``node_id`` and ``_w``, the node's A1 use weight from this reference
    (osm_loader.go:209-215: 2 at either end of the way, 1 inside)."""
    wn = ways.select(*cols, F.size("nodes").alias("_n"), F.posexplode("nodes").alias("pos", "node_id"))
    end = (F.col("pos") == 0) | (F.col("pos") == F.col("_n") - 1)
    return wn.withColumn("_w", F.when(end, F.lit(2)).otherwise(F.lit(1))).drop("_n")


def node_use_count(ways: DataFrame) -> DataFrame:
    """A1 — osm_loader.go:204-221: endpoints +2, interior +1, summed per
    node over all kept ways.  Output (node_id, use_count).  The pipeline
    computes the same sum inside the W1 node window
    (split_ways_to_edges); this standalone aggregate serves callers that
    want the counts alone."""
    return _way_node_rows(ways).groupBy("node_id").agg(F.sum("_w").cast("long").alias("use_count"))


EDGE_SCHEMA = StructType(
    [
        StructField("way_id", LongType(), False),
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("seq", LongType(), False),
        StructField("seg_index", LongType(), False),
        StructField("direction", LongType(), False),
        StructField("source_node", LongType(), False),
        StructField("target_node", LongType(), False),
        StructField("was_oneway", BooleanType(), False),
        StructField("cost_km", DoubleType(), False),
        StructField("geom_lons", ArrayType(DoubleType()), False),
        StructField("geom_lats", ArrayType(DoubleType()), False),
        StructField("bi", LongType(), False),
        StructField("mid_lon", DoubleType(), False),
        StructField("mid_lat", DoubleType(), False),
        StructField("src_str", StringType(), False),
        StructField("dst_str", StringType(), False),
    ]
)


def _way_offsets(pdf):
    """Flat row offsets of the ways in a batch sorted by (repo, path,
    seq, pos): ``[0, <key changes>..., len(pdf)]``, one entry per way
    plus the end."""
    seq = pdf["seq"].to_numpy(dtype=np.int64)
    repo = pdf["repo"].to_numpy()
    path = pdf["path"].to_numpy()
    change = np.flatnonzero(
        (seq[1:] != seq[:-1]) | (path[1:] != path[:-1]) | (repo[1:] != repo[:-1])
    )
    return np.concatenate([[0], change + 1, [len(pdf)]])


def split_ways_to_edges(ways: DataFrame, nodes: DataFrame, strict: bool = False) -> DataFrame:
    """J1 + A1 + W1 + ID1 — osm_loader.go:80-103, :204-221, :223-273.

    ``nodes`` holds the raw node records (node_id, lon, lat, scan_key):
    duplicates allowed, ``scan_key`` any orderable column giving the scan
    order.  One exchange by node_id feeds the split's node side: the
    way-node rows (each carrying its A1 weight) and the node records are
    unioned, hash-partitioned on node_id once, and one window per node
    computes ``use_count`` (the sum of the weights) and the coordinates
    of the FIRST record in scan_key order (osm_loader.go:91-98).  No
    node-side table is broadcast or joined: a planet's node set never
    has to fit one executor.  The price: node records that no kept way
    references (buildings, landuse: most of a real extract's) ride the
    exchange and the window sort too, where a broadcast semi-join used
    to drop them first (BENCH/ab_node_exchange.json,
    ``unreferenced_nodes``).  Then one more shuffle (the re-group by way,
    range-partitioned on the way's scan position) and one Arrow batch
    pass; all per-row math is numpy (haversine cumsum).  Emits forward
    edge then — for two-way ways — the reverse edge (reversed geometry,
    same cost, was_oneway=False), restarting accumulation at each split
    node, exactly as the reference loop does.

    ID1: the split output is sorted within each range partition by
    (repo, path, seq, seg_index, direction) and checkpointed
    (``workerenv.materialize_df``, Spark jobs run during this call), so
    partition order is the reference's scan order and
    :func:`with_sequential_id` numbers it 1..N as partition offset +
    position.  The range sampling job reads the exchange's input, so the
    split UDF still runs once.

    The same pass computes each edge's splice parts (G6, the Python half
    of G7), so no second Python pass re-ships the geometry:
      bi       — index before the middle (geom.find_middle_point)
      mid_*    — the middle point
      src_str  — "mid, geom[bi+1:]" formatted  (this edge as FROM side)
      dst_str  — "geom[:bi+1], mid" formatted  (this edge as TO side)
    WKT points are formatted with Python's %.6f, the correctly-rounded
    conversion Go's fmt uses; Java's format_string rounds the SHORTEST
    repr HALF_UP, which can differ on raw input coordinates
    (converter_wkt.go:9-15).

    A way node with no node record gets null coordinates from the window.
    ``strict=True`` enforces the reference's fail-fast on such a
    reference (osm_loader.go:216-218) INSIDE the Arrow pass, which raises
    on the NaN coordinate — no separate validation job.  ``strict=False``
    drops those rows (missing nodes silently shorten the way, for
    pre-clipped extracts).
    """
    n_part = shuffle_partitions(ways.sparkSession)
    per_way = ("way_id", "oneway", "repo", "path", "seq")
    wn = _way_node_rows(ways, *per_way)
    recs = nodes.select("node_id", F.struct("lon", "lat").alias("_xy"), "scan_key")
    by_node = Window.partitionBy("node_id")
    # the explicit-N repartition satisfies the window's distribution (no
    # second exchange); node records carry a null _w, way-node rows a
    # null scan_key, so each aggregate reads only its own side
    wn = (
        wn.unionByName(recs, allowMissingColumns=True)
        .repartition(n_part, F.col("node_id"))
        .select(
            *per_way, "pos", "node_id", "_w",
            F.sum("_w").over(by_node).alias("use_count"),
            F.min_by("_xy", "scan_key").over(by_node).alias("_xy"),
        )
        .filter(F.col("_w").isNotNull())
    )
    if not strict:
        wn = wn.filter(F.col("_xy").isNotNull())
    wn = wn.select(
        *per_way, "pos", "node_id", F.col("_xy.lon").alias("lon"), F.col("_xy.lat").alias("lat"), "use_count"
    )
    # Re-group each way's rows CONTIGUOUSLY via repartition + partition-
    # local sort, NOT collect_list(struct)+array_sort: the struct-list
    # aggregate runs as ObjectHashAggregate with one growing object
    # buffer per way — profiled as a major GC source on the 30M-row
    # flagship — while the UnsafeRow sort stays codegen-compatible and
    # allocation-free.  (repo, path, seq) is the way's identity; pos
    # orders its nodes; the Arrow pass re-derives the way boundaries from
    # key changes and carries split ways across batch edges.  Range, not
    # hash: partition p holds the scan-order range p (ID1, docstring).
    # No explicit count: AQE merges adjacent ranges of a small input (a
    # merged range is still a range), and the ID2 layout inherits it.
    flat = wn.repartitionByRange(
        F.col("repo"), F.col("path"), F.col("seq")
    ).sortWithinPartitions("repo", "path", "seq", "pos")

    def split(batches):
        import pandas as pd

        from osm2ch_spark.udftrace import traced
        batches = traced("split", batches)

        def empty():
            # object dtype: Arrow cannot build a list column from the
            # float64 a bare [] defaults to
            return pd.DataFrame({f.name: pd.Series([], dtype=object) for f in EDGE_SCHEMA.fields})

        def process(pdf, offsets):
            # Fully vectorized segmentation (no per-node Python) over FLAT
            # sorted way-node rows:
            #   1. way boundaries = ``offsets`` (_way_offsets) — the rows
            #      arrive partition-sorted, so each way is one run
            #   2. ONE haversine over every consecutive flat pair (cross-
            #      way pairs are never read back)
            #   3. segment ends = flat positions with use_count>1 that are
            #      not a way's first node (osm_loader.go:240-244; the
            #      use_count>1 test is F4, osm_loader.go:275-283)
            #   4. per-segment left-to-right cost sums (geom.running_sums,
            #      the Go loop order: bit-identical, no length cap)
            #   5. the splice parts of every output line (G6 + WKT)
            flat_nids = pdf["node_id"].to_numpy(dtype=np.int64)
            flat_lons = pdf["lon"].to_numpy(dtype=np.float64)
            flat_lats = pdf["lat"].to_numpy(dtype=np.float64)
            flat_ucnt = pdf["use_count"].to_numpy(dtype=np.int64)
            if strict and np.isnan(flat_lons).any():
                bad = flat_nids[np.isnan(flat_lons)]
                raise ValueError(
                    f"way-node reference(s) missing from the node scan, e.g. "
                    f"node {bad[0]} (reference hard-errors here — "
                    "osm_loader.go:216-218); pass strict=False to proceed "
                    "on clipped inputs"
                )
            all_d = geom.great_circle_distance(
                flat_lons[:-1], flat_lats[:-1], flat_lons[1:], flat_lats[1:]
            )
            way_first = offsets[:-1]
            is_start = np.zeros(len(flat_nids), dtype=bool)
            is_start[way_first] = True
            ends = np.flatnonzero((flat_ucnt > 1) & ~is_start)
            if len(ends) == 0:
                return empty()
            # way index of each segment end; segment start = previous end
            # within the same way, else the way's first node
            way_of = np.searchsorted(offsets, ends, side="right") - 1
            prev_end = np.concatenate([[-1], ends[:-1]])
            same_way = np.concatenate([[False], way_of[1:] == way_of[:-1]])
            starts = np.where(same_way, prev_end, offsets[way_of])
            # seg_index: rank of the end within its way
            idx = np.arange(len(ends))
            seg_index = idx - np.maximum.accumulate(np.where(~same_way, idx, 0))

            # per-segment left-to-right cost sums (distance slots
            # starts[k] .. ends[k]-1 of all_d)
            seg_lens = ends - starts
            S = len(ends)
            cost = geom.running_sums(all_d, starts, seg_lens)[ends - 1]

            seg_first = way_first[way_of]  # first flat row of each seg's way
            way_ids = pdf["way_id"].to_numpy(dtype=np.int64)[seg_first]
            oneway = pdf["oneway"].to_numpy(dtype=bool)[seg_first]
            repo = pdf["repo"].to_numpy()[seg_first]
            path = pdf["path"].to_numpy()[seg_first]
            seq = pdf["seq"].to_numpy(dtype=np.int64)[seg_first]
            src = flat_nids[starts]
            tgt = flat_nids[ends]

            # output lines: forward rows, then the reversed rows of two-way
            # ways (osm_loader.go:255-268); output order is irrelevant —
            # IDs are assigned by sort keys downstream.  pt = the flat row
            # of every output point, line by line.
            rev = ~oneway
            R = int(rev.sum())
            lens = np.concatenate([seg_lens, seg_lens[rev]]) + 1
            line_off = np.concatenate([[0], np.cumsum(lens)])
            step = np.repeat(np.concatenate([np.ones(S, np.int64), -np.ones(R, np.int64)]), lens)
            k = np.arange(line_off[-1]) - np.repeat(line_off[:-1], lens)
            pt = np.repeat(np.concatenate([starts, ends[rev]]), lens) + step * k
            g_lons, g_lats = flat_lons[pt], flat_lats[pt]
            bi, mlon, mlat = geom.find_middle_point_many(g_lons, g_lats, line_off)

            # WKT fragments from one '%.6f' string per way-node (plain
            # Python formatting: np.char.mod measured 4x slower); a
            # reversed line reads the same strings back to front
            pts = ["%.6f %.6f" % ab for ab in zip(flat_lons.tolist(), flat_lats.tolist())]
            mid = ["%.6f %.6f" % ab for ab in zip(mlon.tolist(), mlat.tolist())]
            fs, fe, fb = starts.tolist(), ends.tolist(), bi[:S].tolist()
            rs, re_, rb = starts[rev].tolist(), ends[rev].tolist(), bi[S:].tolist()
            src_str = [",".join([m] + pts[s + b + 1 : e + 1]) for s, e, b, m in zip(fs, fe, fb, mid)]
            src_str += [",".join([m] + pts[s : e - b][::-1]) for s, e, b, m in zip(rs, re_, rb, mid[S:])]
            dst_str = [",".join(pts[s : s + b + 1] + [m]) for s, b, m in zip(fs, fb, mid)]
            dst_str += [",".join(pts[e - b : e + 1][::-1] + [m]) for e, b, m in zip(re_, rb, mid[S:])]

            bounds = list(zip(line_off[:-1].tolist(), line_off[1:].tolist()))
            return pd.DataFrame(
                {
                    "way_id": np.concatenate([way_ids, way_ids[rev]]),
                    "repo": np.concatenate([repo, repo[rev]]),
                    "path": np.concatenate([path, path[rev]]),
                    "seq": np.concatenate([seq, seq[rev]]),
                    "seg_index": np.concatenate([seg_index, seg_index[rev]]),
                    "direction": np.concatenate([np.zeros(S, np.int64), np.ones(R, np.int64)]),
                    "source_node": np.concatenate([src, tgt[rev]]),
                    "target_node": np.concatenate([tgt, src[rev]]),
                    "was_oneway": np.concatenate([oneway, np.zeros(R, bool)]),
                    "cost_km": np.concatenate([cost, cost[rev]]),
                    "geom_lons": [g_lons[a:b] for a, b in bounds],
                    "geom_lats": [g_lats[a:b] for a, b in bounds],
                    "bi": bi,
                    "mid_lon": mlon,
                    "mid_lat": mlat,
                    "src_str": src_str,
                    "dst_str": dst_str,
                }
            )

        # Arrow slices a partition into ~10k-row batches with no respect
        # for way boundaries; carry the trailing (possibly incomplete) way
        # into the next batch.  Rows are partition-sorted by the way key,
        # so a way is always a contiguous run within one partition.
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if len(pdf) == 0:
                continue
            offsets = _way_offsets(pdf)
            cut = int(offsets[-2])  # first row of the last way
            carry = pdf.iloc[cut:]
            if cut:
                yield process(pdf.iloc[:cut].reset_index(drop=True), offsets[:-1])
        if carry is not None:  # one way, the partition's last
            yield process(carry.reset_index(drop=True), np.array([0, len(carry)]))

    # the split emits a batch's forward rows before its reversed ones;
    # the partition-local sort restores the id order within each range
    segments = workerenv.materialize_df(
        flat.mapInPandas(split, EDGE_SCHEMA).sortWithinPartitions(
            "repo", "path", "seq", "seg_index", "direction"
        )
    )
    return with_sequential_id(segments, "edge_id")


def expand_edges(edges: DataFrame) -> DataFrame:
    """J3 + F5 + F6 + ID2 — osm_loader.go:285-343 (pre-splice).

    Decide with small rows, explode late (optimization guide §8): the
    dst side is pre-aggregated into ONE row per source node holding the
    candidate out-edges as an array SORTED by edge id (the reference's
    ``edgesBySourceNodeID`` lists, osm_loader.go:289-292).  The join
    then runs at EDGE granularity (N rows), F5 (self pair) and F6
    (exact-geometry U-turn, raw float equality) filter the array
    in-place, and the pair table only comes into existence in the final
    ``explode``, which emits a source edge's surviving continuations in
    dst-edge order.  The previous shape joined first and ranked the
    exploded pairs with a window, which shuffled AND sorted the full
    pair table (avg-degree × more rows than this plan moves;
    measured 5.6–6.8 s of wall per headline query in the window sort
    stage alone at sf0.1).

    ID2: ``edges`` must be the ID1 table, whose partitions are ordered
    ranges of edge_id.  Each edge-level row is sent to its source edge's
    ID1 partition (``repartitionById``: the range bounds are ID1's, fixed
    before the explode, and no sampling job runs), sorted within the
    partition by src_edge_id and checkpointed; its explode lists each
    source edge's pairs in dst-edge order, so :func:`with_sequential_id`
    numbers the pairs 1..M in (src_edge_id, dst_edge_id) order.

    Skew note: hub intersections make the per-node candidate arrays
    long, but a node's array length is bounded by node degree (not by
    pair count), and the explode emits pairs streaming — no per-pair
    shuffle exists for skew to concentrate.

    edges is consumed twice (array side and edge side) — the caller is
    expected to pass a materialized table so the upstream work runs
    once.  The joined edge-level table (arrays attached, filters
    applied) is eagerly checkpointed; consumers re-run only the explode
    and the id projection per action.
    """
    # candidate struct: dst edge id FIRST so array_sort orders by it
    # (ids are unique — later fields never break ties)
    cand = edges.groupBy(F.col("source_node").alias("_node")).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("edge_id").alias("did"),
                    F.col("way_id").alias("tway"),
                    F.col("source_node").alias("dsn"),
                    F.col("target_node").alias("dtn"),
                    F.col("cost_km").alias("dcost"),
                    F.element_at("geom_lons", 1).alias("dlon0"),
                    F.element_at("geom_lats", 1).alias("dlat0"),
                    F.element_at("geom_lons", -1).alias("dlon1"),
                    F.element_at("geom_lats", -1).alias("dlat1"),
                )
            )
        ).alias("_cands")
    )
    e1 = edges.select(
        F.spark_partition_id().alias("_p"),
        F.col("edge_id").alias("src_edge_id"),
        F.col("way_id").alias("source_way"),
        F.col("source_node").alias("src_source_node"),
        F.col("target_node").alias("src_target_node"),
        F.col("was_oneway").alias("one_way"),
        F.col("cost_km").alias("src_cost"),
        F.element_at("geom_lons", 1).alias("s_lon0"),
        F.element_at("geom_lats", 1).alias("s_lat0"),
        F.element_at("geom_lons", -1).alias("s_lon1"),
        F.element_at("geom_lats", -1).alias("s_lat1"),
    )
    j = e1.join(cand, F.col("src_target_node") == F.col("_node"), "inner").drop("_node")
    # F5 (self pair, osm_loader.go:302-304) + F6 (U-turn: exact float
    # equality on endpoint pairs, osm_loader.go:306-312) applied INSIDE
    # the candidate array — same EqualTo semantics as the row filters
    j = j.withColumn(
        "_cands",
        F.filter(
            "_cands",
            lambda c: (c["did"] != F.col("src_edge_id"))
            & ~(
                (F.col("s_lon0") == c["dlon1"])
                & (F.col("s_lat0") == c["dlat1"])
                & (F.col("s_lon1") == c["dlon0"])
                & (F.col("s_lat1") == c["dlat0"])
            ),
        ),
    ).drop("s_lon0", "s_lat0", "s_lon1", "s_lat1")
    # the four endpoint doubles exist only for the F6 filter above — strip
    # them before the range exchange / checkpoint so the materialized
    # candidate arrays carry 5 fields instead of 9 (guide §2.3: project
    # before the exchange; the explode below never reads them either)
    j = j.withColumn(
        "_cands",
        F.transform(
            "_cands",
            lambda c: F.struct(
                c["did"].alias("did"),
                c["tway"].alias("tway"),
                c["dsn"].alias("dsn"),
                c["dtn"].alias("dtn"),
                c["dcost"].alias("dcost"),
            ),
        ),
    )
    # the ID2 layout (docstring): each pair row goes to the partition of
    # its source edge in the ID1 table, so no range sampling re-runs this
    # join (at sf0.1 that nearly doubled the barrier's task time); an
    # empty ID1 table has no partitions, and then j has no rows
    n_id1 = max(1, edges.rdd.getNumPartitions())
    j = workerenv.materialize_df(
        j.repartitionById(n_id1, "_p").sortWithinPartitions("src_edge_id")
    )
    pairs = j.select(
        "src_edge_id",
        "source_way",
        "src_source_node",
        "src_target_node",
        "one_way",
        "src_cost",
        F.explode("_cands").alias("_c"),
    )
    return with_sequential_id(pairs, "expanded_id").select(
        "expanded_id",
        "src_edge_id",
        "source_way",
        "src_source_node",
        "src_target_node",
        "one_way",
        F.col("_c.did").alias("dst_edge_id"),
        F.col("_c.tway").alias("target_way"),
        F.col("_c.dsn").alias("dst_source_node"),
        F.col("_c.dtn").alias("dst_target_node"),
        ((F.col("src_cost") + F.col("_c.dcost")) / F.lit(2.0)).alias("weight"),
    )


def apply_restrictions(expanded: DataFrame, restrictions: DataFrame, ways: DataFrame) -> DataFrame:
    """J4 + J5 — osm_loader.go:348-432: delete the expanded edges that a
    no_* or only_* restriction forbids, both families in ONE anti-join on
    ``source_way == from_id``:
      no_*   — the row's target_way == to (the via node is NOT checked —
               a reference quirk we reproduce);
      only_* — the row's target_way != to and src_target_node == via
               (only the mandated continuation survives).
    Deleting a row when either family matches is what the reference's
    two passes leave, since a deleted row can never match again.

    Member-shape gates as at osm_loader.go:354-371 and :396-413.  The
    waysSeen gate on ``from`` is implied by the equi key (every expanded
    row's source_way is a kept way); the gate on ``to`` is a semi-join
    against ``ways`` — it matters for only_* rules, whose residual would
    otherwise delete every continuation from ``from`` at ``via``."""
    rules = restrictions.filter(
        F.col("rtype").isin(list(NO_TYPES + ONLY_TYPES))
        & (F.col("from_type") == "way")
        & (F.col("to_type") == "way")
        & (F.col("via_type") == "node")
    ).join(ways.select(F.col("way_id").alias("to_id")), "to_id", "left_semi")
    rules = rules.select(
        F.col("from_id").alias("r_from"),
        F.col("to_id").alias("r_to"),
        F.col("via_id").alias("r_via"),
        F.col("rtype").isin(list(NO_TYPES)).alias("r_no"),
    )
    forbids = F.when(F.col("r_no"), F.col("target_way") == F.col("r_to")).otherwise(
        (F.col("target_way") != F.col("r_to")) & (F.col("src_target_node") == F.col("r_via"))
    )
    # no broadcast hint: real restriction tables are tiny and Catalyst
    # broadcasts them on its own; a forced hint breaks down when a caller
    # passes a large rules table (AQE then picks shuffled hash join)
    return expanded.join(rules, (F.col("source_way") == F.col("r_from")) & forbids, "left_anti")


def apply_no_restrictions(expanded: DataFrame, restrictions: DataFrame, ways: DataFrame) -> DataFrame:
    """J4 alone — osm_loader.go:348-389: apply_restrictions over the
    no_* rules (the ``anti_join_no_restrictions`` driver query)."""
    return apply_restrictions(expanded, restrictions.filter(F.col("rtype").isin(list(NO_TYPES))), ways)


def apply_only_restrictions(expanded: DataFrame, restrictions: DataFrame, ways: DataFrame) -> DataFrame:
    """J5 alone — osm_loader.go:390-432: apply_restrictions over the
    only_* rules.  The pipeline no longer calls it; perfbench/spans.py
    still wraps it by name."""
    return apply_restrictions(expanded, restrictions.filter(F.col("rtype").isin(list(ONLY_TYPES))), ways)


def splice_geometry(expanded: DataFrame, edges: DataFrame) -> DataFrame:
    """G6 + G7 — osm_loader.go:315-320,337: expanded-edge geometry =
    [from-middle] ++ from.Geom[i+1:] ++ to.Geom[:j+1] ++ [to-middle].

    The midpoint and the WKT fragments come with each edge from the W1
    split (split_ways_to_edges); the per-EXPANDED-row splice is pure JVM
    array/string concatenation — no Python touches the big table.  The
    constituent-edge geometries are re-joined here (kept out of the
    expansion shuffle on purpose); ``edges`` is the table the ID1
    barrier materialized, so both sides scan it without re-running the
    split."""
    tail_len = F.greatest(F.lit(0), F.size("geom_lons") - F.col("bi") - 1)
    src = edges.select(
        F.col("edge_id").alias("src_edge_id"),
        F.concat(
            F.array(F.col("mid_lon")), F.slice("geom_lons", F.col("bi") + 2, tail_len)
        ).alias("_s_lons"),
        F.concat(
            F.array(F.col("mid_lat")), F.slice("geom_lats", F.col("bi") + 2, tail_len)
        ).alias("_s_lats"),
        F.col("src_str").alias("_s_str"),
    )
    dst = edges.select(
        F.col("edge_id").alias("dst_edge_id"),
        F.concat(
            F.slice("geom_lons", 1, F.col("bi") + 1), F.array(F.col("mid_lon"))
        ).alias("_d_lons"),
        F.concat(
            F.slice("geom_lats", 1, F.col("bi") + 1), F.array(F.col("mid_lat"))
        ).alias("_d_lats"),
        F.col("dst_str").alias("_d_str"),
    )
    keep = list(expanded.columns)
    out = expanded.join(src, "src_edge_id").join(dst, "dst_edge_id")
    return out.select(
        *keep,
        F.concat("_s_lons", "_d_lons").alias("geom_lons"),
        F.concat("_s_lats", "_d_lats").alias("geom_lats"),
        F.concat(
            F.lit("LINESTRING("), F.col("_s_str"), F.lit(","), F.col("_d_str"), F.lit(")")
        ).alias("geom_wkt"),
    )


def build_expanded(source: DataFrame, tag_whitelist: list[str] | None = None,
                   strict: bool = True) -> DataFrame:
    """Full pipeline: source table → final expanded-edge DataFrame.

    Columns: expanded_id, source_vertex, target_vertex, weight (km),
    one_way, source_way, target_way, src_source_node, src_target_node,
    dst_source_node, dst_target_node, geom_lons, geom_lats, geom_wkt.

    ``strict=True`` mirrors the reference's fail-fast contract: a way
    node absent from the node scan is a hard error (osm_loader.go:216-218)
    rather than a silently shorter geometry.  The check is folded into
    the W1 node window (null coordinates + NaN raise inside the Arrow
    pass) — no extra job beyond the pipeline's own materialization
    barriers.  Note build_expanded eagerly materializes its fan-out
    barriers (slim / split / expand) and counts the rows of each id
    table's partitions (ID1 / ID2), so Spark jobs run during this call
    and a strict violation raises HERE, not on the caller's first action
    (cli.py relies on this).
    """
    records = parse_source(source)
    # The pipeline materializes its fan-out tables with EAGER LOCAL
    # CHECKPOINTS, never persist():  persisted fan-outs made concurrent
    # AQE stage jobs race on cache-block locks, the losers OCCUPYING task
    # slots — a ~19 s non-scaling wall floor on the 768-file flagship run
    # — and relying on exchange reuse instead fails because per-branch
    # column pruning de-canonicalizes the shared exchanges (measured 6×
    # split-UDF re-execution).  Checkpointed RDD blocks are read lock-
    # free by every consumer stage and freed by the context cleaner when
    # the result DataFrame is dropped (no cache-manager lifetime leak).
    #
    # slim: the JSON parse runs ONCE here; the repartition spreads the
    # per-file line blow-up over the full shuffle-partition width before
    # the checkpoint pins it (the hash key is unique per line — even
    # balance at any partition count).
    n_part = shuffle_partitions(source.sparkSession)
    slim = workerenv.materialize_df(
        P.slim_records(records).repartition(
            n_part, F.col("repo"), F.col("path"), F.col("seq")
        )
    )
    ways = P.scan_ways_slim(slim, tag_whitelist)
    restrictions = P.scan_restrictions_slim(slim)
    # raw node records with their scan-order key: the split's one node_id
    # exchange does the use counts, the membership probe and the
    # first-wins dedup in one window.  edges feeds the expansion twice
    # (e1/e2) and the splice geometry join; the split checkpoints its
    # range-ordered output before numbering it — the split UDF runs once.
    edges = split_ways_to_edges(ways, P.scan_nodes_slim(slim), strict=strict)
    # the numbered pair table feeds the restriction anti-join and the
    # splice; its edge-level table is checkpointed — the self-join runs
    # once, and each consumer re-runs only the explode and the ids.
    expanded = expand_edges(edges)
    expanded = apply_restrictions(expanded, restrictions, ways)
    expanded = splice_geometry(expanded, edges)
    return expanded.select(
        "expanded_id",
        F.col("src_edge_id").alias("source_vertex"),
        F.col("dst_edge_id").alias("target_vertex"),
        "weight",
        "one_way",
        "source_way",
        "target_way",
        "src_source_node",
        "src_target_node",
        "dst_source_node",
        "dst_target_node",
        "geom_lons",
        "geom_lats",
        "geom_wkt",
    )


def parse_source(source: DataFrame) -> DataFrame:
    """The parse layer's entry: a named hook (tracers wrap it) around
    ``parse_records``.  The three scans share the parse through the slim
    barrier in ``build_expanded``, not through any cache."""
    return P.parse_records(source)


def edge_table(expanded: DataFrame) -> DataFrame:
    """The engine's canonical edge table for the graph algorithms:
    (source_vertex, target_vertex, weight, one_way)."""
    return expanded.select("source_vertex", "target_vertex", "weight", "one_way")
