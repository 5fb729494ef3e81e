"""GA4 — triangle counting by the degree-oriented edge-iterator scheme
(Cohen's MapReduce triangle algorithm / "compact-forward").

Undirected semantics.  Every canonical edge is ORIENTED from its
lower-(degree, id) endpoint to its higher one; wedges are pairs of
out-edges of a common vertex, closed by an oriented edge between the two
out-neighbors.  Orientation bounds every out-degree by O(sqrt(m)) on any
graph (arboricity bound), so hub vertices — motorway junctions, power-law
heads — cannot blow up the wedge join the way id-orientation lets them
(a degree-d hub with small ids would otherwise pay O(d²) wedge rows).
Three shuffles total; each triangle is generated exactly once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm2ch_spark.graph.adjacency import canonical_edges, symmetrize
from osm2ch_spark.session import shuffle_partitions


def _oriented(canon: DataFrame) -> DataFrame:
    """Orient each canonical edge low-(degree, id) → high-(degree, id).
    Output (x, y, ky) where ky = struct(degree(y), y) is y's order key
    (carried so the wedge stage can order out-neighbor pairs without
    another join)."""
    deg = symmetrize(canon).groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    e = (
        canon.join(deg.withColumnRenamed("u", "_k").withColumnRenamed("d", "du"),
                   F.col("u") == F.col("_k")).drop("_k")
        .join(deg.withColumnRenamed("u", "_k").withColumnRenamed("d", "dv"),
              F.col("v") == F.col("_k")).drop("_k")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("x"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("y"),
        F.when(u_first, F.struct(F.col("dv").alias("d"), F.col("v").alias("n")))
        .otherwise(F.struct(F.col("du").alias("d"), F.col("u").alias("n")))
        .alias("ky"),
    )


def triangles_df(edges: DataFrame) -> DataFrame:
    """All triangles as (a, b, c) with a < b < c."""
    from osm2ch_spark.workerenv import materialize_df

    # oe feeds three subtrees (both wedge sides + the closing-edge probe)
    # whose exchanges use DIFFERENT keys (x vs (y1, y2)) — without a
    # barrier the orientation's two degree joins re-execute per subtree
    # (exchange reuse misses on key mismatch; guide §2.4).  Same eager-
    # checkpoint treatment as the pipeline fan-outs.
    #
    # The explicit repartition by the wedge key is load-bearing twice:
    # the oriented table is only a few MB, so AQE coalesces its exchange
    # to ONE partition and the eager checkpoint would freeze that — the
    # entire wedge join then ran as a single 3.3 s task (profiled; the
    # same serialization the id barriers' explicit-N range exchanges
    # guard against) — and hash(x) partitioning lets both wedge sides
    # join partition-locally at full parallelism with no further exchange.
    n_part = shuffle_partitions(edges.sparkSession)
    oe = materialize_df(
        _oriented(canonical_edges(edges)).repartition(n_part, F.col("x"))
    )
    e1 = oe.select("x", F.col("y").alias("y1"), F.col("ky").alias("k1"))
    e2 = oe.select("x", F.col("y").alias("y2"), F.col("ky").alias("k2"))
    # ordered out-neighbor pairs of a common vertex; the closing edge is
    # oriented y1 → y2 because orientation is a total order
    wedges = (
        e1.join(e2, "x")
        .filter(F.col("k1") < F.col("k2"))
        .select("x", "y1", "y2")
    )
    closing = oe.select(F.col("x").alias("y1"), F.col("y").alias("y2"))
    tri = wedges.join(closing, ["y1", "y2"], "left_semi")
    srt = F.array_sort(F.array("x", "y1", "y2"))
    return tri.select(
        F.element_at(srt, 1).alias("a"),
        F.element_at(srt, 2).alias("b"),
        F.element_at(srt, 3).alias("c"),
    )


def triangle_count(edges: DataFrame) -> int:
    return triangles_df(edges).count()


def triangles_per_vertex(edges: DataFrame) -> DataFrame:
    """(vertex, triangles) — number of triangles through each vertex."""
    from osm2ch_spark.workerenv import materialize_df

    # the triangle set feeds three union branches (a/b/c) — barrier it so
    # the wedge join runs once, not three times
    t = materialize_df(triangles_df(edges))
    # every endpoint counts 0 and every triangle corner 1: one sum gives
    # each vertex its count, 0 for a vertex on no triangle, with no join
    rows = edges.select(F.col("source_vertex").alias("vertex"), F.lit(0).alias("n"))
    rows = rows.unionAll(edges.select(F.col("target_vertex").alias("vertex"), F.lit(0).alias("n")))
    for corner in ("a", "b", "c"):
        rows = rows.unionAll(t.select(F.col(corner).alias("vertex"), F.lit(1).alias("n")))
    return rows.groupBy("vertex").agg(F.sum("n").alias("triangles"))
