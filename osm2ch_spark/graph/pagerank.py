"""GA1 — PageRank by power iteration over the adjacency shards.

Semantics match networkx.pagerank (unweighted): damping d=0.85, uniform
personalization, dangling mass redistributed uniformly, convergence when
L1 delta ≤ n·tol.  Per-vertex scores sum to 1.

Per iteration (one lazy plan + one driver sync):
  contribs: ranks ⋈ adjacency (shuffled hash by source_vertex,
            co-located with the cached shards) → explode(neighbors)
            ∪ (vertex, 0, old=rank) → groupBy(target): sum, max(old) —
            map-side partial agg bounds hub-skew.
  update:   verts ⋈ contribs: (1-d)/n + d·(contrib + dangling_mass/n)
  sync:     ONE aggregate over the new checkpoint: L1 delta (rank vs
            the carried old) AND next dangling mass, for every tol.

Lineage growth is cut every iteration with localCheckpoint; the loop
itself (resume, commit every ``checkpoint_every`` iterations, stop) is
graph/loop.py.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm2ch_spark.graph.adjacency import build_adjacency, vertices_table
from osm2ch_spark.graph.checkpoint import localcheckpoint
from osm2ch_spark.graph.loop import iterate


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
) -> DataFrame:
    """Returns (vertex BIGINT, rank DOUBLE).  ``edges`` is the engine's
    directed edge table (source_vertex, target_vertex, weight, one_way)."""
    spark = edges.sparkSession
    verts = vertices_table(edges).persist()
    n = verts.count()
    if n == 0:
        return spark.createDataFrame([], "vertex long, rank double")
    adj = build_adjacency(edges).persist()
    base = (1.0 - damping) / n

    def init() -> DataFrame:
        # eager=False: the dangling aggregate in begin() is the first
        # action and materializes the blocks — one pass, not two
        return localcheckpoint(
            verts.select("vertex", "has_out", (F.lit(1.0) / n).alias("rank")),
            StorageLevel.MEMORY_AND_DISK, eager=False,
        )

    def begin(ranks: DataFrame):
        # dangling mass of the CURRENT ranks (needed before first update)
        dangling = ranks.filter(~F.col("has_out")).agg(F.sum("rank")).collect()[0][0] or 0.0

        def step(ranks: DataFrame):
            nonlocal dangling
            contribs = (
                adj.join(
                    ranks.select("vertex", "rank").hint("shuffle_hash"),
                    adj.source_vertex == F.col("vertex"),
                    "inner",
                )
                .select(
                    F.explode("neighbors").alias("tgt"),
                    (F.col("rank") / F.col("out_degree")).alias("c"),
                    F.lit(None).cast("double").alias("old"),
                )
                .unionAll(ranks.select(
                    F.col("vertex").alias("tgt"), F.lit(0.0).alias("c"), F.col("rank").alias("old")
                ))
                .groupBy("tgt")
                .agg(F.sum("c").alias("contrib"), F.max("old").alias("old"))
            )
            # Joins the persisted verts, not the state: a localCheckpoint
            # reads back as Scan ExistingRDD with no known partitioning,
            # so joining the state would shuffle it again every iteration.
            # shuffle_hash hint: verts and contribs have similar sizes, so
            # the planner's "much smaller side" rule falls back to a
            # sort-merge join that re-SORTS both 14M-row sides every
            # iteration; a shuffled hash join streams them instead.
            new_ranks = verts.join(
                contribs.hint("shuffle_hash"), verts.vertex == contribs.tgt, "inner"
            ).select(
                "vertex",
                "has_out",
                (F.lit(base) + F.lit(damping) * (F.col("contrib") + F.lit(dangling / n))).alias("rank"),
                "old",
            )
            # eager=False: the sync right below is the first action and
            # materializes the checkpoint
            new_ranks = localcheckpoint(new_ranks, StorageLevel.MEMORY_AND_DISK, eager=False)
            # one sync job: L1 delta + next dangling mass
            stats = new_ranks.agg(
                F.sum(F.abs(F.col("rank") - F.col("old"))).alias("delta"),
                F.sum(F.when(~F.col("has_out"), F.col("rank")).otherwise(0.0)).alias("dang"),
            ).collect()[0]
            delta = stats["delta"] or 0.0
            dangling = stats["dang"] or 0.0
            return (new_ranks.select("vertex", "has_out", "rank"), float(delta), n,
                    tol > 0.0 and delta <= n * tol)

        return step

    ranks = iterate(spark, "pagerank", init, begin, max_iter,
                    checkpoint_dir, checkpoint_every, resume)
    adj.unpersist()
    verts.unpersist()
    return ranks.select("vertex", "rank")
