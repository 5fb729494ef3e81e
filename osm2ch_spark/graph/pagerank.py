"""GA1 — PageRank by power iteration over the adjacency shards.

Semantics match networkx.pagerank (unweighted): damping d=0.85, uniform
personalization, dangling mass redistributed uniformly, convergence when
L1 delta ≤ n·tol.  Per-vertex scores sum to 1.

Per iteration (one lazy plan + one driver sync):
  contribs: ranks ⋈ adjacency (shuffled hash by source_vertex,
            co-located with the cached shards) → explode(neighbors)
            ∪ (vertex, 0, old=rank, has_out) → groupBy(vertex): sum,
            max(old), max(has_out) — map-side partial agg bounds hub-skew.
  update:   in the same aggregate's select, no join:
            (1-d)/n + d·(contrib + dangling_mass/n)
  sync:     ONE aggregate over the new checkpoint: L1 delta (rank vs
            the carried old) AND next dangling mass, for every tol.

Lineage growth is cut every iteration with ``materialize_df``; the loop
itself (resume, commit every ``checkpoint_every`` iterations, stop) is
graph/loop.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm2ch_spark.graph.adjacency import build_adjacency, vertices_table
from osm2ch_spark.graph.loop import iterate
# the one lineage cut, under the name the traced benchmark counts iterations by
from osm2ch_spark.workerenv import materialize_df as localcheckpoint


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
            verts.select("vertex", "has_out", (F.lit(1.0) / n).alias("rank")), eager=False
        )

    def begin(ranks: DataFrame):
        # dangling mass of the CURRENT ranks (needed before first update)
        dangling = ranks.filter(~F.col("has_out")).agg(F.sum("rank")).collect()[0][0] or 0.0
        # the state carries has_out from here on: verts served n and init()
        verts.unpersist()

        def step(ranks: DataFrame):
            nonlocal dangling
            # every vertex also sends itself c = 0 with its rank as old
            # and its has_out, so one aggregate yields the whole new row
            new_ranks = (
                adj.join(
                    ranks.select("vertex", "rank").hint("shuffle_hash"),
                    adj.source_vertex == F.col("vertex"),
                    "inner",
                )
                .select(
                    F.explode("neighbors").alias("vertex"),
                    (F.col("rank") / F.col("out_degree")).alias("c"),
                    F.lit(None).cast("double").alias("old"),
                    F.lit(None).cast("boolean").alias("has_out"),
                )
                .unionAll(ranks.select(
                    "vertex", F.lit(0.0).alias("c"), F.col("rank").alias("old"), "has_out"
                ))
                .groupBy("vertex")
                .agg(F.sum("c").alias("contrib"), F.max("old").alias("old"),
                     F.max("has_out").alias("has_out"))
                .select(
                    "vertex",
                    "has_out",
                    (F.lit(base) + F.lit(damping) * (F.col("contrib") + F.lit(dangling / n)))
                    .alias("rank"),
                    "old",
                )
            )
            # eager=False: the sync right below is the first action and
            # materializes the checkpoint
            new_ranks = localcheckpoint(new_ranks, eager=False)
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
    return ranks.select("vertex", "rank")
