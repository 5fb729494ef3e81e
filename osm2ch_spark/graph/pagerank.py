"""GA1 — PageRank by power iteration over the adjacency shards.

Semantics match networkx.pagerank (unweighted): damping d=0.85, uniform
personalization, dangling mass redistributed uniformly, convergence when
L1 delta ≤ n·tol.  Per-vertex scores sum to 1.

Per iteration (one lazy plan + one driver sync):
  contribs: ranks ⋈ adjacency (broadcast/shuffled hash by source_vertex,
            co-located with the cached shards) → explode(neighbors)
            → groupBy(target).sum — map-side partial agg bounds hub-skew.
  update:   (1-d)/n + d·(contrib + dangling_mass/n)
  sync:     ONE aggregate job computes L1 delta AND next dangling mass.

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
from osm2ch_spark.session import shuffle_partitions


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    num_buckets: int | None = None,
    resume: bool = False,
) -> DataFrame:
    """Returns (vertex BIGINT, rank DOUBLE).  ``edges`` is the engine's
    directed edge table (source_vertex, target_vertex, weight, one_way)."""
    spark = edges.sparkSession
    if num_buckets is None:
        num_buckets = shuffle_partitions(spark)

    verts = vertices_table(edges).persist()
    n = verts.count()
    if n == 0:
        return spark.createDataFrame([], "vertex long, rank double")
    adj = build_adjacency(edges, num_buckets=num_buckets).persist()
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
                )
                .groupBy("tgt")
                .agg(F.sum("c").alias("contrib"))
            )
            # shuffle_hash hint: verts and contribs have similar sizes, so
            # the planner's "much smaller side" rule falls back to a
            # sort-merge join that re-SORTS both 14M-row sides every
            # iteration; a shuffled hash join streams them instead.
            new_ranks = (
                verts.join(contribs.hint("shuffle_hash"), verts.vertex == contribs.tgt, "left")
                .select(
                    "vertex",
                    "has_out",
                    (
                        F.lit(base)
                        + F.lit(damping)
                        * (F.coalesce(F.col("contrib"), F.lit(0.0)) + F.lit(dangling / n))
                    ).alias("rank"),
                )
            )
            # eager=False: the dangling/delta sync right below is the first
            # action and materializes the checkpoint — one job per iteration
            new_ranks = localcheckpoint(new_ranks, StorageLevel.MEMORY_AND_DISK, eager=False)

            if tol > 0.0:
                # one sync job: L1 delta + next dangling mass
                stats = (
                    new_ranks.alias("n")
                    .join(
                        ranks.select("vertex", F.col("rank").alias("old")).hint("shuffle_hash").alias("o"),
                        "vertex",
                    )
                    .agg(
                        F.sum(F.abs(F.col("rank") - F.col("old"))).alias("delta"),
                        F.sum(F.when(~F.col("has_out"), F.col("rank")).otherwise(0.0)).alias("dang"),
                    )
                    .collect()[0]
                )
                delta = stats["delta"] or 0.0
                dangling = stats["dang"] or 0.0
                return new_ranks, float(delta), n, delta <= n * tol
            # fixed-iteration mode: no convergence sync needed — the
            # checkpoint materialization is the only action; dangling mass
            # comes from a one-row agg over the (cached) new ranks.  The
            # lineage row records delta -1.0 (not measured).
            dangling = (
                new_ranks.filter(~F.col("has_out")).agg(F.sum("rank")).collect()[0][0] or 0.0
            )
            return new_ranks, -1.0, n, False

        return step

    ranks = iterate(spark, "pagerank", init, begin, max_iter,
                    checkpoint_dir, checkpoint_every, resume)
    adj.unpersist()
    verts.unpersist()
    return ranks.select("vertex", "rank")
