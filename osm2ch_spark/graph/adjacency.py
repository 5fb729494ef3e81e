"""Partitioned CSR-like adjacency shards (SURVEY.md §2.9).

The edge table (source_vertex, target_vertex, ...) is grouped once into
chunked neighbor-list shards:

  (source_vertex BIGINT, chunk INT, neighbors ARRAY<BIGINT>, out_degree BIGINT)

- The shards are hash-partitioned by ``source_vertex`` into the
  session's shuffle partitions, so every PageRank iteration's
  rank⋈adjacency join finds the persisted side already co-located and
  shuffles only the (small) rank side.
- Hub vertices (motorway junctions) produce huge neighbor lists; lists
  are CHUNKED to ≤ max_chunk so no single task/row explodes — this is
  the skew treatment for the explode stage (the groupBy(target).sum
  side is already skew-safe: partial map-side aggregation bounds any
  target's reduce input by the partition count).
- Edge weights are not carried: PageRank, the only consumer, is
  unweighted (networkx semantics).  (Int32 neighbor ids were A/B'd and
  showed no win: BENCH/ab_pr_narrow.json.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm2ch_spark.session import shuffle_partitions


def build_adjacency(edges: DataFrame, max_chunk: int = 4096) -> DataFrame:
    """Group the edge table into chunked adjacency shards (layout above)."""
    adj = (
        edges.groupBy("source_vertex")
        .agg(F.collect_list("target_vertex").alias("nbrs"))
        .withColumn("out_degree", F.size("nbrs").cast("long"))
    )
    # chunk hub lists: slice(nbrs, k*max_chunk+1, max_chunk) per chunk k
    n_chunks = F.ceil(F.col("out_degree") / F.lit(max_chunk)).cast("int")
    adj = adj.withColumn("chunk", F.explode(F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0)))))
    adj = adj.select(
        "source_vertex",
        "chunk",
        F.slice(F.col("nbrs"), F.col("chunk") * max_chunk + 1, max_chunk).alias("neighbors"),
        "out_degree",
    )
    # partition by the JOIN KEY: the persisted scan then satisfies the
    # per-iteration rank⋈adjacency distribution requirement, so
    # iterations reshuffle only the small rank side.
    return adj.repartition(shuffle_partitions(edges.sparkSession), "source_vertex")


def vertices_table(edges: DataFrame) -> DataFrame:
    """All vertices with a dangling flag (no outgoing edges).

    One aggregation: tag every endpoint occurrence with is-source, then
    ``max`` per vertex.  The previous shape (distinct(srcs), distinct
    (tgts), union-distinct, left join) spent four shuffles on the same
    answer (guide §2.4 — remove shuffles outright); the union rows are
    partial-aggregated map-side, so the single exchange carries at most
    2 × distinct(vertex) rows."""
    tagged = edges.select(
        F.col("source_vertex").alias("vertex"), F.lit(True).alias("has_out")
    ).unionAll(
        edges.select(F.col("target_vertex").alias("vertex"), F.lit(False).alias("has_out"))
    )
    return tagged.groupBy("vertex").agg(F.max("has_out").alias("has_out"))


def canonical_edges(edges: DataFrame) -> DataFrame:
    """Distinct canonical (u < v) undirected pairs, self-loops removed.

    One scan of the edge table and one dedup exchange over N rows; the
    symmetric form used to dedup 2N rows after scanning the input twice
    (guide §2.3 — shuffle fewer bytes)."""
    return (
        edges.select(
            F.least("source_vertex", "target_vertex").alias("u"),
            F.greatest("source_vertex", "target_vertex").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def symmetrize(pairs: DataFrame) -> DataFrame:
    """(u, v) pairs ∪ their swaps (v, u) — no dedup."""
    return pairs.unionAll(pairs.select(F.col("v").alias("u"), F.col("u").alias("v")))


def undirected_edges(edges: DataFrame) -> DataFrame:
    """Distinct symmetric (u, v) pairs, self-loops removed (LPA's
    neighbor table).

    Built as canonical pairs ∪ their swaps: the dedup shuffle then runs
    over N canonicalized rows instead of 2N symmetric rows, and the
    input is scanned once instead of twice.  (A canonical pair and its
    swap are distinct rows, so the union needs no further dedup.)"""
    return symmetrize(canonical_edges(edges))
