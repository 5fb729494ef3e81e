"""GA3 — synchronous label propagation with deterministic tie-breaks.

Undirected semantics.  label(v) starts as v; each round every vertex
adopts the most frequent label among its neighbors, ties broken by MIN
label (deterministic — the async/random variants are not reproducible
and therefore untestable against an oracle).  Stops when no label
changed or max_iter.

Per round: edges ⋈ labels (on neighbor side) → count per (vertex,
label) → max_by((count, -label)) — all partial-aggregated, skew-safe.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm2ch_spark.graph.adjacency import undirected_edges
from osm2ch_spark.graph.checkpoint import localcheckpoint
from osm2ch_spark.graph.loop import iterate


def label_propagation(
    edges: DataFrame,
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
) -> DataFrame:
    """Returns (vertex, label) at convergence (or max_iter)."""
    e = undirected_edges(edges)
    e = localcheckpoint(e, StorageLevel.MEMORY_AND_DISK)

    def init() -> DataFrame:
        verts = e.select(F.col("u").alias("vertex")).distinct()
        return localcheckpoint(verts.select("vertex", F.col("vertex").alias("label")),
                               StorageLevel.MEMORY_AND_DISK)

    def step(labels: DataFrame):
        nbr_labels = e.join(
            labels.select(F.col("vertex").alias("v"), "label"), "v", "inner"
        ).select(F.col("u").alias("vertex"), "label")
        counted = nbr_labels.groupBy("vertex", "label").agg(F.count(F.lit(1)).alias("c"))
        # most frequent, tie → min label: max_by over (c, -label)
        best = counted.groupBy("vertex").agg(
            F.max_by("label", F.struct(F.col("c"), (-F.col("label")).alias("nl"))).alias("new_label")
        )
        # every vertex is some u of the symmetric pair table, so it has a
        # neighbor and a row in best: no join back to labels needed
        new_labels = best.select("vertex", F.col("new_label").alias("label"))
        # eager=False: the sync aggregate below materializes it
        new_labels = localcheckpoint(new_labels, StorageLevel.MEMORY_AND_DISK, eager=False)
        # one sync job: changed labels AND the row count for the lineage
        # (both tables hold exactly one row per vertex)
        sync = (
            new_labels.alias("n")
            .join(labels.select("vertex", F.col("label").alias("old")), "vertex")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.count(F.when(F.col("label") != F.col("old"), 1)).alias("changed"),
            )
            .collect()[0]
        )
        return new_labels, float(sync["changed"]), sync["rows"], sync["changed"] == 0

    return iterate(e.sparkSession, "label_propagation", init, lambda labels: step, max_iter,
                   checkpoint_dir, checkpoint_every, resume)
