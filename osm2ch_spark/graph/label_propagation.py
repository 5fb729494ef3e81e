"""GA3 — synchronous label propagation with deterministic tie-breaks.

Undirected semantics.  label(v) starts as v; each round every vertex
adopts the most frequent label among its neighbors, ties broken by MIN
label (deterministic — the async/random variants are not reproducible
and therefore untestable against an oracle).  Stops when no label
changed or max_iter.

Per round: edges ⋈ labels (on neighbor side) ∪ own labels → count per
(vertex, label) → max_by((count, -label)), own label kept as ``old`` —
all partial-aggregated, skew-safe.  Sync: ONE aggregate over the new
state counts the changed labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm2ch_spark.graph.adjacency import undirected_edges
from osm2ch_spark.graph.loop import iterate
# the one lineage cut, under the name the traced benchmark counts rounds by
from osm2ch_spark.workerenv import materialize_df as localcheckpoint


def label_propagation(
    edges: DataFrame,
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
) -> DataFrame:
    """Returns (vertex, label) at convergence (or max_iter)."""
    e = undirected_edges(edges)
    e = localcheckpoint(e)

    def init() -> DataFrame:
        verts = e.select(F.col("u").alias("vertex")).distinct()
        return localcheckpoint(verts.select("vertex", F.col("vertex").alias("label")))

    def step(labels: DataFrame):
        # every vertex also hears itself (own = 1) so its row carries the
        # label it replaces.  c counts neighbors only: an own-only group
        # has c = 0, and every vertex is some u of the symmetric pair
        # table, so it has a neighbor group with c >= 1 that outvotes it
        heard = e.join(
            labels.select(F.col("vertex").alias("v"), "label"), "v", "inner"
        ).select(F.col("u").alias("vertex"), "label", F.lit(0).alias("own"))
        heard = heard.unionAll(labels.select("vertex", "label", F.lit(1).alias("own")))
        counted = heard.groupBy("vertex", "label").agg(
            (F.count(F.lit(1)) - F.sum("own")).alias("c"), F.max("own").alias("own")
        )
        # most frequent, tie → min label: max_by over (c, -label)
        new_labels = counted.groupBy("vertex").agg(
            F.max_by("label", F.struct(F.col("c"), (-F.col("label")).alias("nl"))).alias("label"),
            F.max_by("label", F.col("own")).alias("old"),
        )
        # eager=False: the sync aggregate below materializes it
        new_labels = localcheckpoint(new_labels, eager=False)
        # one sync job: the row count for the lineage AND the changed labels
        sync = new_labels.agg(
            F.count(F.lit(1)).alias("rows"),
            F.count(F.when(F.col("label") != F.col("old"), 1)).alias("changed"),
        ).collect()[0]
        return (new_labels.select("vertex", "label"), float(sync["changed"]), sync["rows"],
                sync["changed"] == 0)

    return iterate(e.sparkSession, "label_propagation", init, lambda labels: step, max_iter,
                   checkpoint_dir, checkpoint_every, resume)
